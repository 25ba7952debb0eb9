"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, trace
from perfbench.workloads import Curation, JobResult, Op, P2VTrain

ROOT = Path(__file__).resolve().parents[2]
FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_tiny"
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.glob("*.parquet"))}


@pytest.mark.parametrize(
    "make",
    [
        lambda seed, d: gen.baskets(seed, str(d), n_orders=300, n_products=400),
        lambda seed, d: gen.documents(seed, str(d), n_docs=120, n_waves=3),
    ],
    ids=["baskets", "documents"],
)
def test_generators_are_byte_deterministic_per_seed(tmp_path, make):
    make(7, tmp_path / "a")
    make(7, tmp_path / "b")
    make(8, tmp_path / "c")
    a, b, c = (_digest(tmp_path / x) for x in "abc")
    assert a and a == b
    assert a != c


def test_pair_count_closed_form_matches_window_enumeration():
    lengths = np.array([1, 2, 3, 5, 9, 50, 57])
    brute = 0
    for n in np.minimum(lengths, gen.MAX_BASKET):
        brute += sum(1 for i in range(n) for j in range(n) if i != j and abs(i - j) <= gen.WINDOW)
    assert gen.pair_count(lengths) == brute


def test_document_expectations_come_from_the_rows(tmp_path):
    inp = gen.documents(3, str(tmp_path), n_docs=200, n_waves=4)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    assert inp.distinct_texts == len({d["text"] for d in docs}) < len(docs)
    assert inp.copy_ids
    wave = 50
    first = {}
    for d in docs:
        first.setdefault(d["text"], d["doc_id"])
    for i in inp.copy_ids:
        src = first[docs[i]["text"]]
        assert src // wave < i // wave  # the source lands in an earlier wave
    landed = sum(pq.read_metadata(p).num_rows for p in inp.wave_paths)
    assert landed == len(docs)


def test_event_log_parser_on_fixture():
    log = trace.parse_event_log(str(FIXTURE))
    assert [s["id"] for s in log.stages] == [0, 1, 2, 3]
    assert [s["group"] for s in log.stages] == ["pb|1", "pb|2", "0f1e2d3c-run", "pb|9"]
    assert log.stages[0]["acc"]["time to run Python workers"] == 1200.0
    assert len(log.jobs) == 4 and len(log.task_failures) == 1
    assert [p["batchId"] for p in log.progress] == [0, 1]

    spans = [
        trace.Span(0, "job", 1000.0, 1010.0, None, "job1"),
        trace.Span(1, "pipeline_llm.near_dedup", 1001.0, 1005.0, 0, "job1"),
        trace.Span(2, "sources.io.write_parquet", 1002.0, 1003.0, 1, "job1"),
    ]
    ops = [("wave_00", 1005.5, 1006.5), ("wave_01", 1006.5, 1008.0)]
    m = trace.job_layer_metrics(spans[0], spans, log, cores=2, ops=ops, wall=10.5)
    assert m["executor.run_s"] == pytest.approx(3.5)  # stage 3 lies outside the job
    assert m["executor.cpu_s"] == pytest.approx(2.25)
    assert m["executor.busy_frac"] == pytest.approx(3.5 / (10.5 * 2))
    assert m["executor.tasks"] == 10 and m["executor.stages"] == 3
    assert m["executor.task_failures"] == 1
    assert m["jvm.gc_s"] == pytest.approx(0.1) and m["jvm.spill_bytes"] == 64
    assert m["exchange.shuffle_write_bytes"] == 1000 and m["exchange.shuffle_stages"] == 1
    assert m["python.run_s"] == pytest.approx(1.2) and m["python.bytes_sent"] == 4096
    assert m["sources.io.input_bytes"] == 500 and m["sources.io.output_bytes"] == 300
    assert m["sources.io.write_parquet_calls"] == 1 and m["sources.io.write_parquet_s"] == 1.0
    assert m["pipeline_llm.near_dedup_s"] == 4.0
    # jobs 0 and 1 ran inside near_dedup (job 1 from its write child);
    # the streaming job and the job outside the window do not count
    assert m["operators.graph.cc_jobs"] == 2
    assert m["streaming.trigger_ms"] == 600  # median of the waves' 900 and 300
    assert m["streaming.add_batch_ms"] == 250
    assert m["streaming.batches"] == 2 and m["streaming.empty_batch_frac"] == 0.5
    assert m["streaming.state_rows"] == 90 and m["streaming.state_bytes"] == 9000
    # only the module spans' self times (3 s + 1 s) are attributed; the
    # job span's own 6 s and the 0.5 s outside the tracer are not
    assert trace.self_times(spans) == {0: 6.0, 1: 3.0, 2: 1.0}
    assert m["trace.unattributed_frac"] == pytest.approx(1 - 4.0 / 10.5)


def _benchmark() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_are_well_formed_and_match_what_a_traced_run_prints():
    b = _benchmark()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert {w["name"] for w in b["workloads"]} == {"p2v_train", "curation"}

    tracer = trace.Tracer(None)
    jobs = []
    for i, wall in enumerate([3.0, 1.0, 1.2]):
        root = None
        if i != 2:
            tracer.job = f"job{i}"
            with tracer.span("job") as root:
                pass
            root.end = root.start + wall
        jobs.append((wall, JobResult([Op("op", 0.0, wall)]), root))
    printed = trace.per_layer(jobs, tracer, FIXTURE, 2)
    run_level = {"session.start_s", "operators.skipgram.pair_rows", "jvm.peak_rss_mb", "ops.fail_frac"}
    assert set(printed) | run_level == {m["name"] for m in b["per_layer"]}
    assert all(NAME.fullmatch(n) for n in printed)
    assert printed["trace.overhead_s"] == (pytest.approx(-0.2), "s")
    assert printed["plan.cold_minus_warm_s"] == (pytest.approx(2.0), "s")


def _parquet(path: Path, cols: dict) -> None:
    path.mkdir(parents=True)
    pq.write_table(pa.table(cols), path / "part-0.parquet")


def _p2v_job_dir(tmp_path: Path, pairs: int) -> Path:
    d = tmp_path / "job"
    _parquet(d / "pairs", {"target": list(range(pairs))})
    _parquet(d / "vocab", {"product_id": [None] + list(range(200)), "idx": list(range(201))})
    _parquet(
        d / "neighbors",
        {"query_id": [1] * 50, "neighbor_id": list(range(2, 52)), "cosine_sim": [0.5] * 50},
    )
    return d


def _fail_frac(res: JobResult) -> float:
    return sum(not op.ok for op in res.ops) / len(res.ops)


def test_p2v_check_passes_right_output_and_fails_a_pair_count_off_by_one(tmp_path):
    job = _p2v_job_dir(tmp_path, pairs=100)
    ok = JobResult([Op("pipeline", 0.0, 1.0)])
    P2VTrain().check(None, gen.BasketInputs("", expected_pairs=100), str(job), ok, {})
    assert _fail_frac(ok) == 0
    bad = JobResult([Op("pipeline", 0.0, 1.0)])
    state: dict = {}
    P2VTrain().check(None, gen.BasketInputs("", expected_pairs=101), str(job), bad, state)
    assert _fail_frac(bad) > 0 and "pairs 100 != 101" in state["problems"][0]


def test_curation_check_fails_each_part_on_its_own_wrong_output():
    inputs = gen.DocInputs("", distinct_texts=9, copy_ids=[7], wave_paths=[])
    names = ["batch", "wave_00", "wave_01"] + [f"queries.{q}" for q in Curation.MIX]

    def job(report, curated):
        return JobResult([Op(n, float(i), 1.0) for i, n in enumerate(names)], (report, curated))

    def oks(res):
        return [op.ok for op in res.ops]

    # oracle verdicts as a run caches them after its first comparison
    state: dict = {"oracle": {q: None for q in Curation.MIX}}
    first = job({"after_exact_dedup": 9, "final": 5}, {1, 2})
    Curation().check(None, inputs, "", first, state)
    assert _fail_frac(first) == 0
    drift = job({"after_exact_dedup": 9, "final": 6}, {1, 2})
    Curation().check(None, inputs, "", drift, state)
    assert oks(drift) == [False] + [True] * (len(names) - 1)
    survived = job({"after_exact_dedup": 9, "final": 5}, {1, 7})
    Curation().check(None, inputs, "", survived, state)
    assert oks(survived) == [True, True, False] + [True] * len(Curation.MIX)
    wrong = job({"after_exact_dedup": 8, "final": 5}, {1, 2})
    Curation().check(None, inputs, "", wrong, {"oracle": dict(state["oracle"])})
    assert _fail_frac(wrong) > 0
    state["oracle"]["phash_neardup"] = "rows 1799 != 1800"
    bad_query = job({"after_exact_dedup": 9, "final": 5}, {1, 2})
    Curation().check(None, inputs, "", bad_query, state)
    assert [op.name for op in bad_query.ops if not op.ok] == ["queries.phash_neardup"]
