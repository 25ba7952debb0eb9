"""The benchmark workloads: inputs, one job, and the output checks.

A workload generates its inputs from the seed (`generate`), runs one job
against them through the engine's public entry points (`job`, which
times each operation), and checks the job's outputs outside the timed
region (`check`); `per_op` picks the operations `op_p50_s` covers.  An
operation whose output check fails is marked failed; nothing here
loosens a check to make a run pass.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow.parquet as pq

from perfbench import gen


@dataclass
class Op:
    name: str
    start: float  # epoch seconds
    secs: float
    ok: bool = True


@dataclass
class JobResult:
    ops: list[Op]
    output: object = None  # what `check` inspects besides the job dir


def timed(ops: list[Op], name: str, fn, tracer=None):
    """Run `fn` as one operation (inside a span named after it when
    tracing) and append its timing to `ops`."""
    ctx = tracer.span(name) if tracer is not None else nullcontext()
    start = time.time()
    t0 = time.perf_counter()
    with ctx:
        out = fn()
    ops.append(Op(name, start, time.perf_counter() - t0))
    return out


def _rows(path: str) -> int:
    """Rows of a parquet directory, from the footers."""
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows for f in os.listdir(path) if f.endswith(".parquet"))


class P2VTrain:
    """`Prod2VecPipeline.run()` with the default `PipelineConfig`."""

    name = "p2v_train"
    n_orders, n_products = 6000, 6000

    def generate(self, seed: int, data_dir: str):
        return gen.baskets(seed, data_dir, self.n_orders, self.n_products)

    def tables(self) -> list[str]:
        return ["lineitem", "part"]

    def job(self, spark, inputs, job_dir: str, tracer=None) -> JobResult:
        from prod2vec_spark.pipeline import PipelineConfig, Prod2VecPipeline

        ops: list[Op] = []
        cfg = PipelineConfig(sf_dir=inputs.sf_dir, work_dir=job_dir)
        timed(ops, "pipeline", lambda: Prod2VecPipeline(spark, cfg).run(), tracer)
        return JobResult(ops)

    def per_op(self, ops: list[Op]) -> list[Op]:
        return ops

    def check(self, spark, inputs, job_dir: str, res: JobResult, state: dict) -> None:
        from prod2vec_spark.pipeline import PipelineConfig

        cfg = PipelineConfig(sf_dir="", work_dir="")
        vocab = pq.read_table(f"{job_dir}/vocab").to_pylist()
        nb = pq.read_table(f"{job_dir}/neighbors").to_pylist()
        state["pair_rows"] = _rows(f"{job_dir}/pairs")
        problems = []
        if state["pair_rows"] != inputs.expected_pairs:
            problems.append(f"pairs {state['pair_rows']} != {inputs.expected_pairs}")
        unk = [r for r in vocab if r["product_id"] is None]
        if len(vocab) != cfg.num_prods or len(unk) != 1 or unk[0]["idx"] != 0:
            problems.append(f"vocab rows {len(vocab)}, UNK rows {unk}")
        if len(nb) != cfg.n_probe_products * cfg.top_k:
            problems.append(f"neighbors {len(nb)} rows")
        if any(r["query_id"] == r["neighbor_id"] for r in nb):
            problems.append("self pair in neighbors")
        if any(not -1.0 <= r["cosine_sim"] <= 1.0 for r in nb):
            problems.append("cosine outside [-1, 1]")
        _fail(res.ops, problems, state)


class Curation:
    """The curation plane on one generated corpus, batch, incremental and
    interactive:

    * `batch`: `CorpusCurationPipeline.run()` with the default stages plus
      a Kneser-Ney order-3 LM gate;
    * `wave_NN`: the same documents landed as waves of ascending doc_id
      ranges, each drained by `StreamingCorpusPipeline.run()` into one work
      dir whose state grows across waves;
    * `queries.<entry>`: a small mix of catalog entries
      (`prod2vec_spark.queries.QUERIES`) over the same documents, each
      forced with a `noop` write.  `phash_neardup` decodes and hashes
      images in Python workers over Arrow.

    All three run in one job so that a change to the shared dedup and
    text operators shows on each side in the same run."""

    name = "curation"
    n_docs, n_waves = 400, 2
    MIX = ("pii_scrub", "doc_repetition", "phash_neardup")

    def generate(self, seed: int, data_dir: str):
        return gen.documents(seed, data_dir, self.n_docs, self.n_waves)

    def tables(self) -> list[str]:
        return ["documents"]

    def job(self, spark, inputs, job_dir: str, tracer=None) -> JobResult:
        from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline
        from prod2vec_spark.queries import QUERIES
        from prod2vec_spark.streaming.pipeline import StreamCorpusConfig, StreamingCorpusPipeline

        ops: list[Op] = []
        batch = CorpusConfig(
            sf_dir=inputs.sf_dir, work_dir=f"{job_dir}/batch", lm_gate=True, lm_smoothing="kneser_ney", lm_order=3
        )
        rows = timed(ops, "batch", lambda: CorpusCurationPipeline(spark, batch).run().collect(), tracer)
        landing = f"{job_dir}/landing"
        os.makedirs(landing)
        stream = StreamCorpusConfig(
            landing_dir=landing, work_dir=f"{job_dir}/stream", line_filter=True, token_stats=True
        )
        for k, path in enumerate(inputs.wave_paths):
            shutil.copy(path, landing)
            timed(ops, f"wave_{k:02d}", lambda: StreamingCorpusPipeline(spark, stream).run(), tracer)
        curated = StreamingCorpusPipeline(spark, stream).curated().select("doc_id").collect()
        for q in self.MIX:
            timed(
                ops,
                f"queries.{q}",
                lambda: QUERIES[q](spark, inputs.sf_dir).write.format("noop").mode("overwrite").save(),
                tracer,
            )
        report = {r["stage"]: int(r["n"]) for r in rows if not r["stage"].startswith("t_ms_")}
        return JobResult(ops, (report, {r[0] for r in curated}))

    def per_op(self, ops: list[Op]) -> list[Op]:
        """The waves and the queries: the incremental and interactive
        operations.  The batch run is left to `job_s`."""
        return [op for op in ops if op.name != "batch"]

    def check(self, spark, inputs, job_dir: str, res: JobResult, state: dict) -> None:
        report, curated = res.output
        by_name = {op.name: op for op in res.ops}
        problems = []
        if report.get("after_exact_dedup") != inputs.distinct_texts:
            problems.append(f"exact-dedup survivors {report.get('after_exact_dedup')} != {inputs.distinct_texts}")
        first = state.setdefault("report", report)
        if report != first:
            problems.append(f"batch report differs from the first job: {report} vs {first}")
        _fail([by_name["batch"]], problems, state)
        problems = []
        survivors = curated & set(inputs.copy_ids)
        if survivors:
            problems.append(f"planted exact copies survived the stream: {sorted(survivors)[:10]}")
        first = state.setdefault("curated", len(curated))
        if len(curated) != first:
            problems.append(f"curated count {len(curated)} != first job's {first}")
        _fail([op for op in res.ops if op.name.startswith("wave_")][-1:], problems, state)
        # the entries are deterministic on fixed inputs: compare each with
        # its DuckDB oracle once per run and apply the verdict to every job
        oracle = state.setdefault("oracle", {})
        for q in self.MIX:
            if q not in oracle:
                oracle[q] = oracle_mismatch(spark, inputs.sf_dir, q)
            _fail([by_name[f"queries.{q}"]], [f"{q}: {oracle[q]}"] if oracle[q] else [], state)


def oracle_mismatch(spark, sf_dir: str, name: str) -> str | None:
    """Run catalog entry `name` and its DuckDB oracle over the parquet
    tables in `sf_dir` and compare them as `tools/driver_sim.py` does:
    column names, row count, then the values sorted by every column.
    Returns None when they agree, else what differs."""
    import duckdb
    import pandas as pd
    from prod2vec_spark.queries import ORACLES, QUERIES

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet") and not f.startswith("wave_"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'")
    got = QUERIES[name](spark, sf_dir).toPandas()
    want = con.execute(ORACLES[name]).df()
    con.close()
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(
            got[cols].sort_values(cols).reset_index(drop=True),
            want[cols].sort_values(cols).reset_index(drop=True),
            check_dtype=False,
            check_exact=False,
            rtol=1e-6,
            atol=1e-9,
        )
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def _fail(ops: list[Op], problems: list[str], state: dict) -> None:
    if problems:
        state.setdefault("problems", []).extend(problems)
        for op in ops:
            op.ok = False


WORKLOADS = {w.name: w for w in (P2VTrain, Curation)}
