"""Streaming MinHash/LSH near-dedup: first-presenter gate invariants,
checked against the BATCH LSH operators as ground truth, plus
cross-restart state persistence and idempotent re-drains.  The long
replay cases are ``slow``; the small registry-gate cases at the end
run in the default suite.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from prod2vec_spark.operators.dedup import lsh_candidate_pairs, minhash_bands
from prod2vec_spark.queries_r6 import amplify_documents
from prod2vec_spark.sources.io import read_table
from prod2vec_spark.streaming.neardup import (
    read_decisions,
    start_near_dedup,
    streaming_band_owners,
)
from tests.conftest import SF_SMOKE

_DOCS_SCHEMA = "doc_id long, text string, lang string"


def _drain(spark, landing, out, ckpt, **kw):
    stream = spark.readStream.schema(_DOCS_SCHEMA).parquet(landing)
    q = start_near_dedup(
        streaming_band_owners(stream, **kw), out, ckpt
    )
    q.awaitTermination()


@pytest.mark.slow
def test_first_presenter_gate_invariants(spark, tmp_path):
    """Drain an amplified corpus (guaranteed near-dups) and check the
    gate's contract against the batch operators:
      * decisions cover exactly the banded (shingle-able) docs;
      * the KEPT set's bands are pairwise disjoint — batch
        lsh_candidate_pairs over kept docs finds ZERO pairs;
      * every DROPPED doc band-collides with an earlier (smaller-id,
        single-batch arrival) doc."""
    docs = (
        amplify_documents(
            read_table(spark, SF_SMOKE, "documents").limit(150), factor=3
        )
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    landing = str(tmp_path / "landing")
    docs.coalesce(1).write.parquet(landing)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, landing, out, ckpt)

    decisions = read_decisions(spark, out).localCheckpoint()
    banded_ids = {
        r["doc_id"]
        for r in minhash_bands(docs).select("doc_id").distinct().collect()
    }
    assert {r["doc_id"] for r in decisions.collect()} == banded_ids
    assert decisions.count() == len(banded_ids)  # one decision per doc

    kept = decisions.filter(F.col("keep") == 1).select("doc_id")
    dropped = decisions.filter(F.col("keep") == 0).select("doc_id")
    assert kept.count() > 0 and dropped.count() > 0

    # kept docs never share a band: the batch candidate generator must
    # come up empty over the kept subset
    kept_docs = docs.join(kept, "doc_id", "left_semi")
    assert lsh_candidate_pairs(minhash_bands(kept_docs)).count() == 0

    # every dropped doc collides with a smaller-id doc (single batch:
    # owner = min doc_id per signature)
    bands = minhash_bands(docs).localCheckpoint()
    other = bands.select(
        F.col("band_id").alias("band_id"),
        F.col("band_sig").alias("band_sig"),
        F.col("doc_id").alias("other_id"),
    )
    has_earlier = (
        bands.join(other, ["band_id", "band_sig"])
        .filter(F.col("other_id") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
    )
    assert dropped.exceptAll(has_earlier).count() == 0


@pytest.mark.slow
def test_state_persists_across_restarts(spark, tmp_path):
    """A near-dup arriving in a LATER drain must still be dropped: the
    band registry lives in the checkpointed state store, not the
    micro-batch."""
    base_text = " ".join(f"tok{i}" for i in range(30))
    novel_text = " ".join(f"other{i}" for i in range(30))
    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, base_text, "en")], _DOCS_SCHEMA
    ).coalesce(1).write.parquet(str(landing / "a"))
    # the file stream needs a flat dir of files; stage via subdir glob
    import shutil

    for f in (landing / "a").glob("*.parquet"):
        shutil.move(str(f), landing / "batch_a.parquet")
    shutil.rmtree(landing / "a")

    _drain(spark, str(landing), out, ckpt)
    d1 = read_decisions(spark, out)
    assert [(r["doc_id"], r["keep"]) for r in d1.collect()] == [(1, 1)]

    # batch B: doc 2 duplicates doc 1's text (all bands owned by 1),
    # doc 3 is novel — state across the restart must drop 2, keep 3
    spark.createDataFrame(
        [(2, base_text, "en"), (3, novel_text, "en")], _DOCS_SCHEMA
    ).coalesce(1).write.parquet(str(landing / "b"))
    for f in (landing / "b").glob("*.parquet"):
        shutil.move(str(f), landing / "batch_b.parquet")
    shutil.rmtree(landing / "b")

    _drain(spark, str(landing), out, ckpt)
    got = {
        r["doc_id"]: r["keep"] for r in read_decisions(spark, out).collect()
    }
    assert got == {1: 1, 2: 0, 3: 1}

    # no-new-input re-drain: decision table unchanged (exactly-once)
    _drain(spark, str(landing), out, ckpt)
    assert read_decisions(spark, out).count() == 3


@pytest.mark.slow
def test_short_docs_bypass_state(spark, tmp_path):
    """Docs under shingle_k tokens never enter the state store — no
    decision rows, trivially kept by the caller."""
    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    long_text = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, "too short", "en"), (2, long_text, "en")], _DOCS_SCHEMA
    )
    import shutil

    df.coalesce(1).write.parquet(str(landing / "x"))
    for f in (landing / "x").glob("*.parquet"):
        shutil.move(str(f), landing / "docs.parquet")
    shutil.rmtree(landing / "x")

    _drain(spark, str(landing), out, ckpt)
    got = {r["doc_id"] for r in read_decisions(spark, out).collect()}
    assert got == {2}


@pytest.mark.slow
def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """The incrementally-maintained CMS (per-batch partials summed on
    read) must equal the one-shot batch sketch of all data EXACTLY —
    counter for counter — across two drains and a no-input restart."""
    import shutil

    from prod2vec_spark.operators.sketches import (
        cms_sketch,
        read_cms,
        start_cms_stream,
    )
    from prod2vec_spark.operators.text import tokens as tok

    docs = read_table(spark, SF_SMOKE, "documents").limit(200).localCheckpoint()
    terms = docs.select(F.explode(tok(F.col("text"))).alias("term"))

    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "sketch"), str(tmp_path / "ckpt")

    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    for name, half in [("a", half_a), ("b", half_b)]:
        half.select("doc_id", "text").coalesce(1).write.parquet(
            str(tmp_path / f"st_{name}")
        )

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(landing)
        )
        q = start_cms_stream(
            stream.select(F.explode(tok(F.col("text"))).alias("term")),
            out,
            ckpt,
        )
        q.awaitTermination()

    for f in (tmp_path / "st_a").glob("*.parquet"):
        shutil.copy(f, landing / "a.parquet")
    drain()
    for f in (tmp_path / "st_b").glob("*.parquet"):
        shutil.copy(f, landing / "b.parquet")
    drain()
    drain()  # no new input: partials unchanged

    merged = read_cms(spark, out)
    want = cms_sketch(terms)
    assert merged.exceptAll(want).count() == 0
    assert want.exceptAll(merged).count() == 0
    assert merged.count() > 0


@pytest.mark.slow
def test_streaming_bottomk_equals_batch_sketch(spark, tmp_path):
    """The incrementally-maintained bottom-k sketch (per-batch
    partials re-taken on read) must equal the one-shot batch sketch of
    all data EXACTLY — row for row — across two drains and a no-input
    restart, by the merge law."""
    import shutil

    from prod2vec_spark.operators.sketches import (
        bottomk_sketch,
        read_bottomk,
        start_bottomk_stream,
    )

    docs = (
        read_table(spark, SF_SMOKE, "documents")
        .limit(200)
        .select("doc_id", F.col("n_chars").cast("double").alias("n_chars"))
        .localCheckpoint()
    )
    K = 64

    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "bk"), str(tmp_path / "bk_ckpt")

    for name, half in [
        ("a", docs.where(F.col("doc_id") % 2 == 0)),
        ("b", docs.where(F.col("doc_id") % 2 == 1)),
    ]:
        half.coalesce(1).write.parquet(str(tmp_path / f"bst_{name}"))

    def drain():
        stream = spark.readStream.schema("doc_id long, n_chars double").parquet(
            str(landing)
        )
        q = start_bottomk_stream(
            stream, out, ckpt, value_col="n_chars", key_cols=["doc_id"], k=K
        )
        q.awaitTermination()

    def current():
        return [
            (r["hkey"], r["v"]) for r in read_bottomk(spark, out, k=K).collect()
        ]

    assert current() == []  # empty before the first commit
    for f in (tmp_path / "bst_a").glob("*.parquet"):
        shutil.copy(f, landing / "a.parquet")
    drain()
    half_expect = [
        (r["hkey"], r["v"])
        for r in bottomk_sketch(
            docs.where(F.col("doc_id") % 2 == 0), "n_chars", ["doc_id"], k=K
        ).collect()
    ]
    assert current() == half_expect
    for f in (tmp_path / "bst_b").glob("*.parquet"):
        shutil.copy(f, landing / "b.parquet")
    drain()
    drain()  # no new input: partials unchanged
    full_expect = [
        (r["hkey"], r["v"])
        for r in bottomk_sketch(docs, "n_chars", ["doc_id"], k=K).collect()
    ]
    assert current() == full_expect and len(full_expect) == K


@pytest.mark.slow
def test_streaming_incremental_lsh_matches_batch(spark, tmp_path):
    """start_incremental_lsh_stream: the union of committed per-batch
    delta pair sets equals the batch pipeline's full pair set; a
    no-new-input restart adds nothing; the band store holds every
    doc's signatures exactly once."""
    import shutil

    from pyspark.sql import functions as F

    from prod2vec_spark.operators.dedup import lsh_candidate_pairs, minhash_bands
    from prod2vec_spark.sources.io import read_table
    from prod2vec_spark.streaming.neardup import (
        read_committed_bands,
        read_delta_pairs,
        start_incremental_lsh_stream,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    landing = tmp_path / "landing"
    landing.mkdir()
    for name, df in [("a", half_a), ("b", half_b)]:
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"s{name}"))
    shutil.copy(
        sorted((tmp_path / "sa").glob("*.parquet"))[0], landing / "a.parquet"
    )

    bands_dir = str(tmp_path / "bands")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(landing)
        )
        start_incremental_lsh_stream(
            stream, bands_dir, pairs_dir, ckpt
        ).awaitTermination()

    def pairs():
        return {
            (r["doc_a"], r["doc_b"])
            for r in read_delta_pairs(spark, pairs_dir).collect()
        }

    drain()
    got_a = pairs()
    batch_a = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_bands(half_a)).collect()
    }
    assert got_a == batch_a
    # restart with nothing new: no re-emission, band store unchanged
    n_bands = read_committed_bands(spark, bands_dir).count()
    drain()
    assert pairs() == got_a
    assert read_committed_bands(spark, bands_dir).count() == n_bands
    # second landing: union now equals the full-corpus batch run
    shutil.copy(
        sorted((tmp_path / "sb").glob("*.parquet"))[0], landing / "b.parquet"
    )
    drain()
    full = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_bands(docs)).collect()
    }
    assert pairs() == full
    # the store holds each doc's bands exactly once
    bands = read_committed_bands(spark, bands_dir)
    assert bands.count() == minhash_bands(docs).count()
    assert bands.select("doc_id", "band_id").distinct().count() == bands.count()


def _drain_registry(spark, landing, reg, out, ckpt, **kw):
    from prod2vec_spark.streaming.neardup import start_near_dedup_registry

    stream = spark.readStream.schema(_DOCS_SCHEMA).parquet(landing)
    q = start_near_dedup_registry(stream, reg, out, ckpt, **kw)
    q.awaitTermination()


@pytest.mark.slow
def test_registry_gate_matches_groupstate_gate(spark, tmp_path):
    """Round-17 parity lock: the JVM-only registry gate (the drain
    pipeline's shape) emits the EXACT decision table of the GroupState
    gate on the same landing — per wave, across a restart wave, and
    under an idempotent no-input re-drain."""
    import shutil

    docs = (
        amplify_documents(
            read_table(spark, SF_SMOKE, "documents").limit(120), factor=3
        )
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    wave_a = docs.where(F.col("doc_id") % 2 == 0)
    wave_b = docs.where(F.col("doc_id") % 2 == 1)
    landing = tmp_path / "landing"
    landing.mkdir()
    for name, half in [("a", wave_a), ("b", wave_b)]:
        half.coalesce(1).write.parquet(str(tmp_path / f"st_{name}"))

    gs_out, gs_ckpt = str(tmp_path / "gs_out"), str(tmp_path / "gs_ckpt")
    rg_reg = str(tmp_path / "rg_registry")
    rg_out, rg_ckpt = str(tmp_path / "rg_out"), str(tmp_path / "rg_ckpt")

    def both():
        _drain(spark, str(landing), gs_out, gs_ckpt)
        _drain_registry(spark, str(landing), rg_reg, rg_out, rg_ckpt)

    def decisions(out):
        return {
            (r["doc_id"], r["keep"])
            for r in read_decisions(spark, out).collect()
        }

    for f in (tmp_path / "st_a").glob("*.parquet"):
        shutil.copy(f, landing / "a.parquet")
    both()
    got_a = decisions(rg_out)
    assert got_a == decisions(gs_out) and got_a

    # second wave across a restart: earlier-batch owners must win in
    # BOTH gates (registry partials vs the checkpointed state store)
    for f in (tmp_path / "st_b").glob("*.parquet"):
        shutil.copy(f, landing / "b.parquet")
    both()
    got_ab = decisions(rg_out)
    assert got_ab == decisions(gs_out) and len(got_ab) > len(got_a)

    # no-new-input re-drain: both decision tables unchanged
    both()
    assert decisions(rg_out) == got_ab == decisions(gs_out)

    # one registry row per distinct presented signature (the registry
    # growth contract: re-presented signatures never re-register)
    from prod2vec_spark.operators.dedup import minhash_bands
    from prod2vec_spark.streaming.neardup import read_band_registry

    reg = read_band_registry(spark, rg_reg)
    n_sigs = (
        minhash_bands(docs).select("band_id", "band_sig").distinct().count()
    )
    assert reg.count() == n_sigs
    assert reg.select("band_id", "band_sig").distinct().count() == n_sigs


def _tiny_amplified(spark, n_src: int):
    """``n_src`` source docs amplified 3x: guaranteed near-dups."""
    return (
        amplify_documents(
            read_table(spark, SF_SMOKE, "documents").limit(n_src), factor=3
        )
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )


def test_registry_gate_matches_groupstate_gate_one_wave(spark, tmp_path):
    """Default-suite twin of the parity lock above: one wave of a tiny
    amplified corpus, registry gate vs GroupState gate — identical
    decision tables, with real drops among them."""
    docs = _tiny_amplified(spark, 20)
    landing = str(tmp_path / "landing")
    docs.coalesce(1).write.parquet(landing)
    gs_out, rg_out = str(tmp_path / "gs_out"), str(tmp_path / "rg_out")
    _drain(spark, landing, gs_out, str(tmp_path / "gs_ckpt"))
    reg, rg_ckpt = str(tmp_path / "reg"), str(tmp_path / "rg_ckpt")
    _drain_registry(spark, landing, reg, rg_out, rg_ckpt)

    def decisions(out):
        return {
            (r["doc_id"], r["keep"])
            for r in read_decisions(spark, out).collect()
        }

    got = decisions(rg_out)
    assert got == decisions(gs_out)
    assert {k for _, k in got} == {0, 1}


def test_registry_gate_reads_file_uri_registry(spark, tmp_path, monkeypatch):
    """A ``file://`` registry dir is probed through the Hadoop
    FileSystem: the second wave's verbatim copies of first-wave docs
    all drop, because the committed registry partials are found (a
    local glob misses them and the copies would own their bands); and
    no literal ``file:`` directory appears in the working directory."""
    import shutil

    from prod2vec_spark.streaming.neardup import read_band_registry

    monkeypatch.chdir(tmp_path)
    wave_a = read_table(spark, SF_SMOKE, "documents").limit(15).select(
        "doc_id", "text", "lang"
    )
    wave_b = wave_a.select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text", "lang"
    )
    for name, wave in [("a", wave_a), ("b", wave_b)]:
        wave.coalesce(1).write.parquet(str(tmp_path / f"st_{name}"))
    landing = tmp_path / "landing"
    landing.mkdir()
    reg = (tmp_path / "registry").as_uri()
    assert reg.startswith("file:")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def wave(name):
        for f in (tmp_path / f"st_{name}").glob("*.parquet"):
            shutil.copy(f, landing / f"{name}.parquet")
        _drain_registry(spark, str(landing), reg, out, ckpt)

    wave("a")
    assert read_band_registry(spark, reg).count() > 0
    wave("b")
    copies = {
        r["doc_id"]: r["keep"]
        for r in read_decisions(spark, out).collect()
        if r["doc_id"] >= 100_000
    }
    assert copies and set(copies.values()) == {0}
    assert not (tmp_path / "file:").exists()


def test_pipeline_registry_gate_ignores_groupstate_checkpoint(spark, tmp_path):
    """The corpus pipeline's registry gate checkpoints in its own
    directory.  A GroupState gate's checkpoint left at
    ``work_dir/ckpt_neardup`` has consumed every committed exact-dedup
    file; resuming the registry gate from it would skip them all with
    an empty registry and decide nothing.  With its own checkpoint,
    every banded doc gets a decision."""
    from prod2vec_spark.streaming.pipeline import (
        _EXACT_SCHEMA,
        StreamCorpusConfig,
        StreamingCorpusPipeline,
    )

    cfg = StreamCorpusConfig(
        landing_dir=str(tmp_path / "landing"), work_dir=str(tmp_path / "work")
    )
    docs = _tiny_amplified(spark, 10)
    docs.withColumn("text_hash", F.col("text")).coalesce(1).write.parquet(
        cfg.exact_dir
    )
    leftover = spark.readStream.schema(_EXACT_SCHEMA).parquet(cfg.exact_dir)
    start_near_dedup(
        streaming_band_owners(leftover),
        str(tmp_path / "old_decisions"),
        f"{cfg.work_dir}/ckpt_neardup",
    ).awaitTermination()

    StreamingCorpusPipeline(spark, cfg).neardup_stage()
    decided = {
        r["doc_id"]
        for r in read_decisions(spark, cfg.decisions_dir).collect()
    }
    banded = {
        r["doc_id"]
        for r in minhash_bands(docs).select("doc_id").distinct().collect()
    }
    assert decided == banded and banded
