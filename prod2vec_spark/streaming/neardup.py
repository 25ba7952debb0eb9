"""Streaming MinHash/LSH near-dedup (ENGINE scope): the incremental
counterpart of the batch bands → candidate-pairs → CC pipeline
(operators/dedup.py, operators/graph.py), built as ONE stateful
streaming query.

Semantics — the *first-presenter* gate: every arriving document
computes its LSH band signatures row-locally (the exact same
minhash_bands expressions as batch — pure column transforms, so they
run unchanged on a stream); a per-(band_id, band_sig) GroupState
records the first document ever to present that signature (min doc_id
within a micro-batch, earliest batch across restarts).  A document is
KEPT iff it owns ALL of its bands — i.e. none of its band signatures
was presented by any earlier document.  This is deliberately MORE
conservative than the batch pipeline in two ways, both documented
rather than hidden:

  * batch LSH treats a band collision as a *candidate* then clusters
    via connected components and keeps one doc per cluster; the
    streaming gate drops on collision without the exact-verify step
    (a kafka-fed curation front door wants cheap conservative
    filtering; the batch pipeline re-adjudicates on the archived
    corpus), and
  * a doc colliding only with an earlier DROPPED doc is still dropped
    (the dropped doc's bands stay owned) — first presenter owns the
    band, kept or not.

The invariant the conservatism buys (pytest-locked): the kept set's
band signatures are PAIRWISE DISJOINT — running the batch
lsh_candidate_pairs over the kept docs yields zero pairs.

Scale notes: state is one long (owner doc_id) per distinct band
signature, hash-distributed across executors by the groupBy key —
the same cardinality the batch band shuffle carries, held resident
instead of re-shuffled per run.  ``state_ttl`` (processing-time)
bounds the registry for unbounded streams; expired signatures re-admit
later near-dups — the same horizon/completeness tradeoff as the batch
watermark, chosen per deployment.  Caveat: processing-time timeouts
interact badly with trigger(availableNow) drains (the drain does not
terminate while timeouts remain schedulable — observed in this
environment), so the TTL path is for LONG-RUNNING triggers only; the
drain-style tests and pipelines run with NoTimeout.  Docs too short to shingle
(< shingle_k tokens) emit no bands and never reach the state store;
they are trivially kept and must be unioned back by the caller
(pipeline wiring does this), keeping the hot path free of a
per-short-doc state entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.operators.dedup import minhash_bands


def streaming_band_owners(
    docs: DataFrame,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    band_size: int = 4,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """(doc_id, owner) per presented band: ``owner`` is the first
    document to have presented that band signature.  Stateful —
    applyInPandasWithState keyed by (band_id, band_sig), state = one
    owner id per signature."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    bands = minhash_bands(
        docs,
        text_col=text_col,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        band_size=band_size,
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        doc_ids = sorted(
            {int(x) for pdf in pdfs for x in pdf["doc_id"].tolist()}
        )
        if not doc_ids:
            return
        owner = state.get[0] if state.exists else doc_ids[0]
        state.update((owner,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame({"doc_id": doc_ids, "owner": [owner] * len(doc_ids)})

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return bands.groupBy("band_id", "band_sig").applyInPandasWithState(
        update,
        outputStructType="doc_id long, owner long",
        stateStructType="owner long",
        outputMode="append",
        timeoutConf=timeout,
    )


def start_near_dedup(
    owners: DataFrame,
    out_dir: str,
    checkpoint: str,
):
    """Sink the per-band ownership stream as per-doc keep/drop
    decisions: a doc is kept iff it owns every band it presented.

    All of a doc's band rows are emitted in the micro-batch that
    consumed the doc (bands derive row-locally from its single input
    row), so the fold is a plain per-batch aggregate — no second
    stateful stage.  foreachBatch writes each batch's decisions to
    ``out_dir/batch_id=N`` with overwrite, so a replayed batch after a
    crash rewrites the same partition instead of duplicating rows —
    idempotent-by-path, the standard foreachBatch exactly-once recipe
    (the file-sink _spark_metadata log doesn't cover foreachBatch).

    Returns the started StreamingQuery (availableNow drain)."""
    from pyspark.sql import functions as F

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        decisions = batch_df.groupBy("doc_id").agg(
            F.min((F.col("owner") == F.col("doc_id")).cast("int")).alias("keep")
        )
        decisions.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    return (
        owners.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def start_near_dedup_registry(
    docs: DataFrame,
    registry_dir: str,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    band_size: int = 4,
):
    """First-presenter gate for DRAIN-style pipelines with ZERO Python
    state (optimization round 17, guide §4 — eliminate the Python
    boundary): per micro-batch, band signatures derive row-locally
    (the exact same minhash_bands expressions as the GroupState gate),
    batch-local ownership is one JVM hash-agg (min doc_id per
    signature), earlier-batch ownership comes from the committed band
    REGISTRY (idempotent ``batch_id=N`` partials — the
    start_incremental_lsh_stream recipe), and (doc_id, keep) decisions
    land at ``out_dir/batch_id=N`` with overwrite.

    Semantics are IDENTICAL to streaming_band_owners+start_near_dedup
    (pytest-locked parity, tests/test_streaming_neardup.py): owner =
    the earliest batch's presenter, min doc_id within a batch; a doc
    is kept iff it owns every band it presented; dropped docs keep
    their bands owned; docs too short to shingle emit no bands and no
    decision row.  Replays are exactly-once: both partials are
    idempotent by path, and the registry read EXCLUDES the current
    batch id, so a replayed batch recomputes byte-identical output.

    Why it exists: the GroupState gate calls the Python state function
    once per distinct signature — ~10k pandas-group calls per drained
    wave at sf0.1, profiled as the streaming macro's dominant cost
    (6.4 s of the ~12 s warm drain).  Tradeoff, documented not hidden:
    each micro-batch joins against the committed registry (one shuffle
    per batch) instead of probing a resident state store — the right
    shape for availableNow drains with few large batches; a
    LONG-RUNNING many-small-batch deployment keeps the GroupState
    variant, whose state store touches only the arriving keys."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # bands feed two consumers (ownership agg + the per-doc fold):
        # lazy lineage break so the minhash chain evaluates once
        bands = minhash_bands(
            batch_df,
            text_col=text_col,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            band_size=band_size,
        ).localCheckpoint(eager=False)
        batch_own = bands.groupBy("band_id", "band_sig").agg(
            F.min("doc_id").alias("_bown")
        )
        old = read_band_registry(spark, registry_dir).where(
            F.col("batch_id") != batch_id
        ).select("band_id", "band_sig", "owner")
        sig_owner = (
            batch_own.join(old, ["band_id", "band_sig"], "left")
            .select(
                "band_id",
                "band_sig",
                F.coalesce("owner", "_bown").alias("owner"),
            )
            .localCheckpoint(eager=False)  # read by decisions + new-sig legs
        )
        decisions = (
            bands.join(sig_owner, ["band_id", "band_sig"])
            .groupBy("doc_id")
            .agg(
                F.min(
                    (F.col("owner") == F.col("doc_id")).cast("int")
                ).alias("keep")
            )
        )
        decisions.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        # register only FIRST-presented signatures: re-presented ones
        # already have an earlier partial, and duplicate rows would
        # grow the registry past its one-row-per-signature contract
        new_sigs = sig_owner.join(old, ["band_id", "band_sig"], "left_anti")
        new_sigs.write.mode("overwrite").parquet(
            f"{registry_dir}/batch_id={batch_id}"
        )

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def read_band_registry(spark, registry_dir: str) -> DataFrame:
    """The committed first-presenter signature registry (union of
    per-batch partials) with its batch_id partition column — empty
    before the first commit, never an error.  The probe goes through
    the Hadoop FileSystem: a local glob would miss the partials of a
    ``file://`` or remote registry and silently drop earlier-batch
    ownership."""
    from prod2vec_spark.sources.artifacts import batch_partials_exist

    if not batch_partials_exist(spark, registry_dir):
        return spark.createDataFrame(
            [], "band_id int, band_sig string, owner long, batch_id long"
        )
    return spark.read.option("basePath", registry_dir).parquet(registry_dir)


def read_decisions(spark, out_dir: str) -> DataFrame:
    """The accumulated (doc_id, keep) decision table across all drained
    batches.  A gate that has not committed any batch yet (empty
    landing dir, nothing shingle-able) has an empty decision table —
    not a read error."""
    import glob
    import os

    os.makedirs(out_dir, exist_ok=True)
    if not glob.glob(os.path.join(out_dir, "batch_id=*", "*.parquet")):
        return spark.createDataFrame([], "doc_id long, keep int")
    return spark.read.option("basePath", out_dir).parquet(out_dir).select(
        "doc_id", "keep"
    )


def read_committed_bands(spark, bands_dir: str) -> DataFrame:
    """The committed band table (union of per-batch partials) with its
    batch_id partition column — empty before the first commit, never
    an error."""
    import glob
    import os

    os.makedirs(bands_dir, exist_ok=True)
    if not glob.glob(os.path.join(bands_dir, "batch_id=*", "*.parquet")):
        return spark.createDataFrame(
            [], "doc_id long, band_id int, band_sig string, batch_id long"
        )
    return spark.read.option("basePath", bands_dir).parquet(bands_dir)


def read_delta_pairs(spark, pairs_dir: str) -> DataFrame:
    """Union of the committed per-batch delta pair sets.  Each pair is
    emitted exactly once — by the batch that ingested its LATER member
    — so the union replays the batch pipeline's full pair set."""
    import glob
    import os

    os.makedirs(pairs_dir, exist_ok=True)
    if not glob.glob(os.path.join(pairs_dir, "batch_id=*", "*.parquet")):
        return spark.createDataFrame([], "doc_a long, doc_b long, batch_id long")
    return spark.read.option("basePath", pairs_dir).parquet(pairs_dir)


def start_incremental_lsh_stream(
    docs: DataFrame,
    bands_dir: str,
    pairs_dir: str,
    checkpoint: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 8,
    band_size: int = 4,
    max_group: int | None = None,
):
    """Streaming twin of ``incremental_lsh_candidates``: each
    micro-batch emits the DELTA candidate pairs (new docs vs the
    committed band table ∪ the batch itself) and then commits its own
    band partial — the signature store grows append-only, the archived
    corpus is never re-shingled.

    Exactly-once via the repo's idempotent-foreachBatch recipe: both
    the delta pairs and the band partial land at ``batch_id=N``
    partitions with overwrite, and the committed-bands read EXCLUDES
    the current batch id, so a replayed batch recomputes byte-identical
    output instead of double-pairing against its own half-committed
    bands.  Unlike the first-presenter gate above this is not a
    keep/drop decision: it feeds the same pair stream the batch
    pipeline clusters, so downstream CC/canonical selection stays
    batch-adjudicated (run it over read_delta_pairs' union at any
    checkpoint of the stream)."""
    from prod2vec_spark.operators.dedup import incremental_lsh_candidates

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        old = read_committed_bands(spark, bands_dir).where(
            F.col("batch_id") != batch_id
        ).select("doc_id", "band_id", "band_sig")
        delta = incremental_lsh_candidates(
            old,
            batch_df,
            text_col=text_col,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            band_size=band_size,
            max_group=max_group,
        )
        delta.write.mode("overwrite").parquet(f"{pairs_dir}/batch_id={batch_id}")
        minhash_bands(
            batch_df,
            text_col=text_col,
            shingle_k=shingle_k,
            num_hashes=num_hashes,
            band_size=band_size,
        ).write.mode("overwrite").parquet(f"{bands_dir}/batch_id={batch_id}")

    return (
        docs.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
