"""Round-13 superset entries (ENGINE scope; reference anchor: the
reference has no media surface — SURVEY.md §2.21):

* ``audio_span_audit`` — the partial-AUDIO (embedded jingle) duplicate
  plane, completing the span triad (video frames / image tiles / audio
  windows), fixture-split like the image plane (queries_r12.py).
* ``kn3_perplexity`` — TRIGRAM interpolated Kneser-Ney scoring
  (operators/lm order-n KN at order 3): three-leg interpolation
  through continuation-count lower orders; the DuckDB
  twin replays the chain operand-for-operand in Spark's association
  order so the IEEE arithmetic hashes identically (the r12
  kn_perplexity convention, one order deeper).
* ``packed_unigram_ids`` — the packing plane under the UNIGRAM
  tokenizer family (VERDICT r12 ask #9): the real Viterbi encoder
  feeds token_vocab + pack_token_ids over a fixed disjoint-alphabet
  piece table whose unique Viterbi optimum provably equals a replace
  chain, so DuckDB replays the whole Viterbi-fed pipeline without a
  SQL Viterbi (the BPE_FIXED_MERGES trick, unigram seam).

Same split as the image/video planes (VERDICT r9 ask #2 protocol):
the codec boundary (planted WAV render → stdlib PCM/ADPCM decode →
per-window energy-gradient hash) persists its per-window hashes as a
pytest-golden fixture (tests/fixtures/audio_windows.parquet,
regenerate with tools/gen_audio_window_fixture.py), and the query is
the pure-integer SQL half — composite window ids → banded-Hamming
candidate join → bit_count verify → per-clip-pair matched-window
counts — with a full DuckDB oracle.

Planted corpus: doc_id pairs (fam = doc_id // 2).  The even member is
a 2 s md5-seeded jingle encoded PCM-16; the odd member embeds the SAME
jingle at a HOP-ALIGNED offset (fam % 3 chooses 500 / 1000 / 250 ms)
inside unrelated lead-in/lead-out material and re-encodes IMA-ADPCM —
so every family pair is a genuine partial-audio duplicate that ALSO
crosses the lossy codec boundary, whose WHOLE-clip energy-gradient
hash diverges; unrelated families (independent md5 envelopes) disagree
on ≥10 of 64 bits per window (measured), far beyond the distance-3
verify.  The signal is a log-uniform piecewise-constant envelope
(40-sample steps spanning 30×) over a square-ish carrier: gradient
sub-window energies differ by large margins, so ADPCM quantization
moves aligned-window hashes ≤ a few bits (measured worst 6; ≥5 of the
7 aligned windows stay within distance 3 in every sampled family).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from prod2vec_spark.sources.io import read_table

AUDIO_RATE = 4000
WINDOW_MS, HOP_MS = 500, 250
AUDIO_MIN_SHARED = 3
_WIN_ID_BASE = 1_000_000


def planted_audio_sig(tag: str, n: int) -> list[int]:
    """Deterministic strong-margin signal (module docstring), seeded
    from md5 of ``tag`` — shared by the fixture generator, the
    pytest-golden codec gate, and the distributed render."""
    import numpy as np

    steps = n // 40 + 1
    raw = b"".join(
        hashlib.md5(f"{tag}|{k}".encode()).digest()
        for k in range(steps // 4 + 1)
    )
    u = np.frombuffer(raw, dtype=np.uint8)[:steps].astype(np.float64) / 255.0
    lv = np.exp(np.log(300) + u * (np.log(9000) - np.log(300)))
    env = np.repeat(lv, 40)[:n]
    ph = int(hashlib.md5(f"{tag}|ph".encode()).hexdigest(), 16) % 628 / 100.0
    carrier = np.sign(
        np.sin(2 * np.pi * 440 * np.arange(n) / AUDIO_RATE + ph)
    )
    carrier[carrier == 0] = 1.0
    return (env * carrier).astype(int).clip(-30000, 30000).tolist()


def planted_audio(doc_id: int) -> bytes:
    """One WAV blob per doc id: even = standalone PCM jingle, odd =
    ADPCM host with the family jingle embedded hop-aligned."""
    from prod2vec_spark.operators.multimodal import (
        encode_wav_adpcm,
        encode_wav_pcm16,
    )

    fam, member = int(doc_id) // 2, int(doc_id) % 2
    jingle = planted_audio_sig(f"jin{fam}", 2 * AUDIO_RATE)
    if member == 0:
        return encode_wav_pcm16(jingle, AUDIO_RATE)
    off_hops = (2, 4, 1)[fam % 3]  # hop-aligned insertion offset
    pre = planted_audio_sig(
        f"pre{fam}", off_hops * AUDIO_RATE * HOP_MS // 1000
    )
    post = planted_audio_sig(f"post{fam}", AUDIO_RATE)
    return encode_wav_adpcm(pre + jingle + post, AUDIO_RATE)


def window_hash_rows(doc_id: int) -> list[tuple[int, int, int]]:
    """[(doc_id, win_idx, whash)] for one planted clip through the
    REAL codec chain (WAV encode → audio_mono decode → window hash) —
    the single recipe the fixture generator and the golden gate
    share."""
    from prod2vec_spark.operators.phash import audio_mono, window_rows_py

    a, rate = audio_mono(planted_audio(doc_id))
    return [
        (int(doc_id), wi, wh)
        for wi, wh in window_rows_py(a, rate, WINDOW_MS, HOP_MS)
    ]


def rendered_window_hashes(spark, doc_ids):
    """(doc_id, win_idx, whash) via the distributed codec chain
    (mapInPandas render → audio_window_hashes) — the pytest-golden
    gate runs this against the persisted fixture so the codec boundary
    stays verified even though the query reads the fixture."""
    from typing import Iterator

    import pandas as pd

    from prod2vec_spark.operators.phash import audio_window_hashes

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "blob": [planted_audio(i) for i in pdf["doc_id"]],
                }
            )

    media = doc_ids.mapInPandas(render, schema="media_id long, blob binary")
    return audio_window_hashes(
        media, window_ms=WINDOW_MS, hop_ms=HOP_MS
    ).select(F.col("media_id").alias("doc_id"), "win_idx", "whash")


def _audio_fixture_path() -> str:
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "fixtures",
        "audio_windows.parquet",
    )


def q_audio_span_audit(spark, sf_dir):
    """Partial-audio duplicate pairs over the PERSISTED per-window
    hash table: composite window ids (doc·10⁶ + win_idx) → the banded-
    Hamming plane (phash_neardup: 4×16-bit slices, pigeonhole recall 1
    at distance ≤3) → same-clip pairs dropped → matched-window count
    per clip pair ≥ AUDIO_MIN_SHARED.  ``same_family`` (doc_id//2
    equality) keeps the entry self-auditing: pytest asserts it is 1 on
    every pair and that every planted family is recovered."""
    from prod2vec_spark.operators import phash as PH

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    wins = (
        spark.read.parquet(_audio_fixture_path())
        .join(docs, "doc_id", "leftsemi")
        .select(
            (F.col("doc_id") * F.lit(_WIN_ID_BASE) + F.col("win_idx")).alias(
                "wid"
            ),
            "whash",
        )
    )
    pairs = PH.phash_neardup(
        wins, id_col="wid", hash_col="whash", max_distance=3
    )
    clip_a = F.expr(f"id_a div {_WIN_ID_BASE}").cast("long")
    clip_b = F.expr(f"id_b div {_WIN_ID_BASE}").cast("long")
    return (
        pairs.select(clip_a.alias("ca"), clip_b.alias("cb"))
        .where(F.col("ca") != F.col("cb"))
        .select(
            F.least("ca", "cb").alias("id_a"),
            F.greatest("ca", "cb").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared_windows"))
        .where(F.col("n_shared_windows") >= AUDIO_MIN_SHARED)
        .select(
            "id_a",
            "id_b",
            "n_shared_windows",
            (
                F.floor(F.col("id_a") / 2) == F.floor(F.col("id_b") / 2)
            ).cast("bigint").alias("same_family"),
        )
    )


def _sql_audio_span_audit() -> str:
    """DuckDB twin: identical composite-id banding (4 disjoint 16-bit
    slices by shift+mask), slice-equality candidate join with DISTINCT
    window pairs, XOR bit_count verify, clip-pair rollup with the same
    AUDIO_MIN_SHARED cut."""
    path = _audio_fixture_path()
    return f"""
WITH t AS (
  SELECT v.doc_id * {_WIN_ID_BASE} + v.win_idx AS wid, v.whash
  FROM read_parquet('{path}') v
  WHERE v.doc_id IN (SELECT doc_id FROM documents)
),
sig AS (
  SELECT wid, whash, band, (whash >> (band * 16)) & 65535 AS slice
  FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.wid AS wa, a.whash AS ha, b.wid AS wb, b.whash AS hb
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.slice = b.slice AND a.wid < b.wid
),
win_pairs AS (
  SELECT wa // {_WIN_ID_BASE} AS ca, wb // {_WIN_ID_BASE} AS cb
  FROM cand
  WHERE bit_count(xor(ha, hb)) <= 3
    AND wa // {_WIN_ID_BASE} <> wb // {_WIN_ID_BASE}
)
SELECT LEAST(ca, cb) AS id_a, GREATEST(ca, cb) AS id_b,
       CAST(COUNT(*) AS INT) AS n_shared_windows,
       CAST(CASE WHEN LEAST(ca, cb) // 2 = GREATEST(ca, cb) // 2
                 THEN 1 ELSE 0 END AS BIGINT) AS same_family
FROM win_pairs
GROUP BY 1, 2
HAVING COUNT(*) >= {AUDIO_MIN_SHARED}
"""


R13_QUERIES = {
    "audio_span_audit": q_audio_span_audit,
}
R13_ORACLES: dict[str, str] = {
    "audio_span_audit": _sql_audio_span_audit(),
}


# ------------------------------------------- trigram Kneser-Ney
KN_TRAIN_FRAC = 0.8
KN_DISCOUNT = 0.75


def _kn3_report(spark, sf_dir, **discounts):
    """Self-trained order-3 KN report (operators/lm.fit_knn on the
    md5-uniform train split, every doc scored): (doc_id, is_train,
    n_triples, n_bo1 — triples absent from the model —, n_bo2 — the
    continuation bigram absent too —, avg_nll, ppl).  The two backoff
    depths come from the per-gram frame's level-3 and level-2 counts,
    which score_docs_knn's n_bo alone does not split."""
    from prod2vec_spark.operators.lm import (
        _knn_grams,
        fit_knn,
        with_train_split,
    )

    docs = read_table(spark, sf_dir, "documents")
    tagged = with_train_split(docs, KN_TRAIN_FRAC, seed="lm")
    model = fit_knn(tagged.where(F.col("is_train")), order=3)
    nll = F.avg(-F.log("prob"))
    return (
        _knn_grams(tagged, model, **discounts)
        .groupBy("doc_id")
        .agg(
            F.max(F.col("is_train").cast("long")).alias("is_train"),
            F.count(F.lit(1)).alias("n_triples"),
            F.sum(F.col("c3").isNull().cast("long")).alias("n_bo1"),
            F.sum(
                (F.col("c3").isNull() & F.col("c2").isNull()).cast("long")
            ).alias("n_bo2"),
            F.round(nll, 4).alias("avg_nll"),
            F.round(F.exp(nll), 4).alias("ppl"),
        )
    )


def q_kn3_perplexity(spark, sf_dir):
    """Per-document TRIGRAM perplexity under interpolated Kneser-Ney
    smoothing (operators/lm.fit_knn at order 3) — the order-3
    extension of the round-12 kn_perplexity entry: three-leg
    interpolation through continuation-count lower orders, same
    md5-uniform train split, same rounded (avg_nll, ppl) contract."""
    return _kn3_report(spark, sf_dir, discount=KN_DISCOUNT)


def _sql_kn3_perplexity() -> str:
    """DuckDB twin of the three-leg chain — every operand forced to
    DOUBLE in Spark's association order (the r12 kn_perplexity
    convention) so the IEEE arithmetic replays bit-for-bit before the
    4-digit round.  P2 (the continuation-bigram leg) is inlined into
    both branches of the P3 CASE exactly as Catalyst evaluates it."""
    from prod2vec_spark.queries_ext import _TOKS

    D = f"CAST({KN_DISCOUNT} AS DOUBLE)"
    p1 = (
        "((CAST(COALESCE(r3.n1p_r3, 0) AS DOUBLE) + 1)"
        " / CAST(tot.n_types2p + tot.v_vocab + 1 AS DOUBLE))"
    )
    p2 = f"""CASE WHEN mid.den2p IS NOT NULL THEN
      GREATEST(CAST(COALESCE(c2p.c2p, 0) AS DOUBLE) - {D}, CAST(0 AS DOUBLE))
        / CAST(mid.den2p AS DOUBLE)
      + ({D} * CAST(mid.n1p_mid AS DOUBLE) / CAST(mid.den2p AS DOUBLE))
        * {p1}
    ELSE {p1} END"""
    return f"""
WITH sp AS (SELECT doc_id, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {KN_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, is_train, {_TOKS} AS toks FROM sp),
tr AS (SELECT doc_id, is_train,
        toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2,
        toks[CAST(i AS INT) + 2] AS w3
      FROM t, unnest(range(1, len(toks) - 1)) AS u(i)),
c3 AS (SELECT w1, w2, w3, count(*) AS c3
       FROM tr WHERE is_train GROUP BY 1, 2, 3),
ctx AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS den12,
               count(*) AS n1p_ctx FROM c3 GROUP BY 1, 2),
c2p AS (SELECT w2, w3, count(*) AS c2p FROM c3 GROUP BY 1, 2),
mid AS (SELECT w2, CAST(sum(c2p) AS BIGINT) AS den2p,
               count(*) AS n1p_mid FROM c2p GROUP BY 1),
r3 AS (SELECT w3, count(*) AS n1p_r3 FROM c2p GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM c2p) AS n_types2p,
               (SELECT count(DISTINCT w)
                FROM (SELECT unnest(toks) AS w FROM t WHERE is_train))
                 AS v_vocab),
sc AS (SELECT tr.doc_id, tr.is_train,
    CASE WHEN ctx.den12 IS NOT NULL THEN
      GREATEST(CAST(COALESCE(c3.c3, 0) AS DOUBLE) - {D}, CAST(0 AS DOUBLE))
        / CAST(ctx.den12 AS DOUBLE)
      + ({D} * CAST(ctx.n1p_ctx AS DOUBLE) / CAST(ctx.den12 AS DOUBLE))
        * ({p2})
    ELSE ({p2}) END AS prob,
    CASE WHEN c3.c3 IS NULL THEN 1 ELSE 0 END AS bo1,
    CASE WHEN c3.c3 IS NULL AND c2p.c2p IS NULL THEN 1 ELSE 0 END AS bo2
  FROM tr
  LEFT JOIN c3 ON tr.w1 = c3.w1 AND tr.w2 = c3.w2 AND tr.w3 = c3.w3
  LEFT JOIN ctx ON tr.w1 = ctx.w1 AND tr.w2 = ctx.w2
  LEFT JOIN c2p ON tr.w2 = c2p.w2 AND tr.w3 = c2p.w3
  LEFT JOIN mid ON tr.w2 = mid.w2
  LEFT JOIN r3 ON tr.w3 = r3.w3
  CROSS JOIN tot)
SELECT doc_id, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_triples,
       CAST(sum(bo1) AS BIGINT) AS n_bo1,
       CAST(sum(bo2) AS BIGINT) AS n_bo2,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id
"""


R13_QUERIES["kn3_perplexity"] = q_kn3_perplexity
R13_ORACLES["kn3_perplexity"] = _sql_kn3_perplexity()


# --------------------------------- unigram-fed packed accounting
# Fixed literal piece table (VERDICT r12 ask #9, the BPE_FIXED_MERGES
# trick at the unigram seam): four 2-char pieces with PAIRWISE-DISJOINT
# alphabets and no self-borders, each at logprob -1.0 while absent
# chars score the floor (min-100).  Consequences, provable: (a) piece
# occurrences in any word are pairwise non-overlapping, (b) taking
# every occurrence strictly dominates any alternative segmentation, so
# the Viterbi optimum is UNIQUE and equals the replace-chain
# segmentation — which is what lets DuckDB replay a Viterbi-fed
# pipeline without a SQL Viterbi.  The contract under test is the REAL
# encoder (operators/unigram.unigram_tokens runs the actual DP);
# train_unigram is pytest-certified separately.
UNI_FIXED_PIECES: list[tuple[str, float]] = [
    ("th", -1.0), ("er", -1.0), ("in", -1.0), ("qu", -1.0),
]
_UPK_BUDGET, _UPK_SHARDS = 64, 2


def q_packed_unigram_ids(spark, sf_dir):
    """The packing plane's final form under the UNIGRAM tokenizer
    family, certified end-to-end (the packed_input_ids contract with
    tokens_fn = the real Viterbi encoder over UNI_FIXED_PIECES): per
    (lang, shard, bin) training example with sizes + md5 of the
    concatenated ids + md5 of the doc lineage in pack order."""
    from prod2vec_spark.operators.bpe import token_vocab
    from prod2vec_spark.operators.chunking import pack_token_ids
    from prod2vec_spark.operators.unigram import (
        unigram_counter,
        unigram_tokens,
    )

    tokens_fn = lambda c: unigram_tokens(c, UNI_FIXED_PIECES)  # noqa: E731
    docs = read_table(spark, sf_dir, "documents")
    vocab = token_vocab(docs, [], tokens_fn=tokens_fn)
    out = pack_token_ids(
        docs, [], vocab,
        budget=_UPK_BUDGET, n_shards=_UPK_SHARDS,
        tokens_fn=tokens_fn, count_fn=unigram_counter(UNI_FIXED_PIECES),
    )
    as_csv = lambda col: F.concat_ws(  # noqa: E731
        ",", F.transform(col, lambda x: x.cast("string"))
    )
    return out.select(
        F.col("part"),
        F.col("shard").cast("long").alias("shard"),
        F.col("bin").cast("long").alias("bin"),
        "n_ids",
        F.md5(as_csv(F.col("input_ids"))).alias("ids_md5"),
        F.md5(as_csv(F.col("doc_ids"))).alias("docs_md5"),
    )


def _sql_packed_unigram_ids() -> str:
    """DuckDB twin: the unique-Viterbi-optimum segmentation as a
    sentinel replace chain (module comment above proves equality),
    then the identical vocab ranking, md5 shard hash, md5 pack order,
    and cumulative-sum bin rollup as the BPE packed_input_ids twin."""
    from prod2vec_spark.queries_ext import _TOKS

    def w(sym: str) -> str:
        return f"chr(1)||'{sym}'||chr(2)"

    s = (
        "array_to_string(list_transform(str_split("
        "replace(replace(word, chr(1), ''), chr(2), ''), ''), "
        "c -> chr(1)||c||chr(2)), '') || " + w("▁")
    )
    for piece, _ in UNI_FIXED_PIECES:
        a, b = piece[0], piece[1]
        s = f"replace({s}, {w(a)}||{w(b)}, {w(piece)})"
    toklist = (
        f"list_filter(list_transform(str_split({s}, chr(1)), "
        "p -> replace(p, chr(2), '')), p -> p <> '')"
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
wd AS (SELECT doc_id, CAST(i AS BIGINT) AS wi,
         toks[CAST(i AS INT)] AS word
       FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       WHERE len(toks) > 0),
enc AS (SELECT doc_id, wi, {toklist} AS wtoks FROM wd),
tok AS (SELECT doc_id, wi, CAST(j AS BIGINT) AS ti,
          wtoks[CAST(j AS INT)] AS token
        FROM enc, unnest(range(1, len(wtoks) + 1)) AS v(j)),
vc AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
vid AS (SELECT token,
          CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
            AS token_id
        FROM vc),
m AS (SELECT tok.doc_id, tok.wi, tok.ti, vid.token_id AS tid
      FROM tok JOIN vid USING (token)),
perdoc AS (SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_ids,
         string_agg(CAST(tid AS VARCHAR), ',' ORDER BY wi, ti) AS ids_csv
       FROM m GROUP BY doc_id),
pk AS (SELECT d.doc_id, d.lang AS part,
         ('0x' || substr(md5('shard|' || d.doc_id), 1, 8))::BIGINT
           % {_UPK_SHARDS} AS shard,
         md5('pack|' || d.doc_id) AS ord_key,
         p.n_ids, p.ids_csv
       FROM documents d JOIN perdoc p USING (doc_id)),
bins AS (SELECT *,
           CAST(floor((sum(n_ids) OVER (
                   PARTITION BY part, shard
                   ORDER BY ord_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_ids) / {_UPK_BUDGET}.0) AS BIGINT) AS bin
         FROM pk)
SELECT part, shard, bin,
       CAST(sum(n_ids) AS BIGINT) AS n_ids,
       md5(string_agg(ids_csv, ',' ORDER BY ord_key, doc_id)) AS ids_md5,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY ord_key, doc_id))
         AS docs_md5
FROM bins GROUP BY 1, 2, 3
"""


R13_QUERIES["packed_unigram_ids"] = q_packed_unigram_ids
R13_ORACLES["packed_unigram_ids"] = _sql_packed_unigram_ids()


# ------------------------------------ MODIFIED Kneser-Ney (trigram)
# Pinned literal discounts (the scorer is the contract under test —
# estimate_mkn_discounts is pytest-certified separately, and literal
# discounts are what let the twin replay without re-deriving
# counts-of-counts in SQL).
KN3M_D3 = (0.5, 1.1, 1.6)
KN3M_D2 = (0.4, 0.9, 1.3)


def q_kn3m_perplexity(spark, sf_dir):
    """Per-document trigram perplexity under MODIFIED Kneser-Ney
    (Chen & Goodman 1999 §3: count-dependent discounts D1/D2/D3+ per
    level, λ reassigning exactly the removed mass through per-context
    count-of-count splits) — fit on the md5-uniform train split, score
    every doc (operators/lm.fit_knn at order 3 with per-level
    discounts)."""
    return _kn3_report(spark, sf_dir, discounts={3: KN3M_D3, 2: KN3M_D2})


def _sql_kn3m_perplexity() -> str:
    """DuckDB twin of the modified three-leg chain: per-level CASE
    discounts on the n-gram's own count + count-of-count-weighted λ,
    every operand DOUBLE in Spark's association order (left-assoc λ
    sums) — the _sql_kn3_perplexity conventions with the modified
    formula."""
    from prod2vec_spark.queries_ext import _TOKS

    def D(col: str, d: tuple) -> str:
        return (
            f"CASE WHEN {col} >= 3 THEN CAST({d[2]} AS DOUBLE) "
            f"WHEN {col} = 2 THEN CAST({d[1]} AS DOUBLE) "
            f"WHEN {col} = 1 THEN CAST({d[0]} AS DOUBLE) "
            f"ELSE CAST(0 AS DOUBLE) END"
        )

    d3, d2 = KN3M_D3, KN3M_D2
    p1 = (
        "((CAST(COALESCE(r3.n1p_r3, 0) AS DOUBLE) + 1)"
        " / CAST(tot.n_types2p + tot.v_vocab + 1 AS DOUBLE))"
    )
    lam2 = (
        f"((CAST({d2[0]} AS DOUBLE) * CAST(mid.n1_mid AS DOUBLE)"
        f" + CAST({d2[1]} AS DOUBLE) * CAST(mid.n2_mid AS DOUBLE)"
        f" + CAST({d2[2]} AS DOUBLE) * CAST(mid.n3p_mid AS DOUBLE))"
        f" / CAST(mid.den2p AS DOUBLE))"
    )
    c2v = "COALESCE(c2p.c2p, 0)"
    p2 = f"""CASE WHEN mid.den2p IS NOT NULL THEN
      GREATEST(CAST({c2v} AS DOUBLE) - {D(c2v, d2)}, CAST(0 AS DOUBLE))
        / CAST(mid.den2p AS DOUBLE)
      + {lam2} * {p1}
    ELSE {p1} END"""
    lam12 = (
        f"((CAST({d3[0]} AS DOUBLE) * CAST(ctx.n1_ctx AS DOUBLE)"
        f" + CAST({d3[1]} AS DOUBLE) * CAST(ctx.n2_ctx AS DOUBLE)"
        f" + CAST({d3[2]} AS DOUBLE) * CAST(ctx.n3p_ctx AS DOUBLE))"
        f" / CAST(ctx.den12 AS DOUBLE))"
    )
    c3v = "COALESCE(c3.c3, 0)"
    return f"""
WITH sp AS (SELECT doc_id, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {KN_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, is_train, {_TOKS} AS toks FROM sp),
tr AS (SELECT doc_id, is_train,
        toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2,
        toks[CAST(i AS INT) + 2] AS w3
      FROM t, unnest(range(1, len(toks) - 1)) AS u(i)),
c3 AS (SELECT w1, w2, w3, count(*) AS c3
       FROM tr WHERE is_train GROUP BY 1, 2, 3),
ctx AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS den12,
               count(*) AS n1p_ctx,
               CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_ctx,
               CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2_ctx,
               CAST(sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3p_ctx
        FROM c3 GROUP BY 1, 2),
c2p AS (SELECT w2, w3, count(*) AS c2p FROM c3 GROUP BY 1, 2),
mid AS (SELECT w2, CAST(sum(c2p) AS BIGINT) AS den2p,
               count(*) AS n1p_mid,
               CAST(sum(CASE WHEN c2p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_mid,
               CAST(sum(CASE WHEN c2p = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2_mid,
               CAST(sum(CASE WHEN c2p >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3p_mid
        FROM c2p GROUP BY 1),
r3 AS (SELECT w3, count(*) AS n1p_r3 FROM c2p GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM c2p) AS n_types2p,
               (SELECT count(DISTINCT w)
                FROM (SELECT unnest(toks) AS w FROM t WHERE is_train))
                 AS v_vocab),
sc AS (SELECT tr.doc_id, tr.is_train,
    CASE WHEN ctx.den12 IS NOT NULL THEN
      GREATEST(CAST({c3v} AS DOUBLE) - {D(c3v, d3)}, CAST(0 AS DOUBLE))
        / CAST(ctx.den12 AS DOUBLE)
      + {lam12} * ({p2})
    ELSE ({p2}) END AS prob,
    CASE WHEN c3.c3 IS NULL THEN 1 ELSE 0 END AS bo1,
    CASE WHEN c3.c3 IS NULL AND c2p.c2p IS NULL THEN 1 ELSE 0 END AS bo2
  FROM tr
  LEFT JOIN c3 ON tr.w1 = c3.w1 AND tr.w2 = c3.w2 AND tr.w3 = c3.w3
  LEFT JOIN ctx ON tr.w1 = ctx.w1 AND tr.w2 = ctx.w2
  LEFT JOIN c2p ON tr.w2 = c2p.w2 AND tr.w3 = c2p.w3
  LEFT JOIN mid ON tr.w2 = mid.w2
  LEFT JOIN r3 ON tr.w3 = r3.w3
  CROSS JOIN tot)
SELECT doc_id, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_triples,
       CAST(sum(bo1) AS BIGINT) AS n_bo1,
       CAST(sum(bo2) AS BIGINT) AS n_bo2,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id
"""


R13_QUERIES["kn3m_perplexity"] = q_kn3m_perplexity
R13_ORACLES["kn3m_perplexity"] = _sql_kn3m_perplexity()


# ------------------------------- wordpiece-fed packed accounting
# Fixed literal WordPiece vocab (the packed_unigram_ids trick, third
# family): the four disjoint-alphabet 2-char pieces in bare AND ##
# continuation form, plus every printable-ASCII single char (bare and
# ##) so greedy longest-match never sticks on ASCII words — greedy
# left-to-right over non-overlapping pieces provably equals the
# replace-chain segmentation, with ## marking by position.  Words
# containing anything outside printable ASCII take BERT's whole-word
# [UNK]; empty words produce no tokens.
import string as _string

_WP_SINGLES = [c for c in _string.printable if not c.isspace()]
WP_FIXED_VOCAB: list[str] = (
    ["th", "er", "in", "qu"]
    + ["##th", "##er", "##in", "##qu"]
    + _WP_SINGLES
    + ["##" + c for c in _WP_SINGLES]
    + ["[UNK]"]
)


def q_packed_wordpiece_ids(spark, sf_dir):
    """The packing plane under the WORDPIECE tokenizer family,
    certified end-to-end (the packed_input_ids contract with
    tokens_fn = the real greedy longest-match encoder over
    WP_FIXED_VOCAB): per (lang, shard, bin) training example with
    sizes + md5 of the concatenated ids + md5 of the doc lineage in
    pack order."""
    from prod2vec_spark.operators.bpe import token_vocab
    from prod2vec_spark.operators.chunking import pack_token_ids
    from prod2vec_spark.operators.wordpiece import (
        wordpiece_counter,
        wordpiece_tokens,
    )

    tokens_fn = lambda c: wordpiece_tokens(c, WP_FIXED_VOCAB)  # noqa: E731
    docs = read_table(spark, sf_dir, "documents")
    vocab = token_vocab(docs, [], tokens_fn=tokens_fn)
    out = pack_token_ids(
        docs, [], vocab,
        budget=_UPK_BUDGET, n_shards=_UPK_SHARDS,
        tokens_fn=tokens_fn, count_fn=wordpiece_counter(WP_FIXED_VOCAB),
    )
    as_csv = lambda col: F.concat_ws(  # noqa: E731
        ",", F.transform(col, lambda x: x.cast("string"))
    )
    return out.select(
        F.col("part"),
        F.col("shard").cast("long").alias("shard"),
        F.col("bin").cast("long").alias("bin"),
        "n_ids",
        F.md5(as_csv(F.col("input_ids"))).alias("ids_md5"),
        F.md5(as_csv(F.col("doc_ids"))).alias("docs_md5"),
    )


def _sql_packed_wordpiece_ids() -> str:
    """DuckDB twin: the greedy-equals-replace-chain segmentation with
    position-based ## marking, BERT whole-word [UNK] for non-printable-
    ASCII words, then the identical vocab/shard/pack/bin chain as the
    unigram twin."""
    from prod2vec_spark.queries_ext import _TOKS

    def w(sym: str) -> str:
        return f"chr(1)||'{sym}'||chr(2)"

    s = (
        "array_to_string(list_transform(str_split("
        "replace(replace(word, chr(1), ''), chr(2), ''), ''), "
        "c -> chr(1)||c||chr(2)), '')"
    )
    for piece in ("th", "er", "in", "qu"):
        a, b = piece[0], piece[1]
        s = f"replace({s}, {w(a)}||{w(b)}, {w(piece)})"
    seglist = (
        f"list_filter(list_transform(str_split({s}, chr(1)), "
        "p -> replace(p, chr(2), '')), p -> p <> '')"
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
wd AS (SELECT doc_id, CAST(i AS BIGINT) AS wi,
         toks[CAST(i AS INT)] AS word
       FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       WHERE len(toks) > 0),
enc AS (SELECT doc_id, wi,
          CASE WHEN word = '' THEN []::VARCHAR[]
               WHEN NOT regexp_matches(word, '^[!-~]+$') THEN ['[UNK]']
               ELSE {seglist} END AS wtoks
        FROM wd),
tok AS (SELECT doc_id, wi, CAST(j AS BIGINT) AS ti,
          CASE WHEN j = 1 THEN wtoks[CAST(j AS INT)]
               ELSE '##' || wtoks[CAST(j AS INT)] END AS token
        FROM enc, unnest(range(1, len(wtoks) + 1)) AS v(j)),
vc AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
vid AS (SELECT token,
          CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
            AS token_id
        FROM vc),
m AS (SELECT tok.doc_id, tok.wi, tok.ti, vid.token_id AS tid
      FROM tok JOIN vid USING (token)),
perdoc AS (SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_ids,
         string_agg(CAST(tid AS VARCHAR), ',' ORDER BY wi, ti) AS ids_csv
       FROM m GROUP BY doc_id),
pk AS (SELECT d.doc_id, d.lang AS part,
         ('0x' || substr(md5('shard|' || d.doc_id), 1, 8))::BIGINT
           % {_UPK_SHARDS} AS shard,
         md5('pack|' || d.doc_id) AS ord_key,
         p.n_ids, p.ids_csv
       FROM documents d JOIN perdoc p USING (doc_id)),
bins AS (SELECT *,
           CAST(floor((sum(n_ids) OVER (
                   PARTITION BY part, shard
                   ORDER BY ord_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_ids) / {_UPK_BUDGET}.0) AS BIGINT) AS bin
         FROM pk)
SELECT part, shard, bin,
       CAST(sum(n_ids) AS BIGINT) AS n_ids,
       md5(string_agg(ids_csv, ',' ORDER BY ord_key, doc_id)) AS ids_md5,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY ord_key, doc_id))
         AS docs_md5
FROM bins GROUP BY 1, 2, 3
"""


R13_QUERIES["packed_wordpiece_ids"] = q_packed_wordpiece_ids
R13_ORACLES["packed_wordpiece_ids"] = _sql_packed_wordpiece_ids()


# ----------------------------------------- video span audit (frames)
# The span triad's FRAME leg gets the same oracled fixture split as
# its tile and window siblings (image_span_audit / audio_span_audit),
# so all three planes carry full DuckDB verdicts.  Planted corpus:
# fam = doc_id // 2; the even member is a 6-frame md5-noise "scene"
# clip, the odd member embeds those SAME frames inside unrelated
# lead-in/lead-out frames — whole-clip keyframe-mean hashes diverge,
# but the per-frame dHashes are BIT-IDENTICAL (raw gray8 AVI both
# sides; the lossy MJPEG crossing is pytest-locked elsewhere,
# tests/test_cross_codec.py).  Unlike tiles/windows the frame plane
# needs no alignment: the banded join pairs similar frames at ANY
# temporal offset.
VID_W, VID_H = 32, 24
VID_FPS = 4
VID_EVERY_MS = 250  # sample every frame: idx = ts*fps/1000 walks 0..n-1
VID_MIN_SHARED = 4
_FRAME_ID_BASE = 1_000_000


def _video_frame(tag: str) -> bytes:
    """One deterministic md5-noise gray frame (full-entropy dHash)."""
    import numpy as np

    raw = b"".join(
        hashlib.md5(f"{tag}|{k}".encode()).digest()
        for k in range(VID_W * VID_H // 16)
    )
    return np.frombuffer(raw, dtype=np.uint8)[: VID_W * VID_H].tobytes()


def planted_video(doc_id: int) -> bytes:
    """One raw gray8 AVI per doc id: even = the 6-frame scene, odd =
    4 unrelated frames + the SAME scene + 3 unrelated frames."""
    from prod2vec_spark.operators.multimodal import encode_avi_gray8

    fam, member = int(doc_id) // 2, int(doc_id) % 2
    scene = [_video_frame(f"sc{fam}|{k}") for k in range(6)]
    if member == 0:
        frames = scene
    else:
        pre = [_video_frame(f"pre{fam}|{k}") for k in range(4)]
        post = [_video_frame(f"post{fam}|{k}") for k in range(3)]
        frames = pre + scene + post
    return encode_avi_gray8(frames, VID_W, VID_H, fps=VID_FPS)


def frame_hash_rows(doc_id: int) -> list[tuple[int, int, int]]:
    """[(doc_id, frame_idx, fhash)] through the REAL codec chain
    (AVI encode → avi_frames decode → per-frame dHash) replicating
    frame_hashes' ts→index sampling exactly (every frame at this
    fps/every_ms pairing) — the single recipe the fixture generator
    and the golden gate share."""
    import numpy as np

    from prod2vec_spark.operators.multimodal import avi_frames
    from prod2vec_spark.operators.phash import dhash64

    frames, m = avi_frames(planted_video(doc_id))
    fps = m["fps"]
    duration_ms = len(frames) / fps * 1000.0
    out = []
    seen = set()
    ts = 0
    while ts < duration_ms:
        idx = min(len(frames) - 1, int(ts * fps / 1000.0))
        if idx not in seen:
            seen.add(idx)
            g = np.frombuffer(frames[idx], dtype=np.uint8).reshape(
                m["height"], m["width"]
            )
            out.append((int(doc_id), idx, dhash64(g.astype(np.float64))))
        ts += VID_EVERY_MS
    return out


def rendered_frame_hashes(spark, doc_ids):
    """(doc_id, frame_idx, fhash) via the distributed codec chain
    (mapInPandas render → phash.frame_hashes) — the pytest-golden
    gate."""
    from typing import Iterator

    import pandas as pd

    from prod2vec_spark.operators.phash import frame_hashes

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "blob": [planted_video(i) for i in pdf["doc_id"]],
                }
            )

    media = doc_ids.mapInPandas(render, schema="media_id long, blob binary")
    return frame_hashes(media, every_ms=VID_EVERY_MS).select(
        F.col("media_id").alias("doc_id"), "frame_idx", "fhash"
    )


def _video_fixture_path() -> str:
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "fixtures",
        "video_frames.parquet",
    )


def q_video_span_audit(spark, sf_dir):
    """Shared-scene clip pairs over the PERSISTED per-frame hash
    table: composite frame ids (doc·10⁶ + frame_idx) → the banded-
    Hamming plane → same-clip pairs dropped → matched-frame count per
    clip pair ≥ VID_MIN_SHARED, with the ``same_family`` self-audit
    column (the image/audio protocol, frame edition)."""
    from prod2vec_spark.operators import phash as PH

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    frames = (
        spark.read.parquet(_video_fixture_path())
        .join(docs, "doc_id", "leftsemi")
        .select(
            (
                F.col("doc_id") * F.lit(_FRAME_ID_BASE) + F.col("frame_idx")
            ).alias("fid"),
            "fhash",
        )
    )
    pairs = PH.phash_neardup(
        frames, id_col="fid", hash_col="fhash", max_distance=3
    )
    clip_a = F.expr(f"id_a div {_FRAME_ID_BASE}").cast("long")
    clip_b = F.expr(f"id_b div {_FRAME_ID_BASE}").cast("long")
    return (
        pairs.select(clip_a.alias("ca"), clip_b.alias("cb"))
        .where(F.col("ca") != F.col("cb"))
        .select(
            F.least("ca", "cb").alias("id_a"),
            F.greatest("ca", "cb").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared_frames"))
        .where(F.col("n_shared_frames") >= VID_MIN_SHARED)
        .select(
            "id_a",
            "id_b",
            "n_shared_frames",
            (
                F.floor(F.col("id_a") / 2) == F.floor(F.col("id_b") / 2)
            ).cast("bigint").alias("same_family"),
        )
    )


def _sql_video_span_audit() -> str:
    """DuckDB twin — the audio_span_audit SQL with frame naming."""
    path = _video_fixture_path()
    return f"""
WITH t AS (
  SELECT v.doc_id * {_FRAME_ID_BASE} + v.frame_idx AS fid, v.fhash
  FROM read_parquet('{path}') v
  WHERE v.doc_id IN (SELECT doc_id FROM documents)
),
sig AS (
  SELECT fid, fhash, band, (fhash >> (band * 16)) & 65535 AS slice
  FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.fid AS fa, a.fhash AS ha, b.fid AS fb, b.fhash AS hb
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.slice = b.slice AND a.fid < b.fid
),
frame_pairs AS (
  SELECT fa // {_FRAME_ID_BASE} AS ca, fb // {_FRAME_ID_BASE} AS cb
  FROM cand
  WHERE bit_count(xor(ha, hb)) <= 3
    AND fa // {_FRAME_ID_BASE} <> fb // {_FRAME_ID_BASE}
)
SELECT LEAST(ca, cb) AS id_a, GREATEST(ca, cb) AS id_b,
       CAST(COUNT(*) AS INT) AS n_shared_frames,
       CAST(CASE WHEN LEAST(ca, cb) // 2 = GREATEST(ca, cb) // 2
                 THEN 1 ELSE 0 END AS BIGINT) AS same_family
FROM frame_pairs
GROUP BY 1, 2
HAVING COUNT(*) >= {VID_MIN_SHARED}
"""


R13_QUERIES["video_span_audit"] = q_video_span_audit
R13_ORACLES["video_span_audit"] = _sql_video_span_audit()
