"""Round-12 superset entries (ENGINE scope; reference anchor: the
reference has no media/LM/URL surface — SURVEY.md §2.21):

* ``image_span_audit`` — the partial-image (crop/letterbox) duplicate
  plane, fixture-split like the video plane (below).
* ``kn_perplexity`` / ``kn_by_lang`` — interpolated Kneser-Ney bigram
  scoring (single-model and one-model-per-language); the DuckDB twins
  force every operand to DOUBLE in Spark's association order so the
  IEEE arithmetic replays bit-for-bit before the 4-digit round.
* ``url_canonical_groups`` — RFC 3986-style URL canonicalization
  collapsing planted surface variants of the same page; the twin
  replays the normalization step-for-step.

Same split as the video plane (queries_r9.py / VERDICT r9 ask #2):
the codec boundary (planted PNG render → stdlib decode → per-tile
dHash) persists its per-tile hashes as a pytest-golden fixture
(tests/fixtures/image_tiles.parquet, regenerate with
tools/gen_image_tile_fixture.py), and the query is the pure-integer
SQL half — composite tile ids → banded-Hamming candidate join →
bit_count verify → per-image-pair matched-tile counts — with a full
DuckDB oracle.

Planted corpus: doc_id pairs (fam = doc_id // 2).  The even member is
a 48×48 md5-noise original; the odd member is a STRIDE-ALIGNED
transform of the same pixels chosen by fam % 3 — crop [16:, 16:],
16-row letterbox (constant bars, skipped by the tile plane), or crop
[8:, 8:] — so every family is a genuine partial-image duplicate whose
WHOLE-image dHash diverges, and unrelated families (independent
noise) share no tiles.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from prod2vec_spark.operators.domains import TRACKING_PARAM_RE as TRACKING_RE_SQL
from prod2vec_spark.sources.io import read_table

IMG_W = IMG_H = 48
TILE_PX, STRIDE = 16, 8
MIN_SHARED = 4
_TILE_COLS = 1024  # tile_idx = tile_row * 1024 + tile_col
_TILE_ID_BASE = 1_000_000


def planted_image(doc_id: int) -> bytes:
    """Deterministic planted image corpus, one PNG per doc id (module
    docstring).  Shared by the fixture generator
    (tools/gen_image_tile_fixture.py), the pytest-golden codec gate,
    and the distributed render."""
    import numpy as np

    from prod2vec_spark.operators.multimodal import encode_png_gray8

    fam, member = int(doc_id) // 2, int(doc_id) % 2
    base = np.frombuffer(
        b"".join(
            hashlib.md5(f"img{fam}|{r}".encode()).digest()
            for r in range(IMG_W * IMG_H // 16)
        ),
        dtype=np.uint8,
    ).reshape(IMG_H, IMG_W)
    if member == 0:
        a = base
    elif fam % 3 == 0:
        a = base[16:, 16:]
    elif fam % 3 == 1:
        a = np.vstack(
            [
                np.zeros((16, IMG_W), np.uint8),
                base,
                np.zeros((16, IMG_W), np.uint8),
            ]
        )
    else:
        a = base[8:, 8:]
    h, w = a.shape
    return encode_png_gray8(np.ascontiguousarray(a).tobytes(), w, h)


def tile_hash_rows(doc_id: int) -> list[tuple[int, int, int]]:
    """[(doc_id, tile_idx, thash)] for one planted image through the
    REAL codec chain (PNG encode → image_gray decode → tile dHash) —
    the single recipe the fixture generator and the golden gate
    share."""
    from prod2vec_spark.operators.phash import image_gray, tile_rows_py

    g = image_gray(planted_image(doc_id))
    return [
        (int(doc_id), ti * _TILE_COLS + tj, th)
        for ti, tj, th in tile_rows_py(g, TILE_PX, STRIDE)
    ]


def rendered_tile_hashes(spark, doc_ids):
    """(doc_id, tile_idx, thash) via the distributed codec chain
    (mapInPandas render → image_tile_hashes) — the pytest-golden gate
    runs this against the persisted fixture so the codec boundary
    stays verified even though the query reads the fixture."""
    from typing import Iterator

    import pandas as pd

    from prod2vec_spark.operators.phash import image_tile_hashes

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "blob": [planted_image(i) for i in pdf["doc_id"]],
                }
            )

    media = doc_ids.mapInPandas(render, schema="media_id long, blob binary")
    return image_tile_hashes(media, tile_px=TILE_PX, stride=STRIDE).select(
        F.col("media_id").alias("doc_id"), "tile_idx", "thash"
    )


def _image_fixture_path() -> str:
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "fixtures",
        "image_tiles.parquet",
    )


_SPAN_MAX_GROUP = 256  # the hot-bucket valve, ON in the driver entry:
# letterbox bar-straddling tiles zero out half their gradient bands, so
# (band, slice=0) buckets grow with the CORPUS (measured 4,165 tiles at
# sf0.1 → ~35M candidate pairs → 19 s) while family buckets stay
# family-sized.  Capping loses no aligned-duplicate pair (the pigeonhole
# argument on image_span_pairs) and is replayed EXACTLY by the oracle.


def q_image_span_audit(spark, sf_dir):
    """Partial-image duplicate pairs over the PERSISTED per-tile hash
    table: composite tile ids (doc·10⁶ + tile_idx) → the banded-
    Hamming plane (phash_neardup: 4×16-bit slices, pigeonhole recall 1
    at distance ≤3, hot buckets capped at _SPAN_MAX_GROUP — the
    operator's own 100 TB valve, exercised by the driver entry) →
    same-image pairs dropped → matched-tile count per image pair ≥
    MIN_SHARED.  ``same_family`` (doc_id//2 equality) keeps the entry
    self-auditing: pytest asserts it is 1 on every pair and that every
    planted family is recovered."""
    from prod2vec_spark.operators import phash as PH

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    tiles = (
        spark.read.parquet(_image_fixture_path())
        .join(docs, "doc_id", "leftsemi")
        .select(
            (F.col("doc_id") * F.lit(_TILE_ID_BASE) + F.col("tile_idx")).alias(
                "tid"
            ),
            "thash",
        )
    )
    pairs = PH.phash_neardup(
        tiles, id_col="tid", hash_col="thash", max_distance=3,
        max_group=_SPAN_MAX_GROUP,
    )
    img_a = F.expr(f"id_a div {_TILE_ID_BASE}").cast("long")
    img_b = F.expr(f"id_b div {_TILE_ID_BASE}").cast("long")
    return (
        pairs.select(img_a.alias("ia"), img_b.alias("ib"))
        .where(F.col("ia") != F.col("ib"))
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared_tiles"))
        .where(F.col("n_shared_tiles") >= MIN_SHARED)
        .select(
            "id_a",
            "id_b",
            "n_shared_tiles",
            (
                F.floor(F.col("id_a") / 2) == F.floor(F.col("id_b") / 2)
            ).cast("bigint").alias("same_family"),
        )
    )


def _sql_image_span_audit() -> str:
    """DuckDB twin: identical composite-id banding (4 disjoint 16-bit
    slices by shift+mask — arithmetic vs logical shift neutralised by
    the mask), the SAME _SPAN_MAX_GROUP hot-bucket cap on the banded
    groups, slice-equality candidate join with DISTINCT tile pairs,
    XOR bit_count verify, image-pair rollup with the same MIN_SHARED
    cut."""
    path = _image_fixture_path()
    return f"""
WITH t AS (
  SELECT v.doc_id * {_TILE_ID_BASE} + v.tile_idx AS tid, v.thash
  FROM read_parquet('{path}') v
  WHERE v.doc_id IN (SELECT doc_id FROM documents)
),
sig AS (
  SELECT tid, thash, band, (thash >> (band * 16)) & 65535 AS slice
  FROM t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b
),
ok AS (
  SELECT band, slice FROM sig GROUP BY 1, 2
  HAVING count(*) <= {_SPAN_MAX_GROUP}
),
cand AS (
  SELECT DISTINCT a.tid AS ta, a.thash AS ha, b.tid AS tb, b.thash AS hb
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.slice = b.slice AND a.tid < b.tid
  JOIN ok ON ok.band = a.band AND ok.slice = a.slice
),
tile_pairs AS (
  SELECT ta // {_TILE_ID_BASE} AS ia, tb // {_TILE_ID_BASE} AS ib
  FROM cand
  WHERE bit_count(xor(ha, hb)) <= 3
    AND ta // {_TILE_ID_BASE} <> tb // {_TILE_ID_BASE}
)
SELECT LEAST(ia, ib) AS id_a, GREATEST(ia, ib) AS id_b,
       CAST(COUNT(*) AS INT) AS n_shared_tiles,
       CAST(CASE WHEN LEAST(ia, ib) // 2 = GREATEST(ia, ib) // 2
                 THEN 1 ELSE 0 END AS BIGINT) AS same_family
FROM tile_pairs
GROUP BY 1, 2
HAVING COUNT(*) >= {MIN_SHARED}
"""


# ------------------------------------------- Kneser-Ney perplexity
KN_TRAIN_FRAC = 0.8
KN_DISCOUNT = 0.75


def q_kn_perplexity(spark, sf_dir):
    """Per-document bigram perplexity under interpolated Kneser-Ney
    smoothing (operators/lm.knn_perplexity at order=2) — the
    continuation-count smoothing family next to the catalog's
    Stupid-Backoff entries; same md5-uniform train split, same rounded
    (avg_nll, ppl) contract.  The order-n report's n_grams/n_bo are
    this entry's n_pairs/n_unseen."""
    from prod2vec_spark.operators.lm import knn_perplexity

    docs = read_table(spark, sf_dir, "documents")
    return knn_perplexity(
        docs,
        order=2,
        train_frac=KN_TRAIN_FRAC,
        discount=KN_DISCOUNT,
        seed="lm",
    ).select(
        "doc_id",
        "is_train",
        F.col("n_grams").alias("n_pairs"),
        F.col("n_bo").alias("n_unseen"),
        "avg_nll",
        "ppl",
    )


def _sql_kn_perplexity() -> str:
    from prod2vec_spark.queries_ext import _TOKS

    return f"""
WITH sp AS (SELECT doc_id, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {KN_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, is_train, {_TOKS} AS toks FROM sp),
p AS (SELECT doc_id, is_train,
        toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM p WHERE is_train GROUP BY 1, 2),
lft AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS den,
               count(*) AS n1p_left FROM c2 GROUP BY 1),
rgt AS (SELECT w2, count(*) AS n1p_right FROM c2 GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM c2) AS n_types,
               (SELECT count(DISTINCT w)
                FROM (SELECT unnest(toks) AS w FROM t WHERE is_train))
                 AS v_vocab),
sc AS (SELECT p.doc_id, p.is_train,
    -- every operand forced to DOUBLE so DuckDB's DECIMAL propagation
    -- can never drift from Spark's IEEE arithmetic
    CASE WHEN lft.den IS NOT NULL THEN
      GREATEST(CAST(COALESCE(c2.c2, 0) AS DOUBLE) - CAST({KN_DISCOUNT} AS DOUBLE), CAST(0 AS DOUBLE))
        / CAST(lft.den AS DOUBLE)
      + (CAST({KN_DISCOUNT} AS DOUBLE) * CAST(lft.n1p_left AS DOUBLE)
         / CAST(lft.den AS DOUBLE))
        * ((CAST(COALESCE(rgt.n1p_right, 0) AS DOUBLE) + 1)
           / CAST(tot.n_types + tot.v_vocab + 1 AS DOUBLE))
    ELSE (CAST(COALESCE(rgt.n1p_right, 0) AS DOUBLE) + 1)
         / CAST(tot.n_types + tot.v_vocab + 1 AS DOUBLE) END AS prob,
    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS unseen
  FROM p
  LEFT JOIN c2 ON p.w1 = c2.w1 AND p.w2 = c2.w2
  LEFT JOIN lft ON p.w1 = lft.w1
  LEFT JOIN rgt ON p.w2 = rgt.w2
  CROSS JOIN tot)
SELECT doc_id, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_pairs,
       CAST(sum(unseen) AS BIGINT) AS n_unseen,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id
"""


def q_kn_by_lang(spark, sf_dir):
    """Per-language interpolated Kneser-Ney scoring (CCNet deployment
    shape): one KN model per language in a single grouped computation
    — the lang column joins every count key; languages with no
    training bigrams are absent (inner totals join, the lm_by_lang
    convention)."""
    from prod2vec_spark.operators.lm import kn_perplexity_by_lang

    docs = read_table(spark, sf_dir, "documents")
    return kn_perplexity_by_lang(
        docs, train_frac=KN_TRAIN_FRAC, discount=KN_DISCOUNT, seed="lm"
    )


def _sql_kn_by_lang() -> str:
    from prod2vec_spark.queries_ext import _TOKS

    return f"""
WITH sp AS (SELECT doc_id, lang, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {KN_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, lang, is_train, {_TOKS} AS toks FROM sp),
p AS (SELECT doc_id, lang, is_train,
        toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)),
c2 AS (SELECT lang, w1, w2, count(*) AS c2
       FROM p WHERE is_train GROUP BY 1, 2, 3),
lft AS (SELECT lang, w1, CAST(sum(c2) AS BIGINT) AS den,
               count(*) AS n1p_left FROM c2 GROUP BY 1, 2),
rgt AS (SELECT lang, w2, count(*) AS n1p_right FROM c2 GROUP BY 1, 2),
tot AS (SELECT ty.lang, ty.n_types, vv.v_vocab
        FROM (SELECT lang, count(*) AS n_types FROM c2 GROUP BY 1) ty
        JOIN (SELECT lang, count(DISTINCT w) AS v_vocab
              FROM (SELECT lang, unnest(toks) AS w FROM t WHERE is_train)
              GROUP BY 1) vv USING (lang)),
sc AS (SELECT p.doc_id, p.lang, p.is_train,
    CASE WHEN lft.den IS NOT NULL THEN
      GREATEST(CAST(COALESCE(c2.c2, 0) AS DOUBLE) - CAST({KN_DISCOUNT} AS DOUBLE), CAST(0 AS DOUBLE))
        / CAST(lft.den AS DOUBLE)
      + (CAST({KN_DISCOUNT} AS DOUBLE) * CAST(lft.n1p_left AS DOUBLE)
         / CAST(lft.den AS DOUBLE))
        * ((CAST(COALESCE(rgt.n1p_right, 0) AS DOUBLE) + 1)
           / CAST(tot.n_types + tot.v_vocab + 1 AS DOUBLE))
    ELSE (CAST(COALESCE(rgt.n1p_right, 0) AS DOUBLE) + 1)
         / CAST(tot.n_types + tot.v_vocab + 1 AS DOUBLE) END AS prob,
    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS unseen
  FROM p
  LEFT JOIN c2 ON p.lang = c2.lang AND p.w1 = c2.w1 AND p.w2 = c2.w2
  LEFT JOIN lft ON p.lang = lft.lang AND p.w1 = lft.w1
  LEFT JOIN rgt ON p.lang = rgt.lang AND p.w2 = rgt.w2
  JOIN tot ON p.lang = tot.lang)
SELECT doc_id, lang, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_pairs,
       CAST(sum(unseen) AS BIGINT) AS n_unseen,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id, lang
"""


# -------------------------------------------- URL canonicalization
def _messy_url(doc_id):
    """Deterministic messy-URL adapter (the attach_urls precedent,
    dirtier): six surface variants of the SAME logical page
    (site = doc_id % 40, page = (doc_id // 40) % 3) — case-mangled
    scheme/host, default ports, tracking params, permuted param
    order, trailing slash, fragment — plus an unparseable row every
    97th doc.  Pure doc_id arithmetic so the DuckDB oracle replays
    the identical corpus."""
    from pyspark.sql import functions as F

    site = (F.col(doc_id) % 40).cast("string")
    page = ((F.col(doc_id) / 40).cast("long") % 3).cast("string")
    v = F.col(doc_id) % 6
    base = F.concat(F.lit("site"), site, F.lit(".com/p/"), page)
    url = (
        F.when(v == 0, F.concat(F.lit("https://www."), base, F.lit("?b=1&a=2")))
        .when(v == 1, F.concat(F.lit("HTTPS://WWW."), F.upper(base), F.lit("?a=2&b=1")))
        .when(v == 2, F.concat(F.lit("https://www."), base, F.lit(":443/?b=1&a=2")))
        .when(v == 3, F.concat(F.lit("https://www."), base, F.lit("/?utm_source=x&b=1&a=2#frag")))
        .when(v == 4, F.concat(F.lit("https://www."), base, F.lit("?gclid=Z9&a=2&b=1")))
        .otherwise(F.concat(F.lit("https://www."), base, F.lit("/?b=1&utm_campaign=c&a=2")))
    )
    return F.when(F.col(doc_id) % 97 == 0, F.lit("not a url")).otherwise(url)


def q_url_canonical_groups(spark, sf_dir):
    """URL-level duplicate groups AFTER canonicalization
    (operators/domains.canonical_url): the six planted surface
    variants of each logical page collapse to one canonical key; the
    output proves it — n_raw > 1 distinct raw spellings per group,
    min-id canonical pick, unparseable rows grouped under NULL.
    Row-local normalization + ONE hash-agg on the canonical key."""
    from prod2vec_spark.operators.domains import canonical_url

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    staged = docs.withColumn("url", _messy_url("doc_id")).withColumn(
        "canon", canonical_url(F.col("url"))
    )
    # variant 2 of page 0 is ...:443/?... whose PATH differs pre-norm;
    # upper-cased variant 1 keeps its case-significant PATH distinct —
    # group by canon and count both docs and distinct raw spellings
    return (
        staged.groupBy("canon")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_raw"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


def _sql_url_canonical_groups() -> str:
    return f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 97 = 0 THEN 'not a url' ELSE
      CASE doc_id % 6
        WHEN 0 THEN 'https://www.site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3) || '?b=1&a=2'
        WHEN 1 THEN 'HTTPS://WWW.' || upper('site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3)) || '?a=2&b=1'
        WHEN 2 THEN 'https://www.site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3) || ':443/?b=1&a=2'
        WHEN 3 THEN 'https://www.site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3) || '/?utm_source=x&b=1&a=2#frag'
        WHEN 4 THEN 'https://www.site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3) || '?gclid=Z9&a=2&b=1'
        ELSE 'https://www.site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3) || '/?b=1&utm_campaign=c&a=2'
      END
    END AS url
  FROM documents),
n AS (
  SELECT doc_id, url,
    lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(trim(url), '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''), '#.*$', '') AS rest
  FROM d),
n2 AS (
  SELECT doc_id, url, scheme, rest,
    lower(regexp_extract(rest, '^([^/?]*)', 1)) AS auth0,
    regexp_replace(rest, '^[^/?]*', '') AS pathq
  FROM n),
n3 AS (
  SELECT doc_id, url, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
         ELSE auth0 END AS auth,
    regexp_extract(pathq, '^([^?]*)', 1) AS path0,
    regexp_replace(pathq, '^[^?]*\\??', '') AS query
  FROM n2),
n4 AS (
  SELECT doc_id, url, scheme, auth,
    CASE WHEN p1 = '/' THEN p1 ELSE regexp_replace(p1, '/+$', '') END AS path,
    array_to_string(list_sort(list_filter(str_split(query, '&'),
      p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_RE_SQL}'))), '&') AS qs
  FROM (SELECT *, CASE WHEN path0 = '' THEN '/' ELSE path0 END AS p1 FROM n3)),
c AS (
  SELECT doc_id, url,
    CASE WHEN scheme = '' OR auth = '' THEN NULL
         ELSE scheme || '://' || auth || path ||
              CASE WHEN qs = '' THEN '' ELSE '?' || qs END
    END AS canon
  FROM n4)
SELECT canon, count(*) AS n_docs,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
       min(doc_id) AS canonical_doc
FROM c GROUP BY canon HAVING count(*) >= 2
"""


R12_QUERIES = {
    "image_span_audit": q_image_span_audit,
    "kn_perplexity": q_kn_perplexity,
    "kn_by_lang": q_kn_by_lang,
    "url_canonical_groups": q_url_canonical_groups,
}
R12_ORACLES: dict[str, str] = {
    "image_span_audit": _sql_image_span_audit(),
    "kn_perplexity": _sql_kn_perplexity(),
    "kn_by_lang": _sql_kn_by_lang(),
    "url_canonical_groups": _sql_url_canonical_groups(),
}
