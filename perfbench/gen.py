"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
writes byte-identical parquet files (pyarrow, no pandas metadata, fixed
row-group layout), and each returns the values the output checks expect,
computed here from the generated rows and never by the engine.

Tables use the testdata schemas the engine reads (`lineitem`, `part`,
`documents`).  Only numpy and pyarrow are used.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WINDOW = 4  # PipelineConfig.window_size
MAX_BASKET = 50  # PipelineConfig.max_basket_length

# fixed pseudo-word vocabulary for generated documents: consonant-vowel
# syllables, so words are lowercase letters only (nothing the PII scrub,
# the line filter's blocklist or text normalization would rewrite)
_C = "bdfgklmnprstvz"
_V = "aeiou"
WORDS = [a + b + c + d for a in _C for b in _V for c in _C for d in _V][:600]
JUNK = ["lorem ipsum dolor", "javascript required", "click here now"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
ADJ = ["small", "red", "blue", "large", "green", "metal", "soft", "dark"]
NOUN = ["ring", "widget", "bolt", "cup", "lamp", "chair", "box", "gear"]


def write_table(cols: dict, path: str) -> None:
    """Byte-deterministic parquet write (no pandas metadata)."""
    pq.write_table(pa.table(cols), path, row_group_size=1 << 20)


def pair_count(lengths: np.ndarray, window: int = WINDOW, cap: int = MAX_BASKET) -> int:
    """Skip-gram pairs of the baskets: Σ 2·Σ_{d=1..min(w, L−1)} (L − d)
    with L capped at the basket limit."""
    total = 0
    for n in np.minimum(lengths, cap).tolist():
        total += 2 * sum(n - d for d in range(1, min(window, n - 1) + 1))
    return total


def _zipf_choice(rng: np.random.Generator, n_items: int, size: int) -> np.ndarray:
    """Ranks 0..n_items-1 drawn with P(rank k) ∝ 1/(k+1)."""
    p = 1.0 / np.arange(1, n_items + 1)
    return rng.choice(n_items, size=size, p=p / p.sum())


@dataclass
class BasketInputs:
    sf_dir: str
    expected_pairs: int


def baskets(seed: int, out_dir: str, n_orders: int, n_products: int, mean_len: int = 10) -> BasketInputs:
    """Instacart-shaped basket fact in the `lineitem`/`part` schema:
    basket lengths 1 + Poisson(mean_len − 1), products Zipf(1) with the
    popularity order shuffled over the product ids."""
    rng = np.random.default_rng([seed, 1])
    lengths = 1 + rng.poisson(mean_len - 1, n_orders)
    n = int(lengths.sum())
    popularity = rng.permutation(n_products)
    part_key = popularity[_zipf_choice(rng, n_products, n)].astype(np.int64)
    order_key = np.repeat(np.arange(n_orders, dtype=np.int64), lengths)
    line = (np.arange(n) - np.repeat(np.cumsum(lengths) - lengths, lengths) + 1).astype(np.int32)
    perm = rng.permutation(n)  # physical row order unrelated to baskets
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.datetime64("1995-01-01") + rng.integers(0, 2500, n).astype("timedelta64[D]")
    os.makedirs(out_dir, exist_ok=True)
    write_table(
        {
            "l_orderkey": order_key[perm],
            "l_partkey": part_key[perm],
            "l_suppkey": rng.integers(0, 100, n).astype(np.int64)[perm],
            "l_linenumber": line[perm],
            "l_quantity": qty[perm],
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2)[perm],
            "l_discount": np.round(rng.integers(0, 11, n) / 100, 2)[perm],
            "l_tax": np.round(rng.integers(0, 9, n) / 100, 2)[perm],
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)][perm]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)][perm]),
            "l_shipdate": pa.array(ship[perm].astype("datetime64[us]")),
        },
        f"{out_dir}/lineitem.parquet",
    )
    pk = np.arange(n_products, dtype=np.int64)
    write_table(
        {
            "p_partkey": pk,
            "p_name": [f"{ADJ[i % 8]} {NOUN[(i // 8) % 8]} {i}" for i in pk.tolist()],
            "p_brand": [f"Brand#{i % 25 + 1}" for i in pk.tolist()],
            "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "PROMO"])[pk % 3]),
            "p_size": (pk % 50 + 1).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        },
        f"{out_dir}/part.parquet",
    )
    return BasketInputs(out_dir, pair_count(lengths))


@dataclass
class DocInputs:
    sf_dir: str
    distinct_texts: int
    copy_ids: list[int]  # planted exact copies (each copies a doc of an earlier wave)
    wave_paths: list[str]  # landing files, ascending doc_id ranges


def _clean_text(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(30, 120))
    return [WORDS[i] for i in _zipf_choice(rng, len(WORDS), n)]


def documents(seed: int, out_dir: str, n_docs: int, n_waves: int) -> DocInputs:
    """Web-corpus-shaped documents with planted families: exact copies
    (8%), near duplicates (8%, a tenth of the words swapped) and
    low-quality pages (6%, repeated phrases and blocklisted lines).  A
    copy's source lies in an earlier wave than the copy, so arrival
    order and doc_id order agree on which member is first."""
    rng = np.random.default_rng([seed, 2])
    wave = -(-n_docs // n_waves)
    texts: list[str] = []
    clean: list[int] = []  # ids usable as copy / near-dup sources
    copy_ids: list[int] = []
    for i in range(n_docs):
        earlier = [c for c in clean[-200:] if c < (i // wave) * wave] if i >= wave else []
        r = rng.random()
        if r < 0.08 and earlier:
            texts.append(texts[earlier[int(rng.integers(len(earlier)))]])
            copy_ids.append(i)
        elif r < 0.16 and clean:
            words = texts[clean[int(rng.integers(len(clean)))]].split(" ")
            for j in rng.choice(len(words), max(1, len(words) // 10), replace=False):
                alt = WORDS[int(rng.integers(len(WORDS)))]
                words[j] = alt if alt != words[j] else alt + "x"
            texts.append(" ".join(words))
        elif r < 0.22:
            phrase = " ".join(WORDS[int(k)] for k in rng.integers(0, len(WORDS), 3))
            texts.append(" ".join([phrase] * int(rng.integers(5, 15)) + [JUNK[i % 3]]))
        else:
            texts.append(" ".join(_clean_text(rng)))
            clean.append(i)
    ids = np.arange(n_docs, dtype=np.int64)
    lang = np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]
    os.makedirs(out_dir, exist_ok=True)
    write_table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": pa.array(lang),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        f"{out_dir}/documents.parquet",
    )
    wave_paths = []
    for k in range(n_waves):
        lo, hi = k * wave, min(n_docs, (k + 1) * wave)
        path = f"{out_dir}/wave_{k:02d}.parquet"
        write_table({"doc_id": ids[lo:hi], "text": texts[lo:hi], "lang": pa.array(lang[lo:hi])}, path)
        wave_paths.append(path)
    return DocInputs(out_dir, len(set(texts)), copy_ids, wave_paths)
