"""Config-driven LLM-corpus curation pipeline (ENGINE scope): the
dedup / text-analysis / quality operator family (SURVEY.md §2.14-2.16)
composed into one runnable, checkpointed dataflow — the data-prep
counterpart of the Prod2VecPipeline DAG (pipeline.py).

Stage graph (the canonical web-corpus curation shape, round-6
extension adds the four starred stages):

    gates → [line_filter⁹ᵇ →] pii_scrub* [→ url_curation⁹ ¹²]
          [→ adaptive_block⁹ᵇ] → exact_dedup
          [→ segment_dedup°] → quality_filter(+repetition*)
          [→ lm_gate°] → near_dedup [→ semantic_dedup*]
          [→ media_dedup⁹] → decontaminate* → chunk*
          [→ pack_input_ids⁹ᵇ] → stats

(⁹ᵇ = optional round-9b stages: C4 rule-based line filtering
(operators/linefilters.py) fused into the input scan — row-local
like the PII scrub, per-row deterministic so incremental_update
supports it unchanged; all-junk pages drop, empty docs pass.
adaptive_block mines the corpus's own top-K repeated n-grams and
cuts matching lines (mine → block, checkpointed — a CORPUS-WIDE
aggregate, so incremental_update rejects it; the mined blocklist
persists as a work_dir artifact).)

(⁹ = optional round-9 stages: url_curation applies the C4/RefinedWeb
ingestion filters — registered-domain blocklist + per-domain doc cap,
plus round-12's canonical-URL exact dedup (``url_dedup``: RFC 3986
normalization then min-id survivor per canonical key, the crawl-
frontier dedup) — before exact dedup when the corpus carries a url
column
(``domain_blocklist`` / ``domain_cap_k``); media_dedup runs
perceptual near-dup over per-document media attachments — mixed
PNG/WAV/AVI blobs hashed per modality and collapsed through the same
banded-Hamming + connected-components machinery as the text LSH
plane; enabled by ``media_path``.)

(° = optional round-7 stages: CCNet segment dedup before quality
scoring so quality judges boilerplate-free text; bigram-LM perplexity
gate after it; plus the canonical_policy="quality" near-dup survivor
option — keep each cluster's best-quality member.  Round-7 wave B
adds three more optional stages: edit-distance verification of LSH
candidate pairs before cluster formation (editdist_verify), a
deterministic train/val/test hash split of the final corpus with
chunking restricted to the train side (holdout_split), and a
temperature-scaled per-source mixing recipe report (mix_report), and
epoch-0 shuffle shards of the training chunks (epoch_shards > 0).)

Every stage hand-off is a parquet checkpoint under ``work_dir`` so a
failed 100 TB run resumes at the last stage, and each stage reuses the
already-tested operators — this module adds composition, not new
relational logic.

Scale notes per stage:
  * gates — one aggregate scan (operators/quality.py).
  * exact_dedup — one shuffle on 32-byte content digests, keep the
    min-id doc per digest (operators/dedup.exact_dup_groups).
  * quality_filter — row-local scoring; the global percentile
    threshold is a 1-row aggregate broadcast back (never a corpus-wide
    window) — identical shape to the oracle-checked quality_filter
    catalog query.
  * near_dedup — minhash bands → banded equi-join candidates (capped
    + auditable) → connected components (2 shuffles/round, ~2 rounds
    on LSH near-clique graphs) → drop non-canonical members.  The
    non-canonical id set is usually a small fraction of the corpus; it
    broadcasts into a left-anti join so the corpus never shuffles for
    the final subtraction.
  * stats — per-stage counts + final token budget, a handful of
    1-row aggregates unioned driver-side; since round 11 also one
    ``t_ms_<stage>`` row per executed stage (checkpoint-delimited
    wall time, VERDICT r9 ask #4) so a 175 s macro run attributes
    its cost without re-instrumenting anything.

Round-6 stage notes:
  * pii_scrub — row-local regexp redaction (operators/pii.py); fused
    into the exact-dedup scan rather than checkpointed: a stage with
    no shuffle boundary earns no checkpoint.  Scrubbing runs BEFORE
    exact dedup so two docs differing only in their PII collapse.
  * repetition gate — joins the quality_filter scan (one pass scores
    quality AND the Gopher repetition signals; operators/repetition).
  * decontaminate — drops training docs whose word-n-gram collision
    fraction against the held-out split exceeds the threshold
    (operators/decontam.py); the bench gram set broadcasts, the
    corpus never shuffles.
  * chunk — the curated corpus re-expressed as fixed-length training
    sequences (operators/chunking.py), the pipeline's final product
    alongside the per-language curated docs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prod2vec_spark.operators import dedup as DD
from prod2vec_spark.operators import text as TX
from prod2vec_spark.operators.quality import Rules, assert_expectations
from prod2vec_spark.sources.io import read_table, spread_scan, write_parquet


@dataclass
class CorpusConfig:
    sf_dir: str
    work_dir: str
    quality_pct: float = 0.25  # drop the worst quartile
    quality_scope: str = "global"  # or "per_source": percentile within source
    lsh_max_group: int = 64  # degenerate-band cap (queries_ext.py)
    shingle_k: int = 3
    scrub_pii: bool = True
    scrub_cc: bool = False  # + Luhn-verified card redaction (pii.scrub_cc)
    repetition_gate: bool = True
    decon_n: int = 5  # decontamination word-n-gram order
    decon_bench_frac: float = 0.1  # held-out split fraction
    decon_min_frac: float = 0.2  # collision fraction that drops a doc
    # round-14: ALSO run the fuzzy (MinHash + exact-Jaccard) screen —
    # paraphrased/partial eval overlap the exact n-gram rule misses
    # (operators/decontam.fuzzy_contamination_report); drops union
    # into the same anti-join set.  The screen uses FINER banding than
    # the near-dedup stage on purpose: with the dedup's own 8/4
    # banding every band-colliding pair is already collapsed upstream
    # (the candidate rules coincide), so the screen's marginal catches
    # live BELOW the near-dup threshold — 16 hashes in 8 bands of 2
    # gives ~50% collision at Jaccard 0.3 where 2 bands of 4 give ~2%.
    decon_fuzzy: bool = False
    decon_fuzzy_jaccard: float = 0.3
    decon_fuzzy_hashes: int = 16
    decon_fuzzy_band: int = 2
    chunk_len: int = 32
    chunk_stride: int = 24
    chunk_min: int = 8
    # optional semantic dedup (SemDeDup) between near-dedup and
    # decontamination: drops docs whose embedding is a within-cluster
    # cosine near-duplicate of a smaller-id doc.  Off by default —
    # it requires the embeddings table (vec_id == doc_id) to cover
    # the corpus; docs without an embedding are kept unconditionally.
    semantic_dedup: bool = False
    semantic_clusters: int = 8
    semantic_threshold: float = 0.4
    # optional round-7 stages, all off by default:
    # canonical text normalization fused into the input scan (like
    # PII scrub — row-local, no shuffle boundary, no checkpoint):
    # control chars stripped, whitespace collapsed, casefolded, so
    # exact dedup collapses whitespace/case variants of one document.
    normalize: bool = False
    # segment (line) dedup between exact dedup and quality scoring —
    # CCNet order: quality is judged on boilerplate-free text.  Docs
    # that lose more than seg_max_dropped_frac of their windows drop
    # entirely (mostly-boilerplate pages).
    segment_dedup: bool = False
    seg_width: int = 10
    seg_min_docs: int = 2
    seg_max_dropped_frac: float = 0.5
    # round-9b: repeated-segment survivor policy — "drop_all" (CCNet:
    # shared windows vanish everywhere) or "keep_first" (ExactSubstr:
    # the min-id doc containing a window keeps it, one copy survives)
    seg_policy: str = "drop_all"
    # round-16: sentence-level dedup (the segment plane at SENTENCE
    # granularity, operators/linedup.sentence_dedup) — cross-document
    # repeated sentences cut per sent_policy; docs losing more than
    # sent_max_dropped_frac of their sentences drop entirely.
    # Independent of segment_dedup (both can run; sentences after
    # windows — the finer screen judges the coarser screen's output).
    sentence_dedup: bool = False
    sent_min_docs: int = 2
    sent_min_chars: int = 12
    sent_max_dropped_frac: float = 0.5
    sent_policy: str = "drop_all"
    # bigram-LM perplexity gate after the quality filter: drop the
    # highest-ppl tail (lm_drop_pct) — the KenLM-style fluency screen.
    lm_gate: bool = False
    lm_drop_pct: float = 0.1
    lm_train_frac: float = 0.8
    # smoothing family for the gate's LM — "stupid_backoff" (bigram,
    # Brants et al. 2007, the default) or "kneser_ney" (interpolated
    # KN at lm_order, Chen & Goodman 1998 — the continuation-count
    # family; operators/lm.fit_knn / score_docs_knn).  Both share the
    # md5-uniform split and the percentile-cut shape.
    lm_smoothing: str = "stupid_backoff"
    # round-14 (VERDICT r13 ask #7): derive the KN absolute discount
    # from the train split's counts-of-counts (Ney-Essen-Kneser
    # D = n1/(n1+2·n2), operators/lm.estimate_discount) instead of the
    # 0.75 default — one extra 1-row driver aggregate over the fitted
    # pair table at lm_order 2 (per-level triples at >= 3, below);
    # only meaningful with lm_smoothing='kneser_ney'.
    lm_derive_discount: bool = False
    # round-14: order of the KN gate's model — 2 (the bigram default)
    # or higher; every order runs the one order-n chain
    # (operators/lm.fit_knn; 5 = the production KenLM shape).  With
    # lm_derive_discount, order >= 3 derives PER-LEVEL MODIFIED
    # (D1, D2, D3+) triples from each level's counts-of-counts
    # (estimate_mkn_discounts, Chen & Goodman 1999 eq. 26) — n-1
    # bounded 1-row aggregates.
    lm_order: int = 2
    # round-15: per-level count floors for the order-n KN gate —
    # KenLM's --prune semantic run END-TO-END in the DAG (the
    # derived-discounts precedent): {level: min_count} floors applied
    # via KNnModel.pruned before scoring; pruned probes back off
    # through the same λ-chain as unseen grams, so the gate degrades
    # gracefully while the persisted model shrinks where it is
    # actually big at web scale (the high-order tables).  None = full
    # tables (the default).  Only meaningful at lm_order >= 3.
    lm_prune_min_counts: "dict[int, int] | None" = None
    # near-dup survivor policy: "min_id" (dedup_clusters default) or
    # "quality" (keep each cluster's best-quality member)
    canonical_policy: str = "min_id"
    # round-7 wave-B options, all off by default:
    # edit-distance confirmation of LSH candidate pairs BEFORE cluster
    # formation — only character-level-confirmed pairs join clusters,
    # so a single chance band collision can no longer merge two
    # genuinely different documents into one cluster (the precision
    # screen; operators/dedup.editdist_confirm).
    editdist_verify: bool = False
    ed_prefix: int = 256
    ed_max_dist: int = 51
    ed_sim: float = 0.8
    # deterministic train/val/test hash split of the curated corpus
    # (operators/splits.py); chunking then runs on the TRAIN side only
    # — eval text never leaks into training sequences.
    holdout_split: bool = False
    split_seed: int = 42
    # round-9b: leakage-safe holdout — when set, the split label is a
    # pure function of THIS column (e.g. a domain or source key
    # carried on the row) instead of doc_id, so every member of a
    # group lands in one split and near-duplicate pages from one
    # site can never straddle train/eval (operators/splits.
    # group_split; NULL groups fall back to per-row assignment).
    split_group_col: str | None = None
    # temperature-scaled source recipe report over the final corpus
    # (operators/mixing.py) written as a work_dir artifact.
    mix_report: bool = False
    mix_alpha: float = 0.7
    mix_budget: int = 1_000_000
    # write the training chunks as epoch-0 shuffle shards (> 0 turns
    # the stage on and sets the shard count; operators/shards.py —
    # the on-disk row order is the epoch permutation)
    epoch_shards: int = 0
    # zlib compression-ratio gate fused into the quality stage: drop
    # docs compressing below the floor (template/machine text the
    # token-level repetition signals miss; functions/compress.py).
    compression_gate: bool = False
    compression_floor: float = 0.35
    # round-9: media near-dup stage — path to a (doc_id, blob) parquet
    # of per-document media attachments (PNG/WAV/AVI, mixed).  When
    # set, docs whose attached media is a perceptual near-dup of a
    # kept doc's media drop after text near-dedup, with the same
    # drop-set subtraction shape as the LSH/SemDeDup stages
    # (operators/phash.py media_hashes/media_neardup_pairs).  Docs
    # with no attachment or undecodable media are kept.
    media_path: str | None = None
    media_max_distance: int = 3
    media_bands: int = 4
    # round-14: also write a per-(format, status) media_format_audit
    # artifact (operators/multimodal.media_format_audit) next to the
    # dedup outputs — decoded / corrupt / unsupported_format counts,
    # the boundary's blind spot as a reported number.  Optional (a
    # second Arrow-batched decode pass over the blob column).
    media_format_audit: bool = False
    # round-12: also collapse PARTIAL-image duplicates (a doc whose
    # image is a stride-aligned crop/letterbox of another doc's —
    # whole-image hashes diverge on those): image_span_pairs' matched-
    # tile pairs union into the same connected-components pass.
    # round-13: the same switch now ALSO unions partial-AUDIO spans
    # (audio_span_pairs — a doc whose clip embeds another doc's
    # jingle at a hop-aligned offset collapses even across PCM↔ADPCM)
    # — one switch per the span-triad principle: partial-media dedup
    # is one policy, not three.
    media_span_dedup: bool = False
    media_tile_px: int = 16
    media_tile_stride: int = 8
    media_span_min_shared: int = 4
    media_window_ms: int = 1000
    media_hop_ms: int = 500
    media_audio_min_shared: int = 2
    # round-9: URL curation stage (the C4/RefinedWeb ingestion
    # filters) — active only when the corpus carries ``url_col``.
    # domain_blocklist drops whole registered domains (broadcast
    # anti-join); domain_cap_k > 0 keeps at most K docs per domain
    # (seeded md5 rank window — the mega-domain skew valve).  Runs
    # BEFORE exact dedup: the cheapest filters go first, and per-
    # domain pressure is an ingestion property, not a content one.
    url_col: str = "url"
    domain_blocklist: tuple[str, ...] = ()
    domain_cap_k: int = 0
    # round-12: URL-level exact dedup AFTER canonicalization
    # (operators/domains.canonical_url) — the crawl-frontier dedup
    # that catches the SAME page fetched under different tracking
    # params / casing / default ports before any text machinery runs;
    # min-doc_id survivor per canonical key, unparseable-URL rows all
    # pass (NULL keys never collapse together).  Corpus-wide group →
    # incremental_update rejects it like the other corpus-wide stages.
    url_dedup: bool = False
    # round-9: train a BPE merge table on the CURATED corpus and
    # report the final token budget in MODEL tokens next to the
    # whitespace/lexer counts (> 0 turns the stage on and sets the
    # merge count).  Train = one word-count shuffle + a bounded
    # driver merge loop (operators/bpe.py); counting = the row-local
    # Column replace chain via bpe_counter.
    bpe_merges: int = 0
    bpe_vocab_words: int = 5000
    # round-9b: materialize trainable shards — when > 0 (and
    # bpe_merges > 0, which supplies the merge table), the TRAIN side
    # of the curated corpus is packed into per-bin ``input_ids``
    # training examples under the corpus's own tokenizer
    # (operators/chunking.pack_token_ids: doc_lens boundary metadata
    # + UNK=0-reserved vocab persisted alongside) and written to
    # work_dir/input_ids — the DAG's output becomes what the training
    # loader reads, not just cleaned text.
    pack_budget: int = 0
    pack_shards: int = 1
    # round-12: tokenizer FAMILY for the pack stage and the
    # final_model_tokens stat — "bpe" (merge table, bpe_merges > 0
    # sets the size) or "unigram" (SentencePiece-style piece table,
    # operators/unigram.py; unigram_vocab_size sets the size).  Both
    # train on the curated corpus itself and share the same
    # token_vocab / pack_token_ids plumbing via the tokens_fn seam.
    tokenizer: str = "bpe"
    unigram_vocab_size: int = 200
    # round-13: third tokenizer family — BERT WordPiece (greedy
    # longest-match over a likelihood-trained ##-marked vocab,
    # operators/wordpiece.py); wordpiece_merges sets the trainer's
    # merge budget when tokenizer='wordpiece'.
    wordpiece_merges: int = 50
    # round-9b: C4 rule-based line filtering (Raffel et al. 2020
    # §2.2) fused into the input scan after normalization and before
    # the PII scrub — row-local, no shuffle boundary, no checkpoint,
    # and per-row deterministic so incremental_update supports it
    # unchanged.  Lines violating the rules are cut from each doc;
    # docs that lose EVERY line (all-junk pages), or more than
    # lf_max_dropped_frac of their lines, leave the corpus.  Docs
    # with no lines at all (empty/NULL text) pass through — the DQ
    # gates and exact dedup own that class.
    line_filter: bool = False
    lf_mode: str = "window"  # "newline" for real web documents
    lf_width: int = 10
    lf_min_words: int = 3
    lf_blocklist: tuple[str, ...] = ("lorem ipsum", "javascript")
    lf_require_punct: bool = False
    lf_drop_braces: bool = False
    lf_max_dropped_frac: float = 1.0  # 1.0 = only all-junk docs drop
    # round-9b: corpus-adaptive boilerplate stage (> 0 turns it on and
    # sets how many mined grams to block) — the top-K most-repeated
    # n-grams are MINED from the scrubbed corpus and every line
    # containing one is cut (operators/linefilters.
    # adaptive_boilerplate_filter).  Unlike the static line_filter
    # this is a CORPUS-WIDE aggregate (the mined blocklist depends on
    # every document), so it runs as a checkpointed stage before
    # exact dedup and incremental_update REJECTS it loudly — crawl
    # N+1 would mine a different blocklist than the archive saw.
    adaptive_block_k: int = 0
    adaptive_gram_n: int = 3
    adaptive_min_count: int = 100
    # round-14: document-level toxicity/badwords screen (C4 §2.2 —
    # 'any page containing a word on the list is removed') fused into
    # the input scan after line_filter: category→words map (None =
    # off); a doc drops when its badword fraction exceeds
    # badwords_max_frac (0.0 = ANY hit drops, the C4 policy).
    # Row-local + per-row deterministic (operators/badwords.py), so
    # incremental_update supports it unchanged.
    badwords_cats: "dict[str, tuple[str, ...]] | None" = None
    badwords_max_frac: float = 0.0
    # round-16: per-LANGUAGE blocklists (C4 ships ~25 language files) —
    # lang -> {category -> words}, each doc screened against ITS
    # language's list (operators/badwords.badwords_by_lang); mutually
    # exclusive with badwords_cats.  Unlisted languages fall back to
    # badwords_default_lang's list when set, else pass unscreened.
    badwords_lang_lists: "dict[str, dict[str, tuple[str, ...]]] | None" = None
    badwords_default_lang: "str | None" = None


class CorpusCurationPipeline:
    def __init__(self, spark: SparkSession, cfg: CorpusConfig):
        self.spark = spark
        self.cfg = cfg
        self._merges = None  # run() stashes the trained table so the
        # pack stage and the stats report share ONE training pass
        self._uni_model = None  # unigram twin of _merges
        self._wp_vocab = None  # wordpiece twin (round-13)
        self._stage_notes: dict[str, float] = {}  # derived scalars the
        # last run() surfaced (e.g. the estimated KN discount) — for
        # tests and operational introspection
        self._stage_ms: dict[str, int] = {}  # per-stage wall time of
        # the LAST run(), surfaced as t_ms_* rows in the stats report

    def _timed(self, name: str, fn, *args, **kw):
        """Checkpoint-delimited wall-time attribution (VERDICT r9 ask
        #4): every stage method ends in a blocking parquet checkpoint
        write, so timing the call measures the stage's real cost —
        including the lineage it forces — with zero changes to the hot
        path.  Disabled stages are lazy pass-throughs that time ~0 ms
        and are filtered out of the report."""
        import time

        t0 = time.monotonic()
        out = fn(*args, **kw)
        self._stage_ms[name] = self._stage_ms.get(name, 0) + int(
            (time.monotonic() - t0) * 1000
        )
        return out


    def _read_stage(self, path: str) -> DataFrame:
        """Stage-checkpoint read-back with the input-parallelism floor
        (optimization round 17, guide §2.5 — the sources/io.spread_scan
        policy applied to the DAG's own hand-offs): AQE partition
        coalescing shrinks each stage's shuffle output to ~1 parquet
        file at bench scale, so WITHOUT a floor the next stage's
        per-row-heavy chain (tokenize / minhash / n-gram scoring) runs
        on one core until its first shuffle — measured 10.3 s of the
        default macro's quality stage alone.  At 100 TB every
        checkpoint has thousands of files and spread_scan is an exact
        no-op.  Used ONLY where the consumer's per-row compute
        dominates; cheap column reads (thresholds, the 2-column ppl
        report, the band table that shuffles immediately) keep raw
        scans."""
        return spread_scan(self.spark.read.parquet(path))

    # -- stage 0: input gates -----------------------------------------
    def gates(self) -> None:
        docs = read_table(self.spark, self.cfg.sf_dir, "documents")
        assert_expectations(
            docs,
            Rules(
                not_null=["doc_id", "text"],
                unique_key=["doc_id"],
                row_count_between=(1.0, 1e12),
            ),
        )

    # -- stage 0.5: PII scrub (row-local, fused — no checkpoint) -------
    def scrubbed_input(self) -> DataFrame:
        return self._scrubbed(self.cfg.sf_dir)

    def _scrubbed(self, sf_dir: str, badwords: bool = True) -> DataFrame:
        docs = read_table(self.spark, sf_dir, "documents")
        if self.cfg.normalize:
            from prod2vec_spark.operators.text import normalize_text

            # BEFORE the PII scrub: the scrub's patterns then see
            # canonical whitespace/case
            docs = docs.withColumn("text", normalize_text(F.col("text")))
        if self.cfg.line_filter:
            # AFTER normalize (rules see canonical whitespace/case),
            # BEFORE the PII scrub (the scrub then rewrites only
            # surviving lines).  The keep/rewrite policy lives in
            # apply_line_filter — ONE code path shared with the
            # streaming corpus pipeline, so batch and stream can
            # never drift.
            from prod2vec_spark.operators.linefilters import apply_line_filter

            docs = apply_line_filter(
                docs,
                mode=self.cfg.lf_mode,
                width=self.cfg.lf_width,
                min_words=self.cfg.lf_min_words,
                blocklist=self.cfg.lf_blocklist,
                require_terminal_punct=self.cfg.lf_require_punct,
                drop_brace_lines=self.cfg.lf_drop_braces,
                max_dropped_frac=self.cfg.lf_max_dropped_frac,
            )
        if self.cfg.badwords_cats and self.cfg.badwords_lang_lists:
            raise ValueError(
                "badwords_cats and badwords_lang_lists are mutually "
                "exclusive — pick the single-list or per-language gate"
            )
        if badwords and (
            self.cfg.badwords_cats or self.cfg.badwords_lang_lists
        ):
            # round-14 (per-language round-16): the C4 §2.2 doc-level
            # badwords screen — AFTER line_filter (the gate judges
            # surviving text), BEFORE the PII scrub (scrub tokens
            # carry no list words, so order is immaterial for hits;
            # cheapest-first wins).  Row-local and per-row
            # deterministic: incremental_update supports it unchanged
            # and the drop ledger replays it, both like line_filter.
            from prod2vec_spark.operators.badwords import badwords_screen

            docs = badwords_screen(
                docs,
                cats=self.cfg.badwords_cats,
                lang_lists=self.cfg.badwords_lang_lists,
                max_frac=self.cfg.badwords_max_frac,
                default_lang=self.cfg.badwords_default_lang,
            )
        if not self.cfg.scrub_pii:
            return docs
        from prod2vec_spark.operators.pii import scrub, scrub_cc

        out = docs.withColumn("text", scrub(F.col("text")))
        if self.cfg.scrub_cc:
            # after the email/phone scrub (their tokens contain no
            # digits, so order is immaterial for the card regex)
            out = out.withColumn("text", scrub_cc(F.col("text")))
        return out

    def _url_curation_active(self) -> bool:
        """ONE definition of 'the url_curation stage runs (and thus
        checkpoints its output)' — adaptive_block keys its own
        materialization decision off this, so the two can't drift."""
        return (
            bool(self.cfg.domain_blocklist)
            or self.cfg.domain_cap_k > 0
            or self.cfg.url_dedup
        )

    # -- stage 0.75: URL curation (optional, round 9) ------------------
    def url_curation(self, docs: DataFrame) -> DataFrame:
        """C4/RefinedWeb ingestion filters, active only when the
        corpus carries ``url_col``: registered-domain blocklist
        (broadcast anti-join) then the per-domain doc cap (ONE rank
        window).  NULL-domain rows (unparseable urls) pass both —
        validity is the DQ gate's job, not this stage's.  Raises if
        the options are set but the column is absent (silent no-op
        would read as coverage)."""
        from prod2vec_spark.operators.domains import (
            domain_cap,
            filter_blocked_domains,
        )

        if not self._url_curation_active():
            return docs
        if self.cfg.url_col not in docs.columns:
            raise ValueError(
                f"url curation configured but column {self.cfg.url_col!r} "
                f"is absent from the corpus"
            )
        out = docs
        if self.cfg.url_dedup:
            # canonical-URL exact dedup first — cheapest, and the
            # blocklist/cap then see one row per page.  NULL canon
            # (unparseable) rows pass: they must NOT collapse with
            # each other under a shared NULL key.
            from prod2vec_spark.operators.domains import canonical_url

            staged = out.withColumn(
                "_canon", canonical_url(F.col(self.cfg.url_col))
            )
            keep_ids = (
                staged.where(F.col("_canon").isNotNull())
                .groupBy("_canon")
                .agg(F.min("doc_id").alias("doc_id"))
                .select("doc_id")
            )
            out = (
                staged.where(F.col("_canon").isNull())
                .unionByName(staged.join(keep_ids, "doc_id", "left_semi"))
                .drop("_canon")
            )
        if self.cfg.domain_blocklist:
            bl = self.spark.createDataFrame(
                [(d,) for d in self.cfg.domain_blocklist], ["domain"]
            )
            out = filter_blocked_domains(out, bl, url_col=self.cfg.url_col).drop(
                "host", "domain"
            )
        if self.cfg.domain_cap_k > 0:
            out = domain_cap(
                out, self.cfg.domain_cap_k, url_col=self.cfg.url_col
            ).drop("host", "domain", "domain_rk")
        write_parquet(out, f"{self.cfg.work_dir}/url_curated")
        # next stage mines/cuts or digests text per row — floor the read
        return self._read_stage(f"{self.cfg.work_dir}/url_curated")

    # -- stage 0.8: adaptive boilerplate (optional, round 9b) ----------
    def adaptive_block(self, docs: DataFrame) -> DataFrame:
        """Mine the corpus's own top-K repeated n-grams and cut every
        line containing one (mine → block); docs whose every line
        carried mined boilerplate leave the corpus, the mined gram
        table persists as a work_dir artifact for audit.  One hash-agg
        + TakeOrdered for the mine, then the row-local cut."""
        if self.cfg.adaptive_block_k <= 0:
            return docs
        from prod2vec_spark.operators.linefilters import (
            adaptive_boilerplate_filter,
        )
        from prod2vec_spark.operators.repetition import corpus_ngram_hotspots

        # Round-11 (found by the t_ms_* attribution this round added):
        # this stage's input is the FUSED scrub/line-filter lineage
        # unless url_curation checkpointed it, and the stage reads its
        # input twice (mine + cut) — so materialize it ONCE; a parquet
        # write is far cheaper than re-running the corpus-wide regex
        # rewrite per pass (was 75% of the r9b macro's 194 s).
        if not self._url_curation_active():
            write_parquet(docs, f"{self.cfg.work_dir}/adaptive_input")
            # both consumers (mine + cut) are per-row HOF chains
            docs = self._read_stage(f"{self.cfg.work_dir}/adaptive_input")
        hot = corpus_ngram_hotspots(
            docs,
            n=self.cfg.adaptive_gram_n,
            min_count=self.cfg.adaptive_min_count,
            k=self.cfg.adaptive_block_k,
        )
        write_parquet(hot, f"{self.cfg.work_dir}/adaptive_blocklist")
        # feed the PERSISTED mine back in: the cut's broadcast subtree
        # then reads a k-row parquet instead of re-mining the corpus
        rep = adaptive_boilerplate_filter(
            docs,
            gram_n=self.cfg.adaptive_gram_n,
            top_k=self.cfg.adaptive_block_k,
            min_count=self.cfg.adaptive_min_count,
            mode=self.cfg.lf_mode,
            width=self.cfg.lf_width,
            hotspots=self.spark.read.parquet(
                f"{self.cfg.work_dir}/adaptive_blocklist"
            ),
        )
        out = (
            rep.where((F.col("n_lines") == 0) | (F.col("n_kept") > 0))
            .withColumn(
                "text",
                F.when(F.col("n_lines") == 0, F.col("text")).otherwise(
                    F.col("kept_text")
                ),
            )
            .drop("hot_grams", "n_lines", "n_kept", "kept_text")
        )
        write_parquet(out, f"{self.cfg.work_dir}/adaptive_blocked")
        return self._read_stage(f"{self.cfg.work_dir}/adaptive_blocked")

    # -- stage 1: exact dedup ------------------------------------------
    def exact_dedup(self) -> DataFrame:
        import time

        docs = self._timed(
            "url_curation", self.url_curation, self.scrubbed_input()
        )
        docs = self._timed("adaptive_block", self.adaptive_block, docs)
        t0 = time.monotonic()
        # Round-16 (guide §2.4): keep the min-id doc per content digest
        # via ONE row_number window over the digest — one corpus
        # shuffle and one evaluation of the (possibly still-fused)
        # scrub lineage.  The previous agg + left-semi shape shuffled
        # the corpus twice (digest hash-agg, then the doc_id join) and
        # re-evaluated the input lineage once per leg.  Survivors are
        # identical (min doc_id per digest — exact_dup_groups'
        # keep_doc_id rule; pytest-pinned via the pipeline e2e and
        # drop-ledger partition contract).
        from pyspark.sql import Window

        w = Window.partitionBy("_th").orderBy("doc_id")
        out = (
            docs.withColumn("_th", DD.text_digest(F.col("text")))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_th", "_rn")
        )
        write_parquet(out, f"{self.cfg.work_dir}/exact_deduped")
        self._stage_ms["exact_dedup"] = self._stage_ms.get(
            "exact_dedup", 0
        ) + int((time.monotonic() - t0) * 1000)
        # consumers tokenize/score/shingle the corpus per row
        return self._read_stage(f"{self.cfg.work_dir}/exact_deduped")

    # -- stage 1.5: segment (line) dedup (optional) --------------------
    def segment_dedup(self, docs: DataFrame) -> DataFrame:
        """CCNet-style boilerplate removal: windows repeated across
        >= seg_min_docs documents are cut from every doc; docs that
        were mostly boilerplate (> seg_max_dropped_frac of windows
        dropped) leave the corpus.  Surviving docs carry the cleaned
        text forward so quality/LM scoring judges real content."""
        from prod2vec_spark.operators.linedup import segment_dedup

        rep = segment_dedup(
            docs,
            width=self.cfg.seg_width,
            min_docs=self.cfg.seg_min_docs,
            policy=self.cfg.seg_policy,
        )
        kept = rep.where(
            (F.col("n_dropped") / F.col("n_segs"))
            <= F.lit(self.cfg.seg_max_dropped_frac)
        ).select("doc_id", F.col("kept_text").alias("text"))
        # re-attach metadata columns by doc_id; text is replaced by
        # the reassembled segment-deduped version
        out = docs.drop("text").join(kept, "doc_id")
        write_parquet(out, f"{self.cfg.work_dir}/segment_deduped")
        return self._read_stage(f"{self.cfg.work_dir}/segment_deduped")

    # -- stage 1.6: sentence dedup (optional, round 16) ----------------
    def sentence_dedup(self, docs: DataFrame) -> DataFrame:
        """Cross-document repeated-SENTENCE removal (the segment plane
        at sentence granularity): sentences >= sent_min_chars chars
        appearing in >= sent_min_docs distinct documents are cut per
        sent_policy; docs losing more than sent_max_dropped_frac of
        their sentences leave the corpus (boilerplate pages).  Docs
        with ZERO sentences (no terminal punctuation — short titles,
        code fragments) pass through untouched: the screen has no
        evidence about them, and 0/0 must not read as 'dropped
        everything'."""
        from prod2vec_spark.operators.linedup import sentence_dedup

        rep = sentence_dedup(
            docs,
            min_docs=self.cfg.sent_min_docs,
            min_chars=self.cfg.sent_min_chars,
            policy=self.cfg.sent_policy,
        )
        kept = rep.where(
            (F.col("n_sentences") == 0)
            | (
                (F.col("n_dropped") / F.col("n_sentences"))
                <= F.lit(self.cfg.sent_max_dropped_frac)
            )
        )
        # zero-sentence docs keep their ORIGINAL text (kept_text would
        # be '' — the sentences contract scopes out unterminated text)
        kept = kept.select("doc_id", "n_sentences", "kept_text")
        out = (
            docs.join(kept, "doc_id")
            .withColumn(
                "text",
                F.when(F.col("n_sentences") > 0, F.col("kept_text")).otherwise(
                    F.col("text")
                ),
            )
            .drop("n_sentences", "kept_text")
        )
        write_parquet(out, f"{self.cfg.work_dir}/sentence_deduped")
        return self._read_stage(f"{self.cfg.work_dir}/sentence_deduped")

    # -- stage 2: quality filter ---------------------------------------
    def quality_filter(self, docs: DataFrame) -> DataFrame:
        if self.cfg.repetition_gate:
            from prod2vec_spark.operators.repetition import repetition_keep

            # single-evaluation let-bound form: the staged-column
            # variant collapses into a Filter that re-tokenizes per
            # reference (22 split() copies in the plan — round 11)
            docs = docs.where(repetition_keep(F.col("text")))
        if self.cfg.compression_gate:
            from prod2vec_spark.functions.compress import compression_ratio

            # fused into the same scan (row-local Arrow batch), before
            # percentile scoring so the threshold is computed over the
            # entropy-sane population
            docs = docs.where(
                compression_ratio(F.col("text"))
                >= F.lit(self.cfg.compression_floor)
            )
        if self.cfg.repetition_gate or self.cfg.compression_gate:
            # Round-11 (surfaced by the t_ms_* attribution): the stage
            # reads its input twice (percentile pass + kept pass), and
            # the n-gram/zlib gate staging above is far more expensive
            # than a parquet write — checkpoint the gated survivors
            # ONCE so both scans read columns, not recomputed lineage
            # (was 32 s of the macro, ~7 s after).  Round 16: the
            # quality score rides the SAME checkpoint write (one
            # narrow extra column), so the percentile pass and the
            # kept pass read `q` instead of each re-tokenizing the
            # corpus (guide §1.2 step 1 — don't compute things twice).
            write_parquet(
                docs.withColumn("q", TX.quality_score(F.col("text"))),
                f"{self.cfg.work_dir}/quality_gated",
            )
            scored = self.spark.read.parquet(
                f"{self.cfg.work_dir}/quality_gated"
            )
        else:
            scored = docs.withColumn("q", TX.quality_score(F.col("text")))
        thr_path = f"{self.cfg.work_dir}/quality_thr"
        if self.cfg.quality_scope == "per_source":
            # fairness variant: the percentile is computed WITHIN each
            # source, so a source whose style scores systematically
            # lower is trimmed by the same fraction instead of being
            # wiped out by a corpus-global threshold.  The threshold
            # table is bounded by the source count — broadcast join,
            # same scalar shape as the global path.
            thr = scored.groupBy("source").agg(
                F.percentile("q", F.lit(self.cfg.quality_pct)).alias("q_thr")
            )
            # write THEN read back: reusing the lineage would
            # re-evaluate the percentile pass (the expensive
            # repetition-staged scan) a second time inside `kept`
            write_parquet(thr, thr_path)  # frozen until the next rebuild
            thr = self.spark.read.parquet(thr_path)
            kept = (
                scored.join(F.broadcast(thr), "source")
                .where(F.col("q") >= F.col("q_thr"))
                .drop("q_thr")
            )
        elif self.cfg.quality_scope == "global":
            thr = scored.agg(
                F.percentile("q", F.lit(self.cfg.quality_pct)).alias("q_thr")
            )
            # write THEN read back (see per_source branch note)
            write_parquet(thr, thr_path)  # frozen until the next rebuild
            thr = self.spark.read.parquet(thr_path)
            kept = (
                scored.crossJoin(F.broadcast(thr))
                .where(F.col("q") >= F.col("q_thr"))
                .drop("q_thr")
            )
        else:
            raise ValueError(
                f"quality_scope must be 'global' or 'per_source', "
                f"got {self.cfg.quality_scope!r}"
            )
        write_parquet(kept, f"{self.cfg.work_dir}/quality_kept")
        # consumers: LM-gate scoring / minhash banding — per-row heavy
        return self._read_stage(f"{self.cfg.work_dir}/quality_kept")

    # -- stage 2.5: LM perplexity gate (optional) ----------------------
    def lm_gate(self, docs: DataFrame) -> DataFrame:
        """Drop the highest-perplexity tail under a self-trained
        n-gram LM (operators/lm.py) — the KenLM-style fluency screen.
        The cut threshold is the (1 - lm_drop_pct) ppl percentile, a
        1-row aggregate broadcast back (same shape as the quality
        percentile — never a corpus-wide window).  cfg.lm_smoothing
        picks the smoothing family; both scorers emit the same
        (doc_id, ppl) contract."""
        from prod2vec_spark.operators.lm import (
            estimate_discount,
            estimate_mkn_discounts,
            fit_knn,
            lm_perplexity,
            score_docs_knn,
            with_train_split,
        )

        if self.cfg.lm_smoothing != "kneser_ney" and (
            self.cfg.lm_order != 2 or self.cfg.lm_derive_discount
        ):
            # silently running a different scorer than the options
            # describe would be the worst failure mode for a gate that
            # decides what enters the training corpus
            raise ValueError(
                "lm_order / lm_derive_discount apply only to "
                f"lm_smoothing='kneser_ney' (got {self.cfg.lm_smoothing!r})"
            )
        if self.cfg.lm_prune_min_counts and (
            self.cfg.lm_smoothing != "kneser_ney" or self.cfg.lm_order < 3
        ):
            # a silently-ignored prune config would be the same
            # wrong-scorer failure mode as above
            raise ValueError(
                "lm_prune_min_counts applies only to the order-n KN "
                "gate (lm_smoothing='kneser_ney', lm_order >= 3)"
            )
        if self.cfg.lm_smoothing == "kneser_ney":
            # one order-n KN chain for every lm_order: fit once on the
            # md5-uniform train split, score with the fitted tables.
            # lm_derive_discount estimates from the FULL fitted tables'
            # counts-of-counts — order 2: the single Ney-Essen-Kneser D
            # (estimate_discount); order >= 3: per-LEVEL modified
            # (D1, D2, D3+) triples (estimate_mkn_discounts), n-1
            # bounded 1-row aggregates
            order = self.cfg.lm_order
            tagged = with_train_split(docs, self.cfg.lm_train_frac, seed="lm")
            model = fit_knn(tagged.where(F.col("is_train")), order=order)
            model_scored = model
            if self.cfg.lm_prune_min_counts:
                # round-15: the per-level count-floor scale control in
                # the DAG path; the scoring probes hit the pruned tables
                model_scored = model.pruned(
                    min_count=self.cfg.lm_prune_min_counts.get(order, 1),
                    min_counts=self.cfg.lm_prune_min_counts,
                )
            disc: dict = {}
            if self.cfg.lm_derive_discount and order == 2:
                d = estimate_discount(model.counts[2], "c2")
                self._stage_notes["lm_derived_discount"] = d
                disc = {"discount": d}
            elif self.cfg.lm_derive_discount:
                discounts = {
                    k: estimate_mkn_discounts(model.counts[k], f"c{k}")
                    for k in range(2, order + 1)
                }
                for k, tup in discounts.items():
                    self._stage_notes[f"lm_derived_d{k}"] = tup
                disc = {"discounts": discounts}
            rep = score_docs_knn(tagged, model_scored, **disc)
        elif self.cfg.lm_smoothing == "stupid_backoff":
            rep = lm_perplexity(docs, train_frac=self.cfg.lm_train_frac)
        else:
            raise ValueError(
                f"unknown lm_smoothing {self.cfg.lm_smoothing!r} "
                "(expected 'stupid_backoff' or 'kneser_ney')"
            )
        # Round-16: materialize the narrow (doc_id, ppl) report ONCE —
        # the percentile aggregate and the keep filter otherwise each
        # re-run the whole scoring pass (model-table joins + per-doc
        # probe evaluation); two columns of parquet are far cheaper
        # than a second scoring scan (the quality_gated precedent).
        write_parquet(
            rep.select("doc_id", "ppl"), f"{self.cfg.work_dir}/lm_ppl"
        )
        rep = self.spark.read.parquet(f"{self.cfg.work_dir}/lm_ppl")
        thr = rep.agg(
            F.percentile("ppl", F.lit(1.0 - self.cfg.lm_drop_pct)).alias(
                "ppl_thr"
            )
        )
        keep = (
            rep.crossJoin(F.broadcast(thr))
            .where(F.col("ppl") <= F.col("ppl_thr"))
            .select("doc_id")
        )
        out = docs.join(keep, "doc_id", "left_semi")
        write_parquet(out, f"{self.cfg.work_dir}/lm_kept")
        return self._read_stage(f"{self.cfg.work_dir}/lm_kept")

    # -- stage 3: near dedup -------------------------------------------
    def near_dedup(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.graph import (
            canonical_by_quality,
            dedup_clusters,
        )

        bands = DD.minhash_bands(docs, shingle_k=self.cfg.shingle_k)
        # persist the 32-byte band table: the incremental path probes
        # it so crawl N+1 never re-shingles the archived corpus
        write_parquet(bands, f"{self.cfg.work_dir}/bands")
        bands = self.spark.read.parquet(f"{self.cfg.work_dir}/bands")
        pairs = DD.lsh_candidate_pairs(
            bands,
            max_group=self.cfg.lsh_max_group,
        )
        if self.cfg.editdist_verify:
            # precision screen: only character-level-confirmed pairs
            # form clusters (prefix-capped banded Levenshtein — the
            # per-pair cost is bounded, and the pair set was already
            # capped upstream by the LSH group guard)
            pairs = (
                DD.editdist_confirm(
                    pairs,
                    docs,
                    prefix_len=self.cfg.ed_prefix,
                    max_dist=self.cfg.ed_max_dist,
                    sim_threshold=self.cfg.ed_sim,
                )
                .where(F.col("confirmed") == 1)
                .select("doc_a", "doc_b")
            )
        clusters = dedup_clusters(pairs)
        if self.cfg.canonical_policy == "quality":
            # survivor = each cluster's best-quality member, not its
            # min id: join the winners back and drop everyone else
            scored = docs.select(
                "doc_id", TX.quality_score(F.col("text")).alias("q")
            )
            winners = canonical_by_quality(clusters, scored).select(
                F.col("keep_doc_id").alias("doc_id")
            )
            drop = clusters.select("doc_id").join(
                F.broadcast(winners), "doc_id", "left_anti"
            )
        elif self.cfg.canonical_policy == "min_id":
            drop = clusters.where(F.col("is_canonical") == 0).select("doc_id")
        else:
            raise ValueError(
                f"canonical_policy must be 'min_id' or 'quality', "
                f"got {self.cfg.canonical_policy!r}"
            )
        # the drop set is the non-canonical fraction — broadcast it so
        # the corpus-side anti join never shuffles
        out = docs.join(F.broadcast(drop), "doc_id", "left_anti")
        write_parquet(clusters, f"{self.cfg.work_dir}/near_dup_clusters")
        # hive-partition the curated corpus by language: downstream
        # per-language training reads prune whole directories (the
        # partition column is low-cardinality by the dq gate)
        write_parquet(out, f"{self.cfg.work_dir}/curated", partition_by=["lang"])
        return self._read_stage(f"{self.cfg.work_dir}/curated")

    # -- stage 3.5: semantic dedup (optional) --------------------------
    def semantic_dedup(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.simsearch import semdedup

        emb = read_table(self.spark, self.cfg.sf_dir, "embeddings")
        flags = semdedup(
            emb,
            dims=64,
            n_clusters=self.cfg.semantic_clusters,
            threshold=self.cfg.semantic_threshold,
            staged_dir=self.cfg.work_dir,
        )
        # the drop set (semantic near-dups) is a small fraction —
        # broadcast anti join on doc_id, the corpus never shuffles
        # (the same subtraction shape as near_dedup/decontaminate)
        drop = flags.where(~F.col("kept")).select(
            F.col("id").alias("doc_id")
        )
        out = docs.join(F.broadcast(drop), "doc_id", "left_anti")
        write_parquet(out, f"{self.cfg.work_dir}/semantic_deduped")
        return self._read_stage(f"{self.cfg.work_dir}/semantic_deduped")

    # -- stage 3.7: media near-dup (optional, round 9) -----------------
    def media_dedup(self, docs: DataFrame) -> DataFrame:
        """Drop documents whose ATTACHED media (media_path parquet:
        doc_id, blob — mixed PNG/WAV/AVI) is a perceptual near-dup of
        a kept document's media: sniff+hash per modality → banded-
        Hamming verified pairs (modality partitions the candidate
        space) → connected components → keep each cluster's min id.
        The same broadcast drop-set subtraction as near_dedup /
        semantic_dedup; docs without an attachment, or whose media no
        codec could read (NULL hash upstream — auditable), are kept
        unconditionally."""
        from prod2vec_spark.operators import phash as PH
        from prod2vec_spark.operators.graph import dedup_clusters

        # Round-16 (guide §2.5 input parallelism): the attachment table
        # is typically few local files — without a floor the fused
        # Python decode below runs on one core; at real scale the scan
        # already has more splits than cores and this is a no-op.
        media = spread_scan(self.spark.read.parquet(self.cfg.media_path))
        # Round-16 (guide §4.2/§8 decode-once): ONE Arrow pass decodes
        # every blob and derives all four media surfaces at once —
        # format audit rows, whole-media hashes, image tiles, audio
        # windows (previously four separate passes, each paying the
        # full Python codec chain per blob; measured 28.5 s of the
        # all-stages macro).  The features persist to work_dir so the
        # audit aggregate and the three pair planes read columns,
        # never re-decode; equivalence with the standalone passes is
        # pytest-locked (tests/test_media_features.py).
        write_parquet(
            PH.media_features(
                media,
                tile_px=self.cfg.media_tile_px,
                stride=self.cfg.media_tile_stride,
                window_ms=self.cfg.media_window_ms,
                hop_ms=self.cfg.media_hop_ms,
                id_col="doc_id",
                blob_col="blob",
            ),
            f"{self.cfg.work_dir}/media_features",
        )
        feats = self.spark.read.parquet(f"{self.cfg.work_dir}/media_features")
        if self.cfg.media_format_audit:
            # round-14: publish the codec boundary's blind spot next
            # to the dedup artifacts — per-(format, status) counts so
            # the unsupported/corrupt share is a NUMBER in work_dir,
            # not a docstring.  Now a tiny hash-agg over the fused
            # features — no second decode pass.
            write_parquet(
                feats.groupBy("fmt", "status").agg(
                    F.count(F.lit(1)).alias("n")
                ),
                f"{self.cfg.work_dir}/media_format_audit",
            )
        hashes = feats.select("doc_id", "modality", "mhash")
        pairs = PH.media_neardup_pairs(
            hashes,
            id_col="doc_id",
            max_distance=self.cfg.media_max_distance,
            bands=self.cfg.media_bands,
            max_group=self.cfg.lsh_max_group,
        ).select("id_a", "id_b")
        if self.cfg.media_span_dedup:
            # partial-image dups (crops/letterboxes) union into the
            # SAME component pass — zero extra decodes, the span
            # plane's hot-bucket cap applied (image_span_pairs
            # docstring)
            span = PH.image_span_pairs_from_tiles(
                feats.select(
                    "doc_id", F.explode("tiles").alias("t")
                ).select(
                    "doc_id",
                    F.col("t.tile_idx").alias("tile_idx"),
                    F.col("t.thash").alias("thash"),
                ),
                max_distance=self.cfg.media_max_distance,
                min_shared=self.cfg.media_span_min_shared,
                max_group=self.cfg.lsh_max_group,
                id_col="doc_id",
            ).select("id_a", "id_b")
            # round-13: partial-AUDIO spans ride the same switch — a
            # doc whose clip embeds another doc's jingle (hop-aligned,
            # incl. across PCM↔ADPCM) joins the same component pass
            aspan = PH.audio_span_pairs_from_windows(
                feats.select(
                    "doc_id", F.explode("wins").alias("w")
                ).select(
                    "doc_id",
                    F.col("w.win_idx").alias("win_idx"),
                    F.col("w.whash").alias("whash"),
                ),
                max_distance=self.cfg.media_max_distance,
                min_shared=self.cfg.media_audio_min_shared,
                max_group=self.cfg.lsh_max_group,
                id_col="doc_id",
            ).select("id_a", "id_b")
            pairs = pairs.unionByName(span).unionByName(aspan).distinct()
        clusters = dedup_clusters(
            pairs.select(
                F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
            )
        )
        drop = clusters.where(F.col("is_canonical") == 0).select("doc_id")
        out = docs.join(F.broadcast(drop), "doc_id", "left_anti")
        write_parquet(out, f"{self.cfg.work_dir}/media_deduped")
        write_parquet(clusters, f"{self.cfg.work_dir}/media_dup_clusters")
        return self._read_stage(f"{self.cfg.work_dir}/media_deduped")

    # -- stage 4: benchmark decontamination ----------------------------
    def decontaminate(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.decontam import (
            contamination_report,
            with_bench_split,
        )

        # tag the split ONCE and derive both the report's inputs and
        # the train side from it — a second with_bench_split call
        # would duplicate the md5 pass and could silently disagree on
        # seed/frac if the two calls ever drifted apart
        tagged = with_bench_split(docs, bench_frac=self.cfg.decon_bench_frac)
        train = tagged.where(~F.col("is_bench")).drop("is_bench")
        rep = contamination_report(
            docs,
            n=self.cfg.decon_n,
            contaminated_min_frac=self.cfg.decon_min_frac,
            tagged=tagged,
        )
        # contaminated ids are a small set — broadcast anti join, the
        # corpus never shuffles (same shape as the near-dedup drop).
        # NOTE: the held-out split itself also leaves the training
        # corpus here — eval documents are not training data.
        bad = rep.where(F.col("contaminated")).select("doc_id")
        if self.cfg.decon_fuzzy:
            # round-14: the fuzzy (MinHash + exact-Jaccard) screen
            # UNIONS into the drop set — paraphrased/partial overlap
            # the exact n-gram rule misses; same tagged split by
            # construction
            from prod2vec_spark.operators.decontam import (
                fuzzy_contamination_report,
            )

            fuzzy_bad = (
                fuzzy_contamination_report(
                    docs,
                    num_hashes=self.cfg.decon_fuzzy_hashes,
                    band_size=self.cfg.decon_fuzzy_band,
                    min_jaccard=self.cfg.decon_fuzzy_jaccard,
                    tagged=tagged,
                )
                .where(F.col("contaminated"))
                .select("doc_id")
            )
            bad = bad.unionByName(fuzzy_bad).distinct()
        out = train.join(F.broadcast(bad), "doc_id", "left_anti")
        write_parquet(out, f"{self.cfg.work_dir}/decontaminated",
                      partition_by=["lang"])
        # consumers: chunk tokenize, pack encode, stats token aggs
        return self._read_stage(f"{self.cfg.work_dir}/decontaminated")

    # -- stage 5: training-sequence chunking ---------------------------
    def chunk(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.chunking import doc_chunks

        chunks = doc_chunks(
            docs,
            seq_len=self.cfg.chunk_len,
            stride=self.cfg.chunk_stride,
            min_len=self.cfg.chunk_min,
        )
        write_parquet(chunks, f"{self.cfg.work_dir}/chunks")
        return self.spark.read.parquet(f"{self.cfg.work_dir}/chunks")

    # -- stage 6: stats report -----------------------------------------
    def stats(
        self,
        n_input: int,
        n_exact: int,
        n_quality: int,
        n_neardedup: int,
        final: DataFrame,
        chunks: DataFrame,
    ) -> DataFrame:
        budget = final.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(TX.tokens(F.col("text")))).alias("n_ws_tokens"),
            F.sum(TX.bpe_ish_token_count(F.col("text"))).alias("n_bpe_tokens"),
        ).first()
        cagg = chunks.agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_chunk_tokens"),
        ).first()
        rows = [
            ("input", n_input),
            ("after_exact_dedup", n_exact),
            ("after_quality_filter", n_quality),
            ("after_near_dedup", n_neardedup),
            ("final", budget["n_docs"]),
            ("final_ws_tokens", budget["n_ws_tokens"]),
            ("final_bpe_tokens", budget["n_bpe_tokens"]),
            ("final_chunks", cagg["n_chunks"]),
            ("final_chunk_tokens", cagg["n_chunk_tokens"]),
        ]
        if self.cfg.tokenizer == "wordpiece":
            # wordpiece family: report final_model_tokens in ITS model
            # tokens (train here when pack didn't run — the unigram
            # rule: a configured family never falls through to BPE)
            from prod2vec_spark.operators.wordpiece import (
                train_wordpiece,
                wordpiece_counter,
            )

            if self._wp_vocab is None and self.cfg.wordpiece_merges > 0:
                self._wp_vocab = train_wordpiece(
                    final,
                    n_merges=self.cfg.wordpiece_merges,
                    max_vocab_words=self.cfg.bpe_vocab_words,
                )
            if self._wp_vocab is not None:
                n_model = final.agg(
                    F.coalesce(
                        F.sum(
                            wordpiece_counter(self._wp_vocab)(F.col("text"))
                        ),
                        F.lit(0),
                    ).alias("n")
                ).first()["n"]
                rows.append(("final_model_tokens", int(n_model)))
        elif self.cfg.tokenizer == "unigram":
            # unigram family: report the final budget in ITS model
            # tokens.  run()'s pack stage usually trained the piece
            # table; with pack_budget=0 train it here so the stats
            # never silently fall through to the BPE branch (a
            # 'unigram' config must never report BPE-token counts).
            from prod2vec_spark.operators.unigram import (
                train_unigram,
                unigram_counter,
            )

            if self._uni_model is None and self.cfg.unigram_vocab_size > 0:
                self._uni_model = train_unigram(
                    final,
                    vocab_size=self.cfg.unigram_vocab_size,
                    max_vocab_words=self.cfg.bpe_vocab_words,
                )
            if self._uni_model is not None:
                n_model = final.agg(
                    F.coalesce(
                        F.sum(
                            unigram_counter(self._uni_model)(F.col("text"))
                        ),
                        F.lit(0),
                    ).alias("n")
                ).first()["n"]
                rows.append(("final_model_tokens", int(n_model)))
        elif self.cfg.tokenizer == "bpe" and self.cfg.bpe_merges > 0:
            # the corpus's OWN trained tokenizer: the final budget in
            # model tokens (merge table persisted for downstream use);
            # run() may hand the table in so pack + stats train once
            from prod2vec_spark.operators.bpe import bpe_counter, train_bpe

            merges = self._merges if self._merges is not None else train_bpe(
                final,
                n_merges=self.cfg.bpe_merges,
                max_vocab_words=self.cfg.bpe_vocab_words,
            )
            mt = self.spark.createDataFrame(
                [(i, a, b) for i, (a, b) in enumerate(merges)],
                "merge_rank int, left string, right string",
            )
            write_parquet(mt, f"{self.cfg.work_dir}/bpe_merges")
            n_model = final.agg(
                F.coalesce(
                    F.sum(bpe_counter(merges)(F.col("text"))), F.lit(0)
                ).alias("n")
            ).first()["n"]
            rows.append(("final_model_tokens", int(n_model)))
        if "split" in final.columns:  # holdout_split on: per-split sizes
            rows += sorted(
                (f"final_{r['split']}", r["n"])
                for r in final.groupBy("split")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
        # per-stage wall time of this run (VERDICT r9 ask #4): the
        # checkpoints delimit the stages, so each t_ms_* row is the
        # real cost of that stage including the lineage it forced;
        # disabled stages (lazy pass-throughs, ~0 ms) are filtered
        rows += sorted(
            (f"t_ms_{k}", v) for k, v in self._stage_ms.items() if v > 0
        )
        report = self.spark.createDataFrame(rows, "stage string, n long")
        write_parquet(report, f"{self.cfg.work_dir}/curation_report")
        return report

    # -- drop ledger (post-hoc provenance audit) ------------------------
    def drop_ledger(self) -> DataFrame:
        """Per-document provenance over the LAST ``run()``: one row
        ``(doc_id, dropped_at)`` for every input document that did not
        reach the final corpus, naming the stage that removed it —
        "why did my document disappear?" answered from the existing
        stage checkpoints, with ZERO changes to the hot path.

        Partition contract (pytest-locked): input ids = final ids ∪
        ledger ids, disjoint — every drop is attributed to exactly one
        stage.  Disjointness is by construction: the stage chain is
        monotone (a doc absent from checkpoint k is absent from all
        later ones), so each doc falls out of exactly one interval.

        Scale shape: one id-only left-anti join per stage boundary
        (the probe side shrinks monotonically; shuffles carry a single
        long column) + a union of the per-stage drop sets.  The fused
        line-filter stage has no checkpoint — its survivors are
        recomputed via the deterministic row-local ``_scrubbed`` scan,
        the same replay ``incremental_update`` relies on.
        """
        cfg = self.cfg
        chain: list[tuple[str, DataFrame]] = []
        if cfg.line_filter:
            # badwords=False isolates the line filter's own drops;
            # the badwords entry below then attributes the rest
            chain.append(
                ("line_filter", self._scrubbed(cfg.sf_dir, badwords=False))
            )
        if cfg.badwords_cats or cfg.badwords_lang_lists:
            chain.append(("badwords_gate", self._scrubbed(cfg.sf_dir)))
        if bool(cfg.domain_blocklist) or cfg.domain_cap_k > 0:
            chain.append(
                ("url_curation",
                 self.spark.read.parquet(f"{cfg.work_dir}/url_curated"))
            )
        if cfg.adaptive_block_k > 0:
            chain.append(
                ("adaptive_block",
                 self.spark.read.parquet(f"{cfg.work_dir}/adaptive_blocked"))
            )
        chain.append(
            ("exact_dedup",
             self.spark.read.parquet(f"{cfg.work_dir}/exact_deduped"))
        )
        if cfg.segment_dedup:
            chain.append(
                ("segment_dedup",
                 self.spark.read.parquet(f"{cfg.work_dir}/segment_deduped"))
            )
        if cfg.sentence_dedup:
            chain.append(
                ("sentence_dedup",
                 self.spark.read.parquet(f"{cfg.work_dir}/sentence_deduped"))
            )
        chain.append(
            ("quality_filter",
             self.spark.read.parquet(f"{cfg.work_dir}/quality_kept"))
        )
        if cfg.lm_gate:
            chain.append(
                ("lm_gate", self.spark.read.parquet(f"{cfg.work_dir}/lm_kept"))
            )
        chain.append(
            ("near_dedup", self.spark.read.parquet(f"{cfg.work_dir}/curated"))
        )
        if cfg.semantic_dedup:
            chain.append(
                ("semantic_dedup",
                 self.spark.read.parquet(f"{cfg.work_dir}/semantic_deduped"))
            )
        if cfg.media_path is not None:
            chain.append(
                ("media_dedup",
                 self.spark.read.parquet(f"{cfg.work_dir}/media_deduped"))
            )
        chain.append(
            ("decontaminate",
             self.spark.read.parquet(f"{cfg.work_dir}/decontaminated"))
        )

        prev = read_table(self.spark, cfg.sf_dir, "documents").select("doc_id")
        ledger = None
        for stage, df in chain:
            cur = df.select("doc_id")
            dropped = prev.join(cur, "doc_id", "left_anti").withColumn(
                "dropped_at", F.lit(stage)
            )
            ledger = dropped if ledger is None else ledger.unionByName(dropped)
            prev = cur
        write_parquet(ledger, f"{cfg.work_dir}/drop_ledger")
        return self.spark.read.parquet(f"{cfg.work_dir}/drop_ledger")

    # -- full run -------------------------------------------------------
    def run(self) -> DataFrame:
        import time

        self._stage_ms = {}
        t0 = time.monotonic()
        self.gates()
        # stamp gates BEFORE the input scan so the initial documents
        # read + count() is attributed to its own 'input' row, not
        # inflated into the gates wall-time
        self._stage_ms["gates"] = int((time.monotonic() - t0) * 1000)
        t0 = time.monotonic()
        docs = read_table(self.spark, self.cfg.sf_dir, "documents")
        n_input = docs.count()
        self._stage_ms["input"] = int((time.monotonic() - t0) * 1000)
        exact = self.exact_dedup()  # times url_curation/adaptive_block/itself
        n_exact = exact.count()
        if self.cfg.segment_dedup:
            exact = self._timed("segment_dedup", self.segment_dedup, exact)
        if self.cfg.sentence_dedup:
            exact = self._timed("sentence_dedup", self.sentence_dedup, exact)
        quality = self._timed("quality_filter", self.quality_filter, exact)
        if self.cfg.lm_gate:
            quality = self._timed("lm_gate", self.lm_gate, quality)
        n_quality = quality.count()
        deduped = self._timed("near_dedup", self.near_dedup, quality)
        if self.cfg.semantic_dedup:
            deduped = self._timed("semantic_dedup", self.semantic_dedup, deduped)
        if self.cfg.media_path is not None:
            deduped = self._timed("media_dedup", self.media_dedup, deduped)
        n_neardedup = deduped.count()
        final = self._timed("decontaminate", self.decontaminate, deduped)
        if self.cfg.holdout_split:
            final = self._timed("holdout_split", self.split_holdout, final)
            train = final.where(F.col("split") == "train").drop("split")
        else:
            train = final
        if self.cfg.mix_report:
            self._timed("mix_report", self.write_mix_report, final)
        chunks = self._timed("chunk", self.chunk, train)
        if self.cfg.pack_budget > 0:
            # trainable shards: pack the TRAIN side into per-bin
            # input_ids under the corpus's own tokenizer (family
            # chosen by cfg.tokenizer — both ride the tokens_fn seam)
            if self.cfg.tokenizer not in ("bpe", "unigram", "wordpiece"):
                raise ValueError(
                    f"unknown tokenizer {self.cfg.tokenizer!r} "
                    "(expected 'bpe', 'unigram' or 'wordpiece')"
                )
            from prod2vec_spark.operators.bpe import token_vocab
            from prod2vec_spark.operators.chunking import pack_token_ids

            t0 = time.monotonic()
            if self.cfg.tokenizer == "wordpiece":
                if self.cfg.wordpiece_merges <= 0:
                    raise ValueError(
                        "pack_budget with tokenizer='wordpiece' requires "
                        "wordpiece_merges > 0"
                    )
                from prod2vec_spark.operators.wordpiece import (
                    train_wordpiece,
                    wordpiece_counter,
                    wordpiece_tokens,
                )

                self._wp_vocab = train_wordpiece(
                    final,
                    n_merges=self.cfg.wordpiece_merges,
                    max_vocab_words=self.cfg.bpe_vocab_words,
                )
                wpv = self._wp_vocab
                write_parquet(
                    self.spark.createDataFrame(
                        [(p,) for p in wpv], "piece string"
                    ),
                    f"{self.cfg.work_dir}/wordpiece_vocab",
                )
                merges = []
                tokens_fn = lambda c: wordpiece_tokens(c, wpv)  # noqa: E731
                count_fn = wordpiece_counter(wpv)
            elif self.cfg.tokenizer == "unigram":
                if self.cfg.unigram_vocab_size <= 0:
                    raise ValueError(
                        "pack_budget with tokenizer='unigram' requires "
                        "unigram_vocab_size > 0"
                    )
                from prod2vec_spark.operators.unigram import (
                    train_unigram,
                    unigram_counter,
                    unigram_tokens,
                )

                self._uni_model = train_unigram(
                    final,
                    vocab_size=self.cfg.unigram_vocab_size,
                    max_vocab_words=self.cfg.bpe_vocab_words,
                )
                model = self._uni_model
                pieces = self.spark.createDataFrame(
                    [(p, lp) for p, lp in model],
                    "piece string, logprob double",
                )
                write_parquet(pieces, f"{self.cfg.work_dir}/unigram_pieces")
                merges: list = []
                tokens_fn = lambda c: unigram_tokens(c, model)  # noqa: E731
                count_fn = unigram_counter(model)
            else:
                if self.cfg.bpe_merges <= 0:
                    raise ValueError(
                        "pack_budget requires bpe_merges > 0 (the packed "
                        "ids need the corpus-trained merge table)"
                    )
                from prod2vec_spark.operators.bpe import train_bpe

                self._merges = train_bpe(
                    final,
                    n_merges=self.cfg.bpe_merges,
                    max_vocab_words=self.cfg.bpe_vocab_words,
                )
                merges = self._merges
                tokens_fn = None
                count_fn = None
            # Round-16 (guide §4.2/§8 decode-once): run the tokenizer
            # over the train corpus EXACTLY ONCE and persist the token
            # arrays; the vocab aggregation and the packer then read
            # columns instead of re-encoding (the wordpiece/unigram
            # encoders are pandas_udf boundaries — previously paid 3×
            # per pack: vocab + count + ids; measured 39 s → the
            # dominant __curation_all__ stage).  Identity tokens_fn
            # over the staged array column keeps both operators'
            # dataflow unchanged.
            from prod2vec_spark.operators.bpe import bpe_tokens

            tf = tokens_fn if tokens_fn is not None else (
                lambda c: bpe_tokens(c, merges)
            )
            write_parquet(
                train.select(
                    "doc_id", "lang", tf(F.col("text")).alias("_toks")
                ),
                f"{self.cfg.work_dir}/train_tokens",
            )
            staged = self._read_stage(
                f"{self.cfg.work_dir}/train_tokens"
            )
            ident = lambda c: c  # noqa: E731
            vocab = token_vocab(
                staged, merges, text_col="_toks", tokens_fn=ident
            )
            write_parquet(vocab, f"{self.cfg.work_dir}/token_vocab")
            vocab = self.spark.read.parquet(f"{self.cfg.work_dir}/token_vocab")
            packed = pack_token_ids(
                staged,
                merges,
                vocab,
                budget=self.cfg.pack_budget,
                n_shards=self.cfg.pack_shards,
                text_col="_toks",
                tokens_fn=ident,
                count_fn=lambda c: F.size(c),
            )
            write_parquet(packed, f"{self.cfg.work_dir}/input_ids")
            self._stage_ms["pack"] = int((time.monotonic() - t0) * 1000)
        if self.cfg.epoch_shards > 0:
            from prod2vec_spark.operators.shards import write_epoch_shards

            t0 = time.monotonic()
            write_epoch_shards(
                chunks.withColumn(
                    "chunk_key",
                    F.col("doc_id") * F.lit(100000) + F.col("chunk_idx"),
                ),
                f"{self.cfg.work_dir}/epoch0",
                epoch=0,
                n_shards=self.cfg.epoch_shards,
                id_col="chunk_key",
            )
            self._stage_ms["epoch_shards"] = int((time.monotonic() - t0) * 1000)
        return self.stats(
            n_input, n_exact, n_quality, n_neardedup, final, chunks
        )

    # -- stage 5.5: held-out split (optional) --------------------------
    def split_holdout(self, docs: DataFrame) -> DataFrame:
        """Deterministic hash split of the curated corpus; the
        checkpoint is hive-partitioned by split so the train reader
        prunes the eval directories (and vice versa).  Row-local — no
        shuffle beyond the partitioned write."""
        from prod2vec_spark.operators.splits import assign_split, group_split

        if self.cfg.split_group_col is not None:
            if self.cfg.split_group_col not in docs.columns:
                raise ValueError(
                    f"split_group_col {self.cfg.split_group_col!r} is "
                    f"absent from the corpus"
                )
            out = group_split(
                docs, self.cfg.split_group_col, seed=self.cfg.split_seed
            )
        else:
            out = assign_split(docs, key_col="doc_id", seed=self.cfg.split_seed)
        write_parquet(out, f"{self.cfg.work_dir}/final_split",
                      partition_by=["split"])
        return self._read_stage(f"{self.cfg.work_dir}/final_split")

    # -- mixing-recipe report (optional) -------------------------------
    def write_mix_report(self, docs: DataFrame) -> DataFrame:
        """Per-source temperature recipe over the final corpus — the
        bounded per-source table the training loader samples from."""
        from prod2vec_spark.operators.mixing import temperature_mix

        rep = temperature_mix(
            docs, alpha=self.cfg.mix_alpha, budget_tokens=self.cfg.mix_budget
        )
        write_parquet(rep, f"{self.cfg.work_dir}/mix_report")
        return rep

    # -- incremental crawl update ---------------------------------------
    def incremental_update(self, new_sf_dir: str) -> DataFrame:
        """Process crawl N+1 against crawl N's committed ``work_dir``:
        only added/changed documents run the expensive per-document
        machinery (digesting, shingling, minhashing); the archive
        contributes its PERSISTED artifacts — the exact-dedup survivor
        store, the frozen quality threshold, the 32-byte band table,
        and the near-dup cluster spanning edges.  Updated stage
        checkpoints land under ``work_dir/incr``; returns the updated
        curated corpus.

        Contract (pytest-locked): for append-style ingestion
        (monotonically-growing ids, no removals) with the group cap
        disabled, the updated curated set EQUALS a from-scratch run
        over crawl N+1 under the same frozen threshold.  Documented
        approximations outside that envelope, standard for
        incremental dedup systems:

        * thresholds are FROZEN between full rebuilds (recomputing
          them would re-gate the whole archive every crawl);
        * a removed/changed doc's exact-dup group members are not
          resurrected, and removing a near-dup cluster's bridge node
          does not split the cluster — departures accumulate until
          the periodic full rebuild (run() on the new snapshot);
        * the LSH group cap applies per-ingest (a group crossing the
          cap threshold mid-stream keeps its pre-cap pairs).

        Row-local scans of the prior stores (digest, quality score)
        do run — those are cheap; what never re-runs is the
        shingle/minhash/pair machinery for unchanged documents.
        """
        cfg = self.cfg
        unsupported = [
            name
            for name, on in [
                ("canonical_policy!=min_id", cfg.canonical_policy != "min_id"),
                ("quality_scope!=global", cfg.quality_scope != "global"),
                ("segment_dedup", cfg.segment_dedup),
                ("sentence_dedup", cfg.sentence_dedup),
                ("lm_gate", cfg.lm_gate),
                ("semantic_dedup", cfg.semantic_dedup),
                ("editdist_verify", cfg.editdist_verify),
                ("compression_gate", cfg.compression_gate),
                ("media_path", cfg.media_path is not None),
                ("domain_blocklist", bool(cfg.domain_blocklist)),
                ("domain_cap_k", cfg.domain_cap_k > 0),
                ("adaptive_block_k", cfg.adaptive_block_k > 0),
                ("pack_budget", cfg.pack_budget > 0),
                ("url_dedup", cfg.url_dedup),
            ]
            if on
        ]
        if unsupported:
            raise ValueError(
                "incremental_update supports the default stage set; "
                f"unsupported options active: {unsupported}"
            )
        from prod2vec_spark.operators.graph import dedup_clusters

        spark = self.spark
        incr = f"{cfg.work_dir}/incr"
        old = self._scrubbed(cfg.sf_dir)
        new = self._scrubbed(new_sf_dir)
        diff = DD.snapshot_diff(old, new)
        delta_ids = diff.where(
            F.col("status").isin("added", "changed")
        ).select("doc_id")
        gone_ids = diff.where(
            F.col("status").isin("removed", "changed")
        ).select("doc_id")

        # exact plane: prior survivors minus departures, plus the
        # delta's min-id-per-digest survivors whose digest is unseen
        prior_exact = spark.read.parquet(f"{cfg.work_dir}/exact_deduped")
        kept_prior = prior_exact.join(F.broadcast(gone_ids), "doc_id", "left_anti")
        delta = new.join(F.broadcast(delta_ids), "doc_id", "left_semi")
        dsurv = delta.join(
            DD.exact_dup_groups(delta).select(
                F.col("keep_doc_id").alias("doc_id")
            ),
            "doc_id",
            "left_semi",
        )
        prior_digests = kept_prior.select(
            DD.text_digest(F.col("text")).alias("_h")
        ).distinct()
        dsurv = (
            dsurv.withColumn("_h", DD.text_digest(F.col("text")))
            .join(prior_digests, "_h", "left_anti")
            .drop("_h")
        )
        if cfg.repetition_gate:
            # row-local and parameter-frozen, so the gate is exactly
            # incremental: prior survivors already passed it in the
            # batch run (their texts are unchanged); only the delta
            # needs the predicate
            from prod2vec_spark.operators import repetition as RP
            from prod2vec_spark.operators.text import tokens as _tokens

            staged = (
                dsurv.withColumn("_toks", _tokens(F.col("text")))
                .withColumn("_g2", RP.word_ngrams(F.col("_toks"), 2))
                .withColumn("_g3", RP.word_ngrams(F.col("_toks"), 3))
            )
            dsurv = staged.where(
                RP.repetition_gate(
                    RP.top_gram_fraction(F.col("_g2")),
                    RP.dup_gram_fraction(F.col("_g3")),
                    F.size(F.col("_g2")),
                )
            ).drop("_toks", "_g2", "_g3")
        write_parquet(kept_prior.unionByName(dsurv), f"{incr}/exact_deduped")
        exact2 = spark.read.parquet(f"{incr}/exact_deduped")

        # quality plane: the FROZEN batch threshold, applied row-locally
        thr = spark.read.parquet(f"{cfg.work_dir}/quality_thr")
        kept2 = (
            exact2.withColumn("q", TX.quality_score(F.col("text")))
            .crossJoin(F.broadcast(thr))
            .where(F.col("q") >= F.col("q_thr"))
            .drop("q_thr", "q")
        )
        write_parquet(kept2, f"{incr}/quality_kept")
        kept2 = spark.read.parquet(f"{incr}/quality_kept")

        # near-dup plane: stored bands for the surviving archive, the
        # delta banded fresh inside incremental_lsh_candidates; prior
        # connectivity re-enters as cluster spanning edges
        prior_bands = spark.read.parquet(f"{cfg.work_dir}/bands").join(
            F.broadcast(gone_ids), "doc_id", "left_anti"
        )
        delta_nd = kept2.join(F.broadcast(delta_ids), "doc_id", "left_semi")
        pairs_delta = DD.incremental_lsh_candidates(
            prior_bands,
            delta_nd,
            shingle_k=cfg.shingle_k,
            max_group=cfg.lsh_max_group,
        )
        prior_edges = (
            spark.read.parquet(f"{cfg.work_dir}/near_dup_clusters")
            .where(F.col("doc_id") != F.col("cluster_id"))
            .select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("doc_b"))
        )
        gone_a = gone_ids.select(F.col("doc_id").alias("doc_a"))
        gone_b = gone_ids.select(F.col("doc_id").alias("doc_b"))
        prior_edges = prior_edges.join(F.broadcast(gone_a), "doc_a", "left_anti").join(
            F.broadcast(gone_b), "doc_b", "left_anti"
        )
        edges = prior_edges.unionByName(pairs_delta)
        clusters = dedup_clusters(edges)
        write_parquet(clusters, f"{incr}/near_dup_clusters")
        drop = clusters.where(F.col("is_canonical") == 0).select("doc_id")
        curated2 = kept2.join(F.broadcast(drop), "doc_id", "left_anti")
        write_parquet(curated2, f"{incr}/curated", partition_by=["lang"])
        return spark.read.parquet(f"{incr}/curated")
