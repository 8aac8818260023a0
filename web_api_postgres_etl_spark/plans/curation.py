"""The end-to-end training-data preparation plan: one callable that
takes a raw documents table and a benchmark table and produces packed,
sharded, leakage-safe training examples — every stage a verified
operator from this package, composed in the order a production corpus
run uses them:

    [URL dedup → domain caps] → [HTML extract] → clean_text
    → [C4 line/page rules] → gopher gate → PII scrub
    → [repetition gates] → [sentence dedup] → [LM perplexity gate]
    → [classifier quality gate] → benchmark decontamination
    → [exact-substring cut] → exact dedup → near-dup cluster dedup
    [∪ winnowing pairs] → leakage-safe split → chunk → pack per shard

(bracketed stages are config-gated and default OFF — the driver
oracle `training_data_e2e` pins the unbracketed spine bit-for-bit)

Scale posture inherits from the stages: filters/scrubs are one-scan
column expressions, every dedup shuffles digests/ids (never bodies),
near-dup candidate generation is banded, the split is md5 arithmetic,
and chunk+pack add no shuffle beyond the per-shard pack window.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import pin
from ..functions.text import gopher_flags, redact_pii
from ..operators.dedup import (
    dedup_exact_hashed,
    decontaminate,
    jaccard_join_prefix,
    near_dup_pairs,
)
from ..operators.graph import dedup_clusters
from ..operators.sampling import (
    chunk_documents,
    leakage_safe_split,
    pack_sequences,
)


@dataclass
class CurationConfig:
    html_extract: bool = False          # text col holds raw HTML →
    #   strip containers + boilerplate lines first (functions/html.py)
    html_boiler_max_words: int = 12     # short-line chrome threshold
    html_max_link_density_pct: int = 50  # nav-menu link-density cut
    normalize_text: bool = True         # C4-style clean_text first
    c4_line_rules: bool = False         # C4 line/page retention rules
    sentence_dedup_max_docs: int | None = None  # None = stage off;
    #   set → strip sentences occurring in more than this many
    #   docs (catches boilerplate glued MID-LINE to prose that
    #   the line rules cannot see)
    sentence_min_words: int = 4         # shorter repeats always kept
    c4_min_words: int = 5               # words per surviving line
    c4_min_lines: int = 3               # surviving lines per kept page
    url_col: str | None = None          # set → C4-style URL dedup first
    domain_quota: int | None = None     # with url_col: per-domain cap
    min_gopher_rules: int = 7           # rules required to keep (7 = all)
    max_top_ngram_frac: float | None = None   # Gopher repetition gates
    max_dup_ngram_frac: float | None = None   # (None = stage skipped)
    repetition_ngram: int = 2
    gopher_repetition: bool = False     # full 13-rule char-fraction set
    repetition_thresholds: dict | None = None  # per-rule overrides
    max_ppl: float | None = None        # LM-filter gate (None = skipped)
    ppl_reference: object | None = None  # reference-corpus DataFrame
    ppl_model_counts: object | None = None  # prebuilt (term,count) table
    #   (build_unigram_model output, e.g. read from parquet) — skips
    #   the counting pass; takes precedence over ppl_reference
    quality_model: object | None = None  # fitted classifier (None = skipped)
    min_quality_prob: float = 0.5       # classifier gate threshold
    dsir_target_counts: object | None = None  # TARGET-domain unigram
    #   model (build_unigram_model output, e.g. read from parquet);
    #   None = DSIR selection stage off (stage-default-off rule). Set →
    #   every doc scored by dsir_logratio against this target vs the
    #   raw model, then selected by the gate and/or the resample below
    #   (at least one must be configured, else the stage raises).
    dsir_raw_counts: object | None = None  # prebuilt raw-corpus model;
    #   None = counted from the gated corpus itself (the one-shot shape)
    dsir_min_logratio: float | None = None  # gate form: keep docs with
    #   log_ratio >= t (the q_dsir_gate discipline — gap-scan t)
    dsir_sample_n: int | None = None    # resample form: draw exactly n
    #   docs w.p. ∝ exp(clamped log_ratio) — DSIR's actual
    #   importance-resampling step (weighted_sample_exact_n)
    dsir_clamp: float = 5.0             # |log_ratio| clamp before exp
    dsir_salt: str = "dsir"             # md5-draw salt for the resample
    dsir_hashed_buckets: int | None = None  # set → dsir_target_counts /
    #   dsir_raw_counts are build_hashed_ngram_model tables (the
    #   paper-faithful fixed-dimension feature space) and scoring runs
    #   dsir_logratio_hashed with this bucket count (must match the
    #   models'); None = raw-unigram dsir_logratio
    dsir_hash_salt: str = "dsir-h"      # md5 feature-bucket salt (must
    #   match the models')
    exact_substring_k: int | None = None   # ExactSubstr window (None = off)
    exact_substring_min_count: int = 2
    ngram_n: int = 8                    # decontamination gram width
    shingle_n: int = 2                  # near-dup shingles
    num_hashes: int = 8
    bands: int = 4
    jaccard_threshold: float = 0.5
    survivor_score_col: str | None = None  # None = min-id survivor;
    #   set → each near-dup cluster keeps its HIGHEST-scoring member
    #   (RefinedWeb/DCLM practice; ties → min id, NULL scores lose)
    exact_jaccard: bool = False         # True → prefix-filtered EXACT
    #   Jaccard pairs (jaccard_join_prefix — completeness-guaranteed;
    #   audits/legal holds) instead of the MinHash+LSH approximation
    winnow_min_shared: int | None = None  # None = winnow stage off;
    #   set → union winnowing fingerprint pairs (contiguous-overlap
    #   twins Jaccard dilutes on long documents) into the near-dup
    #   clustering, so they dedup and split-travel together too
    winnow_k: int = 8                   # char-gram width
    winnow_window: int = 4              # winnowing window
    winnow_max_fp_df: int | None = None  # boilerplate hot-key guard
    split_weights: dict = field(
        default_factory=lambda: {"train": 0.9, "val": 0.1}
    )
    chunk_words: int = 256
    chunk_overlap: int = 0
    window_tokens: int = 1024           # pack window (word-count proxy)
    bpe_pack_rules: list | None = None  # None = pack on the word-count
    #   proxy (n_chunk_words); set to mined (lhs, rhs) merge rules
    #   (bpe_merge_rules output) → each chunk is segmented under the
    #   TRAINED tokenizer (bpe_apply) and packing windows count REAL
    #   subword tokens (n_bpe_tokens) — what the training run actually
    #   consumes. Default off (stage-default-off contract rule).
    num_shards: int = 8


def release_pins(pins: list[DataFrame]) -> None:
    """Release every frame ``prepare_training_data`` appended to the
    caller's ``pins`` list — call AFTER materializing the returned plan
    (write/collect). The pins are local checkpoints with no lineage, so
    nothing recomputes them: releasing before the result is
    materialized makes the result unreadable (its scans of the pinned
    blocks fail), as does reading any frame derived from a pin
    afterwards."""
    from ..caching import release_frame

    for frame in pins:
        release_frame(frame)
    pins.clear()


def prepare_training_data(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    config: CurationConfig | None = None,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Raw documents + benchmark → packed training chunks.

    Returns one row per chunk: (id, chunk_idx, chunk_text,
    n_chunk_words, split, shard, pack_id, pack_offset). Deterministic
    end to end — reruns produce identical assignments (md5 draws,
    min-id survivors, pinned pack order).

    Near-dup handling keeps each cluster's min-id document (or its
    best-``survivor_score_col`` member when configured) and keys the
    split on cluster representatives, so a dropped twin can never
    reappear and a kept twin can never straddle the split boundary.

    Session hygiene: the plan pins its multi-consumer staging frames
    (documented inline) with ``caching.pin``, an eager local
    checkpoint: each is computed while this function runs, and every
    later stage reads it as a one-node scan instead of re-embedding
    its upstream plan. Operators pin their own reused intermediates
    into the same list (the near-dup candidates and shingles, the
    perplexity model, the final component labels). A one-shot run can
    ignore them — executors release storage at session end. A
    LONG-LIVED session calling this repeatedly should pass ``pins=[]``
    and call ``release_pins(pins)`` once the returned frame is
    materialized, or pinned RDDs accumulate across invocations.
    """
    cfg = config or CurationConfig()

    # 0a. URL-level reduction (C4 order: the cheapest corpus-wide cut
    # runs first — one normalized-URL digest dedup, then the optional
    # per-registrable-domain cap)
    if cfg.url_col is not None:
        from ..functions.urls import dedup_by_url
        from ..functions.urls import domain_quota as _domain_quota

        docs = dedup_by_url(docs, cfg.url_col, id_col)
        if cfg.domain_quota is not None:
            # private column name: crawl metadata often already carries
            # a 'domain' column that must survive untouched
            docs = _domain_quota(
                docs, cfg.url_col, id_col, cfg.domain_quota,
                domain_col="__curation_domain",
            ).drop("__curation_domain")

    # 0a2. HTML → visible text (when the corpus lands as raw crawl
    # HTML): container strip + block-boundary lines + boilerplate-line
    # drop, one narrow expression pass — BEFORE normalization so
    # clean_text / C4 rules / digests all see extracted prose, never
    # markup. Default off: the spine corpora are already extracted
    # text (the stage-default-off contract-protection rule).
    if cfg.html_extract:
        from ..functions.html import html_to_text

        docs = docs.withColumn(
            text_col,
            html_to_text(
                text_col,
                boiler_max_words=cfg.html_boiler_max_words,
                max_link_density_pct=cfg.html_max_link_density_pct,
            ),
        )

    # 0b. normalization (control chars, unicode spaces, blank walls) —
    # BEFORE gating so rule counters and dedup digests see clean text
    if cfg.normalize_text:
        from ..functions.text import clean_text

        docs = docs.withColumn(text_col, clean_text(text_col))

    # 0c. optional C4 line/page retention rules (Raffel et al. 2020):
    # drop source-code / placeholder / emptied pages, then rebuild the
    # survivors from their retained lines — one narrow expression pass,
    # before any gating so downstream digests see the cleaned text.
    # NULL-text pages drop with the stage on (their flags are NULL —
    # C4 has no disposition for a page with no text)
    if cfg.c4_line_rules:
        from ..functions.text import _c4_flags_from_clean, c4_clean_lines

        clash = {"__c4", "__c4_clean"} & set(docs.columns)
        if clash:
            raise ValueError(
                f"input columns {sorted(clash)} collide with the C4 "
                "stage's internal columns — rename them before running "
                "with c4_line_rules=True (the stage would otherwise "
                "silently overwrite and delete them)"
            )
        # clean ONCE (project), derive flags from the cleaned column,
        # filter, then promote the cleaned text — Catalyst performs no
        # CSE across the Filter, so flags and rebuild must share the
        # materialized column, not the expression
        docs = (
            docs.withColumn(
                "__c4_clean",
                c4_clean_lines(text_col, min_words=cfg.c4_min_words),
            )
            .withColumn(
                "__c4",
                _c4_flags_from_clean(
                    text_col, F.col("__c4_clean"), cfg.c4_min_lines
                ),
            )
            .filter(
                ~F.col("__c4.has_brace")
                & ~F.col("__c4.has_lorem")
                & ~F.col("__c4.too_short")
            )
            .withColumn(text_col, F.col("__c4_clean"))
            .drop("__c4", "__c4_clean")
        )

    # 1. rule gate + scrub (one scan, pure expressions). The gate is
    # "≥ min_gopher_rules of 7 pass" — 7 is the paper's strict AND;
    # corpora without natural English prose need a looser bar
    n_rules = None
    for r in (
        "r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_required_words",
    ):
        term = F.col(f"__gf.{r}").cast("int")
        n_rules = term if n_rules is None else (n_rules + term)
    gated = (
        docs.withColumn("__gf", gopher_flags(text_col))
        .filter(n_rules >= cfg.min_gopher_rules)
        .drop("__gf")
        .withColumn(text_col, redact_pii(text_col))
    )

    # 1b. optional Gopher repetition gates (top/dup n-gram fractions —
    # the shuffle-bearing half of the rule set, so opt-in): documents
    # with NULL signals (no n-grams) pass, matching the operator's
    # "kept" contract
    if cfg.max_top_ngram_frac is not None or cfg.max_dup_ngram_frac is not None:
        from ..operators.dedup import repetition_signals

        sig = repetition_signals(
            gated, id_col, text_col, n=cfg.repetition_ngram
        )
        gated = gated.join(sig, on=id_col, how="left")
        if cfg.max_top_ngram_frac is not None:
            gated = gated.filter(
                F.coalesce(
                    F.col("top_ngram_frac") <= cfg.max_top_ngram_frac,
                    F.lit(True),
                )
            )
        if cfg.max_dup_ngram_frac is not None:
            gated = gated.filter(
                F.coalesce(
                    F.col("dup_ngram_frac") <= cfg.max_dup_ngram_frac,
                    F.lit(True),
                )
            )
        gated = gated.drop("top_ngram_frac", "dup_ngram_frac")

    # 1b'. optional FULL Gopher repetition gate (all 13 char-fraction
    # rules of Rae et al. table A1 — line/paragraph dup fractions ride
    # the scan, the n-gram fractions shuffle (id, gram) counts); the
    # single-n occurrence-fraction stage above stays as the cheap form
    if cfg.gopher_repetition:
        from ..operators.repetition import gopher_repetition_gate

        gated = gopher_repetition_gate(
            gated, id_col, text_col, thresholds=cfg.repetition_thresholds
        )

    # 1b''. optional corpus-level SENTENCE dedup (CCNet/RefinedWeb-
    # style: boilerplate glued mid-line to prose — the granularity the
    # C4 line rules cannot see). Placed AFTER the Gopher/repetition
    # gates on purpose: sentence reassembly joins with single spaces
    # (split_sentences treats newlines as ordinary whitespace), which
    # would corrupt the LINE-based rules (bullet/ellipsis fractions,
    # dup line/paragraph fractions) if it ran before them; downstream
    # digest stages are line-agnostic. Join-back preserves every other
    # column (score/metadata must survive to the survivor stage). The
    # word-count floor keeps short legitimate repeats. Default off.
    if cfg.sentence_dedup_max_docs is not None:
        from ..operators.dedup import dedup_corpus_sentences

        # PIN: gated is read twice (the dedup's count+probe passes
        # read the text side; the join-back reads the full frame)
        gated = pin(gated, pins)
        sdedup = dedup_corpus_sentences(
            gated, id_col, text_col,
            max_docs=cfg.sentence_dedup_max_docs,
            min_sentence_words=cfg.sentence_min_words,
        ).select(id_col, text_col)
        gated = gated.drop(text_col).join(sdedup, on=id_col, how="inner")

    # 1c. optional LM-filter gate (CCNet shape): per-doc unigram
    # perplexity against the reference corpus (or self-scored when no
    # reference is given); token-less docs drop with the gate on
    if cfg.max_ppl is not None:
        from ..operators.retrieval import unigram_perplexity

        # PIN before scoring: ppl derives from gated and is joined
        # back onto gated — without the pin the gate+scrub subtree
        # re-executes per join branch (the measured multi-x trap this
        # plan's later `exact` pin documents); self-scoring adds a
        # third read for the model build
        gated = pin(gated, pins)
        if cfg.ppl_model_counts is not None:
            # production shape: one pinned reference model scores
            # every batch — no counting pass at all
            ppl = unigram_perplexity(
                gated, id_col, text_col,
                model_counts=cfg.ppl_model_counts, pins=pins,
            ).select(id_col, "ppl")
        else:
            ref = (
                cfg.ppl_reference if cfg.ppl_reference is not None else gated
            )
            ppl = unigram_perplexity(
                gated, id_col, text_col, model_df=ref, pins=pins
            ).select(id_col, "ppl")
        gated = (
            gated.join(ppl, on=id_col, how="left")
            .filter(F.coalesce(F.col("ppl") <= cfg.max_ppl, F.lit(False)))
            .drop("ppl")
        )

    # 1d. optional model-based quality gate (fastText-classifier
    # stand-in, the DCLM/FineWeb move): broadcast-coefficient scoring,
    # map-only — no persist needed, the gate consumes gated once
    if cfg.quality_model is not None:
        from ..operators.classifier import classifier_gate

        gated = classifier_gate(
            gated, id_col, text_col, cfg.quality_model,
            min_prob=cfg.min_quality_prob,
        )

    # 1e. optional DSIR importance selection (Xie 2023): score every
    # surviving doc against a TARGET-domain unigram model (raw model
    # counted from the corpus itself unless prebuilt), then keep by
    # threshold (gate form) and/or draw exactly n proportional to
    # exp(clamped log_ratio) (resample form — DSIR's actual selection
    # step). Runs AFTER the quality gates so importance weights are
    # estimated on plausible text, BEFORE dedup/split so the selected
    # set flows through the same downstream guarantees.
    if cfg.dsir_target_counts is not None:
        from ..operators.retrieval import dsir_logratio

        if cfg.dsir_min_logratio is None and cfg.dsir_sample_n is None:
            raise ValueError(
                "dsir_target_counts set but neither dsir_min_logratio "
                "nor dsir_sample_n given — configure the gate and/or "
                "the resample form"
            )
        # PIN before scoring: scored derives from gated AND joins
        # back onto it (the 1c multi-consumer rule)
        gated = pin(gated, pins)
        if cfg.dsir_hashed_buckets is not None:
            from ..operators.retrieval import dsir_logratio_hashed

            keep = dsir_logratio_hashed(
                gated, cfg.dsir_target_counts, id_col=id_col,
                text_col=text_col, raw_counts=cfg.dsir_raw_counts,
                buckets=int(cfg.dsir_hashed_buckets),
                salt=cfg.dsir_hash_salt, pins=pins,
            ).select(id_col, "log_ratio")
        else:
            keep = dsir_logratio(
                gated, cfg.dsir_target_counts, id_col=id_col,
                text_col=text_col, raw_counts=cfg.dsir_raw_counts,
                pins=pins,
            ).select(id_col, "log_ratio")
        if cfg.dsir_min_logratio is not None:
            keep = keep.filter(
                F.col("log_ratio") >= float(cfg.dsir_min_logratio)
            )
        else:
            # token-less docs carry no signal — the gate form drops
            # them via NULL comparison; the pure-resample form must
            # drop them explicitly (NULL weight is excluded anyway,
            # this just keeps the rule visible)
            keep = keep.filter(F.col("log_ratio").isNotNull())
        if cfg.dsir_sample_n is not None:
            from ..operators.sampling import weighted_sample_exact_n

            c = float(cfg.dsir_clamp)
            keep = weighted_sample_exact_n(
                keep.withColumn(
                    "__dsir_w",
                    F.exp(
                        F.least(
                            F.greatest(F.col("log_ratio"), F.lit(-c)),
                            F.lit(c),
                        )
                    ),
                ),
                cfg.dsir_sample_n, id_col, "__dsir_w",
                salt=cfg.dsir_salt,
            )
        gated = gated.join(
            keep.select(id_col), on=id_col, how="left_semi"
        )

    # 2. benchmark decontamination (broadcast digest semi-join)
    clean = decontaminate(
        gated, bench, id_col, text_col, ngram_n=cfg.ngram_n
    )

    # 2b. optional exact-substring cut (ExactSubstr): duplicated
    # k-word windows removed from every survivor BEFORE the digest
    # dedups, so boilerplate can no longer mask real near-dups (and a
    # doc reduced to boilerplate-only dedups away as empty text)
    if cfg.exact_substring_k is not None:
        from ..operators.dedup import exact_substring_dedup

        # PIN: clean is read three times here (the operator's
        # window pass + word re-split + this join's left side) — the
        # same re-execution trap as the ppl stage above
        clean = pin(clean, pins)
        cut = exact_substring_dedup(
            clean, id_col, text_col,
            k=cfg.exact_substring_k,
            min_count=cfg.exact_substring_min_count,
        ).select(id_col, text_col)
        clean = clean.drop(text_col).join(cut, on=id_col, how="inner")

    # 3. exact dedup on the scrubbed digest (16-byte shuffle keys).
    # This is the plan's staging layer — five downstream consumers
    # (signatures, verify, survivors, split, chunks) each reference it,
    # and every LOGICAL reference would duplicate the whole upstream
    # lineage (gate+ppl+decontam+cut, themselves self-referencing), so
    # the composed tree would grow multiplicatively and Catalyst
    # analysis/canonicalization blows the driver heap with the optional
    # stages on. The pin materializes once and TRUNCATES lineage — the
    # in-session equivalent of the medallion stg_ write a production
    # run does here (which truncates lineage the same way).
    exact = pin(dedup_exact_hashed(clean, text_col, id_col), pins)

    # 4. near-dup pairs → clusters, computed ONCE and reused for both
    # the survivor choice and the split key (the leakage guarantee): a
    # second dedup_clusters inside leakage_safe_split would re-run the
    # whole LSH pipeline (measured 500 s → 42 s at 50k docs for this
    # plan). The pairs are not pinned here: the components loop is their
    # only consumer, and it checkpoints its edge list in one scan of them
    if cfg.exact_jaccard:
        # completeness-guaranteed pair generation (prefix filtering):
        # same threshold semantics, zero missed pairs — the audit mode
        pairs = jaccard_join_prefix(
            exact, id_col, text_col,
            shingle_n=cfg.shingle_n, threshold=cfg.jaccard_threshold,
            pins=pins,
        ).select("id_a", "id_b")
    else:
        pairs = near_dup_pairs(
            exact, id_col, text_col,
            shingle_n=cfg.shingle_n, num_hashes=cfg.num_hashes,
            bands=cfg.bands, threshold=cfg.jaccard_threshold,
            pins=pins,
        ).select("id_a", "id_b")

    # 4b. optional winnowing pairs (contiguous-overlap twins — shared
    # passages in otherwise-different documents — that set-Jaccard
    # scores below threshold): unioned into the SAME pairs frame, so
    # clustering, survivor choice, and the leakage-safe split key all
    # see them. Reads the checkpointed `exact` staging layer, so no
    # upstream re-execution; both generators emit id_a < id_b, and
    # distinct() collapses twins found by both.
    if cfg.winnow_min_shared is not None:
        from ..operators.winnow import winnow_dup_pairs

        wpairs = winnow_dup_pairs(
            exact, id_col, text_col,
            k=cfg.winnow_k, window=cfg.winnow_window,
            min_shared=cfg.winnow_min_shared,
            max_fingerprint_df=cfg.winnow_max_fp_df,
            pins=pins,
        ).select("id_a", "id_b")
        pairs = pairs.unionByName(wpairs).distinct()
    if cfg.survivor_score_col is not None:
        # quality-aware survivor: each cluster keeps its best-scored
        # member instead of the arbitrary min id. Cluster LABELS stay
        # min-reachable-id either way, so the leakage-safe split key
        # below is identical — only WHICH twin survives changes.
        if cfg.survivor_score_col not in exact.columns:
            raise ValueError(
                f"survivor_score_col {cfg.survivor_score_col!r} not in "
                f"document columns {exact.columns}"
            )
        from ..operators.graph import select_canonical

        clusters = pin(select_canonical(
            exact, pairs, id_col, cfg.survivor_score_col, pins=pins,
        ), pins)
    else:
        clusters = pin(dedup_clusters(exact, pairs, id_col, pins=pins), pins)
    survivors = exact.join(
        clusters.filter(F.col("is_canonical")).select(F.col(id_col)),
        on=id_col, how="left_semi",
    )

    # 5. split BEFORE chunking (chunks inherit their document's split),
    # keyed on the cluster representative from the SAME clusters frame
    # — inlines leakage_safe_split over the already-computed components
    from ..operators.sampling import deterministic_split

    with_key = survivors.join(
        clusters.select(F.col(id_col), F.col("cluster").alias("split_key")),
        on=id_col, how="left",
    ).withColumn("split_key", F.coalesce(F.col("split_key"), F.col(id_col)))
    # pinned: consumed twice below (chunk input + split re-attach)
    split_docs = deterministic_split(
        with_key, "split_key", cfg.split_weights
    ).drop("split_key")
    split_docs = pin(split_docs, pins)

    # 6. chunk → deterministic shard → pack per (split, shard)
    chunks = chunk_documents(
        split_docs.select(id_col, text_col, "split"),
        id_col, text_col, cfg.chunk_words, cfg.chunk_overlap,
    )
    with_split = chunks.join(
        split_docs.select(id_col, "split"), on=id_col, how="inner"
    ).withColumn(
        "__cid",
        F.concat_ws("#", F.col(id_col).cast("string"), F.col("chunk_idx")),
    )
    token_col = "n_chunk_words"
    if cfg.bpe_pack_rules is not None:
        # pack on REAL subword counts: segment each chunk under the
        # mined merge rules and window on n_bpe_tokens instead of the
        # word-count proxy. Up to the chained-plan cap the segmentation
        # is one narrow map of anchored replaces; past it (tokenizer-
        # real R) it switches to the Arrow kernel — sound here because
        # the stage's rules are bpe_merge_rules output, i.e. MINED
        # order by construction (the kernel's contract)
        from ..operators.retrieval import (
            _BPE_MAX_CHAIN,
            bpe_apply,
            bpe_apply_arrow,
        )

        seg = (
            bpe_apply_arrow
            if len(cfg.bpe_pack_rules) > _BPE_MAX_CHAIN
            else bpe_apply
        )
        with_split = seg(
            with_split, "chunk_text", cfg.bpe_pack_rules, out_col="__bpe"
        ).withColumn("n_bpe_tokens", F.size("__bpe")).drop("__bpe")
        token_col = "n_bpe_tokens"
    packed = pack_sequences(
        with_split,
        id_col="__cid",
        token_col=token_col,
        window=cfg.window_tokens,
        num_shards=cfg.num_shards,
        group_col="split",   # a pack must never mix train and val
    )
    return packed.drop("__cid")
