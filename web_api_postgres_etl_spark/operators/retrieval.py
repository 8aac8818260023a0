"""Corpus keyword retrieval: document frequencies, TF-IDF weights, and
BM25 top-k search over the documents table — the text-retrieval face of
the training-data pipeline (query a 100 TB corpus for documents about a
topic without an external search system).

Scale shape: everything reduces to one explode of the corpus into
(doc, term) counts with map-side combine — the shuffle carries terms
and counts, never text. Query-time statistics are restricted to the
query's terms BEFORE any aggregation, so a search touches a
|query|-sized slice of the term space; corpus-level constants (N,
average document length) are bounded metadata computed once and reused
across queries.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import pin, release_frame
from ..functions.text import normalized_tokens
from .project import qcol


def term_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf) — per-document term frequencies over the shared
    normalized tokenizer. One explode + one map-side-combining count."""
    toks = df.select(
        qcol(id_col).alias("__id"), normalized_tokens(text_col).alias("__t")
    )
    return (
        toks.select("__id", F.explode("__t").alias("term"))
        .groupBy("__id", "term")
        .agg(F.count("*").alias("tf"))
        .select(F.col("__id").alias(id_col), "term", "tf")
    )


def doc_frequencies(
    df: DataFrame, id_col: str, text_col: str, terms: list[str] | None = None
) -> DataFrame:
    """(term, df) — number of documents containing each term.
    Pass ``terms`` to restrict the scan to a query's vocabulary — the
    ``bm25_topk`` search path. (The index build, ``tfidf_table``,
    derives df from its own term-count frame instead so one explode
    feeds both aggregates; keep any tokenizer change in
    ``normalized_tokens`` so the two paths cannot diverge.)"""
    toks = df.select(
        qcol(id_col).alias("__id"),
        F.array_distinct(normalized_tokens(text_col)).alias("__t"),
    )
    exploded = toks.select("__id", F.explode("__t").alias("term"))
    if terms is not None:
        exploded = exploded.filter(F.col("term").isin(list(terms)))
    return exploded.groupBy("term").agg(F.count("*").alias("df"))


def bm25_topk(
    df: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for ``query`` by BM25 (Robertson idf,
    ln(1 + (N - df + 0.5)/(df + 0.5))). Returns (id, score) with a
    deterministic id tiebreak.

    Query-time plan: tokenize the query driver-side → per-doc tf of
    ONLY the query terms (the explode filter prunes before the count
    shuffle) → document frequencies of those terms collected as a
    |query|-sized broadcast literal map → one scoring aggregate →
    TakeOrderedAndProject. Corpus text is scanned once; nothing
    document-sized shuffles. N and avgdl are two scalar aggregates —
    persist/memoize them for repeated queries against a static corpus.
    """
    q_terms = sorted(
        {t for t in re.split(r"[^a-z0-9]+", query.lower()) if t}
    )
    if not q_terms:
        raise ValueError("query has no tokens after normalization")
    stats = df.select(
        F.count("*").alias("n"),
        F.avg(F.size(normalized_tokens(text_col))).alias("avgdl"),
    ).first()
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    if n_docs == 0 or avgdl == 0.0:
        raise ValueError("empty corpus")
    dfs = {
        r["term"]: int(r["df"])
        for r in doc_frequencies(df, id_col, text_col, q_terms).collect()
    }
    idf = {
        t: math.log(1.0 + (n_docs - dfs.get(t, 0) + 0.5) / (dfs.get(t, 0) + 0.5))
        for t in q_terms
    }
    tfs = term_counts(df, id_col, text_col).filter(
        F.col("term").isin(q_terms)
    )
    dl = df.select(
        qcol(id_col).alias(id_col),
        F.size(normalized_tokens(text_col)).alias("__dl"),
    )
    idf_map = F.create_map(
        *[x for t in q_terms for x in (F.lit(t), F.lit(idf[t]))]
    )
    scored = tfs.join(dl, id_col).select(
        qcol(id_col).alias(id_col),
        (
            idf_map[F.col("term")]
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("__dl") / avgdl))
        ).alias("__s"),
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
        .orderBy(F.col("score").desc(), qcol(id_col))
        .limit(k)
    )


def fuse_rankings(
    rankings: "list[DataFrame]",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    method: str = "rrf",
    k0: int = 60,
    k: int | None = None,
    list_sizes: "list[int] | None" = None,
) -> DataFrame:
    """``(id, score, rank)`` — fuse N ranked SHORTLISTS into one
    consensus ranking: reciprocal rank fusion (``method='rrf'``,
    Cormack et al. 2009 — score = Σ_i 1/(k0 + rank_i), robust to
    incomparable underlying scores) or Borda counting
    (``method='borda'`` — score = Σ_i (cap_i + 1 − rank_i), exact
    INTEGERS). ``cap_i`` is system i's point scale: the explicit
    ``list_sizes[i]`` when given (pass the true |list_i| when a
    shortlist was pre-filtered and its best observed rank undersells
    its length), else the system's MAX OBSERVED best-rank — the
    max-rank convention (r13): for the dense 1..k shortlists the
    operator is built for the two are identical, and the observed form
    needs no out-of-band size plumbing. The hybrid-retrieval move:
    fuse ``bm25_topk``'s lexical ranks with an ANN shortlist's vector
    ranks (or several dedup candidate generators) without calibrating
    their score scales.

    Engine-exact discipline: ranks are integers; Borda scores are
    integer sums; RRF terms are exact-rounded double divisions folded
    in FIXED system order (per doc: sort the (system, rank) pairs,
    left-fold) — deterministic under any partitioning and expressible
    verbatim in a SQL oracle (list_sort + list_reduce). Final order:
    score desc, id asc; ``rank`` is dense 1..n. A doc appearing twice
    in ONE system keeps its best (minimum) rank — duplicate rows must
    not double-vote. Ranks must be >= 1 (raises in-plan).

    Scale shape: inputs are top-k SHORTLISTS (tens to thousands of
    rows), not corpora — the final consensus sort is a single-stage
    global sort over Σ|list_i| rows by design; fusing corpus-sized
    rankings is a different problem (use the underlying scores).

    Cites /root/reference scope: no retrieval surface there; the
    fusion face of the engine's retrieval family."""
    if method not in ("rrf", "borda"):
        raise ValueError(
            f"fuse_rankings: method must be 'rrf' or 'borda', got {method!r}"
        )
    if not rankings:
        raise ValueError("fuse_rankings: need at least one ranking")
    if k0 < 1:
        raise ValueError(f"fuse_rankings: k0 must be >= 1, got {k0}")
    from functools import reduce as _reduce

    from pyspark.sql import Window

    guard = (
        "CASE WHEN __rk IS NULL OR __rk < 1 THEN "
        "cast(raise_error('fuse_rankings: ranks must be >= 1 and "
        "non-NULL') as long) ELSE __rk END"
    )
    parts = []
    for i, r in enumerate(rankings):
        parts.append(
            r.select(
                qcol(id_col).alias("__id"),
                F.lit(i).alias("__sys"),
                qcol(rank_col).cast("long").alias("__rk"),
            ).selectExpr("__id", "__sys", f"{guard} AS __rk")
        )
    if list_sizes is not None and len(list_sizes) != len(rankings):
        raise ValueError(
            f"fuse_rankings: list_sizes has {len(list_sizes)} entries "
            f"for {len(rankings)} rankings"
        )
    u = _reduce(lambda a, b: a.unionByName(b), parts)
    best = u.groupBy("__id", "__sys").agg(F.min("__rk").alias("__rk"))
    if method == "borda":
        if list_sizes is not None:
            caps = {i: int(m) for i, m in enumerate(list_sizes)}
        else:
            caps = {
                int(row["__sys"]): int(row["m"])
                for row in best.groupBy("__sys").agg(
                    F.max("__rk").alias("m")
                ).collect()
            }
        cap_expr = F.create_map(
            *[x for sy, m in sorted(caps.items())
              for x in (F.lit(sy), F.lit(m))]
        )
        scored = (
            best.withColumn(
                "__pts", cap_expr[F.col("__sys")] + 1 - F.col("__rk")
            )
            .groupBy("__id")
            .agg(F.sum("__pts").cast("long").alias("score"))
        )
        order = [F.col("score").desc(), F.col("__id").asc()]
    else:
        scored = (
            best.groupBy("__id")
            .agg(F.collect_list(F.struct("__sys", "__rk")).alias("__l"))
            .selectExpr(
                "__id",
                f"aggregate(array_sort(__l), 0.0D, "
                f"(acc, x) -> acc + 1.0D / ({k0} + x.__rk)) AS score",
            )
        )
        order = [F.col("score").desc(), F.col("__id").asc()]
    w = Window.orderBy(*order)
    out = scored.withColumn("rank", F.row_number().over(w))
    if k is not None:
        if k < 1:
            raise ValueError(f"fuse_rankings: k must be >= 1, got {k}")
        out = out.filter(F.col("rank") <= k)
    return out.select(F.col("__id").alias(id_col), "score", "rank")


def _hashed_feature_buckets(
    frame: DataFrame, text_col, buckets: int, salt: str
) -> DataFrame:
    """One row per (source row, feature bucket): unigram + adjacent
    bigram features of the normalized tokens, each hashed to a bucket
    via the sampling family's portable md5 key (13 hex chars → BIGINT,
    replicable in any engine with md5) mod ``buckets``. Token arrays
    are BOUND to a column before the bigram HOF reads them twice (the
    inline-subtree trap). Carries every non-feature column through."""
    from .sampling import _md5_key

    bound = frame.withColumn("__t", normalized_tokens(text_col))
    feats = bound.withColumn(
        "__feat",
        F.explode_outer(
            F.concat(
                F.col("__t"),
                F.when(
                    F.size("__t") >= 2,
                    F.transform(
                        F.sequence(F.lit(2), F.size("__t")),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at(F.col("__t"), i - 1),
                            F.element_at(F.col("__t"), i),
                        ),
                    ),
                ).otherwise(F.expr("CAST(array() AS array<string>)")),
            )
        ),
    )
    return feats.withColumn(
        "__bucket",
        F.when(
            F.col("__feat").isNotNull(),
            F.pmod(_md5_key(F.col("__feat"), salt, 13), F.lit(buckets)),
        ),
    ).drop("__t", "__feat")


def build_hashed_ngram_model(
    src: DataFrame,
    text_col: str = "text",
    buckets: int = 16384,
    salt: str = "dsir-h",
) -> DataFrame:
    """(bucket, count) — the persistable HASHED n-gram model for
    :func:`dsir_logratio_hashed` (Xie et al. 2023's actual feature
    space: unigrams + bigrams hashed into a FIXED-dimension bag, which
    makes the two corpora's models directly comparable regardless of
    vocabulary size — the caveat the raw-unigram variant documents).
    One explode + one map-side-combining (bucket, count) shuffle;
    bucket ids only, never text. ``salt``/``buckets`` are part of the
    model identity — score with the SAME values or the buckets will
    not line up (persist them alongside the parquet)."""
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    return (
        _hashed_feature_buckets(
            src.select(qcol(text_col).alias("__txt")), "__txt",
            buckets, salt,
        )
        .filter(F.col("__bucket").isNotNull())
        .groupBy(F.col("__bucket").alias("bucket"))
        .agg(F.count("*").alias("count"))
    )


def dsir_logratio_hashed(
    df: DataFrame,
    target_counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    raw_counts: DataFrame | None = None,
    buckets: int = 16384,
    alpha: float = 0.5,
    salt: str = "dsir-h",
    cache_model: bool = True,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Per-document DSIR importance signal over HASHED n-gram features
    — the paper-faithful form of :func:`dsir_logratio` (Xie et al.
    2023 §2: unigram+bigram features hashed into a fixed ``buckets``-
    dimensional bag): ``(id, n_features, log_ratio, avg_log_ratio)``
    with ``log_ratio`` = Σ over the document's features of
    ``ln p_target(b) − ln p_raw(b)`` under two add-``alpha`` smoothed
    models over the SAME fixed bucket space.

    Because the dimension is FIXED, smoothing uses it directly —
    ``lp(b) = ln((c_b + α) / (N + α·buckets))`` — so the two models
    are comparable regardless of how different the corpora's
    vocabularies are (the raw-unigram variant's documented caveat,
    closed). A bucket absent from one model takes that model's
    ``c_b = 0`` floor; hash collisions merge features into one
    dimension (the standard hashing-trick trade — raise ``buckets``
    to reduce them). Feature-less documents score NULL (total); an
    empty model degrades every score to NULL rather than raising
    (the LM-gate totality rule). ``target_counts``/``raw_counts`` are
    :func:`build_hashed_ngram_model` tables and MUST have been built
    with the same ``buckets``/``salt``.

    Scale shape: identical to the unigram variant — two (bucket,
    count) tables, two 1-row N collects, ONE full-outer bucket join,
    one (id, bucket) explode + bucket join + per-doc aggregate; bucket
    ids (longs) shuffle, never text. The md5 bucket key is the
    sampling family's portable construction, so the whole pipeline is
    expressible verbatim in a SQL oracle.

    Cites /root/reference scope: no selection surface there; closes
    the quality family's importance-resampling signal in the paper's
    own feature space."""
    if raw_counts is None:
        raw_counts = build_hashed_ngram_model(df, text_col, buckets, salt)
    t = target_counts.select("bucket", F.col("count").alias("__ct"))
    r = raw_counts.select("bucket", F.col("count").alias("__cr"))
    if cache_model:
        t, r = t.persist(), r.persist()
    nt = int(t.agg(F.coalesce(F.sum("__ct"), F.lit(0))).first()[0])
    nr = int(r.agg(F.coalesce(F.sum("__cr"), F.lit(0))).first()[0])
    if nt == 0 or nr == 0:
        if cache_model:
            t.unpersist()
            r.unpersist()
        return df.select(
            qcol(id_col).alias(id_col),
            F.lit(0).cast("int").alias("n_features"),
            F.lit(None).cast("double").alias("log_ratio"),
            F.lit(None).cast("double").alias("avg_log_ratio"),
        )
    if cache_model and pins is not None:
        pins.extend([t, r])
    dt = float(nt) + alpha * buckets
    dr = float(nr) + alpha * buckets
    oov_t, oov_r = math.log(alpha / dt), math.log(alpha / dr)
    ratio = t.join(r, on="bucket", how="full_outer").select(
        "bucket",
        (
            F.coalesce(
                F.log((F.col("__ct") + F.lit(alpha)) / F.lit(dt)),
                F.lit(oov_t),
            )
            - F.coalesce(
                F.log((F.col("__cr") + F.lit(alpha)) / F.lit(dr)),
                F.lit(oov_r),
            )
        ).alias("__d"),
    )
    both_oov = oov_t - oov_r
    occ = _hashed_feature_buckets(
        df.select(qcol(id_col).alias("__id"), qcol(text_col).alias("__txt")),
        "__txt", buckets, salt,
    ).select("__id", F.col("__bucket").alias("bucket"))
    scored = occ.join(ratio, "bucket", "left").groupBy("__id").agg(
        F.count("bucket").alias("n_features"),
        F.sum(
            F.when(
                F.col("bucket").isNotNull(),
                F.coalesce(F.col("__d"), F.lit(both_oov)),
            )
        ).alias("__lr"),
        F.avg(
            F.when(
                F.col("bucket").isNotNull(),
                F.coalesce(F.col("__d"), F.lit(both_oov)),
            )
        ).alias("__alr"),
    )
    return scored.select(
        F.col("__id").alias(id_col),
        F.col("n_features").cast("int").alias("n_features"),
        F.round("__lr", 6).alias("log_ratio"),
        F.round("__alr", 6).alias("avg_log_ratio"),
    )


def build_unigram_model(src: DataFrame, text_col: str = "text") -> DataFrame:
    """(term, count) — the persistable reference-model artifact for
    ``unigram_perplexity(model_counts=...)`` (and the unigram half of
    the bigram scorer): write it to parquet once per reference-corpus
    snapshot, then score any corpus against it without ever re-reading
    the reference text — the KenLM-binary equivalent of this package's
    count-based LM gates. One map-side-combined (term, count) shuffle;
    term strings only, never documents."""
    return (
        src.select(F.explode(normalized_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("count"))
    )


def _bigram_pairs(frame: DataFrame, text_expr) -> DataFrame:
    """(w1, w2) adjacent-token pairs — one slide per document."""
    toks = frame.select(normalized_tokens(text_expr).alias("__t"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.transform(
                    F.sequence(F.lit(2), F.size("__t")),
                    lambda i: F.struct(
                        F.element_at(F.col("__t"), i - 1).alias("w1"),
                        F.element_at(F.col("__t"), i).alias("w2"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,w2:string>>")
            )
        ).alias("__bg")
    )
    return pairs.select("__bg.w1", "__bg.w2")


def build_bigram_model(
    src: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """((term, count), (w1, w2, count)) — the two persistable tables
    ``bigram_perplexity(model_counts=..., bigram_counts=...)`` scores
    from. Both are map-side-combined count shuffles over the reference
    corpus; persist them as parquet and the stupid-backoff scorer
    never touches the reference text again."""
    uni = build_unigram_model(src, text_col)
    bg = (
        _bigram_pairs(src, text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("count"))
    )
    return uni, bg


def unigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_df: DataFrame | None = None,
    model_text_col: str | None = None,
    alpha: float = 0.5,
    cache_model: bool = True,
    pins: list[DataFrame] | None = None,
    model_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document unigram cross-entropy / perplexity — the
    transparent stand-in for CCNet's KenLM quality filter (docs whose
    token distribution is far from a reference corpus score HIGH; the
    standard curation move keeps the low/middle-perplexity band).

    Model: add-``alpha`` smoothed unigram over the normalized tokens
    of ``model_df`` (default: score the corpus against itself);
    ``logp(t) = ln((c_t + α) / (N + α(V+1)))`` with every
    out-of-vocabulary token at the ``c_t = 0`` floor. Returns
    (id, n_tokens, cross_entropy, ppl); token-less documents get NULL
    scores.

    Scale shape: the model is one (term, count) shuffle with map-side
    combine — term strings, never text; N and V are ONE scalar
    aggregate collected to the driver; scoring explodes (id, term)
    and joins on term (AQE broadcasts a small vocabulary), then one
    per-doc average. ``cache_model`` pins the (term, count) frame —
    it is read twice (the N/V scalar collect + the scoring join) —
    as an eager local checkpoint (``caching.pin``): the counting pass
    runs inside this call, and the scoring join reads a one-node scan
    instead of the counting plan. Pass False when composing into an
    externally-cached plan, the same switch every persisting operator
    here carries. A long-lived session can pass ``pins=[]`` to receive
    the pinned model frame for later release (see
    ``plans.curation.release_pins``).

    ``model_counts`` takes a PRECOMPUTED (term, count) table (from
    :func:`build_unigram_model`, typically read back from parquet) and
    skips the counting pass entirely — the production shape where one
    reference model scores many corpora. Mutually exclusive with
    ``model_df``.
    """
    if model_counts is not None and model_df is not None:
        raise ValueError(
            "pass model_counts (a prebuilt (term, count) table) OR "
            "model_df (a corpus to count), not both"
        )
    if model_counts is not None:
        tc = model_counts.select(
            F.col("term"), F.col("count").alias("__c")
        )
    else:
        src = model_df if model_df is not None else df
        src_text = model_text_col or text_col
        tc = (
            src.select(F.explode(normalized_tokens(src_text)).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("__c"))
        )
    if cache_model:
        tc = pin(tc, pins)
    totals = tc.select(
        F.sum("__c").alias("n"), F.count("*").alias("v")
    ).first()
    n_tok, vocab = int(totals["n"] or 0), int(totals["v"] or 0)
    if n_tok == 0:
        if cache_model:
            # nothing downstream will ever read tc again — don't leave
            # an empty frame pinned in a long-lived session
            release_frame(tc)
        # a token-less model corpus carries no information: stay TOTAL
        # (every doc gets NULL scores) instead of raising — a scheduled
        # pipeline hitting an empty partition must degrade to zero
        # kept rows, not crash (any threshold filter drops NULL)
        return df.select(
            qcol(id_col).alias(id_col),
            F.coalesce(F.size(normalized_tokens(text_col)), F.lit(0))
            .cast("int")
            .alias("n_tokens"),
            F.lit(None).cast("double").alias("cross_entropy"),
            F.lit(None).cast("double").alias("ppl"),
        )
    denom = float(n_tok) + alpha * (vocab + 1)
    model = tc.select(
        "term",
        F.log((F.col("__c") + F.lit(alpha)) / F.lit(denom)).alias("__lp"),
    )
    oov_lp = math.log(alpha / denom)
    toks = df.select(
        qcol(id_col).alias("__id"),
        F.explode_outer(normalized_tokens(text_col)).alias("term"),
    )
    # the OOV floor applies to real tokens only — explode_outer's NULL
    # placeholder row (token-less doc) must yield a NULL average, not
    # the floor
    scored = toks.join(model, "term", "left").groupBy("__id").agg(
        F.count("term").alias("n_tokens"),
        F.avg(
            F.when(
                F.col("term").isNotNull(),
                -F.coalesce(F.col("__lp"), F.lit(oov_lp)),
            )
        ).alias("__ce"),
    )
    return scored.select(
        F.col("__id").alias(id_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round("__ce", 6).alias("cross_entropy"),
        F.round(F.exp("__ce"), 4).alias("ppl"),
    )


def dsir_logratio(
    df: DataFrame,
    target_counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    raw_counts: DataFrame | None = None,
    alpha: float = 0.5,
    cache_model: bool = True,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Per-document DSIR importance signal (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"):
    ``(id, n_tokens, log_ratio, avg_log_ratio)`` where ``log_ratio`` =
    Σ over the document's tokens of ``ln p_target(t) − ln p_raw(t)``
    under two add-``alpha`` smoothed unigram LMs — the TARGET domain
    you want more of (``target_counts``, a
    :func:`build_unigram_model` table, typically read from parquet)
    and the RAW corpus being selected from (``raw_counts``; default:
    counted from ``df`` itself, the usual one-shot shape). Documents
    that look like the target score positive; generic/raw-typical
    documents score near zero or negative. Select by thresholding or
    feed ``exp(clamped log_ratio)``-style weights into the sampling
    family — DSIR's resampling step is exactly
    ``weighted_sample_exact_n`` downstream.

    Each model smooths against its OWN (N, V):
    ``lp(t) = ln((c_t + α) / (N + α(V+1)))``, out-of-vocabulary
    tokens at the ``c_t = 0`` floor — the ``unigram_perplexity``
    recipe applied twice, so the ratio is well-defined for every
    token, including tokens absent from BOTH models (floor − floor,
    a constant that cancels domain-neutral noise words only when the
    two corpora are comparable in size — the DSIR hashed-feature
    caveat, documented not hidden). Token-less documents get NULL
    scores (total); an EMPTY model table carries no information, so
    every score degrades to NULL rather than raising (the scheduled-
    pipeline rule ``unigram_perplexity`` pins).

    Scale shape: the two models are (term, count) tables (map-side
    combined; term strings, never text); their N/V scalars are two
    1-row collects; the combined per-term log-ratio table is ONE
    full-outer join of the two vocabularies, and scoring is one
    (id, term) explode + one term join (AQE broadcasts small
    vocabularies) + one per-doc aggregate. ``cache_model``/``pins``
    follow the family's contract. Floats only in the logs, rounded
    to 1e-6 at the boundary like every LM gate here — pin thresholds
    through gap-scanned gates for cross-engine exactness.

    Cites /root/reference scope: no selection surface there; this
    completes the quality family (heuristic gates, LM perplexity,
    trained classifier) with the importance-sampling signal.
    """
    if raw_counts is None:
        raw_counts = build_unigram_model(df, text_col)
    t = target_counts.select("term", F.col("count").alias("__ct"))
    r = raw_counts.select("term", F.col("count").alias("__cr"))
    if cache_model:
        t, r = t.persist(), r.persist()
    tt = t.agg(F.sum("__ct").alias("n"), F.count("*").alias("v")).first()
    rt = r.agg(F.sum("__cr").alias("n"), F.count("*").alias("v")).first()
    nt, vt = int(tt["n"] or 0), int(tt["v"] or 0)
    nr, vr = int(rt["n"] or 0), int(rt["v"] or 0)
    if nt == 0 or nr == 0:
        # degrade path unpersists here, so the frames must NOT have
        # been handed to the caller's pins yet — pins are appended
        # only after this check succeeds (release-contract hygiene)
        if cache_model:
            t.unpersist()
            r.unpersist()
        return df.select(
            qcol(id_col).alias(id_col),
            F.coalesce(F.size(normalized_tokens(text_col)), F.lit(0))
            .cast("int")
            .alias("n_tokens"),
            F.lit(None).cast("double").alias("log_ratio"),
            F.lit(None).cast("double").alias("avg_log_ratio"),
        )
    if cache_model and pins is not None:
        pins.extend([t, r])
    dt = float(nt) + alpha * (vt + 1)
    dr = float(nr) + alpha * (vr + 1)
    oov_t, oov_r = math.log(alpha / dt), math.log(alpha / dr)
    # one per-term delta table over the UNION of the two vocabularies;
    # a term missing from one side takes that side's OOV floor
    ratio = (
        t.join(r, on="term", how="full_outer")
        .select(
            "term",
            (
                F.coalesce(
                    F.log((F.col("__ct") + F.lit(alpha)) / F.lit(dt)),
                    F.lit(oov_t),
                )
                - F.coalesce(
                    F.log((F.col("__cr") + F.lit(alpha)) / F.lit(dr)),
                    F.lit(oov_r),
                )
            ).alias("__d"),
        )
    )
    both_oov = oov_t - oov_r  # token in NEITHER model
    toks = df.select(
        qcol(id_col).alias("__id"),
        F.explode_outer(normalized_tokens(text_col)).alias("term"),
    )
    scored = toks.join(ratio, "term", "left").groupBy("__id").agg(
        F.count("term").alias("n_tokens"),
        F.sum(
            F.when(
                F.col("term").isNotNull(),
                F.coalesce(F.col("__d"), F.lit(both_oov)),
            )
        ).alias("__lr"),
        F.avg(
            F.when(
                F.col("term").isNotNull(),
                F.coalesce(F.col("__d"), F.lit(both_oov)),
            )
        ).alias("__alr"),
    )
    return scored.select(
        F.col("__id").alias(id_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round("__lr", 6).alias("log_ratio"),
        F.round("__alr", 6).alias("avg_log_ratio"),
    )


def tfidf_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 1,
    max_df_frac: float | None = None,
) -> DataFrame:
    """(id, term, tf, df, tfidf) — the materialized index-build half of
    the retrieval story (``bm25_topk`` is the query-time half): every
    document's term weights with smoothed idf
    ``ln((1 + N) / (1 + df)) + 1`` (sklearn's formulation — strictly
    positive, so downstream cosine over tfidf vectors is well-defined).

    Scale shape: ONE explode of the corpus feeds both the per-doc
    counts and the document frequencies (same (id, term) frame, two
    map-side-combining aggregates); the df table joins back by term —
    a shuffle of (term, count) pairs, never text. ``min_df`` prunes
    hapax noise before the join; ``max_df_frac`` (sklearn's max_df)
    drops stopword-like terms appearing in more than that fraction of
    documents, reusing the SAME broadcast N — no extra corpus pass.
    N is one scalar aggregate.

    Persist/write the result once per corpus snapshot; query-time
    scoring then never touches raw text.
    """
    # N rides along as a broadcast 1-row frame instead of an eager
    # df.count() driver job — the whole build stays ONE lazy plan
    # (token-less docs still count toward N, matching sklearn)
    n_docs = df.agg(F.count("*").cast("double").alias("__n"))
    tc = term_counts(df, id_col, text_col)
    dfs = (
        tc.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    idf = F.log(
        (F.lit(1.0) + F.col("__n")) / (F.lit(1.0) + F.col("df"))
    ) + F.lit(1.0)
    joined = tc.join(dfs, "term").crossJoin(F.broadcast(n_docs))
    if max_df_frac is not None:
        if not 0.0 < max_df_frac <= 1.0:
            raise ValueError(
                f"max_df_frac must be in (0, 1], got {max_df_frac}"
            )
        joined = joined.filter(
            F.col("df") <= F.col("__n") * F.lit(float(max_df_frac))
        )
    return joined.select(
        qcol(id_col),
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )


def bigram_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_df: DataFrame | None = None,
    model_text_col: str | None = None,
    alpha: float = 0.5,
    backoff: float = 0.4,
    cache_model: bool = True,
    pins: list[DataFrame] | None = None,
    model_counts: DataFrame | None = None,
    bigram_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document bigram cross-entropy with STUPID BACKOFF (Brants
    et al. 2007, 'Large Language Models in Machine Translation' — the
    score web-scale LMs actually use, because it needs only raw counts
    and no discounting state): position i scores

        S(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})   if seen,
                           backoff * P_uni(w_i)          otherwise,

    with the first token (and the backoff path) scored by the same
    add-``alpha`` smoothed unigram as ``unigram_perplexity`` — so
    raising the model from unigram to bigram changes ONLY the
    conditional term, and the two filters are directly comparable.
    A sharper quality signal than the unigram gate: fluent prose has
    high bigram coverage against a reference corpus, keyword stuffing
    and shuffled boilerplate do not.

    Returns (id, n_tokens, cross_entropy, ppl) with the same
    totality contract as the unigram form (token-less docs → NULL
    scores, empty model → all-NULL).

    Scale shape: the model is two count shuffles — (w1, w2) pairs and
    single terms, both map-side combined, strings never longer than a
    token pair; scoring explodes each document into (prev, cur)
    pairs, joins bigram LEFT then unigram (AQE broadcasts small
    vocabularies), then one per-doc average. N and V are ONE scalar
    collect. ``pins`` receives the persisted count frames (read twice
    each), as everywhere else.

    ``model_counts`` + ``bigram_counts`` take the two PREBUILT tables
    from :func:`build_bigram_model` (typically read back from parquet)
    and skip both counting passes — one reference model, many scored
    corpora. Both must be given together; mutually exclusive with
    ``model_df``.
    """
    if (model_counts is None) != (bigram_counts is None):
        raise ValueError(
            "model_counts and bigram_counts come as a pair (both from "
            "build_bigram_model) — got only one"
        )
    if model_counts is not None and model_df is not None:
        raise ValueError(
            "pass prebuilt model tables OR model_df (a corpus to "
            "count), not both"
        )
    src = model_df if model_df is not None else df
    src_text = model_text_col or text_col

    # model unigram counts
    if model_counts is not None:
        tc = model_counts.select(F.col("term"), F.col("count").alias("__c"))
    else:
        tc = (
            src.select(F.explode(normalized_tokens(src_text)).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("__c"))
        )
    if cache_model:
        tc = tc.persist()
        if pins is not None:
            pins.append(tc)
    totals = tc.select(
        F.sum("__c").alias("n"), F.count("*").alias("v")
    ).first()
    n_tok, vocab = int(totals["n"] or 0), int(totals["v"] or 0)
    if n_tok == 0:
        if cache_model:
            tc.unpersist()
        return df.select(
            qcol(id_col).alias(id_col),
            F.coalesce(F.size(normalized_tokens(text_col)), F.lit(0))
            .cast("int")
            .alias("n_tokens"),
            F.lit(None).cast("double").alias("cross_entropy"),
            F.lit(None).cast("double").alias("ppl"),
        )
    denom = float(n_tok) + alpha * (vocab + 1)
    uni = tc.select(
        F.col("term").alias("__u_term"),
        F.log((F.col("__c") + F.lit(alpha)) / F.lit(denom)).alias("__u_lp"),
    )
    oov_lp = math.log(alpha / denom)

    # model bigram counts: slide the token array once per model doc
    # (or take the prebuilt table — the same _bigram_pairs shuffle
    # build_bigram_model ran at model-build time)
    if bigram_counts is not None:
        bc = bigram_counts.select(
            F.col("w1"), F.col("w2"), F.col("count").alias("__bc")
        )
    else:
        bc = (
            _bigram_pairs(src, src_text)
            .groupBy("w1", "w2")
            .agg(F.count("*").alias("__bc"))
        )
    if cache_model:
        bc = bc.persist()
        if pins is not None:
            pins.append(bc)

    # scoring: (id, pos, prev, cur) per document token
    toks = df.select(
        qcol(id_col).alias("__id"), normalized_tokens(text_col).alias("__t")
    )
    pos = toks.select(
        "__id", "__t", F.posexplode_outer("__t").alias("__p", "__cur")
    ).select(
        "__id", "__p", "__cur",
        F.when(
            F.col("__p") > 0, F.element_at(F.col("__t"), F.col("__p"))
        ).alias("__prev"),
    )
    joined = (
        pos.join(
            bc,
            (pos["__prev"] == bc["w1"]) & (pos["__cur"] == bc["w2"]),
            "left",
        )
        .join(tc.select(
            F.col("term").alias("__prev_term"), F.col("__c").alias("__pc")
        ), F.col("__prev") == F.col("__prev_term"), "left")
        .join(uni, F.col("__cur") == F.col("__u_term"), "left")
    )
    # the per-position log-score: seen bigram → ln(c12/c1);
    # else (incl. pos 0 and OOV) → ln(backoff) + unigram logp
    # (pos 0 takes the PLAIN unigram, no backoff penalty).
    # The __pc guard matters only for USER-SUPPLIED prebuilt tables:
    # consistent tables can't have a bigram whose w1 is missing from
    # the unigram counts, but two artifacts from different snapshots
    # can — without the guard those positions would score NULL and
    # silently drop out of the average (optimistic ppl); with it they
    # take the backoff path like any unseen transition
    lp = (
        F.when(
            F.col("__bc").isNotNull() & F.col("__pc").isNotNull(),
            F.log(F.col("__bc") / F.col("__pc")),
        )
        .when(
            F.col("__p") == 0,
            F.coalesce(F.col("__u_lp"), F.lit(oov_lp)),
        )
        .otherwise(
            F.lit(math.log(backoff))
            + F.coalesce(F.col("__u_lp"), F.lit(oov_lp))
        )
    )
    scored = joined.groupBy("__id").agg(
        F.count("__cur").alias("n_tokens"),
        F.avg(F.when(F.col("__cur").isNotNull(), -lp)).alias("__ce"),
    )
    return scored.select(
        F.col("__id").alias(id_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round("__ce", 6).alias("cross_entropy"),
        F.round(F.exp("__ce"), 4).alias("ppl"),
    )


# ------------------------------------------------------- collocations
def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Top-``top_k`` adjacent-word collocations by PMI lift — phrase
    mining over a corpus (the "new_york / machine_learning" detector
    that feeds phrase-aware tokenization).

    For each bigram (a, b): ``lift = P(ab) / (P(a)·P(b))`` with
    ``P(ab) = c_ab/T2`` over bigram occurrences and ``P(w) = c_w/T1``
    over unigram occurrences. PMI = ln(lift); ln is monotone, so
    ranking by lift IS the PMI ranking — the log is left to the caller
    because libm ``ln`` is not bit-identical across engines, while
    lift (IEEE divisions/multiplications of exact integer counts, in
    the pinned order below) is. ``min_count`` suppresses the classic
    PMI hapax pathology (rare pairs trivially maxing the score).

    Scale shape: one corpus scan for unigram counts, one for bigram
    counts (each: explode → map-side-combining groupBy on the term —
    count tables shuffle, text never does), and one scan computing
    BOTH totals as a tree-reduced 1-row frame (T1 = Σ len(tokens),
    T2 = Σ max(len−1, 0) — derived, not a recount, so no subplan is
    referenced twice). The two unigram joins shuffle (term, count)
    pairs only. Output order (lift desc, w1, w2) is total, so top-k is
    deterministic and engine-reproducible.
    """
    text = qcol(text_col)
    toks_len = df.select(F.size(normalized_tokens(text)).alias("__l"))
    totals = toks_len.agg(
        F.sum("__l").cast("double").alias("__t1"),
        F.sum(F.greatest(F.col("__l") - 1, F.lit(0))).cast("double").alias("__t2"),
    )
    uni = (
        df.select(F.explode(normalized_tokens(text)).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    big = (
        _bigram_pairs(df, text)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    joined = (
        big.join(uni.select(F.col("__w").alias("w1"), F.col("__c").alias("n_w1")), "w1")
        .join(uni.select(F.col("__w").alias("w2"), F.col("__c").alias("n_w2")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    # pinned evaluation order — the oracle mirrors this parenthesization
    lift = (F.col("n_pair") / F.col("__t2")) / (
        (F.col("n_w1") / F.col("__t1")) * (F.col("n_w2") / F.col("__t1"))
    )
    return (
        joined.select("w1", "w2", "n_pair", "n_w1", "n_w2", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(top_k)
    )


def _bpe_mine_local(
    word_counts: list[tuple[str, int]], rounds: int
) -> list[tuple[int, str, str, str, int]]:
    """Exact BPE miner over a collected word-frequency table — the
    driver-local twin of the distributed loop (same greedy leftmost
    non-overlapping merge, same (count desc, lhs, rhs) tie order, same
    non-alphanumeric-symbol guard), one Python pass per round instead
    of one Spark job per round."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        k = tuple(w)
        vocab[k] = vocab.get(k, 0) + int(c)
    rules: list[tuple[int, str, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break  # mined dry — every kept word is a single symbol
        (lhs, rhs), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if not (lhs.isalnum() and rhs.isalnum()):
            raise ValueError(
                f"bpe_merge_rules: non-alphanumeric symbol pair "
                f"({lhs!r}, {rhs!r}) — bracket encoding unsound"
            )
        merged = lhs + rhs
        rules.append((rnd, lhs, rhs, merged, cnt))
        nxt: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == lhs and s == rhs:
                    out[-1] = merged
                else:
                    out.append(s)
            k = tuple(out)
            nxt[k] = nxt.get(k, 0) + c
        vocab = nxt
    return rules


def bpe_merge_rules(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 8,
    max_vocab_words: int | None = None,
    ckpt_every: int = 16,
    mining: str = "auto",
    local_cap: int = 262_144,
) -> DataFrame:
    """``(round, lhs, rhs, merged, pair_count)`` — the first ``rounds``
    byte-pair-encoding merge rules mined from the corpus (Sennrich et
    al. 2016, the tokenizer-training primitive): start from each
    word's character sequence, and per round pick the most frequent
    adjacent symbol pair (weighted by word frequency; ties → smaller
    ``(lhs, rhs)`` lexicographically), merge it greedily
    left-to-right, repeat. Counts are exact integers and the tie
    order is total, so the rule list is deterministic and
    engine-reproducible — the ``collocations`` pair-count machinery
    generalized to iterated merges.

    The classic BPE trick keeps this corpus-scale-free after ONE
    scan: merges only ever happen inside words, so the corpus
    collapses to the word-frequency table first (``normalized_tokens``
    explode + map-side-combining count) and every round works on that
    |vocab|-sized frame. ``max_vocab_words`` caps it (top by count,
    ties → smaller word) — the bounded-state lever for 100 TB corpora
    whose long-tail vocabulary is itself huge; rules from the capped
    table are exact for the kept mass (log the cap — dropped words
    are hapax-like tail).

    Symbol sequences are kept as ``<sym><sym>…`` bracketed strings
    (tokens are ``[a-z0-9]+`` so the brackets cannot collide), which
    makes the merge ONE anchored ``replace`` — non-overlapping
    left-to-right, exactly BPE's greedy merge order (``<a><a><a>`` +
    rule (a,a) → ``<aa><a>``), identical in Spark and the SQL mirror.

    Scale shape — TWO mining engines behind one contract (``mining``):

    - ``'distributed'``: one corpus scan ever; per round one map-side-
      combining pair count whose shuffle carries (pair, count) rows
      and ONE driver row (the argmax) — driver state is ``rounds``
      rules. Every ``ckpt_every`` rounds the vocab frame is
      localCheckpointed so the replace-projection lineage stays flat.
      Correct at any vocab size, but one SCHEDULED JOB PER ROUND:
      tokenizer-real R ≈ 30k means 30k jobs over a |vocab|-sized
      table — a job-scheduling wall, not a data wall.
    - ``'local'`` (r13 per the r12 verdict #4): the word-frequency
      table IS vocabulary-sized, so when it fits the driver (≤
      ``local_cap`` rows — at the default 262,144 that is a few tens
      of MB of words+counts) COLLECT it once and run the exact Python
      BPE model (``_bpe_mine_local``, the same model the tests trust)
      — zero jobs per round, identical rules table (equivalence
      pinned in tests). Raises LOUDLY above the cap (an explicit
      local request must not silently blow driver memory).
    - ``'auto'`` (default): one extra count() on the vocab frame
      picks local when it fits, else falls back to the distributed
      loop — the fallback is the documented behavior, not a silent
      degradation (the plan changes, the rules table cannot).

    The corpus scan and ``max_vocab_words`` cap are SHARED — both
    engines mine the identical word table. Returns a driver-built
    frame (``rounds`` rows — bounded metadata, like centroid/codebook
    sidecars).

    Cites /root/reference scope: no tokenizer surface there; this
    completes the engine's text family (token stats, collocations,
    LM gates) with the training primitive they feed.
    """
    if rounds < 1:
        raise ValueError(f"bpe_merge_rules: rounds must be >= 1, got {rounds}")
    if mining not in ("auto", "local", "distributed"):
        raise ValueError(
            f"bpe_merge_rules: mining must be 'auto', 'local' or "
            f"'distributed', got {mining!r}"
        )
    spark = df.sparkSession
    vocab = (
        df.select(F.explode(normalized_tokens(qcol(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if max_vocab_words is not None:
        vocab = (
            vocab.orderBy(F.col("cnt").desc(), F.col("word"))
            .limit(int(max_vocab_words))
        )
    if mining != "distributed":
        n_vocab = vocab.count()
        if n_vocab <= local_cap:
            rows = [(r["word"], int(r["cnt"])) for r in vocab.collect()]
            return spark.createDataFrame(
                _bpe_mine_local(rows, rounds),
                "round int, lhs string, rhs string, merged string, "
                "pair_count bigint",
            )
        if mining == "local":
            raise ValueError(
                f"bpe_merge_rules: mining='local' but the word table "
                f"has {n_vocab} rows > local_cap={local_cap} — raise "
                f"the cap, set max_vocab_words, or use "
                f"mining='auto'/'distributed'"
            )
        # auto above the cap: the distributed loop below (documented
        # fallback — same rules, one scheduled job per round)
    cur = vocab.selectExpr(
        "concat('<', array_join(split(word, ''), '><'), '>') AS seq",
        "cnt",
    ).persist()
    pinned = cur
    rules: list[tuple[int, str, str, str, int]] = []
    try:
        for rnd in range(1, rounds + 1):
            top = (
                cur.selectExpr(
                    "cnt",
                    "split(substring(seq, 2, length(seq) - 2), '><') AS s",
                )
                .selectExpr(
                    "cnt",
                    "slice(s, 1, size(s) - 1) AS la",
                    "slice(s, 2, size(s) - 1) AS ra",
                )
                .selectExpr("cnt", "explode(arrays_zip(la, ra)) AS p")
                .groupBy(
                    F.col("p.la").alias("lhs"), F.col("p.ra").alias("rhs")
                )
                .agg(F.sum("cnt").alias("pair_count"))
                .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
                .first()
            )
            if top is None:
                break  # every kept word is a single symbol — mined dry
            lhs, rhs = str(top["lhs"]), str(top["rhs"])
            if not (lhs.isalnum() and rhs.isalnum()):
                # the bracket encoding is only sound for [a-z0-9]
                # symbols; normalized_tokens guarantees it — a custom
                # tokenizer that doesn't must fail loudly, not merge
                # garbage
                raise ValueError(
                    f"bpe_merge_rules: non-alphanumeric symbol pair "
                    f"({lhs!r}, {rhs!r}) — bracket encoding unsound"
                )
            merged = lhs + rhs
            rules.append((rnd, lhs, rhs, merged, int(top["pair_count"])))
            cur = cur.selectExpr(
                f"replace(seq, '<{lhs}><{rhs}>', '<{merged}>') AS seq",
                "cnt",
            )
            if rnd % ckpt_every == 0:
                nxt = cur.localCheckpoint(eager=True)
                release_frame(pinned)
                pinned = cur = nxt
    finally:
        release_frame(pinned)
    return spark.createDataFrame(
        rules,
        "round int, lhs string, rhs string, merged string, pair_count bigint",
    )


# One chained-replace plan tolerates a few hundred nested calls;
# tokenizer-real rule counts (R ≈ 30k) would blow Catalyst's
# expression-tree limits long before data size matters — the same
# literal-plan hazard project_embeddings_rp caps at 16384 weights.
_BPE_MAX_CHAIN = 500


def bpe_apply(
    df: DataFrame,
    text_col: str,
    rules: "list[tuple[str, str]]",
    out_col: str = "bpe_tokens",
    chunk_size: int | None = None,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Append ``out_col`` — each document's BPE segmentation under the
    given merge rules (the APPLY half of :func:`bpe_merge_rules`): an
    ``array<string>`` of subword symbols, words segmented
    independently, rules applied IN ORDER with the same greedy
    leftmost non-overlapping replace as training. Token counts for
    data recipes / packing are ``F.size(out_col)``; compare against
    ``functions.text.bpe_ish_token_count``'s regex proxy — this is
    the exact count under a TRAINED tokenizer.

    One narrow map, no Python: the document's words collapse to a
    single space-separated bracket string, the R rules become R
    chained ``replace`` calls (merge patterns contain no space, so
    they can never span a word boundary), and the final string splits
    back into symbols. Rule symbols must be ``[a-z0-9]+`` (what
    ``bpe_merge_rules`` over ``normalized_tokens`` emits) — anything
    else raises before touching data, because the bracket encoding is
    only sound for bracket-free symbols.

    Determinism: pure string rewriting — identical under any
    partitioning and engine (the oracle applies the same replaces
    verbatim). NULL text → empty array (total, matching
    ``normalized_tokens``).

    RULE-COUNT CAP: one plan chains at most ``_BPE_MAX_CHAIN`` (500)
    replaces — past that, Catalyst's expression tree blows up before
    the data does (a trained tokenizer has ~30k rules). For
    tokenizer-real R prefer :func:`bpe_apply_arrow` (one Arrow-batched
    map, rules as a rank dict — requires mined-order rules); the
    in-plan escape is ``chunk_size`` (≤ 500): rules then apply in order
    in chunks of that size, with a LAZY ``localCheckpoint`` cutting
    lineage between chunks, so plan size is bounded by the chunk while
    the composed rewrite stays bit-identical to the single-shot
    definition (replace chains compose associatively — chunking is
    just function composition). Cost: each boundary materializes the
    full intermediate frame once; at R = 30k / chunk 500 that is 59
    materializations of one narrow string column per doc — linear,
    bounded, and the same cluster caveat as every localCheckpoint here
    (non-reliable blocks; on executor loss re-run the job)."""
    if chunk_size is None and len(rules) > _BPE_MAX_CHAIN:
        raise ValueError(
            f"bpe_apply: {len(rules)} rules exceeds the single-plan "
            f"chained-replace cap ({_BPE_MAX_CHAIN}) — pass "
            f"chunk_size=<n ≤ {_BPE_MAX_CHAIN}> to apply the rules in "
            "lineage-cut chunks (identical segmentation, bounded "
            "plan), or use bpe_apply_arrow for tokenizer-real rule "
            "counts over MINED-order rules (one Arrow-batched map)"
        )
    if chunk_size is not None and not (1 <= chunk_size <= _BPE_MAX_CHAIN):
        raise ValueError(
            f"bpe_apply: chunk_size must be in [1, {_BPE_MAX_CHAIN}], "
            f"got {chunk_size}"
        )
    for lhs, rhs in rules:
        if not (str(lhs).isalnum() and str(rhs).isalnum()):
            raise ValueError(
                f"bpe_apply: rule ({lhs!r}, {rhs!r}) has non-alphanumeric "
                "symbols — bracket encoding unsound"
            )
    if out_col in df.columns:
        raise ValueError(f"bpe_apply: column {out_col!r} already exists")
    words = normalized_tokens(qcol(text_col))
    doc = F.array_join(
        F.transform(
            words,
            lambda w: F.concat(
                F.lit("<"), F.array_join(F.split(w, ""), "><"), F.lit(">")
            ),
        ),
        " ",
    )

    def chain(expr, rs):
        for lhs, rhs in rs:
            expr = F.call_function(
                "replace", expr, F.lit(f"<{lhs}><{rhs}>"),
                F.lit(f"<{lhs}{rhs}>"),
            )
        return expr

    def finish(merged):
        toks = F.flatten(
            F.transform(
                F.split(merged, " "),
                lambda ws: F.split(
                    ws.substr(F.lit(2), F.length(ws) - 2), "><"
                ),
            )
        )
        # an empty doc collapses to '' whose split yields [''] —
        # filter it; NULL text propagates NULL through the string
        # pipeline — coalesce to the documented empty array (total,
        # like normalized_tokens)
        toks = F.filter(toks, lambda s: s != "")
        return F.coalesce(toks, F.expr("CAST(array() AS array<string>)"))

    if chunk_size is None or len(rules) <= chunk_size:
        return df.withColumn(out_col, finish(chain(doc, rules)))
    if "__bpe_str" in df.columns:
        raise ValueError(
            "column '__bpe_str' collides with the chunked path's "
            "staged column — rename it first"
        )
    # chunked path: apply chunk_size replaces per plan, cut lineage at
    # each boundary with a LAZY localCheckpoint (materializes on first
    # compute). Boundary frames are PINNED — append them to ``pins``
    # and release AFTER materializing the result (the repo-wide
    # pins/release contract); without pins they live until session end
    staged = df.withColumn("__bpe_str", doc)
    for i in range(0, len(rules), chunk_size):
        staged = staged.withColumn(
            "__bpe_str", chain(F.col("__bpe_str"), rules[i : i + chunk_size])
        )
        if i + chunk_size < len(rules):
            staged = staged.localCheckpoint(eager=False)
            if pins is not None:
                pins.append(staged)
    return staged.withColumn(out_col, finish(F.col("__bpe_str"))).drop(
        "__bpe_str"
    )


def _bpe_segment_word(word: str, rank: dict) -> list[str]:
    """Priority-merge BPE apply for one word (the GPT-2 reference
    shape): repeatedly merge the LOWEST-ranked adjacent pair, leftmost
    occurrence first. For rules in MINED order (each rule's output
    symbol exists only after its own rule — what bpe_merge_rules
    emits by construction) this equals applying the rules in order
    with greedy leftmost non-overlapping replaces, i.e. bpe_apply."""
    syms = list(word)
    while len(syms) > 1:
        best = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = rank.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best):
                best = r
                best_i = i
        if best is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_apply_arrow(
    df: DataFrame,
    text_col: str,
    rules: "list[tuple[str, str]]",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenizer-real-scale BPE apply — the Arrow-batched kernel
    escape :func:`bpe_apply`'s rule-count cap points at: rules ship
    once as a Python rank dict inside a vectorized pandas UDF, so R ≈
    30k trained merges cost a DICT, not 30k chained plan expressions.
    Tokenization stays JVM-side (the SAME ``normalized_tokens``
    expression feeds the kernel), so there is no normalization drift;
    per-batch word memoization makes repeated words free.

    REQUIRES rules in MINED order (``bpe_merge_rules`` output): the
    kernel merges by rule PRIORITY (lowest rank first, leftmost
    occurrence), which equals in-order chained application exactly
    when each rule's constituent symbols predate it — true by
    construction for mined rules, where every new symbol is created
    only by its own rule. For arbitrary hand-written rule lists keep
    ``bpe_apply`` (chained/chunked), whose semantics are order-literal.
    Equivalence to the chunked literal plan at R > the chained cap is
    pinned in tests.

    Scale shape: ONE narrow Arrow-batched map — no shuffle, no joins;
    the rank dict is captured in the UDF closure (broadcast once per
    executor). This is the documented slow-path exception (Python in
    the row path) bought only when R makes the pure-SQL forms
    impossible; throughput is bounded by the per-DISTINCT-word merge
    loop, amortized by the word cache. NULL text → empty array
    (total, matching bpe_apply).

    Cites /root/reference scope: no tokenizer surface there; the
    scale face of the engine's BPE family (Sennrich 2016; the
    priority-merge loop is the GPT-2 reference apply shape)."""
    for lhs, rhs in rules:
        if not (str(lhs).isalnum() and str(rhs).isalnum()):
            raise ValueError(
                f"bpe_apply_arrow: rule ({lhs!r}, {rhs!r}) has "
                "non-alphanumeric symbols"
            )
    if out_col in df.columns:
        raise ValueError(f"bpe_apply_arrow: column {out_col!r} already exists")
    rank = {
        (str(lhs), str(rhs)): i for i, (lhs, rhs) in enumerate(rules)
    }
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _seg_fn(words_ser):
        cache: dict = {}
        out = []
        for words in words_ser:
            if words is None:
                out.append([])
                continue
            toks: list = []
            for w in words:
                got = cache.get(w)
                if got is None:
                    got = _bpe_segment_word(w, rank)
                    cache[w] = got
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    # real type objects, not strings: this module's `from __future__
    # import annotations` would stringify inline hints, and pandas_udf
    # cannot resolve 'pd.Series' against a function-local import
    _seg_fn.__annotations__ = {"words_ser": pd.Series, "return": pd.Series}
    _seg = pandas_udf(_seg_fn, "array<string>")
    return df.withColumn(out_col, _seg(normalized_tokens(qcol(text_col))))


# ---------------------------------------------- sparse cosine pairs
def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    max_df: int | None = None,
    threshold: float = 0.3,
    pins: list | None = None,
    cache_weights: bool = True,
    return_decimals: bool = False,
) -> DataFrame:
    """EXACT sparse cosine similarity pairs over tf-idf vectors —
    the deterministic complement to the banded estimators
    (minhash/simhash/RHP estimate or bucket; this computes the real
    inner product, via the inverted index instead of a cross join):
    (id_a, id_b, cosine) for every pair sharing ≥1 surviving term with
    cosine ≥ ``threshold``.

    The scale lever is ``max_df``: a term occurring in d documents
    contributes d² join rows, so ubiquitous terms (stopwords,
    boilerplate) make the index join quadratic — cap document
    frequency exactly like winnowing caps fingerprint df. Cosine is
    then measured in the df-pruned term space ([min_df, max_df]),
    norms included — a property of the measure, stated not hidden.
    (Bayardo et al.'s all-pairs prefix filter is the further
    refinement; the df cap is the 80% that keeps the join linear.)

    Engine-exact by construction: tf-idf weights arrive rounded to 6
    decimals (``tfidf_table``), are quantized to DECIMAL(18,6), and
    every sum (dot products, squared norms) runs in DECIMAL(38,12) —
    exact regardless of fold order, the ``rolling_agg`` discipline.
    The only float steps are one pinned-order double expression
    ``dot / (sqrt(na) * sqrt(nb))`` — CAST, sqrt, multiply, divide are
    all IEEE exact-rounded, so results are bit-identical across
    engines. Identical documents score EXACTLY 1.0 — not via the float
    path (``fl(sqrt(x)·sqrt(x)) ≠ x`` for ~half of doubles), but by the
    DECIMAL-exact Cauchy–Schwarz equality case: ``dot == na == nb``
    holds iff the weight vectors are identical, and that comparison is
    decided in DECIMAL before any float enters — so ``threshold=1.0``
    reliably extracts exact-duplicate vectors.

    The weight table is persisted — it feeds the self-join's two sides
    plus the norms (three consumers; the repo's measured subplan-reuse
    trap). Append it to ``pins`` to release the cache in long-lived
    sessions (the repo-wide pins/release contract); without ``pins``
    the pin lives until the session ends. ``cache_weights=False``
    skips the pin entirely — a LAZY, leak-free plan at per-branch
    recompute cost (the contract-entry discipline: an external driver
    re-invoking the query must not grow getPersistentRDDs).

    ``return_decimals=True`` appends the exact DECIMAL(38,12)
    internals — ``dot``, ``norm_a``, ``norm_b`` — to the output: the
    engine-exact facts behind the score, shippable across engines as
    scaled integers where the float ``cosine`` itself must not cross
    an oracle boundary (decimal→double casts differ in the last ulp
    between engines; sums/scaled ints never do).
    """
    t = tfidf_table(df, id_col, text_col, min_df=min_df)
    if max_df is not None:
        t = t.filter(F.col("df") <= max_df)
    w = t.select(
        qcol(id_col).alias("__id"),
        F.col("term"),
        F.col("tfidf").cast("decimal(18,6)").alias("__w"),
    )
    if cache_weights:
        w = w.persist()
        if pins is not None:
            pins.append(w)
    norms = w.groupBy("__id").agg(
        F.sum((F.col("__w") * F.col("__w")).cast("decimal(38,12)")).alias("__n2")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .groupBy(F.col("a.__id").alias("__ida"), F.col("b.__id").alias("__idb"))
        .agg(
            F.sum(
                (F.col("a.__w") * F.col("b.__w")).cast("decimal(38,12)")
            ).alias("__dot")
        )
    )
    na = norms.select(F.col("__id").alias("__ida"), F.col("__n2").alias("__na"))
    nb = norms.select(F.col("__id").alias("__idb"), F.col("__n2").alias("__nb"))
    # Cauchy–Schwarz equality decided in DECIMAL (exact): identical
    # weight vectors — and ONLY those — have dot == na == nb, and the
    # float path would round exactly-1 away about half the time
    cosine = F.when(
        (F.col("__dot") == F.col("__na")) & (F.col("__na") == F.col("__nb")),
        F.lit(1.0),
    ).otherwise(
        F.col("__dot").cast("double")
        / (
            F.sqrt(F.col("__na").cast("double"))
            * F.sqrt(F.col("__nb").cast("double"))
        )
    )
    extras = (
        [
            F.col("__dot").alias("dot"),
            F.col("__na").alias("norm_a"),
            F.col("__nb").alias("norm_b"),
        ]
        if return_decimals
        else []
    )
    return (
        dots.join(na, "__ida")
        .join(nb, "__idb")
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            cosine.alias("cosine"),
            *extras,
        )
        .filter(F.col("cosine") >= threshold)
    )


def keywords_per_doc(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_df: int = 1,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """(id, term, tf, df, tfidf, rank) — each document's top-``k``
    TF-IDF terms: the "what is this document about" labels a corpus
    browser / topic sampler / dedup-audit UI wants, straight off the
    same index build ``tfidf_table`` materializes.

    ``max_df_frac`` drops terms appearing in more than that fraction
    of documents BEFORE ranking (stopword-like terms carry high tf and
    would otherwise crowd out the informative ones even after idf —
    the standard sklearn max_df move). Ties in tfidf break by term
    ascending, so the top-k set is engine-deterministic.

    Scale shape: tfidf_table's one explode + (term, count) join, then
    one ROW_NUMBER window per document — the window partitions on the
    id, so no global sort; output is ≤ k rows per document."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 < max_df_frac <= 1.0:
        raise ValueError(f"max_df_frac must be in (0, 1], got {max_df_frac}")
    from pyspark.sql import Window

    # max_df pruning happens INSIDE tfidf_table, reusing its broadcast
    # N — a second corpus count aggregate here would double the scans
    weights = tfidf_table(
        df, id_col, text_col, min_df=min_df, max_df_frac=max_df_frac
    )
    # qcol, not a name split: tfidf_table keeps the full (possibly
    # dotted) id column name
    w = Window.partitionBy(qcol(id_col)).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return weights.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def frequent_itemsets(
    df: DataFrame,
    items_col: str,
    min_support: float = 0.01,
    min_confidence: float = 0.5,
):
    """Distributed frequent-itemset + association-rule mining over an
    array column (pyspark.ml FP-Growth — the parallel PFP split: one
    pass for item frequencies, group-dependent transaction projections,
    local FP-trees per group; no candidate-generation explosion like
    Apriori). Returns ``(itemsets, rules)``:

    - itemsets: (items array, freq) — exact transaction counts for
      every itemset with support ≥ ``min_support``;
    - rules: (antecedent, consequent, confidence, lift, support).

    Pinned semantics callers must know: FP-Growth treats each
    transaction as a SET — duplicate entries in one array raise in the
    JVM, so the items are de-duplicated and NULLs dropped here first
    (a transaction "contains x twice" is not expressible in support
    counting). Empty/NULL transactions still count toward the support
    denominator (they are transactions that bought nothing).

    Scale shape: support counting is map-side-combining; the projected
    databases shuffle (group, transaction-suffix) pairs bounded by the
    frequent-item count, not the raw item vocabulary."""
    if not 0.0 < min_support <= 1.0:
        raise ValueError(f"min_support must be in (0, 1], got {min_support}")
    if not 0.0 < min_confidence <= 1.0:
        raise ValueError(
            f"min_confidence must be in (0, 1], got {min_confidence}"
        )
    from pyspark.ml.fpm import FPGrowth

    items = qcol(items_col) if isinstance(items_col, str) else items_col
    # the NULL-transaction fallback must carry the column's OWN element
    # type: a hardcoded array<string> fails analysis on struct items
    # and silently widens int items to long through ANSI coercion
    item_type = df.select(items.alias("__i")).schema[0].dataType
    prepped = df.select(
        F.array_distinct(
            F.filter(
                F.coalesce(items, F.array().cast(item_type)),
                lambda x: x.isNotNull(),
            )
        ).alias("__items")
    )
    model = FPGrowth(
        itemsCol="__items",
        minSupport=float(min_support),
        minConfidence=float(min_confidence),
    ).fit(prepped)
    return model.freqItemsets, model.associationRules


def vocabulary_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col_a: str = "text",
    text_col_b: str = "text",
) -> DataFrame:
    """ONE row of corpus-vocabulary comparison — the data-recipe
    diagnostic before mixing or swapping sources: ``n_vocab_a``,
    ``n_vocab_b``, ``n_shared`` (distinct normalized tokens), their
    ``vocab_jaccard``, plus ``n_tokens_b`` and ``oov_rate_b`` (the
    fraction of corpus B's token OCCURRENCES whose type never appears
    in A — the practical "how much of B would a model/tokenizer built
    on A have never seen"; types weigh rare words equally, occurrences
    weigh what the model actually reads).

    Exact integers throughout (tokenization =
    ``functions.text.normalized_tokens``, the engine-wide rule);
    ``oov_rate_b``/``vocab_jaccard`` are one division of exact longs
    each. Empty/NULL-text corpora yield 0 vocab and NULL rates — a
    report, never a crash.

    Scale shape: each corpus reduces to (token, n_occurrences) via one
    explode + map-side-combining count (shuffle keys are tokens, never
    documents), then ONE full-outer equi-join on token + a single
    aggregate to the 1-row report. Nothing is broadcast or collected;
    vocabulary skew (stopwords) is irrelevant because the join is on
    the DISTINCT vocab, one row per token per side."""
    from ..functions.text import normalized_tokens

    def _vocab(df: DataFrame, col: str) -> DataFrame:
        return (
            df.select(
                F.explode_outer(normalized_tokens(col)).alias("__tok")
            )
            .filter(F.col("__tok").isNotNull())
            .groupBy("__tok")
            .agg(F.count(F.lit(1)).alias("__occ"))
        )

    va = _vocab(df_a, text_col_a).select(
        F.col("__tok"), F.col("__occ").alias("__occ_a")
    )
    vb = _vocab(df_b, text_col_b).select(
        F.col("__tok"), F.col("__occ").alias("__occ_b")
    )
    joined = va.join(vb, on="__tok", how="full_outer")
    # coalesce EVERY count: a both-empty comparison has a zero-row
    # join, where bare sums are NULL — the report promises 0 vocab
    n_a = F.coalesce(
        F.sum(F.col("__occ_a").isNotNull().cast("long")), F.lit(0)
    )
    n_b = F.coalesce(
        F.sum(F.col("__occ_b").isNotNull().cast("long")), F.lit(0)
    )
    n_shared = F.coalesce(
        F.sum(
            (F.col("__occ_a").isNotNull() & F.col("__occ_b").isNotNull())
            .cast("long")
        ),
        F.lit(0),
    )
    toks_b = F.coalesce(F.sum("__occ_b"), F.lit(0).cast("long"))
    oov_b = F.coalesce(
        F.sum(
            F.when(F.col("__occ_a").isNull(), F.col("__occ_b"))
        ),
        F.lit(0).cast("long"),
    )
    return joined.agg(
        n_a.alias("n_vocab_a"),
        n_b.alias("n_vocab_b"),
        n_shared.alias("n_shared"),
        (
            n_shared / F.nullif(n_a + n_b - n_shared, F.lit(0))
        ).alias("vocab_jaccard"),
        toks_b.alias("n_tokens_b"),
        (oov_b / F.nullif(toks_b, F.lit(0))).alias("oov_rate_b"),
    )
