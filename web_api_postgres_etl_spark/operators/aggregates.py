"""Aggregates (A1 — global MAX watermark probe).

The reference's only aggregate: ``SELECT MAX("meta.version") FROM t``
looped over every table in a schema (mabna_tables_update.py:86-98),
feeding the incremental filters. ``max_watermark`` is that query over
any DataFrame, answered by a Spark scan; the incremental runner's sink
probe (``plans.watermark``) answers it from parquet footer statistics
instead and keeps this scan as its fallback.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .project import qcol


def max_watermark(df: DataFrame, column: str = "meta.version"):
    """A1: max value of the watermark column; None for an empty table."""
    row = df.agg(F.max(qcol(column)).alias("wm")).first()
    return row["wm"] if row is not None else None


def corpus_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """One-pass corpus profile (per ``group_col``, or one global row):
    document count, total/average token counts, approximate token-count
    quantiles (p50/p90/p99), approximate distinct content digests, and
    the implied exact-duplicate rate.

    Sketch-based by design — at 100 TB a profile must not shuffle
    documents: ``approx_count_distinct`` is an HLL (±5% default rsd)
    and ``percentile_approx`` a mergeable quantile sketch, so the whole
    report is ONE map-side-combining aggregate whose shuffle carries a
    few KB of sketch state per group. Exact forms exist when needed
    (groupBy digest / exact percentile) at full shuffle cost —
    tests/test_operators.py pins the sketches against them.
    """
    from ..functions.text import token_count

    prepped = df.select(
        *([qcol(group_col).alias("group")] if group_col else []),
        token_count(text_col).alias("__nt"),
        F.md5(qcol(text_col)).alias("__digest"),
    )
    keys = ["group"] if group_col else []
    return prepped.groupBy(*keys).agg(
        F.count("*").alias("n_docs"),
        F.sum("__nt").alias("total_tokens"),
        F.round(F.avg("__nt"), 6).alias("avg_tokens"),
        F.percentile_approx("__nt", [0.5, 0.9, 0.99]).alias("token_quantiles"),
        F.approx_count_distinct("__digest").alias("approx_distinct_docs"),
        F.round(
            F.lit(1.0) - F.approx_count_distinct("__digest") / F.count("*"), 6
        ).alias("approx_dup_rate"),
    )


def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    step_col: str,
    steps: Iterable[str],
    cache_stages: bool = True,
    pins: list[DataFrame] | None = None,
    within_seconds: float | None = None,
) -> DataFrame:
    """Ordered funnel analysis (the product-analytics staple Spark has
    no operator for): how many users performed ``steps[0]``, then
    ``steps[1]`` STRICTLY AFTER it, then ``steps[2]`` strictly after
    that, and so on. Returns one row per step — (step_idx, step,
    n_users) — with counts non-increasing by construction.

    Semantics pinned: each stage matches the EARLIEST qualifying event
    (greedy, which is optimal for subsequence matching — taking the
    earliest never excludes a later completion), and equal timestamps
    do NOT advance the funnel (strictly-after, so an atomic batch of
    same-ts events counts as one stage at most; use distinct event
    times upstream if simultaneous steps must chain).

    ``within_seconds`` adds the product-analytics CONVERSION WINDOW:
    later stages must land within that horizon of the user's FIRST
    step-0 event (the anchor matching the unwindowed greedy
    semantics; within the anchored window greedy stays optimal by the
    same subsequence argument — a deliberately pinned choice, since a
    user whose earliest anchor expires is NOT re-anchored at a later
    step-0 occurrence). Timestamp columns only.

    Scale shape — pure expressions, no per-event lambda: stage i is
    one filtered map-side-combining aggregate min(ts) per user,
    equi-joined on the user to stage i-1's result. k stages → k
    aggregates + (k-1) joins whose shuffles carry (user, ts) pairs
    only, never events; AQE broadcasts the shrinking stage frames as
    they fall under the threshold. The final counts are k tiny
    aggregates unioned into one result.

    ``cache_stages`` (default True) persists each stage frame — every
    stage is read twice (its count branch + the next stage's join),
    and Catalyst performs no subplan reuse across branches, so
    without the pins the stage-0 event scan would re-execute once per
    downstream branch (O(k²) scans; the repo's documented per-branch
    recompute trap). Long-lived sessions pass ``pins=[]`` and release
    after materializing, as everywhere else.
    """
    steps = list(steps)
    if within_seconds is not None and within_seconds <= 0:
        raise ValueError(
            f"within_seconds must be positive (got {within_seconds}); "
            "pass None for no conversion window"
        )
    stages = _funnel_stages(
        df, user_col, ts_col, step_col, steps, cache_stages, pins,
        within_seconds,
    )
    counts = [
        stage.agg(
            F.lit(i).cast("int").alias("step_idx"),
            F.lit(step).alias("step"),
            F.count("*").alias("n_users"),
        )
        for i, (step, stage) in enumerate(zip(steps, stages))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def _funnel_stages(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    step_col: str,
    steps: list,
    cache_stages: bool = True,
    pins: list[DataFrame] | None = None,
    within_seconds: float | None = None,
) -> list[DataFrame]:
    """Stage frames [(__fu, __ft, __f0), ...] — stage i holds each
    user's earliest qualifying time for steps[0..i] matched in strict
    order (``__f0`` = the step-0 anchor, carried so the conversion
    window needs no extra join); stage i's users are a subset of stage
    i-1's by construction. Each frame is read twice downstream, hence
    the persist."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    u, t, s = qcol(user_col), qcol(ts_col), qcol(step_col)
    horizon_us = (
        None if within_seconds is None else int(within_seconds * 1_000_000)
    )
    prev: DataFrame | None = None
    stages = []
    for step in steps:
        stage_events = df.filter(s == step).select(
            u.alias("__fu"), t.alias("__ft")
        )
        if prev is None:
            stage = stage_events.groupBy("__fu").agg(
                F.min("__ft").alias("__ft")
            )
            stage = stage.withColumn("__f0", F.col("__ft"))
        else:
            joined = stage_events.join(
                prev.select(
                    "__fu", F.col("__ft").alias("__prev_t"), "__f0"
                ),
                "__fu",
            ).filter(F.col("__ft") > F.col("__prev_t"))
            if horizon_us is not None:
                # interval arithmetic, not unix_micros: works for both
                # TIMESTAMP and TIMESTAMP_NTZ inputs
                joined = joined.filter(
                    F.col("__ft")
                    <= F.col("__f0")
                    + F.expr(f"INTERVAL {horizon_us} MICROSECOND")
                )
            stage = joined.groupBy("__fu").agg(
                F.min("__ft").alias("__ft"), F.min("__f0").alias("__f0")
            )
        if cache_stages:
            stage = stage.persist()
            if pins is not None:
                pins.append(stage)
        stages.append(stage)
        prev = stage
    return stages


def funnel_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    step_col: str,
    steps: Iterable[str],
    cache_stages: bool = True,
    pins: list[DataFrame] | None = None,
    within_seconds: float | None = None,
) -> DataFrame:
    """The drill-down behind :func:`funnel`'s counts: one row per user
    who reached at least the first step — (user, max_step_idx,
    max_step, completed_at), where ``completed_at`` is the timestamp
    of the deepest stage's matched event. Users who never performed
    ``steps[0]`` are absent (same inner semantics as the counts;
    anti-join the input's distinct users for the zero-stage cohort).

    Scale shape: the stage frames are shared with the counts form
    (each is (user, ts) pairs); the union + max-aggregate adds one
    more (user, idx, ts) shuffle. ``cache_stages``/``pins`` as on
    :func:`funnel`."""
    steps = list(steps)
    if within_seconds is not None and within_seconds <= 0:
        raise ValueError(
            f"within_seconds must be positive (got {within_seconds}); "
            "pass None for no conversion window"
        )
    stages = _funnel_stages(
        df, user_col, ts_col, step_col, steps, cache_stages, pins,
        within_seconds,
    )
    tagged = [
        stage.select(
            "__fu",
            F.lit(i).cast("int").alias("__idx"),
            F.col("__ft"),
        )
        for i, stage in enumerate(stages)
    ]
    out = tagged[0]
    for frame in tagged[1:]:
        out = out.unionByName(frame)
    steps_arr = F.array(*[F.lit(s) for s in steps])
    # deepest stage per user: max over (idx, ts) structs — ts rides
    # along so no second join is needed to recover completed_at
    best = out.groupBy("__fu").agg(
        F.max(F.struct("__idx", "__ft")).alias("__b")
    )
    return best.select(
        F.col("__fu").alias(user_col),
        F.col("__b.__idx").alias("max_step_idx"),
        F.element_at(steps_arr, F.col("__b.__idx") + 1).alias("max_step"),
        F.col("__b.__ft").alias("completed_at"),
    )


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Label every event with its session: gaps-and-islands per user —
    a new session starts where the gap from the previous event is >=
    ``gap_seconds`` (half-open, matching ``F.session_window``'s
    last-event + gap end). Appends (session_idx, session_start):
    0-based per-user session ordinal and the session's first event
    time — the event-level face of the session aggregation (retired
    contract row ``agg_session_window`` rolls sessions up;
    journey analyses need the events still attached). NULL-timestamp
    rows are dropped — they cannot be ordered into any session.

    Scale shape: two stacked windows over ONE (user, ts) sort — the
    break flag from lag, the running sum for the ordinal, the
    session-start max — a single shuffle on the user key, no join
    back (the windows ride the same partitioning). Integer-microsecond
    gap math, so any engine reproduces the labels exactly."""
    if gap_seconds < 1:
        raise ValueError(f"gap_seconds must be >= 1, got {gap_seconds}")
    user, ts = qcol(user_col), qcol(ts_col)
    # a NULL timestamp cannot be sessionized — it would sort first and
    # silently fold into session 0 (sibling ops filter the same way)
    df = df.filter(ts.isNotNull())
    w = Window.partitionBy(user).orderBy(F.unix_micros(ts))
    brk = (
        F.unix_micros(ts) - F.lag(F.unix_micros(ts)).over(w)
        >= gap_seconds * 1_000_000
    ).cast("int")
    out = df.withColumn("__brk", F.coalesce(brk, F.lit(0)))
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = out.withColumn(
        "session_idx", F.sum("__brk").over(wrun).cast("int")
    ).drop("__brk")
    wsess = Window.partitionBy(user, "session_idx")
    return out.withColumn("session_start", F.min(ts).over(wsess))


def retention_cohorts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period: str = "week",
    cache_activity: bool = True,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Cohort retention triangle: users grouped by their first-active
    period, counted in every subsequent period they returned.
    Returns (cohort, period_idx, n_users): ``cohort`` is the
    first-activity period start (date), ``period_idx`` the whole
    periods since it (0 = the cohort period itself; every cohort has
    a period 0 row), ``n_users`` distinct returning users.

    ``period``: 'day' | 'week' | 'month'. Weeks truncate to Monday
    (date_trunc), months to the 1st; period_idx for months counts
    CALENDAR months between the truncated dates — exactly
    reproducible in SQL (months_between on truncated firsts), with no
    ragged 30-day arithmetic.

    Scale shape: one min-aggregate per user (first activity), one
    join back (AQE broadcasts the user→cohort map when small; at
    firehose scale it shuffles (user, date) pairs only), and one
    distinct-count aggregate per (cohort, period) — no windows over
    the event stream. ``cache_activity`` persists the (user, period)
    distinct frame, which feeds both the first-activity aggregate and
    the join-back — without it the event-stream scan + distinct runs
    once per branch (the repo's measured recompute trap); ``pins``
    is the usual release contract."""
    if period not in ("day", "week", "month"):
        raise ValueError(f"period must be day|week|month, got {period!r}")
    user, ts = qcol(user_col), qcol(ts_col)
    pstart = F.date_trunc(period, ts).cast("date")
    acts = df.filter(ts.isNotNull()).select(
        user.alias("__u"), pstart.alias("__p")
    ).distinct()
    if cache_activity:
        acts = acts.persist()
        if pins is not None:
            pins.append(acts)
    first = acts.groupBy("__u").agg(F.min("__p").alias("__cohort"))
    joined = acts.join(first, "__u")
    if period == "day":
        idx = F.datediff(F.col("__p"), F.col("__cohort"))
    elif period == "week":
        idx = (F.datediff(F.col("__p"), F.col("__cohort")) / 7).cast("int")
    else:
        idx = F.months_between(F.col("__p"), F.col("__cohort")).cast("int")
    return (
        joined.select(
            F.col("__cohort").alias("cohort"),
            idx.cast("int").alias("period_idx"),
            F.col("__u"),
        )
        .groupBy("cohort", "period_idx")
        .agg(F.count_distinct("__u").alias("n_users"))
    )


# ------------------------------------------------------- skew profile
def key_skew_profile(
    df: DataFrame, keys: list[str], top_k: int = 20
) -> DataFrame:
    """Top-``top_k`` heaviest join/aggregation keys with their load
    share — the diagnostic that decides WHETHER a join needs salting
    (``joins.salted_join``) or AQE skew splitting before anyone pays
    for either. One row per heavy key:

    - ``n_rows``: rows carrying the key (= the size of the shuffle
      partition bucket a plain hash join would build for it);
    - ``share``: fraction of the table (exact: two bigints divided);
    - ``cum_share``: running share of the heaviest keys so far —
      cumulative on the INTEGER counts then divided, never a float
      fold, so the value is bit-stable across engines;
    - ``over_mean``: n_rows / (total/n_distinct_keys) — how many
      "fair" buckets this key occupies; a key at 50× mean is 50 tasks'
      work serialized into one unless salted.

    Scale shape: one map-side-combining groupBy on the keys, then a
    take-ordered top-k and a tree-reduced 1-row total broadcast back
    over the k survivors; the cumulative window orders ≤ top_k rows
    (bounded by construction, not by data). The grouped subframe is
    referenced twice (top-k + total) and recomputes — two LINEAR
    passes; a diagnostic run pays that rather than pinning a
    distinct-key-cardinality frame in memory.

    Ordering ties break on the key values, so the returned top-k set
    is deterministic (and engine-reproducible) even when counts tie at
    the boundary.
    """
    if not keys:
        raise ValueError("key_skew_profile: at least one key column required")
    reserved = {"n_rows", "share", "cum_share", "over_mean"}
    clash = reserved & {k.split(".")[-1] for k in keys}
    if clash:
        raise ValueError(
            f"key_skew_profile: key columns collide with output {sorted(clash)}"
        )
    key_out = [k.split(".")[-1] for k in keys]
    counts = df.groupBy(
        *[qcol(k).alias(o) for k, o in zip(keys, key_out)]
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    order = [F.col("n_rows").desc()] + [F.col(o).asc_nulls_first() for o in key_out]
    top = counts.orderBy(*order).limit(top_k)
    totals = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
    )
    # bounded by construction: runs over the ≤ top_k profiler rows
    # only. partitionBy a constant-valued but UNFOLDABLE expression:
    # a bare F.lit(0) is constant-folded out of the spec and an
    # integral n_rows*0 simplifies too (count is non-nullable), but
    # DOUBLE x*0.0 can never be folded (NaN/Inf would poison it) and a
    # finite count always yields 0.0 — same single partition as a bare
    # orderBy, without the per-run "WindowExec: No Partition Defined"
    # log spam
    w = (
        Window.partitionBy(F.col("n_rows") * F.lit(0.0))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        top.join(F.broadcast(totals))
        .withColumn("__cum_n", F.sum("n_rows").over(w))
        .select(
            *key_out,
            "n_rows",
            (F.col("n_rows") / F.col("__total")).alias("share"),
            (F.col("__cum_n") / F.col("__total")).alias("cum_share"),
            (
                F.col("n_rows") * F.col("__n_keys") / F.col("__total")
            ).alias("over_mean"),
        )
    )


# ------------------------------------------- incremental aggregation
def incremental_agg_state(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    distinct_cols: list[str] | None = None,
) -> DataFrame:
    """Partial-aggregate STATE table for incremental maintenance: per
    key, ``n_rows`` plus ``sum_<c>``/``cnt_<c>`` for each sum column
    (cnt counts non-NULLs, so finalized averages stay
    NULL-semantics-correct) and ``min_<c>``/``max_<c>``.

    The incremental-warehouse primitive the reference's 15-minute loop
    implies but recomputes (mabna_tables_update.py re-derives from the
    full table): maintain aggregates by folding each delta batch's
    state into the stored state — history is NEVER rescanned. All
    maintained aggregates are algebraic (sum/count/min/max merge by
    sum/sum/min/max), which is exactly why they can merge. DISTINCT is
    the classic non-algebraic aggregate — two batches' distinct counts
    don't add — so ``distinct_cols`` maintains it as a MERGEABLE
    Apache DataSketches HLL sketch per key (``hll_<c>``, a binary
    column; Spark 4's native hll_sketch_agg): sketch union is a
    register-wise max — commutative, associative, and deterministic
    (re-merging in any order yields the same registers). Merged
    estimates can differ slightly from a one-shot sketch's — the
    single-stream sketch carries DataSketches' HIP estimator, which a
    union legitimately discards — but both stay inside the sketch's
    error bound (~1.6% rsd at the default lgConfigK=12). Median & friends stay in ``corpus_stats``'s one-pass
    profile.

    Scale shape: one map-side-combining groupBy per batch; the merge
    (``merge_agg_state``) shuffles two STATE tables keyed on ``keys``
    — store the state bucketed on them and it co-locates shuffle-free.
    min/max assume append-only feeds (a retraction cannot shrink a
    max); last-wins upsert feeds should compact first
    (``dedup_last_wins``) and rebuild affected keys instead.
    """
    sum_cols = list(sum_cols or [])
    min_cols = list(min_cols or [])
    max_cols = list(max_cols or [])
    distinct_cols = list(distinct_cols or [])
    if not keys:
        raise ValueError("incremental_agg_state: at least one key required")
    key_out = [k.split(".")[-1] for k in keys]
    state_names = (
        ["n_rows"]
        + [f"{p}_{c}" for c in sum_cols for p in ("sum", "cnt")]
        + [f"min_{c}" for c in min_cols]
        + [f"max_{c}" for c in max_cols]
        + [f"hll_{c}" for c in distinct_cols]
    )
    if len(set(state_names)) != len(state_names):
        raise ValueError(f"incremental_agg_state: duplicate state columns in {state_names}")
    clash = set(state_names) & set(key_out)
    if clash:
        raise ValueError(f"incremental_agg_state: keys collide with state columns {sorted(clash)}")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in sum_cols:
        aggs.append(F.sum(qcol(c)).alias(f"sum_{c}"))
        aggs.append(F.count(qcol(c)).alias(f"cnt_{c}"))
    aggs += [F.min(qcol(c)).alias(f"min_{c}") for c in min_cols]
    aggs += [F.max(qcol(c)).alias(f"max_{c}") for c in max_cols]
    aggs += [F.hll_sketch_agg(qcol(c)).alias(f"hll_{c}") for c in distinct_cols]
    return df.groupBy(
        *[qcol(k).alias(o) for k, o in zip(keys, key_out)]
    ).agg(*aggs)


def merge_agg_states(states: DataFrame, keys: list[str]) -> DataFrame:
    """Merge-on-read face: fold a frame holding MANY partial states
    (any number of batches' ``incremental_agg_state`` rows unioned or
    read from a partitioned store) into one state row per key. Counts/
    sums add, mins/maxes fold — all algebraic, so the groupBy's
    map-side combine IS the merge and the fold order never matters."""
    key_out = [k.split(".")[-1] for k in keys]
    aggs = []
    for c in states.columns:
        if c in key_out:
            continue
        if c == "n_rows" or c.startswith(("sum_", "cnt_")):
            aggs.append(F.sum(c).alias(c))
        elif c.startswith("min_"):
            aggs.append(F.min(c).alias(c))
        elif c.startswith("max_"):
            aggs.append(F.max(c).alias(c))
        elif c.startswith("hll_"):
            aggs.append(F.hll_union_agg(c).alias(c))
        else:
            raise ValueError(f"merge_agg_states: unrecognized state column {c!r}")
    return states.groupBy(*key_out).agg(*aggs)


def merge_agg_state(
    stored: DataFrame, delta: DataFrame, keys: list[str]
) -> DataFrame:
    """Fold a delta batch's state into the stored state (schemas must
    match — both sides come from ``incremental_agg_state`` with the
    same spec; a mismatch raises). Keys new in the delta appear,
    untouched keys pass through the groupBy unchanged. Associative +
    commutative, so batches can merge in any order or in a tree."""
    if sorted(stored.columns) != sorted(delta.columns):
        raise ValueError(
            f"merge_agg_state: state schemas differ: {sorted(stored.columns)} "
            f"vs {sorted(delta.columns)}"
        )
    return merge_agg_states(stored.unionByName(delta), keys)


def finalize_agg(
    state: DataFrame,
    avg_of: list[str] | None = None,
    distinct_of: list[str] | None = None,
) -> DataFrame:
    """Add ``avg_<c> = sum_<c> / cnt_<c>`` (NULL when no non-NULL rows
    were ever seen — true SQL AVG semantics) and/or
    ``n_distinct_<c>`` (the HLL estimate, BIGINT — deterministic for a
    given sketch) for each requested column. The state stays mergeable; finalization
    is a projection."""
    out = state
    for c in avg_of or []:
        if f"sum_{c}" not in state.columns or f"cnt_{c}" not in state.columns:
            raise ValueError(f"finalize_agg: state lacks sum_{c}/cnt_{c}")
        out = out.withColumn(
            f"avg_{c}",
            F.col(f"sum_{c}") / F.nullif(F.col(f"cnt_{c}"), F.lit(0)),
        )
    for c in distinct_of or []:
        if f"hll_{c}" not in state.columns:
            raise ValueError(f"finalize_agg: state lacks hll_{c}")
        out = out.withColumn(
            f"n_distinct_{c}", F.hll_sketch_estimate(F.col(f"hll_{c}"))
        )
    return out


# ------------------------------------------------- event transitions
def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
) -> DataFrame:
    """First-order transition matrix over per-user event streams:
    (from_event, to_event, n_transitions, p) where ``p`` is the
    row-conditional probability P(to | from) — the Markov-chain view
    of user behavior that complements ``funnel`` (a funnel asks "did
    this path happen"; transitions ask "which paths happen at all").

    Scale shape: one (user, ts, event) shuffle for the per-user lag
    window — the same partitioning ``sessionize`` uses; the pair
    count is a map-side-combining groupBy on (from, to), and the
    conditional total rides a window over the DISTINCT pair table
    (event-vocabulary², bounded by data SEMANTICS, not data size).
    ``p`` is one division of two exact counts — engine-reproducible.
    NULL events are real states (a NULL→x transition counts); rows
    with NULL ts raise (ordering would be undefined), matching
    ``scd2_history``.
    """
    w = Window.partitionBy("__u").orderBy(F.col("__ts").asc())
    ts_checked = F.when(
        qcol(ts_col).isNull(),
        F.raise_error(
            F.lit(f"event_transitions: NULL {ts_col} cannot be ordered")
        ).cast("timestamp"),
    ).otherwise(qcol(ts_col))
    pairs = (
        df.select(
            qcol(user_col).alias("__u"),
            ts_checked.alias("__ts"),
            qcol(event_col).alias("to_event"),
        )
        .withColumn("from_event", F.lag("to_event").over(w))
        .withColumn("__has_prev", F.lag(F.lit(1)).over(w))
        .filter(F.col("__has_prev").isNotNull())
    )
    counts = pairs.groupBy("from_event", "to_event").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    w_from = Window.partitionBy("from_event")
    return counts.select(
        "from_event",
        "to_event",
        "n_transitions",
        (
            F.col("n_transitions") / F.sum("n_transitions").over(w_from)
        ).alias("p"),
    )


# ---------------------------------------------------- exact quantiles
def exact_percentiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    by: list[str] | None = None,
) -> DataFrame:
    """EXACT percentiles (linear interpolation, SQL PERCENTILE_CONT
    semantics) of ``value_col`` per group — the full-shuffle complement
    to ``corpus_stats``'s mergeable quantile sketches. Use this for
    final reports over aggregated/bounded frames; use the sketches for
    corpus-scale profiles (exact percentiles sort every group's values
    — there is no algebraic shortcut, which is WHY the sketch form
    exists). Output: group keys + ``p_<prob>`` columns (dots → ``_``).

    NULLs are excluded per SQL semantics; an all-NULL group yields
    NULL percentiles.
    """
    if not probs or not all(0.0 <= p <= 1.0 for p in probs):
        raise ValueError(f"probs must be within [0, 1], got {probs}")
    if len(set(float(p) for p in probs)) != len(probs):
        raise ValueError(f"probs must be distinct, got {probs}")

    def _name(p: float) -> str:
        # column-safe: '.'/'-'/'+' (decimals, 1e-05 notation) -> '_'
        return "p_" + re.sub(r"[.+-]", "_", str(float(p)))

    names = [_name(p) for p in probs]
    if len(set(names)) != len(names):
        raise ValueError(f"probs {probs} collide after name sanitization")
    keys = [qcol(k).alias(k.split(".")[-1]) for k in (by or [])]
    aggs = [
        F.percentile(qcol(value_col), F.lit(float(p))).alias(n)
        for p, n in zip(probs, names)
    ]
    if by:
        return df.groupBy(*keys).agg(*aggs)
    return df.agg(*aggs)


# ------------------------------------------------------ grouped top-k
def topk_per_group(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tiebreakers: list[str] | None = None,
) -> DataFrame:
    """Top-``k`` rows per group by ``order_col`` — the grouped
    counterpart of the global TakeOrderedAndProject (`q3_topk_join_agg`
    uses the global form). Emits the input schema plus ``rank``
    (1-based ROW_NUMBER, so exactly k rows per group survive even
    through ties).

    Tie semantics pinned: ordering is (order_col, *tiebreakers) — pass
    tiebreakers covering a unique key to make the survivor SET
    deterministic and engine-reproducible; without them Spark keeps an
    arbitrary row among order-ties (same caveat the reference's
    keep='last' dedup had, and the same fix — `dedup_last_wins`
    pins the id tiebreak for exactly this reason). NULL order values
    are EXCLUDED (filtered before ranking — a NULL can never be "top",
    and merely sorting it last would still emit it from any group
    shorter than k).

    Scale shape: one shuffle on the keys; the per-group sort never
    materializes more than a partition's rows, and the rank filter
    applies before any downstream join sees the frame.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not keys:
        # an empty partitionBy funnels the whole table through ONE
        # task — for the global case use orderBy().limit() instead
        raise ValueError(
            "topk_per_group needs group keys; for a global top-k use "
            "df.orderBy(...).limit(k) (TakeOrderedAndProject)"
        )
    if "rank" in df.columns:
        raise ValueError("topk_per_group: input already has a 'rank' column")
    oc = qcol(order_col)
    order = [oc.desc() if descending else oc.asc()]
    for t in tiebreakers or []:
        order.append(qcol(t).asc())
    w = Window.partitionBy(*[qcol(x) for x in keys]).orderBy(*order)
    return (
        df.filter(oc.isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------------- histograms
def histogram_equi_width(
    df: DataFrame,
    value_col: str,
    bins: int,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """(bin, bin_lo, bin_hi, n) — equi-WIDTH histogram of
    ``value_col``: ``bins`` equal intervals over [lo, hi] (defaulting
    to the column's min/max via one aggregate), values exactly at
    ``hi`` counted in the last bin, values outside a caller-given
    range clamped into the edge bins (a histogram reports shape, it
    must not silently drop mass). Empty bins are EMITTED with n = 0 —
    a histogram with holes reads as data where it is absence of data.
    NULLs are excluded per SQL COUNT semantics.

    Bin assignment is ``floor((v - lo) * bins / span)`` evaluated in
    exactly that order — IEEE-deterministic, so any engine reproduces
    every count. Scale shape: one optional min/max aggregate + one
    map-side-combining groupBy on the bin index (≤ ``bins`` rows out);
    the bin grid is a driver-side sequence of ``bins`` rows joined
    back — metadata, not data."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    v = qcol(value_col).cast("double")
    spark = df.sparkSession
    if lo is None or hi is None:
        b = df.agg(F.min(v).alias("lo"), F.max(v).alias("hi")).first()
        if b["lo"] is None:
            if lo is None and hi is None:
                # no non-NULL values and no caller bounds: bins exist,
                # all empty and unbounded — same totality contract as
                # histogram_equi_depth
                return spark.range(bins).select(
                    F.col("id").cast("int").alias("bin"),
                    F.lit(None).cast("double").alias("bin_lo"),
                    F.lit(None).cast("double").alias("bin_hi"),
                    F.lit(0).cast("long").alias("n"),
                )
            # one caller bound but no data to derive the other: anchor
            # the (empty) grid to the supplied bound instead of
            # discarding it — a degenerate [b, b] range, all n = 0
            lo = hi = float(lo if lo is not None else hi)
        else:
            lo = float(b["lo"]) if lo is None else float(lo)
            hi = float(b["hi"]) if hi is None else float(hi)
    lo, hi = float(lo), float(hi)
    if not lo <= hi:
        raise ValueError(f"need lo <= hi, got [{lo}, {hi}]")
    span = hi - lo
    if span == 0.0:
        # degenerate range: every in-range value lands in bin 0
        idx = F.lit(0)
    else:
        raw = F.floor((v - F.lit(lo)) * F.lit(float(bins)) / F.lit(span))
        idx = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")
    counts = (
        df.filter(v.isNotNull())
        .groupBy(idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = spark.range(bins).select(
        F.col("id").cast("int").alias("bin"),
        (F.lit(lo) + F.col("id") * F.lit(span) / F.lit(float(bins))).alias("bin_lo"),
        (F.lit(lo) + (F.col("id") + 1) * F.lit(span) / F.lit(float(bins))).alias("bin_hi"),
    )
    return grid.join(counts, on="bin", how="left").select(
        "bin", "bin_lo", "bin_hi", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )


def histogram_equi_depth(
    df: DataFrame,
    value_col: str,
    bins: int,
) -> DataFrame:
    """(bin, bin_lo, bin_hi, n) — equi-DEPTH histogram: bin boundaries
    are the exact ``i/bins`` percentiles (PERCENTILE_CONT
    interpolation, cross-engine bit-exact), so bins hold ~equal row
    counts on continuous data; heavy ties make counts uneven by
    necessity (a tie cannot straddle a boundary — rows go to the
    FIRST bin whose upper boundary is >= the value, upper-inclusive).

    Two passes, no global sort: one percentile aggregate (the
    boundaries — ``bins - 1`` values of driver-side metadata) + one
    map-side-combining groupBy on the bin index computed against the
    broadcast boundary literals."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    v = qcol(value_col).cast("double")
    edges, idx = _equi_depth_edges_and_index(df, v, bins)
    if edges is None:
        # no non-NULL values: bins exist, all empty and unbounded
        spark = df.sparkSession
        return spark.range(bins).select(
            F.col("id").cast("int").alias("bin"),
            F.lit(None).cast("double").alias("bin_lo"),
            F.lit(None).cast("double").alias("bin_hi"),
            F.lit(0).cast("long").alias("n"),
        )
    counts = (
        df.filter(v.isNotNull())
        .groupBy(idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    grid = spark.createDataFrame(
        [(i, edges[i], edges[i + 1]) for i in range(bins)],
        "bin int, bin_lo double, bin_hi double",
    )
    return grid.join(counts, on="bin", how="left").select(
        "bin", "bin_lo", "bin_hi", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )


def _equi_depth_edges_and_index(df: DataFrame, v, bins: int):
    """The ONE definition of equi-depth boundaries and bin assignment,
    shared by :func:`histogram_equi_depth` and :func:`bucketize` so the
    "labels land exactly in the histogram's bins" invariant holds by
    construction: boundaries are the exact ``i/bins`` percentiles, the
    bin index counts STRICT upper boundaries exceeded (upper-inclusive
    bins). Returns ``(edges, idx)`` — ``(None, None)`` when the column
    has no non-NULL values."""
    probs = [i / bins for i in range(1, bins)]
    agg = [F.min(v).alias("__lo"), F.max(v).alias("__hi")] + [
        F.percentile(v, F.lit(p)).alias(f"__q{i}")
        for i, p in enumerate(probs)
    ]
    row = df.agg(*agg).first()
    if row["__lo"] is None:
        return None, None
    qs = [float(row[f"__q{i}"]) for i in range(len(probs))]
    edges = [float(row["__lo"])] + qs + [float(row["__hi"])]
    idx = None
    for q in qs:
        term = (v > F.lit(q)).cast("int")
        idx = term if idx is None else (idx + term)
    return edges, (idx if idx is not None else F.lit(0)).cast("int")


# ------------------------------------------------------ path analysis
def top_paths(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    step_col: str,
    gap_seconds: int,
    k: int = 20,
    max_steps: int = 10,
) -> DataFrame:
    """(path, n_sessions) — the ``k`` most common ordered event-type
    sequences across sessions: the "what do users actually do" journey
    report that complements :func:`funnel` (funnel checks ONE
    hypothesized order; this surfaces the orders that exist).

    Semantics pinned: sessions come from :func:`sessionize`
    (``gap_seconds`` inactivity split, NULL timestamps dropped);
    within a session events order by (time, step value) — the step
    tiebreak makes equal-timestamp batches deterministic in any
    engine; ``path`` is the FIRST ``max_steps`` steps as an array
    (longer sessions truncate — ``max_session_events`` carries the
    longest untruncated length per path so truncation is visible, and
    sessions differing only beyond the horizon fold together BY
    DESIGN). Ties in the top-k resolve by path value ascending.

    Scale shape: one (user, ts) shuffle for the session labels; the
    per-session rank and length are window functions over the SAME
    (user, session) clustering (hash(user) already satisfies it — no
    second exchange), and rows ranked past ``max_steps`` are FILTERED
    BEFORE the collect_list, so no aggregation buffer ever holds more
    than ``max_steps`` structs even for a pathological never-gapping
    session (a bot emitting an event per second for a month must cost
    O(max_steps) state, not O(session)); then one map-side-combining
    path count and a TakeOrderedAndProject for the top k. Event
    payloads never travel — only (user, ts, step)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_steps < 1:
        raise ValueError(f"max_steps must be >= 1, got {max_steps}")
    labeled = sessionize(df, user_col, ts_col, gap_seconds).select(
        qcol(user_col).alias("__u"),
        F.col("session_idx").alias("__s"),
        F.unix_micros(qcol(ts_col)).alias("__t"),
        qcol(step_col).cast("string").alias("__e"),
    )
    wsess = Window.partitionBy("__u", "__s")
    ranked = labeled.select(
        "__u",
        "__s",
        "__e",
        F.row_number()
        .over(wsess.orderBy(F.col("__t"), F.col("__e")))
        .alias("__rn"),
        F.count(F.lit(1)).over(wsess).alias("__n"),
    )
    per_session = (
        ranked.filter(F.col("__rn") <= max_steps)
        .groupBy("__u", "__s")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__rn"), F.col("__e")))
            ).alias("__evs"),
            F.max("__n").alias("__len"),
        )
    )
    paths = per_session.select(
        F.transform(F.col("__evs"), lambda s: s["__e"]).alias("path"),
        F.col("__len"),
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("__len").alias("max_session_events"),
        )
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(k)
    )


# -------------------------------------------------- outlier detection
def mad_outliers(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust outlier labeling — appends ``robust_z`` (the
    Iglewicz-Hoaglin modified z-score, 0.6745·(v − median)/MAD, where
    MAD = median(|v − median|)) and ``is_outlier`` (|robust_z| >
    ``threshold``; 3.5 is the standard cut). Median/MAD, not
    mean/stddev: one pathological feed value moves a mean-based
    z-score's own baseline, so the outlier hides its own detection —
    the exact failure a data-quality gate exists to catch.

    Pinned semantics: medians are exact PERCENTILE_CONT (cross-engine
    bit-equal); a degenerate group (MAD = 0 — over half the values
    identical) yields NULL ``robust_z`` and ``is_outlier`` = false
    (no spread to measure against — gate such groups on distinctness,
    not deviation); NULL values keep their row with NULL z (labeling
    is TOTAL, never a silent row drop); NULL GROUP KEYS form a group
    like any other — the join-back is null-safe, so their outliers are
    labeled too.

    Scale shape: two exact-percentile aggregates per group (median,
    then MAD over the deviations) + two broadcast-friendly join-backs
    on the group keys — no window over the data, no global sort. At
    corpus scale swap the medians for ``percentile_approx`` upstream;
    this is the exact form for bounded/aggregated frames (same split
    as ``exact_percentiles`` vs ``corpus_stats``)."""
    out_cols = {"robust_z", "is_outlier"}
    internal = {"__med", "__mad", "__absdev"} | {
        f"__g_{k}" for k in (by or [])
    }
    clash = (out_cols | internal) & set(df.columns)
    if clash:
        raise ValueError(
            f"mad_outliers: input columns {sorted(clash)} collide with "
            "output/internal columns — rename them first"
        )
    keys = list(by or [])
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(
            f"mad_outliers: group columns {missing} not in {df.columns} "
            "(plain top-level column names only)"
        )
    v = qcol(value_col).cast("double")

    def _agg(frame: DataFrame, col, name: str) -> DataFrame:
        if keys:
            return frame.groupBy(*keys).agg(
                F.percentile(col, F.lit(0.5)).alias(name)
            )
        return frame.agg(F.percentile(col, F.lit(0.5)).alias(name))

    def _join(frame: DataFrame, agg: DataFrame) -> DataFrame:
        # NULL-SAFE key equality: a NULL group is a group like any
        # other (groupBy aggregates it), and a plain equi-join would
        # silently leave its rows unlabeled (NULL never equals NULL)
        if keys:
            agg2 = agg.select(
                *[F.col(k).alias(f"__g_{k}") for k in keys],
                *[c for c in agg.columns if c not in keys],
            )
            cond = None
            for k in keys:
                c = frame[k].eqNullSafe(agg2[f"__g_{k}"])
                cond = c if cond is None else (cond & c)
            return frame.join(F.broadcast(agg2), cond, "left").drop(
                *[f"__g_{k}" for k in keys]
            )
        return frame.join(F.broadcast(agg))

    med = _agg(df, v, "__med")
    absdev = _join(df, med).withColumn("__absdev", F.abs(v - F.col("__med")))
    mad = _agg(absdev, F.col("__absdev"), "__mad")
    with_mad = _join(absdev, mad)
    z = F.when(
        F.col("__mad") > 0,
        F.lit(0.6745) * (v - F.col("__med")) / F.col("__mad"),
    )
    return with_mad.withColumn("robust_z", z).withColumn(
        "is_outlier",
        F.coalesce(F.abs(F.col("robust_z")) > F.lit(float(threshold)), F.lit(False)),
    ).drop("__med", "__mad", "__absdev")


def winsorize(
    df: DataFrame,
    value_col: str,
    p_low: float = 0.01,
    p_high: float = 0.99,
    by: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Clamp ``value_col`` into its exact [``p_low``, ``p_high``]
    percentile range (per ``by`` group, or globally) — the standard
    heavy-tail tamer before averaging/scaling feature columns (a
    handful of crawler-glitch token counts should not own the mean).
    Appends ``out_col`` (default ``<value>_winsorized``); the input
    column is never mutated.

    Pinned semantics: bounds are exact PERCENTILE_CONT (cross-engine
    bit-equal, same as ``exact_percentiles``); clamping is
    ``least(greatest(v, lo), hi)`` — one comparison chain, engine-
    reproducible; NULL values stay NULL (totality); an all-NULL group
    has NULL bounds and leaves its values untouched (least/greatest
    skip NULLs in both Spark and DuckDB — vacuous bounds, not a drop);
    NULL group keys form a group like any other (null-safe join-back,
    the ``mad_outliers`` rule).

    Scale shape: ONE percentile aggregate per group (both bounds in
    one pass) + one broadcast-friendly join-back — no window over the
    data, no global sort. Exact percentiles shuffle the group's values
    to its aggregate; at corpus scale compute bounds upstream with
    ``percentile_approx`` or the mergeable quantile state and clamp
    with literals."""
    if not 0.0 <= p_low <= p_high <= 1.0:
        raise ValueError(
            f"need 0 <= p_low <= p_high <= 1, got ({p_low}, {p_high})"
        )
    leaf = value_col.split(".")[-1]
    out = out_col or f"{leaf}_winsorized"
    keys = list(by or [])
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(
            f"winsorize: group columns {missing} not in {df.columns} "
            "(plain top-level column names only)"
        )
    internal = {"__wlo", "__whi"} | {f"__g_{k}" for k in keys}
    clash = ({out} | internal) & set(df.columns)
    if clash:
        raise ValueError(
            f"winsorize: input columns {sorted(clash)} collide with "
            "output/internal columns — rename them first"
        )
    v = qcol(value_col).cast("double")
    aggs = [
        F.percentile(v, F.lit(float(p_low))).alias("__wlo"),
        F.percentile(v, F.lit(float(p_high))).alias("__whi"),
    ]
    bounds = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    if keys:
        b2 = bounds.select(
            *[F.col(k).alias(f"__g_{k}") for k in keys], "__wlo", "__whi"
        )
        cond = None
        for k in keys:
            c = df[k].eqNullSafe(b2[f"__g_{k}"])
            cond = c if cond is None else (cond & c)
        joined = df.join(F.broadcast(b2), cond, "left").drop(
            *[f"__g_{k}" for k in keys]
        )
    else:
        joined = df.join(F.broadcast(bounds))
    # NULL value guarded explicitly: least/greatest SKIP NULLs, so a
    # bare clamp would turn a NULL value into the LOWER BOUND — the
    # opposite of totality (this same skip is what makes all-NULL-group
    # bounds vacuous, which IS wanted)
    clamp = F.when(
        v.isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(v, F.col("__wlo")), F.col("__whi")))
    return joined.withColumn(out, clamp).drop("__wlo", "__whi")


def percentile_rank(
    df: DataFrame,
    value_col: str,
    by: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Append each row's percentile rank (CUME_DIST: fraction of the
    group's non-NULL values ≤ this value — ties share one rank) — the
    score normalizer for mixing heterogeneous quality signals (a 0.7
    from one classifier and a 0.7 from another are not comparable;
    their percentile ranks are). NULL values get NULL rank (labeling
    is total, never a row drop); the rank is one division of exact
    longs, engine-reproducible.

    Scale shape — the window runs over DISTINCT VALUES, not rows: one
    groupBy counts rows per (group, value), a running sum over that
    count table computes cume_dist, and a null-safe join-back labels
    the rows. Per-partition window state is bounded by the group's
    VALUE CARDINALITY (a billion rows of 1k distinct scores = 1k
    window rows); the global (``by=None``) case runs the value window
    single-partition, which is exactly as bounded. A row-level
    cume_dist window would instead sort every row of a group in one
    partition — the trap this shape exists to avoid."""
    leaf = value_col.split(".")[-1]
    out = out_col or f"{leaf}_pct_rank"
    keys = list(by or [])
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(
            f"percentile_rank: group columns {missing} not in "
            f"{df.columns} (plain top-level column names only)"
        )
    internal = {"__prv", "__prn", "__prc", "__prtot"} | {
        f"__g_{k}" for k in keys
    }
    clash = ({out} | internal) & set(df.columns)
    if clash:
        raise ValueError(
            f"percentile_rank: input columns {sorted(clash)} collide "
            "with output/internal columns — rename them first"
        )
    v = qcol(value_col)
    counts = (
        df.filter(v.isNotNull())
        .groupBy(*keys, v.alias("__prv"))
        .agg(F.count(F.lit(1)).alias("__prn"))
    )
    if keys:
        part = [F.col(k) for k in keys]
    else:
        # bounded single-partition window over DISTINCT values only —
        # the constant must not constant-fold out of the window spec
        # (integral x*0 simplifies; DOUBLE x*0.0 cannot: NaN/Inf)
        part = [F.col("__prn").cast("double") * F.lit(0.0)]
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col("__prv").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*part)
    ranked = counts.withColumn(
        "__prc", F.sum("__prn").over(w)
    ).withColumn("__prtot", F.sum("__prn").over(wtot)).select(
        *keys,
        "__prv",
        (F.col("__prc") / F.col("__prtot")).alias(out),
    )
    if keys:
        r2 = ranked.select(
            *[F.col(k).alias(f"__g_{k}") for k in keys], "__prv", out
        )
        cond = None
        for k in keys:
            c = df[k].eqNullSafe(r2[f"__g_{k}"])
            cond = c if cond is None else (cond & c)
        cond = cond & v.eqNullSafe(r2["__prv"])
        joined = df.join(r2, cond, "left").drop(
            *[f"__g_{k}" for k in keys], "__prv"
        )
    else:
        joined = df.join(
            ranked, v.eqNullSafe(F.col("__prv")), "left"
        ).drop("__prv")
    # NULL values carry NULL rank (eqNullSafe would otherwise match
    # the NULL bucket if one existed; it never does — filtered above —
    # but the explicit guard pins totality rather than implying it)
    return joined.withColumn(
        out, F.when(v.isNull(), F.lit(None).cast("double")).otherwise(F.col(out))
    )


# ---------------------------------------------------------- debounce
def debounce_events(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    quiet_seconds: int,
    tiebreaker: str | None = None,
) -> DataFrame:
    """Keep the FIRST event of every burst: an event survives unless it
    follows another event of the same key within ``quiet_seconds`` —
    the duplicate-click / sensor-chatter / retry-storm cleaner.

    Semantics pinned (the burst-chaining variant): bursts are
    :func:`sessionize` sessions with ``gap_seconds = quiet_seconds``,
    so a chain of events each within the window of its PREDECESSOR
    collapses to one survivor even when the chain outlasts the window
    ("drop while still bouncing" — debounce, not throttle/rate-limit,
    which would re-emit every window). Equal-timestamp events order by
    ``tiebreaker`` ascending (default: a NULL-safe pass on the event's
    own row — give a unique tiebreaker for engine-independent picks);
    NULL timestamps drop (sessionize's contract — they cannot be
    ordered into any burst).

    Scale shape: exactly sessionize's one (key, ts) shuffle plus a
    row_number over the same partitioning — no join, schema preserved.
    """
    if quiet_seconds < 1:
        raise ValueError(f"quiet_seconds must be >= 1, got {quiet_seconds}")
    clash = {"session_idx", "session_start", "__dbr"} & set(df.columns)
    if clash:
        raise ValueError(
            f"debounce_events: input columns {sorted(clash)} collide with "
            "internal sessionize/rank columns — rename them first (the "
            "output would otherwise silently carry the debounce-internal "
            "values instead of yours)"
        )
    cols = df.columns
    labeled = sessionize(df, key_col, ts_col, quiet_seconds)
    order = [F.unix_micros(qcol(ts_col)).asc()]
    if tiebreaker is not None:
        order.append(qcol(tiebreaker).asc())
    w = Window.partitionBy(qcol(key_col), F.col("session_idx")).orderBy(*order)
    return (
        labeled.withColumn("__dbr", F.row_number().over(w))
        .filter(F.col("__dbr") == 1)
        .select(*cols)
    )


def bucketize(
    df: DataFrame,
    value_col: str,
    bins: int,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Append each row's equi-DEPTH bucket index (0-based) — the
    quantile feature-binning transform: boundaries are the exact
    ``i/bins`` percentiles (one aggregate, broadcast literals — same
    two-pass shape as :func:`histogram_equi_depth`, whose bins these
    labels land in: upper-inclusive, ties go to the first qualifying
    bucket). NULL values get NULL buckets (labeling is total)."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if bucket_col in df.columns:
        raise ValueError(
            f"bucketize: column {bucket_col!r} already exists — rename it"
        )
    v = qcol(value_col).cast("double")
    # shared with histogram_equi_depth so the "labels land exactly in
    # the histogram's bins" invariant holds by construction
    edges, idx = _equi_depth_edges_and_index(df, v, bins)
    if edges is None:
        # no non-NULL values: every bucket is NULL
        return df.withColumn(bucket_col, F.lit(None).cast("int"))
    return df.withColumn(
        bucket_col, F.when(v.isNotNull(), idx).cast("int")
    )


# ---------------------------------------------------- grouping sets
def grouping_sets_agg(
    df: DataFrame,
    sets: Sequence[Sequence[str]],
    aggs: Sequence,
) -> DataFrame:
    """Explicit GROUPING SETS aggregation — the OLAP face between one
    flat groupBy and a full cube: compute ``aggs`` once per requested
    key combination in ONE pass (Spark expands the sets with a single
    Expand node — never one scan per set). ``grouping_id`` is always
    appended: a NULL in a key column is ambiguous between "this set
    aggregates that key away" and "the data's key IS NULL" — the id's
    bit per key (1 = aggregated away, in groupBy-column order) is the
    only faithful disambiguation, and omitting it is the classic
    rollup-reading bug. Columns not in a given set come back NULL for
    that set's rows (standard SQL semantics).

    ``sets``: sequences of key-column names (the empty set = grand
    total); ``aggs``: aggregate Columns (alias them). The union of all
    set columns forms the output key columns."""
    sets = [list(s) for s in sets]
    if not sets:
        raise ValueError("grouping_sets_agg needs at least one set")
    all_keys: list[str] = []
    for s in sets:
        for k in s:
            if k not in all_keys:
                all_keys.append(k)
    missing = [k for k in all_keys if k not in df.columns]
    if missing:
        raise ValueError(
            f"grouping_sets_agg: key columns {missing} not in {df.columns}"
        )
    if not aggs:
        raise ValueError("grouping_sets_agg needs at least one aggregate")
    # qcol everywhere: a bare string key with a dot would be parsed as
    # struct-field access even though the validation above confirmed a
    # flat dotted column exists (the repo's first-class dotted case).
    # The set entries and the grouping columns must be the SAME
    # expression shape — an alias on one side makes Spark treat them
    # as distinct grouping columns and scrambles grouping_id.
    return df.groupingSets(
        [[qcol(k) for k in s] for s in sets],
        *[qcol(k) for k in all_keys],
    ).agg(*aggs, F.grouping_id().alias("grouping_id"))


# ------------------------------------------ mergeable quantile state
def quantile_sample_state(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    id_col: str,
    k: int = 1024,
    state_col: str = "qsample",
) -> DataFrame:
    """Mergeable per-key QUANTILE state — the missing member of the
    incremental-maintenance family: sum/count/min/max merge trivially
    (``incremental_agg_state``), DISTINCT merges via HLL, but a
    percentile is the classic non-mergeable aggregate. This state is a
    bottom-k uniform row sample (the KMV construction): every row gets
    a deterministic md5 priority from its UNIQUE ``id_col`` and the
    state keeps the k lowest (priority, value) pairs per key —
    ``bottom_k(A ∪ B) = bottom_k(bottom_k(A) ∪ bottom_k(B))``, so
    merging partial states is EXACT (bit-for-bit the state of the
    union, proven in tests), not approximately combined sketches.
    Only the finalized quantile is approximate: a k-row uniform sample
    puts the estimated rank within ~O(1/√k) of truth (k = 1024 → ~3%
    rank error at 95% confidence) — document k to your consumers.

    Determinism contract: priorities are pure md5 arithmetic over
    ``id_col``, so the sample — and therefore every downstream number —
    is identical across engines, partitionings, and reruns. ``id_col``
    must be unique per row: duplicate ids share ONE priority, so their
    rows sort adjacently and enter (or miss) the sample together —
    over-weighting that id and biasing every finalized quantile (same
    unique-id contract as the md5-draw sampling suite, and the same
    reason: determinism needs the id to identify the row). NULL values are
    excluded (SQL percentile semantics); NULL ids raise rather than
    silently bias the sample.

    Scale shape: two-stage salted bottom-k. The rank window partitions
    on (keys, priority mod 64), so no window partition — and no
    aggregation buffer — ever exceeds ~(group rows)/64 sorted rows or
    k kept structs, and the GLOBAL (``keys=[]``) case works without a
    single-partition window; stage two folds the ≤ 64 per-salt samples
    with the same union-sort-slice the merge uses (bottom-k closure —
    exactly the state an unsalted build produces). Output: one row per
    key with ``n_rows`` (exact total, for weighting) and
    ``<state_col>`` (≤ k sorted (priority, value) structs)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    key_out_set = {c.split(".")[-1] for c in keys}
    clash = ({state_col, "n_rows", "__pr", "__v", "__salt", "__rn"}
             & key_out_set)
    if clash:
        raise ValueError(
            f"quantile_sample_state: key columns {sorted(clash)} collide "
            "with state/internal columns — rename them first"
        )
    from .sampling import _md5_key

    v = qcol(value_col).cast("double")
    # the ONE portable md5 integer key every sampling draw derives from
    # (sampling._md5_key) — this state IS a deterministic sampling draw
    pr = _md5_key(id_col, "q", 15)
    key_out = [k_.split(".")[-1] for k_ in keys]
    # NULL-value rows are excluded BEFORE the raise_error projection so
    # the NULL-id guard's scope is pinned by construction: a (NULL id,
    # NULL value) row never raises, a (NULL id, value) row always does.
    # Filtering after the select would leave that choice to whether
    # Catalyst pushes the filter below the projection.
    base = df.filter(v.isNotNull()).select(
        *[qcol(k_).alias(k_.split(".")[-1]) for k_ in keys],
        F.when(
            qcol(id_col).isNull(),
            F.raise_error(
                F.lit("quantile_sample_state: NULL id — ids must be unique "
                      "and non-NULL (they are the sample priorities)")
            ).cast("long"),
        ).otherwise(pr).alias("__pr"),
        v.alias("__v"),
    )
    salted = base.withColumn("__salt", (F.col("__pr") % 64).cast("int"))
    w = Window.partitionBy(
        *[F.col(c) for c in key_out], F.col("__salt")
    ).orderBy(F.col("__pr"), F.col("__v"))
    ranked = salted.withColumn("__rn", F.row_number().over(w))
    per_salt = ranked.groupBy(*key_out, "__salt").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("__rn") <= k,
                    F.struct(F.col("__pr"), F.col("__v")),
                )
            )
        ).alias(state_col),
    )
    return per_salt.groupBy(*key_out).agg(
        F.sum("n_rows").alias("n_rows"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list(state_col))), 1, k
        ).alias(state_col),
    )


def merge_quantile_states(
    states: DataFrame,
    keys: list[str],
    k: int = 1024,
    state_col: str = "qsample",
) -> DataFrame:
    """Fold many batches' quantile states into one per key: counts add,
    samples union-then-bottom-k — EXACTLY the state a one-shot build
    over the union produces (the bottom-k closure property; ``k`` must
    be the k the states were built with — a larger k here cannot
    conjure rows the partials already discarded). Per-key merge cost
    is (#batches × k) structs — bounded metadata, like the agg-state
    store's merge-on-read."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    key_out = [k_.split(".")[-1] for k_ in keys]
    return states.groupBy(*key_out).agg(
        F.sum("n_rows").alias("n_rows"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list(state_col))), 1, k
        ).alias(state_col),
    )


def finalize_quantiles(
    state: DataFrame,
    probs: list[float],
    state_col: str = "qsample",
    prefix: str = "q_",
) -> DataFrame:
    """Add ``<prefix><i>`` columns — the PERCENTILE_CONT-interpolated
    quantile of each requested probability over the sampled values (a
    projection; the state stays mergeable). The interpolation is the
    exact pinned arithmetic (idx = p·(n−1); v[lo] + (v[hi]−v[lo])·
    (idx−lo), IEEE order fixed), so any engine finalizes the same
    state to the same doubles. Empty samples (a key whose every value
    was NULL never enters the state; a zero-row state can only come
    from an empty merge input) yield NULL quantiles."""
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"probabilities must be in [0, 1], got {p}")
    reserved = {"__vals"} | {f"{prefix}{i}" for i in range(len(probs))}
    clash = reserved & set(state.columns)
    if clash:
        raise ValueError(
            f"finalize_quantiles: state columns {sorted(clash)} collide "
            "with output/internal columns — rename them first"
        )
    out = state.withColumn(
        "__vals", F.array_sort(F.transform(F.col(state_col), lambda s: s["__v"]))
    )
    n = F.size("__vals")
    for i, p in enumerate(probs):
        idx = F.lit(float(p)) * (n - F.lit(1)).cast("double")
        lo = F.floor(idx).cast("int")
        hi = F.ceil(idx).cast("int")
        vlo = F.element_at("__vals", lo + F.lit(1))
        vhi = F.element_at("__vals", hi + F.lit(1))
        q = F.when(n == 0, F.lit(None).cast("double")).otherwise(
            vlo + (vhi - vlo) * (idx - lo.cast("double"))
        )
        out = out.withColumn(f"{prefix}{i}", q)
    return out.drop("__vals")
