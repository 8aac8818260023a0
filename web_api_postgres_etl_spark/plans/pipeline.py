"""G1/G2 — medallion pipeline runners (full refresh / incremental).

The reference's two Airflow DAGs (mabna_tables_create.py:303-322 —
manual full refresh; mabna_tables_update.py:383-410 — 15-min cron
incremental) become two methods over the same operator library. The
fact tables are declared once, in ``FACTS``, from the config's
instrument types (G3: constants.yaml drives which tables exist, and
both DAGs loop over it — mabna_tables_create.py:80-90); each runner
drives every fact through one chain. Cross-task state (G4: the XCom
watermark dict) is a plain dict returned by ``WatermarkManager.probe``;
fault tolerance (G5) is per-table try/except with structured results
instead of swallowed prints.

Both runners fan out per table, as the reference's task lists do (one
Airflow task per table, no order inside a list): independent tables run
on a bounded thread pool against the one SparkSession, so one table's
driver-side planning overlaps another's execution. Results are still
recorded in ``FACTS`` order, from the calling thread.

Layering contract (reference's Postgres schemas → path prefixes):
``src_*`` raw flattened ingest → ``stg_*`` cleaned/derived →
``prd_*`` joined/filtered, partitioned for scale.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG
from ..operators.aggregates import max_watermark
from ..operators.dedup import dedup_last_wins
from ..operators.filters import drop_required_nulls, in_range, newer_than
from ..operators.joins import star_join
from ..operators.project import project, qcol
from ..functions.dates import fa_today, jalali_compact_to_slashed
from ..functions.math import pct_change
from ..sources.writers import (
    recover_swap,
    replace_table,
    table_path,
    write_append,
    write_overwrite,
)
from .fs import partition_dir, path_exists
from .watermark import WatermarkManager

TRADES_PROJECTION = [
    "id", "date_time", "open_price", "high_price", "low_price",
    "close_price", "close_price_change", "trade_count", "volume", "value",
    "instrument.id", "meta.version",
]  # mabna_tables_create.py:145-146
TRADES_REQUIRED = [
    "date_time", "open_price", "high_price", "low_price", "close_price",
    "close_price_change", "trade_count", "volume", "value", "instrument.id",
]  # mabna_tables_create.py:147-148
NEWS_PROJECTION = ["id", "date_time", "title", "text", "meta.version"]
NEWS_REQUIRED = ["date_time", "title", "text"]
INDEXVALUES_PROJECTION = [
    "id", "date_time", "open_value", "low_value", "high_value",
    "close_value", "close_value_change", "index.id", "meta.version",
]
INDEXVALUES_REQUIRED = [
    "date_time", "open_value", "low_value", "high_value", "close_value",
    "close_value_change", "index.id",
]

NO_DETAIL_TYPES = {"commodity", "currency"}  # mabna_tables_update.py:250-251


def with_jalali_month(df: DataFrame) -> DataFrame:
    """Derive the prd partition column ``j_month`` ("1401-01") from the
    slashed ``j_date`` ("1401/01/01"). Dash separator: a '/' in a
    partition VALUE would be path-escaped into unreadable dirs."""
    return df.withColumn(
        "j_month",
        F.concat(
            F.col("j_date").substr(1, 4), F.lit("-"), F.col("j_date").substr(6, 2)
        ),
    )


@dataclass(frozen=True)
class Fact:
    """One fact table: its ``src_/stg_/prd_`` name, how its src frame
    is staged, how its prd frame is produced from the staged frame plus
    the dims, the dims that needs, and the key the incremental compactor
    keeps the last version of. ``stage`` and ``produce`` call through
    the pipeline they are handed, so the methods they name resolve on
    the instance at call time."""

    name: str
    stage: Callable[["MedallionPipeline", DataFrame], DataFrame]
    produce: Callable[["MedallionPipeline", DataFrame, Mapping[str, DataFrame]], DataFrame]
    dims: tuple[str, ...]
    keys: tuple[str, ...]


TRADE_DIMS = ("instruments", "assets", "categories", "exchanges")


def _trades_fact(instrument_type: str) -> Fact:
    return Fact(
        f"trades_{instrument_type}",
        lambda pipe, src: pipe.stage_trades(src),
        lambda pipe, stg, dims: pipe.produce_trades(
            stg, *(dims[d] for d in TRADE_DIMS), instrument_type=instrument_type
        ),
        TRADE_DIMS,
        ("j_date", "name"),
    )


FACTS: tuple[Fact, ...] = (
    *(_trades_fact(t) for t in DEFAULT_CONFIG["instrument_types"]),
    Fact(
        "indexvalues",
        lambda pipe, src: pipe.stage_indexvalues(src),
        lambda pipe, stg, dims: pipe.produce_indexvalues(stg, dims["indexes"]),
        ("indexes",),
        ("j_date", "name"),
    ),
    # prd news is the staged frame as-is (the reference's create_prd_news
    # is a straight SELECT from staging — mabna_tables_create.py:259-271);
    # updates keep the last version per (j_date, title) —
    # mabna_tables_update.py:290-330
    Fact(
        "news",
        lambda pipe, src: pipe.stage_news(src),
        lambda pipe, stg, dims: stg,
        (),
        ("j_date", "title"),
    ),
)
# every dimension a fact joins, in first-use order
DIMS = tuple(dict.fromkeys(d for fact in FACTS for d in fact.dims))


@dataclass
class RunResult:
    table: str
    rows: int | None
    error: str | None = None
    attempts: int = 1


@dataclass
class MedallionPipeline:
    """Source-agnostic runner: ``extract`` callables supply raw frames
    (REST in production, parquet fixtures in tests), the runner owns
    transform+load ordering."""

    spark: SparkSession
    warehouse: str
    range_start: str = "1399/01/01"
    range_end: str = field(default_factory=fa_today)
    results: list[RunResult] = field(default_factory=list)
    # G5 retry policy (reference: retries=1, retry_delay=2 min, email
    # on failure — mabna_tables_create.py:21-30; the "email" is the
    # structured RunResult here). retry_delay_s defaults small so tests
    # stay fast; production mirrors the reference with 120.
    retries: int = 1
    retry_delay_s: float = 0.0
    # r13: the reference's email_on_failure as a pluggable hook —
    # invoked once per FAILED table with its RunResult, after retries.
    # See plans/alerts.py (file_alerter / email_alerter /
    # compose_alerters). Best-effort: a raising alerter is swallowed
    # (alerting must never break the run it reports on).
    on_failure: Callable[["RunResult"], None] | None = None

    def _attempt(self, fn: Callable[[], object]):
        """Run ``fn`` up to retries+1 times with linear backoff.
        Returns (attempts, result, error) — error is None on success."""
        import time

        err: Exception | None = None
        for attempt in range(1, self.retries + 2):
            try:
                return attempt, fn(), None
            except Exception as exc:  # noqa: BLE001 — G5 isolates any failure
                err = exc
                if attempt <= self.retries and self.retry_delay_s:
                    time.sleep(self.retry_delay_s * attempt)
        return self.retries + 1, None, err

    # ---------------------------------------------------------- staging
    def stage_trades(self, src: DataFrame) -> DataFrame:
        """Entry point 2 (mabna_tables_create.py:132-162) as one lazy
        chain: project → null-drop → derive j_date → derive pct —
        Catalyst fuses into a single scan→filter→project stage."""
        df = project(src, TRADES_PROJECTION)
        df = drop_required_nulls(df, TRADES_REQUIRED)
        df = df.withColumn("j_date", jalali_compact_to_slashed("date_time"))
        df = df.withColumn(
            "close_price_change_percent",
            pct_change("close_price_change", "close_price"),
        )
        # contract column order: j_date at position 2, pct at 8
        cols = TRADES_PROJECTION.copy()
        cols.insert(2, "j_date")
        cols.insert(8, "close_price_change_percent")
        return project(df, cols)

    def stage_assets(self, src: DataFrame) -> DataFrame:
        """src_exchange_assets (mabna_tables_create.py:92-127): drop
        rows with NULL ``categories``, extract ``categories[0].id`` into
        a ``category.id`` column at the reference's position 8, drop the
        array. The reference extracts positionally AFTER the dropna and
        re-attaches the series by position — silently mis-aligning ids
        whenever rows were dropped; here extraction is per-row
        (functions.arrays.first_element_field), so ids stay with their
        rows (the mis-alignment bug is intentionally NOT reproduced —
        SURVEY §7.4)."""
        from ..functions.arrays import first_element_field

        df = src.filter(F.col("categories").isNotNull())
        df = df.withColumn("category.id", first_element_field("categories", "id"))
        cols = [c for c in df.columns if c not in ("categories", "category.id")]
        pos = min(8, len(cols))
        cols = cols[:pos] + ["category.id"] + cols[pos:]
        return df.select(*[qcol(c).alias(c) for c in cols])

    def stage_news(self, src: DataFrame) -> DataFrame:
        df = project(src, NEWS_PROJECTION)
        df = drop_required_nulls(df, NEWS_REQUIRED)
        df = df.withColumn("j_date", jalali_compact_to_slashed("date_time"))
        cols = NEWS_PROJECTION.copy()
        cols.insert(2, "j_date")
        return project(df, cols)

    def stage_indexvalues(self, src: DataFrame) -> DataFrame:
        df = project(src, INDEXVALUES_PROJECTION)
        df = drop_required_nulls(df, INDEXVALUES_REQUIRED)
        df = df.withColumn("j_date", jalali_compact_to_slashed("date_time"))
        df = df.withColumn(
            "close_value_change_percent",
            pct_change("close_value_change", "close_value"),
        )
        cols = INDEXVALUES_PROJECTION.copy()
        cols.insert(2, "j_date")
        cols.insert(8, "close_value_change_percent")
        return project(df, cols)

    # ------------------------------------------------------- production
    def produce_trades(
        self,
        stg_trades: DataFrame,
        instruments: DataFrame,
        assets: DataFrame,
        categories: DataFrame,
        exchanges: DataFrame,
        instrument_type: str = "share",
    ) -> DataFrame:
        """J1 star join + P2 aliases + P5 range —
        mabna_tables_create.py:226-248 / mabna_tables_update.py:229-251.
        All dims broadcast: fact never shuffles."""
        fact = stg_trades
        joined = star_join(
            fact,
            [
                (instruments, "instrument.id", "id"),
                (assets, "asset.id", "id"),
                (categories, "category.id", "id"),
                (exchanges, "exchange.id", "id"),
            ],
        )
        out = joined.select(
            fact["id"].alias("id"),
            fact["j_date"],
            fact["date_time"],
            instruments["code"],
            instruments["isin"],
            instruments["name"],
            qcol("stock.company.id").alias("company.id"),
            categories["short_name"].alias("category"),
            exchanges["title"].alias("market"),
            fact["open_price"],
            fact["high_price"],
            fact["low_price"],
            fact["close_price"],
            fact["close_price_change"],
            fact["close_price_change_percent"],
            fact["trade_count"],
            fact["volume"],
            fact["value"],
            qcol("meta.version").alias("meta.version"),
        )
        out = in_range(out, "j_date", self.range_start, self.range_end)
        if instrument_type in NO_DETAIL_TYPES:
            out = out.drop("code", "isin", "trade_count", "volume", "value")
        return out

    def produce_indexvalues(self, stg_iv: DataFrame, indexes: DataFrame) -> DataFrame:
        """J2 (mabna_tables_create.py:282-291)."""
        fact = stg_iv
        joined = fact.join(
            F.broadcast(indexes), qcol("index.id") == indexes["id"], "inner"
        )
        out = joined.select(
            fact["id"].alias("id"),
            fact["j_date"],
            fact["date_time"],
            indexes["name"],
            fact["open_value"],
            fact["low_value"],
            fact["high_value"],
            fact["close_value"],
            fact["close_value_change"],
            fact["close_value_change_percent"],
            qcol("meta.version").alias("meta.version"),
        )
        return in_range(out, "j_date", self.range_start, self.range_end)

    # ------------------------------------------------------ orchestration
    def _concurrently(self, tasks: list[Callable[[], object]]) -> list[Future]:
        """Run independent per-table callables at once on this session;
        return their settled futures in task order.

        The reference's DAGs give each table its own Airflow task, and a
        task list imposes no order inside it. Here the tables share one
        SparkSession: while one table's query is analysed and planned on
        the driver, another's runs on the executors. Each task is wrapped
        in the calling thread, so it inherits the caller's job group, job
        description and scheduler pool. The pool is bounded by the
        session's default parallelism; a single task runs inline."""
        if len(tasks) <= 1:
            settled = []
            for task in tasks:
                done: Future = Future()
                try:
                    done.set_result(task())
                except Exception as exc:  # noqa: BLE001 — re-raised by result()
                    done.set_exception(exc)
                settled.append(done)
            return settled
        workers = min(len(tasks), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            # one wrapper per task: each gets its own copy of the caller's
            # local properties, so no task's changes leak into another's
            return [
                pool.submit(inheritable_thread_target(self.spark)(task))
                for task in tasks
            ]

    def run_full_refresh(
        self, extractors: Mapping[str, Callable[[], DataFrame]]
    ) -> list[RunResult]:
        """G1: extract → stage → produce, overwrite everything.

        ``extractors`` maps logical table name → callable returning the
        raw (already flattened) frame; the REST fan-out or test fixtures
        plug in here. Two concurrent phases: every src ingest, then one
        stg → prd chain per fact in ``FACTS``. Results are recorded after
        each phase: src in extractor order, prd in ``FACTS`` order."""
        self.results = []

        def _ingest(name: str, fn: Callable[[], DataFrame]):
            path = table_path(self.warehouse, "src", name)
            # the row count rides on the write itself (no second job);
            # a fresh unnamed Observation per attempt, so concurrent
            # ingests never share a name
            obs = Observation()
            write_overwrite(fn().observe(obs, F.count(F.lit(1)).alias("rows")), path)
            return self.spark.read.parquet(path), obs.get["rows"]

        # G5: isolate per-table failures; one retry with backoff
        ingests = self._concurrently(
            [partial(self._attempt, partial(_ingest, n, fn)) for n, fn in extractors.items()]
        )
        frames: dict[str, DataFrame] = {}
        for name, fut in zip(extractors, ingests):
            attempts, got, err = fut.result()
            if err is None:
                frames[name], rows = got
                self._ok(f"src_{name}", rows, attempts)
            else:
                self._err(f"src_{name}", err, attempts)
        dims = {d: frames[d] for d in DIMS if d in frames}

        def _publish(fact: Fact) -> tuple[bool, Exception | None]:
            """One fact's stg → prd chain: (published, error). An
            exception it raises propagates."""
            stg_path = table_path(self.warehouse, "stg", fact.name)
            prd_path = table_path(self.warehouse, "prd", fact.name)
            # a fact this run did not ingest republishes from the stg an
            # earlier run left, unless ticks have appended to its prd
            # since (_holds_tick_rows); it is skipped when there is no
            # stg — checked explicitly, before any write.
            # Scheme-aware probe (plans.fs): a local os.path.exists would
            # read every stg path on an HDFS/S3 warehouse as absent and
            # skip ALL prds behind a green run.
            ingested = fact.name in frames
            if ingested:
                write_overwrite(fact.stage(self, frames[fact.name]), stg_path)
            elif not path_exists(self.spark, stg_path):
                return False, None
            # require each specific dim (a count-based gate would pass
            # with e.g. {instruments, categories, exchanges, indexes} and
            # then KeyError mid-refresh)
            missing = set(fact.dims) - dims.keys()
            if missing:
                return True, RuntimeError(f"missing dimension extracts: {sorted(missing)}")
            # any failure reading an EXISTING stg (corrupt footer,
            # permissions) surfaces as the table's failure — silently
            # skipping would leave a stale prd behind a green run (r13,
            # the _read_index_meta rule)
            try:
                stg = self.spark.read.parquet(stg_path)
            except Exception as exc:  # noqa: BLE001 — reported per table
                return True, exc
            prd = fact.produce(self, stg, dims)
            if not ingested and self._holds_tick_rows(prd_path, prd):
                return False, None
            # prd sinks partition by Jalali month so the incremental
            # compactor can rewrite only touched months (T3 at scale)
            write_overwrite(with_jalali_month(prd), prd_path, partition_by=["j_month"])
            return True, None

        published = self._concurrently([partial(_publish, fact) for fact in FACTS])
        for fact, fut in zip(FACTS, published):
            done, err = fut.result()
            if not done:
                continue
            if err is None:
                self._ok(f"prd_{fact.name}", None)
            else:
                self._err(f"prd_{fact.name}", err)
        return self.results

    def _holds_tick_rows(self, path: str, republished: DataFrame) -> bool:
        """Whether the prd at ``path`` holds rows that a tick appended
        after the stg behind ``republished`` was published. A tick
        appends to prd only (never to stg), and only rows newer than the
        prd's watermark, so such a prd's watermark is past the newest
        row of ``republished``; republishing would drop those rows. A
        prd that is missing or cannot be probed (corrupt) is rebuilt."""
        try:
            wm = WatermarkManager(self.spark, self.warehouse).probe({path: path})[path]
        except Exception:  # noqa: BLE001 — a corrupt prd is rebuilt
            return False
        if wm is None:
            return False
        newest = max_watermark(republished)
        return newest is None or wm > newest

    def _append_and_compact(
        self, prd: DataFrame, path: str, keys: list[str]
    ) -> None:
        """The shared incremental tail: persist the delta (the
        touched-months collect and the append must see the SAME frame,
        paying one upstream evaluation — the extract may be remote),
        append month-partitioned, then compact ONLY touched months.
        Compaction last: the (keys) last-wins dedup also collapses the
        double-append a retried attempt leaves behind, so a post-append
        failure self-heals on retry."""
        prd = with_jalali_month(prd).persist()
        try:
            touched = [
                r[0] for r in prd.select("j_month").distinct().collect()
            ]
            write_append(prd, path, partition_by=["j_month"])
        finally:
            prd.unpersist()
        self.compact_partitioned(
            path, keys=keys, partition_col="j_month", touched=touched,
        )

    def run_incremental(
        self,
        extractors: Mapping[str, Callable[[int | None], DataFrame]],
        dims: Mapping[str, DataFrame],
    ) -> list[RunResult]:
        """G2/T1-T3: probe watermarks → delta extract (pushdown) →
        stage → append to prd → last-wins compaction, per table.

        Mirrors mabna_tables_update.py:383-410 ordering: every append is
        chained with its compaction so re-delivered versions collapse
        before readers see them. One ``WatermarkManager.probe`` call
        reads every sink's watermark first (from parquet footers, no
        Spark job on a local warehouse; a probe that raises stops the
        tick before anything is written), then one chain per fact that
        has an extractor runs concurrently. Results are recorded after
        the chains finish, in ``FACTS`` order.
        """
        self.results = []
        facts = [fact for fact in FACTS if fact.name in extractors]
        prd_paths = {f.name: table_path(self.warehouse, "prd", f.name) for f in facts}
        watermarks = WatermarkManager(self.spark, self.warehouse).probe(prd_paths)

        def _tick(fact: Fact) -> None:
            wm = watermarks.get(fact.name)
            delta = extractors[fact.name](wm)  # S1 pushdown: server filters > wm
            stg = fact.stage(self, delta)
            # defensive watermark filter (P6): an extractor that ignores
            # its wm argument must not re-append the whole corpus every
            # tick
            if wm is not None:
                stg = newer_than(stg, "meta.version", wm)
            self._append_and_compact(
                fact.produce(self, stg, dims), prd_paths[fact.name], keys=list(fact.keys)
            )

        runs = self._concurrently([partial(self._attempt, partial(_tick, f)) for f in facts])
        for fact, fut in zip(facts, runs):
            attempts, _, err = fut.result()
            if err is None:
                self._ok(f"prd_{fact.name}", None, attempts)
            else:
                self._err(f"prd_{fact.name}", err, attempts)
        return self.results

    def compact_partitioned(
        self,
        path: str,
        keys: list[str],
        partition_col: str | None = None,
        touched: list[str] | None = None,
    ) -> None:
        """T3 repair: append-then-compact, last version wins (O2) — the
        one last-wins compactor (incremental runner, streaming sink and
        CLI all call it).

        The reference rewrites the whole table
        (mabna_tables_update.py:271-280); that is the form here without
        ``partition_col``. A sink partitioned by ``partition_col`` (for
        prd tables the Jalali month, written via
        ``write_append(..., partition_by=[col])``) is rewritten one
        partition dir at a time, and with ``touched`` (the months in the
        delta — known to the incremental runner for free) only those
        are read, deduped and rewritten: untouched history is never
        read or written, so a 15-minute micro-batch costs O(delta +
        touched partitions), not O(table). Without ``touched`` the
        whole table is read through Spark (so any filesystem Spark
        reads lists its partitions) and every partition is rewritten.
        """
        if touched is not None and partition_col is None:
            raise ValueError("touched requires partition_col")
        recover_swap(path)  # heal a crashed prior swap (stale .old/.tmp)
        if touched is None:
            df = self.spark.read.parquet(path)
        else:
            # list ONLY the touched dirs (a root read would list every
            # month of history); a month the sink lacks has nothing to
            # compact
            dirs = [
                d
                for d in (
                    f"{path}/{partition_dir(partition_col, v)}"
                    for v in dict.fromkeys(touched)
                )
                if path_exists(self.spark, d)
            ]
            if not dirs:
                return
            df = self.spark.read.option("basePath", path).parquet(*dirs)
        compacted = dedup_last_wins(
            df, keys, version_col="meta.version", tiebreaker="id"
        )
        # never overwrite a path still referenced by the read plan: the
        # rewrite goes beside it and is swapped in (on a cluster this
        # maps to dynamic partition overwrite / MERGE on a
        # transactional table)
        replace_table(compacted, path, partition_col)
        self._maybe_refresh_zone_map(path)

    def _maybe_refresh_zone_map(self, path: str) -> None:
        """Keep a persisted zone-map sidecar consistent with the table
        it indexes: every compaction rewrites files, and a stale map
        would make pruned reads open nonexistent paths (or miss new
        ones). No sidecar → no cost; with one, the refresh drops
        dead entries and scans ONLY files the rewrite added — the
        indexed columns come from the map's own schema. The refreshed
        frame is released immediately (the sidecar write already
        materialized it)."""
        from ..caching import release_frame
        from ..operators.layout import has_zone_map, zone_map_refresh

        if not has_zone_map(path):
            return
        pins: list = []
        zone_map_refresh(self.spark, path, pins=pins)
        for fr in pins:
            release_frame(fr)

    def _ok(self, table: str, rows: int | None, attempts: int = 1) -> None:
        self.results.append(RunResult(table, rows, attempts=attempts))

    def _err(self, table: str, exc: Exception, attempts: int = 1) -> None:
        result = RunResult(
            table, None, f"{type(exc).__name__}: {exc}", attempts
        )
        self.results.append(result)
        if self.on_failure is not None:
            import contextlib

            # alerting is observability — it must never break the run
            with contextlib.suppress(Exception):
                self.on_failure(result)
