"""The benchmark's workloads: closed loops with one client each.

``etl_cycle``  the paper's own job: one full refresh of the medallion
               warehouse, then 15-minute ticks back to back, each tick's
               delta arriving as nested REST records, and after each
               tick the dashboard read set a BI caller waits for.
``curation``   ``prepare_training_data`` with the contract's
               ``q_training_data_e2e`` config over a seeded corpus,
               materialized into Spark's ``noop`` sink.

Each workload exposes ``warm_up(spark)``, ``measure(spark, tally,
tracer)`` and ``check(spark, tally)``; ``Tally`` counts attempted and
failed operations. ``warm_up`` is part of set-up: etl_cycle's first
refresh, tick and read set after the JVM starts run 1.3-2x slower than
later ones, so one of each runs there, untimed per operation. curation
has no warm-up pass: a second curation run does not fit the run budget.
``measure`` then runs a fixed set of operations (``REFRESHES``
refreshes and ``MabnaParams.ticks`` ticks; ``CURATION_RUNS`` curation
runs), so a change in speed never changes which operations the medians
cover.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import functions as F

import gen
from checks import Oracle, spark_fingerprint
from procs import cpu_seconds


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def fail(self, what: str) -> None:
        """An output check failed for an operation already counted."""
        self.failed += 1
        self.errors.append(what)


@dataclass
class Sample:
    wall: float  # seconds
    cpu: float  # CPU seconds of the driver, its JVM and Python workers


def _timed(tracer, name: str, fn):
    """Run ``fn`` as one operation; return (Sample, result)."""
    with tracer.op(name) if tracer is not None else nullcontext():
        c0, t0 = cpu_seconds(), time.perf_counter()
        out = fn()
        t1 = time.perf_counter()
        return Sample(t1 - t0, cpu_seconds() - c0), out


def medians(prefix: str, samples: list[Sample]) -> dict[str, float]:
    if not samples:
        return {f"{prefix}_s": float("nan"), f"{prefix}_cpu_s": float("nan")}
    return {f"{prefix}_s": statistics.median(x.wall for x in samples),
            f"{prefix}_cpu_s": statistics.median(x.cpu for x in samples)}


# ================================================================ ETL
CURRENT_MONTH = "1403-12"
ETL = gen.MabnaParams()
REFRESHES = 2  # back to back: each overwrites src, stg and prd


def _dashboards(prd):
    """The BI read set over the union of the prd trades tables."""
    return {
        "current_month": lambda: prd.filter(F.col("j_month") == CURRENT_MONTH)
        .groupBy("category", "market")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("close_price").alias("avg_close"))
        .collect(),
        "monthly_ohlc": lambda: prd.groupBy("market", "j_month")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by("open_price", "date_time").alias("open"),
            F.max("high_price").alias("high"),
            F.min("low_price").alias("low"),
            F.max_by("close_price", "date_time").alias("close"),
        )
        .collect(),
        "latest_close": lambda: prd.groupBy("name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("j_date").alias("last_date"),
            F.max_by("close_price", "j_date").alias("close"),
        )
        .collect(),
    }


# DuckDB forms of the dashboards' exact (non-float) columns
_DASH_SQL = {
    "current_month": f"""SELECT category, market, count(*) FROM exp_trades
        WHERE substr(j_date,1,4) || '-' || substr(j_date,6,2) = '{CURRENT_MONTH}'
        GROUP BY ALL""",
    "monthly_ohlc": """SELECT market, substr(j_date,1,4) || '-' || substr(j_date,6,2),
        count(*) FROM exp_trades GROUP BY ALL""",
    "latest_close": "SELECT name, count(*), max(j_date) FROM exp_trades GROUP BY ALL",
}
_DASH_KEYS = {
    "current_month": ("category", "market", "n"),
    "monthly_ohlc": ("market", "j_month", "n"),
    "latest_close": ("name", "n", "last_date"),
}


class EtlCycle:
    # what batch / op / read are in this workload
    aliases = {"batch": "refresh", "op": "tick", "read": "dashboard"}

    def __init__(self, work: str, seed: int, params: gen.MabnaParams = ETL):
        self.params = params
        self.data = gen.mabna(seed, f"{work}/landing", params)
        self.warehouse = f"{work}/warehouse"
        self.ticks_applied = 0
        self.dash_results: list[dict[str, list]] = []
        self.samples: dict[str, list[Sample]] = {"refresh": [], "tick": [], "dashboard": []}

    # ------------------------------------------------------------ parts
    def _pipeline(self, spark):
        from web_api_postgres_etl_spark.plans.pipeline import MedallionPipeline

        return MedallionPipeline(spark, self.warehouse, range_start=gen.RANGE_START,
                                 range_end=gen.RANGE_END)

    def _landing_extractors(self, spark):
        names = list(self.data.flat) + list(("instruments", "assets", "categories",
                                             "exchanges", "indexes"))
        return {n: (lambda n=n: spark.read.parquet(f"{self.data.landing}/{n}.parquet"))
                for n in names}

    @staticmethod
    def _rest_extractors(spark, tick: dict[str, list[dict]]):
        """The REST path without the network: the server filters on the
        watermark, the engine lands the page through json_records_to_df."""
        from web_api_postgres_etl_spark.sources import rest

        def extractor(records):
            def fetch(wm):
                page = [r for r in records if wm is None or r["meta"]["version"] > wm]
                return rest.json_records_to_df(spark, page)
            return fetch

        return {name: extractor(recs) for name, recs in tick.items()}

    def _dims(self, spark):
        from web_api_postgres_etl_spark.sources.writers import table_path

        return {d: spark.read.parquet(table_path(self.warehouse, "src", d))
                for d in ("instruments", "assets", "categories", "exchanges", "indexes")}

    def _prd_trades(self, spark):
        from web_api_postgres_etl_spark.sources.writers import table_path

        frames = [spark.read.parquet(table_path(self.warehouse, "prd", f"trades_{t}"))
                  for t in self.params.types]
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)

    def _cycle(self, spark, tally: Tally, tracer=None) -> None:
        """``REFRESHES`` refreshes, then every tick of ``params.ticks``,
        with the read set after each tick. The set is fixed, so a faster
        refresh cannot add a warm tick to the tick median."""
        p = self._pipeline(spark)
        for _ in range(REFRESHES):
            wall, results = _timed(tracer, "refresh", lambda: p.run_full_refresh(
                self._landing_extractors(spark)))
            for r in results:
                tally.op(r.error is None, f"refresh {r.table}: {r.error}")
            self.samples["refresh"].append(wall)
        dims = self._dims(spark)
        for tick in self.data.deltas:
            wall, results = _timed(tracer, "tick", lambda: p.run_incremental(
                self._rest_extractors(spark, tick), dims))
            self.ticks_applied += 1
            for r in results:
                tally.op(r.error is None, f"tick {r.table}: {r.error}")
            prd = self._prd_trades(spark)
            reads, got = Sample(0.0, 0.0), {}
            for name, query in _dashboards(prd).items():
                try:
                    w, rows = _timed(tracer, f"dashboard.{name}", query)
                except Exception as exc:  # noqa: BLE001 - counted as a failed op
                    tally.op(False, f"dashboard {name}: {exc}")
                    continue
                tally.op(True)
                reads = Sample(reads.wall + w.wall, reads.cpu + w.cpu)
                got[name] = rows
            self.samples["tick"].append(wall)
            self.samples["dashboard"].append(reads)
            self.dash_results.append(got)

    # ------------------------------------------------------------- API
    def warm_up(self, spark) -> None:
        """One refresh, the first tick and one read set, unchecked: the
        measured refreshes overwrite what they leave."""
        p = self._pipeline(spark)
        p.run_full_refresh(self._landing_extractors(spark))
        p.run_incremental(self._rest_extractors(spark, self.data.deltas[0]), self._dims(spark))
        for query in _dashboards(self._prd_trades(spark)).values():
            query()

    def measure(self, spark, tally: Tally, tracer=None) -> None:
        self.ticks_applied = 0
        self.dash_results = []
        self.samples = {k: [] for k in self.samples}
        self._cycle(spark, tally, tracer)

    def ops_measured(self) -> str:
        return f"{len(self.samples['refresh'])} refreshes, {self.ticks_applied} ticks"

    def check(self, spark, tally: Tally) -> None:
        """prd fingerprints and dashboard results against DuckDB."""
        from web_api_postgres_etl_spark.sources.writers import table_path

        oracle = Oracle(self.data.landing)
        try:
            for table, parts in self.data.flat.items():
                oracle.prd(table, parts[: 1 + self.ticks_applied])
                want = oracle.fingerprint(table)
                got = spark_fingerprint(spark, table_path(self.warehouse, "prd", table), table)
                if got != want:
                    tally.fail(f"prd_{table} fingerprint {got} != {want}")
            # dashboards: the read after tick k saw the prd state after k ticks
            trades = [f"trades_{t}" for t in self.params.types]
            for k, got in enumerate(self.dash_results, start=1):
                for t in trades:
                    oracle.prd(t, self.data.flat[t][: 1 + k])
                union = " UNION ALL ".join(
                    f"SELECT j_date, name, category, market FROM exp_{t}" for t in trades)
                oracle.con.execute(f"CREATE OR REPLACE VIEW exp_trades AS {union}")
                for name, rows in got.items():
                    keys = _DASH_KEYS[name]
                    have = sorted(tuple(r[c] for c in keys) for r in rows)
                    want = sorted(oracle.query(_DASH_SQL[name]))
                    if have != want:
                        tally.fail(f"dashboard {name} after tick {k}")
        finally:
            oracle.close()

    def end_to_end(self) -> dict[str, float]:
        return {**medians("batch", self.samples["refresh"]),
                **medians("op", self.samples["tick"]),
                **medians("read", self.samples["dashboard"])}


# =========================================================== curation
CURATION_DOCS = 1200
CURATION_RUNS = 1  # runs measured; fixed, like the etl_cycle tick set


def curation_config():
    from web_api_postgres_etl_spark.plans.curation import CurationConfig

    # the contract's q_training_data_e2e configuration
    return CurationConfig(
        min_gopher_rules=4, ngram_n=4, chunk_words=32, window_tokens=128,
        num_shards=4, max_ppl=30.15, exact_substring_k=8,
    )


OUTPUT_COLS = ["doc_id", "chunk_idx", "chunk_text", "n_chunk_words", "split",
               "shard", "pack_id", "pack_offset", "pack_key"]


class Curation:
    aliases = {"batch": "call", "op": "curation", "read": "sink"}

    def __init__(self, work: str, seed: int):
        self.path = f"{work}/documents.parquet"
        gen.documents(7, self.path, CURATION_DOCS)
        # the seed picks the benchmark (eval) slice: one doc_id % 50 residue
        self.residue = residue_of(seed)
        self.samples: dict[str, list[Sample]] = {"call": [], "sink": [], "total": []}
        self.digests: list[tuple[int, int]] = []
        self.lsh: list[tuple[int, int]] = []

    def run_once(self, spark, residue: int, tally: Tally, tracer=None):
        """One curation run; (call, sink, digest), or None if it raised."""
        from web_api_postgres_etl_spark.plans import curation
        from web_api_postgres_etl_spark.operators.quality import table_fingerprint

        docs = spark.read.parquet(self.path)
        bench = docs.filter(F.col("doc_id") % 50 == residue).select("text")
        train = docs.filter(F.col("doc_id") % 50 != residue).select("doc_id", "text")
        pins: list = []
        try:
            call, out = _timed(tracer, "curation.call", lambda: curation.prepare_training_data(
                train, bench, config=curation_config(), pins=pins).select(*OUTPUT_COLS))
            sink, _ = _timed(tracer, "curation.sink", lambda: out.write.format("noop")
                             .mode("overwrite").save())
            # the digest reads the still-pinned stages: outside the timing
            row = table_fingerprint(out).first()
            digest = (int(row["n_rows"]), int(row["fingerprint"]))
            if tracer is not None:
                self.lsh.append(_lsh_counts(tracer))
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            tally.op(False, f"curation: {exc}")
            return None
        finally:
            curation.release_pins(pins)
        tally.op(True)
        return call, sink, digest

    def warm_up(self, spark) -> None:
        pass

    def measure(self, spark, tally: Tally, tracer=None) -> None:
        self.samples = {k: [] for k in self.samples}
        self.digests = []
        for _ in range(CURATION_RUNS):
            got = self.run_once(spark, self.residue, tally, tracer)
            if got is None:
                continue
            call, sink, digest = got
            self.samples["call"].append(call)
            self.samples["sink"].append(sink)
            self.samples["total"].append(Sample(call.wall + sink.wall, call.cpu + sink.cpu))
            self.digests.append(digest)

    def ops_measured(self) -> str:
        return f"{len(self.digests)} curation runs"

    def check(self, spark, tally: Tally) -> None:
        want = pinned_digest(self.residue)
        for got in self.digests:
            if want is None or got != want:
                tally.fail(f"curation digest {got} != pinned {want}")

    def end_to_end(self) -> dict[str, float]:
        return {**medians("batch", self.samples["call"]),
                **medians("op", self.samples["total"]),
                **medians("read", self.samples["sink"])}


def residue_of(seed: int) -> int:
    """The eval slice's ``doc_id % 50`` residue: one of ten (0, 5, …,
    45), so every residue a seed can pick has a pinned digest."""
    return 5 * (int(hashlib.sha256(str(seed).encode()).hexdigest(), 16) % 10)


PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def pinned_digest(residue: int):
    import json

    if not os.path.exists(PINS_PATH):
        return None
    with open(PINS_PATH) as fh:
        pins = json.load(fh)["curation"]
    got = pins.get(str(residue))
    return tuple(got) if got else None


def _lsh_counts(tracer) -> tuple[int, int]:
    """(LSH candidate pairs, verified pairs) of the last near_dup_pairs
    call, counted from the frames it pinned (they are still persisted)."""
    if not tracer.captured:
        return (0, 0)
    cands, pairs = tracer.captured.pop()
    return cands.count(), pairs.count()


WORKLOADS = {"etl_cycle": EtlCycle, "curation": Curation}
