"""Independent output checks.

The medallion check recomputes every prd table in DuckDB from the landed
history plus the delta rows the run applied — stage (required-null drop,
j_date slice, pct ratio), star join, range filter, and the last version
per natural key — and compares it with the engine's
``operators.quality.table_fingerprint`` over the same canonical columns.
Doubles are compared as ``floor(x * scale)`` integers, which both
engines render identically (their double-to-string forms differ).
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

from gen import (
    INDEX_REQUIRED,
    NEWS_REQUIRED,
    RANGE_END,
    RANGE_START,
    TRADE_REQUIRED,
)

DIMS = ("instruments", "assets", "categories", "exchanges", "indexes")

# canonical column → (Spark expression, DuckDB expression), per table kind
_COMMON = {
    "id": ("cast(id as string)", "cast(id as varchar)"),
    "j_date": ("j_date", "j_date"),
    "date_time": ("date_time", "date_time"),
    "version": ("cast(`meta.version` as string)", 'cast("meta.version" as varchar)'),
}


def _num(spark_col: str, duck_col: str, scale: str) -> tuple[str, str]:
    return (
        f"coalesce(cast(floor(`{spark_col}` * {scale}) as string), 'null')",
        f"coalesce(cast(cast(floor({duck_col} * {scale}) as bigint) as varchar), 'null')",
    )


CANON = {
    "trades": {
        **_COMMON,
        "name": ("name", "name"),
        "category": ("category", "category"),
        "market": ("market", "market"),
        "close": _num("close_price", "close_price", "100"),
        "pct": _num("close_price_change_percent", "pct", "1000000"),
    },
    "indexvalues": {
        **_COMMON,
        "name": ("name", "name"),
        "close": _num("close_value", "close_value", "100"),
        "pct": _num("close_value_change_percent", "pct", "1000000"),
    },
    "news": {**_COMMON, "title": ("title", "title"), "text": ("text", "text")},
}


def kind(table: str) -> str:
    return "trades" if table.startswith("trades_") else table


def spark_fingerprint(spark, path: str, table: str) -> tuple[int, int]:
    """(rows, fingerprint) of one prd table through the engine's own
    ``table_fingerprint`` over the canonical columns."""
    from web_api_postgres_etl_spark.operators.quality import table_fingerprint

    canon = CANON[kind(table)]
    df = spark.read.parquet(path).selectExpr(
        *[f"{expr} AS {name}" for name, (expr, _) in canon.items()]
    )
    row = table_fingerprint(df).first()
    return int(row["n_rows"]), int(row["fingerprint"])


def _not_null(cols: list[str], doubles: set[str]) -> str:
    terms = []
    for c in cols:
        terms.append(f'"{c}" IS NOT NULL')
        if c in doubles:
            terms.append(f'NOT isnan("{c}")')
    return " AND ".join(terms)


def _j_date() -> str:
    return ("substr(date_time,1,4) || '/' || substr(date_time,5,2) || '/' || "
            "substr(date_time,7,2)")


def expected_prd_sql(table: str, raw: str) -> str:
    """DuckDB query over relation ``raw`` (history + applied deltas) and
    the dims, returning the expected prd rows of ``table``."""
    k = kind(table)
    if k == "trades":
        doubles = {"open_price", "high_price", "low_price", "close_price",
                   "close_price_change", "value"}
        return f"""
        WITH stg AS (
          SELECT *, {_j_date()} AS j_date,
                 close_price_change / nullif(close_price - close_price_change, 0) AS pct
          FROM {raw} WHERE {_not_null(TRADE_REQUIRED, doubles)}),
        j AS (
          SELECT s.*, i.name, c.short_name AS category, e.title AS market
          FROM stg s
          JOIN instruments i ON s."instrument.id" = i.id
          JOIN assets a ON i."asset.id" = a.id
          JOIN categories c ON a."category.id" = c.id
          JOIN exchanges e ON i."exchange.id" = e.id
          WHERE s.j_date BETWEEN '{RANGE_START}' AND '{RANGE_END}')
        SELECT * FROM j QUALIFY row_number() OVER (
          PARTITION BY j_date, name ORDER BY "meta.version" DESC, id DESC) = 1"""
    if k == "indexvalues":
        doubles = {"open_value", "low_value", "high_value", "close_value",
                   "close_value_change"}
        return f"""
        WITH stg AS (
          SELECT *, {_j_date()} AS j_date,
                 close_value_change / nullif(close_value - close_value_change, 0) AS pct
          FROM {raw} WHERE {_not_null(INDEX_REQUIRED, doubles)}),
        j AS (
          SELECT s.*, x.name FROM stg s JOIN indexes x ON s."index.id" = x.id
          WHERE s.j_date BETWEEN '{RANGE_START}' AND '{RANGE_END}')
        SELECT * FROM j QUALIFY row_number() OVER (
          PARTITION BY j_date, name ORDER BY "meta.version" DESC, id DESC) = 1"""
    return f"""
        WITH stg AS (
          SELECT *, {_j_date()} AS j_date FROM {raw}
          WHERE {_not_null(NEWS_REQUIRED, set())})
        SELECT * FROM stg QUALIFY row_number() OVER (
          PARTITION BY j_date, title ORDER BY "meta.version" DESC, id DESC) = 1"""


class Oracle:
    """DuckDB recomputation of the prd layer from the landed inputs."""

    def __init__(self, landing: str):
        self.con = duckdb.connect()
        for d in DIMS:
            self.con.execute(
                f"CREATE VIEW {d} AS SELECT * FROM read_parquet('{landing}/{d}.parquet')"
            )

    def prd(self, table: str, parts: list[pa.Table]) -> None:
        """(Re)define view ``exp_<table>`` over the given raw parts."""
        raw = pa.concat_tables(parts, promote_options="default")
        self.con.register(f"raw_{table}", raw)
        self.con.execute(f"CREATE OR REPLACE VIEW exp_{table} AS "
                         f"{expected_prd_sql(table, f'raw_{table}')}")

    def fingerprint(self, table: str) -> tuple[int, int]:
        canon = CANON[kind(table)]
        cols = ", ".join(duck for name, (_, duck) in sorted(canon.items()))
        n, fp = self.con.execute(f"""
            SELECT count(*), coalesce(sum(
              ('0x' || substr(md5(concat_ws(chr(1), {cols})), 1, 15))::BIGINT::HUGEINT), 0)
            FROM exp_{table}""").fetchone()
        return int(n), int(fp)

    def query(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()
