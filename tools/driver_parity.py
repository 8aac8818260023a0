"""Strict pandas-serialization parity checker — mimics the DRIVER's hash
layer (not tests/test_oracle_parity.py's Python-value comparison).

The driver collects the Spark result via toPandas() and the DuckDB oracle
via .df(), sorts columns by name, and hashes the serialized values. A
Spark DECIMAL column arrives in pandas as `object` (decimal.Decimal) while
a DuckDB DECIMAL arrives as float64 — identical values, different bytes,
red hash. This tool reproduces that failure mode locally:

    python tools/driver_parity.py [query ...]        # default: all oracles
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from web_api_postgres_etl_spark.session import get_spark  # noqa: E402

SF = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    # column order only — row order is canonicalized by frame_sig's
    # sort over repr tuples (a sort_values here would also crash on
    # array-typed cells: ndarray truth-value ambiguity)
    return df[sorted(df.columns)]


def cell_repr(v) -> str:
    # repr() keeps full float precision and distinguishes Decimal('1.0')
    # from 1.0 — the distinction the driver's hasher is sensitive to.
    return f"{type(v).__name__}:{v!r}"


def frame_sig(df: pd.DataFrame) -> list[tuple]:
    rows = [tuple(cell_repr(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return rows


def main(names: list[str]) -> int:
    oracles = entrymod.oracle_sql()
    queries = entrymod.queries()
    if not names:
        names = list(queries)  # oracle-backed compared, rest rows-only

    spark = get_spark(app_name="parity", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    n_fail = 0
    for name in names:
        if name not in oracles:
            # the driver's weaker face for no-oracle entries: the
            # query must run and yield a stable schema + >= 0 rows
            try:
                spdf = queries[name](spark, SF).toPandas()
                print(f"pass {name} (rows-only: {len(spdf)} rows, "
                      f"cols {list(spdf.columns)})")
            except Exception as exc:  # noqa: BLE001
                print(f"ERR  {name}: {exc}")
                n_fail += 1
            continue
        try:
            spdf = canon_frame(queries[name](spark, SF).toPandas())
            dkdf = canon_frame(con.execute(oracles[name]).df())
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: {exc}")
            n_fail += 1
            continue
        ok_cols = list(spdf.columns) == list(dkdf.columns)
        ok_rows = len(spdf) == len(dkdf)
        sig_s, sig_d = frame_sig(spdf), frame_sig(dkdf)
        ok_hash = sig_s == sig_d
        status = "pass" if (ok_cols and ok_rows and ok_hash) else "FAIL"
        if status == "FAIL":
            n_fail += 1
            detail = []
            if not ok_cols:
                detail.append(f"cols {list(spdf.columns)} vs {list(dkdf.columns)}")
            if not ok_rows:
                detail.append(f"rows {len(spdf)} vs {len(dkdf)}")
            if ok_cols and ok_rows and not ok_hash:
                diff = next(
                    (a, b) for a, b in zip(sig_s, sig_d) if a != b
                )
                detail.append(f"first diff: spark={diff[0]} duckdb={diff[1]}")
                detail.append(
                    "dtypes spark="
                    + str({c: str(t) for c, t in spdf.dtypes.items()})
                    + " duckdb="
                    + str({c: str(t) for c, t in dkdf.dtypes.items()})
                )
            print(f"FAIL {name}: " + " | ".join(detail))
        else:
            print(f"pass {name} ({len(spdf)} rows)")
    spark.stop()
    con.close()
    print(f"\n{n_fail} failing")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
