"""Runnable face of the engine — the two entry points a reference user
invokes today, re-expressed over the medallion pipeline:

    python -m web_api_postgres_etl_spark create  --warehouse WH --landing DIR
    python -m web_api_postgres_etl_spark update  --warehouse WH --landing DIR
    python -m web_api_postgres_etl_spark dimdate --warehouse WH

``create`` mirrors ``mabna_tables_create.py`` (full refresh: extract →
stage → produce, overwrite), ``update`` mirrors
``mabna_tables_update.py`` (watermark probe → delta extract → append →
last-wins compaction), ``dimdate`` regenerates the Jalali calendar
dimension (the reference ships it as a 40k-row xlsx artifact).

``--landing`` points at a directory of raw parquet tables
(``trades_share.parquet``, ``instruments.parquet``, …) — the landing
zone a REST collector (sources/rest.py) writes in production. Feeding
the pipeline from parquet keeps the CLI runnable without network and
exercises the same watermark pushdown: the ``update`` extractors
filter ``meta.version > watermark`` directly on the landing scan, so
Catalyst pushes the predicate into the parquet reader exactly as it
pushes it into the REST query string in production.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

from web_api_postgres_etl_spark.plans.pipeline import DIMS as _DIMS
from web_api_postgres_etl_spark.plans.pipeline import FACTS, MedallionPipeline


def _landing_tables(landing: str) -> list[str]:
    names = [
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(landing, "*.parquet"))
    ]
    if not names:
        raise SystemExit(f"no *.parquet tables found in landing dir {landing!r}")
    return sorted(names)


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI entry. ``spark`` injects an existing session (tests); the
    CLI owns — and stops — the session only when it created it."""
    ap = argparse.ArgumentParser(prog="web_api_postgres_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    for cmd in ("create", "update"):
        p = sub.add_parser(cmd)
        p.add_argument("--warehouse", required=True)
        p.add_argument("--landing", required=True)
        p.add_argument("--range-start", default="1399/01/01")
        p.add_argument("--range-end", default=None)
        p.add_argument("--alert-log", default=None,
                       help="append one JSON line per FAILED table "
                            "(the reference's email_on_failure as a "
                            "file sink; see plans/alerts.py for the "
                            "SMTP transport)")
    pd = sub.add_parser("dimdate")
    pd.add_argument("--warehouse", required=True)
    pd.add_argument("--start-jyear", type=int, default=1320)
    pd.add_argument("--end-jyear", type=int, default=1429)
    pc = sub.add_parser("compact")
    pc.add_argument("--table", required=True, help="parquet path")
    pc.add_argument("--keys", required=True, help="comma-separated natural key")
    pc.add_argument("--partition-col", default=None,
                    help="partition column: compact only --touched partitions")
    pc.add_argument("--touched", default=None,
                    help="comma-separated partition values (default: all)")
    pz = sub.add_parser("zonemap")
    pz.add_argument("--table", required=True, help="parquet path")
    pz.add_argument("--cols", default=None,
                    help="comma-separated columns to index (required on "
                         "first build; later refreshes read them from the "
                         "sidecar itself)")
    pf = sub.add_parser("fingerprint")
    pf.add_argument("--table", required=True, help="parquet path")
    pf.add_argument("--cols", default=None,
                    help="comma-separated columns to digest (default: all)")
    pf.add_argument("--vs", default=None, metavar="OTHER",
                    help="second parquet path: fingerprint both sides "
                         "and report whether they match (migration / "
                         "rewrite invariance check)")
    pa = sub.add_parser("annindex")
    pa.add_argument("action",
                    choices=("build", "append", "probe", "nnjoin",
                             "compact", "stats", "recall", "rerank",
                             "dedup"),
                    help="IVF-PQ index lifecycle: build (train sidecars + "
                         "write the code table), append (frozen-sidecar "
                         "ingest), probe (partition-pruned ADC top-k), "
                         "nnjoin (a query TABLE joined against the index "
                         "— per-query ADC top-k written to --out), "
                         "compact (per-partition small-file rewrite), "
                         "stats (per-cluster rows/files; + reconstruction "
                         "error when --corpus is given), recall (per-query "
                         "recall@k vs the exact L2 top-k — needs --queries "
                         "(a bounded sample) and --corpus), rerank (the "
                         "full three-stage read: ADC shortlist exactly "
                         "re-ranked over --corpus float vectors, top "
                         "--rerank-k per query written to --out), dedup "
                         "(drop --batch rows whose nearest index "
                         "neighbors score within --max-l2 / --min-cosine; "
                         "survivors written to --out)")
    pa.add_argument("--index", required=True, help="index path")
    pa.add_argument("--corpus", default=None,
                    help="build: parquet of (id, embedding)")
    pa.add_argument("--batch", default=None,
                    help="append: parquet of new vectors")
    pa.add_argument("--query-json", default=None,
                    help="probe: the query vector as a JSON float array")
    pa.add_argument("--queries", default=None,
                    help="nnjoin: parquet of query (id, embedding) rows")
    pa.add_argument("--out", default=None,
                    help="nnjoin: output parquet path for "
                         "(query_id, vec_id, adc_dist, rank)")
    pa.add_argument("--query-id-col", default="query_id",
                    help="nnjoin: query table id column")
    pa.add_argument("--id-col", dest="ann_id_col", default="vec_id")
    pa.add_argument("--vec-col", dest="ann_vec_col", default="embedding")
    pa.add_argument("--k", type=int, default=10)
    pa.add_argument("--nprobe", type=int, default=2)
    pa.add_argument("--m", type=int, default=4)
    pa.add_argument("--pq-k", type=int, default=16)
    pa.add_argument("--centroids", type=int, default=8)
    pa.add_argument("--every", type=int, default=97)
    pa.add_argument("--iters", type=int, default=2)
    pa.add_argument("--target-mb", type=int, default=128)
    pa.add_argument("--residual", action="store_true",
                    help="build: quantize v - centroid(cluster) (the "
                         "faiss-IVFPQ residual refinement; recorded in "
                         "the _meta sidecar — every reader adapts)")
    pa.add_argument("--rerank-k", type=int, default=None,
                    help="rerank: exact top-k kept per query after the "
                         "re-rank (default: --k)")
    pa.add_argument("--metric", choices=("cosine", "l2"), default="cosine",
                    help="rerank: exact re-rank metric")
    pa.add_argument("--max-l2", type=float, default=None,
                    help="dedup: approximate ADC squared-L2 duplicate "
                         "threshold (codes-only fast path)")
    pa.add_argument("--min-cosine", type=float, default=None,
                    help="dedup: exact-verify cosine threshold (needs "
                         "--corpus, the float vectors the index was "
                         "built from)")
    pp = sub.add_parser("profile")
    pp.add_argument("--table", required=True, help="parquet path")
    pp.add_argument("--keys", default=None, help="comma-separated key columns")
    pp.add_argument("--join", default=None, help="second parquet path: price the equi-join")
    pp.add_argument("--top-k", type=int, default=10)
    pp.add_argument("--histogram", default=None, metavar="COL",
                    help="print an equi-width histogram of COL instead")
    pp.add_argument("--bins", type=int, default=16)
    pp.add_argument("--drift-vs", default=None, metavar="REF",
                    help="with --histogram COL: PSI of COL vs the "
                         "reference table at REF (parquet path)")
    pp.add_argument("--quantiles", default=None, metavar="COL",
                    help="print SAMPLED quantiles of COL (per --keys "
                         "group if given; needs --id-col). Exact up to "
                         "--sample-k rows per group, ~O(1/sqrt(k)) rank "
                         "error beyond")
    pp.add_argument("--id-col", default=None,
                    help="unique row id column (the deterministic "
                         "sample priority for --quantiles)")
    pp.add_argument("--columns", default=None, nargs="?", const="",
                    metavar="COLS",
                    help="print a one-pass column profile (null rate, "
                         "approx distinct, min/max) — all columns, or "
                         "a comma-separated subset")
    pp.add_argument("--probs", default="0.5,0.9,0.99",
                    help="comma-separated probabilities for --quantiles")
    pp.add_argument("--sample-k", type=int, default=1024,
                    help="per-group sample cap for --quantiles (larger "
                         "= tighter estimates, more memory per group)")
    args = ap.parse_args(argv)

    owns_session = spark is None
    if owns_session:
        from web_api_postgres_etl_spark.session import get_spark

        spark = get_spark(app_name=f"wapeql-{args.cmd}")
    try:
        if args.cmd == "compact":
            # manual T3 repair: last-wins dedup, whole-table (rename
            # swap) or scoped to touched partitions (dynamic overwrite)
            from web_api_postgres_etl_spark.plans.fs import file_local
            from web_api_postgres_etl_spark.sources.writers import recover_swap

            keys = [k.strip() for k in args.keys.split(",") if k.strip()]
            if not keys:
                # an empty key list would dedup the WHOLE TABLE to one
                # row and swap it in — refuse, never guess
                raise SystemExit("compact: --keys must name at least one column")
            if args.touched and not args.partition_col:
                raise SystemExit(
                    "compact: --touched requires --partition-col (without it "
                    "the whole table would be rewritten, ignoring --touched)"
                )
            # heal a crashed prior swap BEFORE any read: in the crash
            # window the table path is missing and the live data sits
            # in .old — this command exists to repair exactly that
            recover_swap(args.table)
            pipe = MedallionPipeline(spark, warehouse="")
            before = spark.read.parquet(args.table).count()
            part_dirs = glob.glob(os.path.join(file_local(args.table), "*=*"))
            if part_dirs and not args.partition_col:
                raise SystemExit(
                    "compact: table is hive-partitioned "
                    f"({os.path.basename(part_dirs[0])} …); pass "
                    "--partition-col or the rewrite would flatten the "
                    "partition layout"
                )
            touched = (
                [v.strip() for v in args.touched.split(",")]
                if args.touched
                else None
            )
            pipe.compact_partitioned(
                args.table, keys=keys,
                partition_col=args.partition_col, touched=touched,
            )
            after = spark.read.parquet(args.table).count()
            print(json.dumps({
                "table": args.table, "rows_before": before,
                "rows_after": after, "collapsed": before - after,
            }))
            return 0

        if args.cmd == "zonemap":
            # build or refresh the table's data-skipping sidecar; the
            # pipeline compactors keep it fresh automatically once it
            # exists, so this is the one-time opt-in (plus a manual
            # repair face after out-of-band rewrites)
            from web_api_postgres_etl_spark.caching import release_frame
            from web_api_postgres_etl_spark.operators.layout import (
                zone_map_path,
                zone_map_refresh,
            )

            cols = (
                [c.strip() for c in args.cols.split(",") if c.strip()]
                if args.cols
                else None
            )
            pins: list = []
            zmap = zone_map_refresh(spark, args.table, cols=cols, pins=pins)
            # files_in_map = the map's TOTAL row count, not work done
            # by this run (a no-op refresh re-indexes nothing)
            n_files = zmap.count()
            for fr in pins:
                release_frame(fr)
            print(json.dumps({
                "table": args.table, "sidecar": zone_map_path(args.table),
                "files_in_map": n_files,
            }))
            return 0

        if args.cmd == "fingerprint":
            # exact order-independent content digest; with --vs, the
            # one-scan-per-side migration / rewrite invariance check
            from .operators.quality import table_fingerprint

            cols = (
                [c.strip() for c in args.cols.split(",") if c.strip()]
                if args.cols
                else None
            )
            a = table_fingerprint(
                spark.read.parquet(args.table), cols
            ).first()
            out = {
                "table": args.table,
                "n_rows": int(a["n_rows"]),
                "fingerprint": str(a["fingerprint"]),
            }
            if args.vs:
                b = table_fingerprint(
                    spark.read.parquet(args.vs), cols
                ).first()
                out["vs"] = {
                    "table": args.vs,
                    "n_rows": int(b["n_rows"]),
                    "fingerprint": str(b["fingerprint"]),
                }
                out["match"] = (
                    int(a["n_rows"]) == int(b["n_rows"])
                    and a["fingerprint"] == b["fingerprint"]
                )
            print(json.dumps(out))
            return 0 if out.get("match", True) else 3

        if args.cmd == "annindex":
            # the ANN artifact's whole lifecycle from the shell — the
            # same four faces the operators expose, JSON out (the
            # fingerprint-subcommand discipline)
            from .operators.similarity import (
                ivf_pq_index_compact,
                ivf_pq_probe,
                write_ivf_pq_index,
            )
            from .streaming.vector_stream import ivf_pq_append_batch

            if args.action == "build":
                if not args.corpus:
                    raise SystemExit("annindex build needs --corpus")
                cents, books = write_ivf_pq_index(
                    spark.read.parquet(args.corpus), args.index,
                    id_col=args.ann_id_col, vec_col=args.ann_vec_col,
                    every=args.every, max_centroids=args.centroids,
                    m=args.m, pq_k=args.pq_k, pq_iters=args.iters,
                    residual=args.residual,
                )
                print(json.dumps({
                    "index": args.index,
                    "rows": spark.read.parquet(args.index).count(),
                    "clusters": len(cents),
                    "m": len(books),
                    "codes_per_subspace": [len(b) for b in books],
                    "residual": bool(args.residual),
                }))
            elif args.action == "append":
                if not args.batch:
                    raise SystemExit("annindex append needs --batch")
                # the replay-safe face (NOT the raw operator): a batch
                # re-run from the shell skips already-landed ids, the
                # same rule the streaming ingest applies per micro-batch
                stats = ivf_pq_append_batch(
                    spark, args.index, spark.read.parquet(args.batch),
                    args.ann_id_col, args.ann_vec_col,
                )
                print(json.dumps({"index": args.index, **stats}))
            elif args.action == "probe":
                if not args.query_json:
                    raise SystemExit("annindex probe needs --query-json")
                q = [float(x) for x in json.loads(args.query_json)]
                rows = ivf_pq_probe(
                    spark, args.index, q, k=args.k, nprobe=args.nprobe,
                    id_col=args.ann_id_col,
                ).collect()
                print(json.dumps({
                    "index": args.index,
                    "topk": [
                        {"id": r[0], "adc_dist": r[1]} for r in rows
                    ],
                }))
            elif args.action == "nnjoin":
                if not args.queries or not args.out:
                    raise SystemExit(
                        "annindex nnjoin needs --queries and --out"
                    )
                from .operators.similarity import ivf_pq_nn_join

                out = ivf_pq_nn_join(
                    spark.read.parquet(args.queries), args.index,
                    k=args.k, nprobe=args.nprobe,
                    query_id_col=args.query_id_col,
                    query_vec_col=args.ann_vec_col,
                    id_col=args.ann_id_col,
                )
                out.write.mode("overwrite").parquet(args.out)
                written = spark.read.parquet(args.out)
                print(json.dumps({
                    "index": args.index,
                    "out": args.out,
                    "rows": written.count(),
                    "queries": written.select(
                        args.query_id_col
                    ).distinct().count(),
                }))
            elif args.action == "recall":
                if not args.queries or not args.corpus:
                    raise SystemExit(
                        "annindex recall needs --queries (a bounded "
                        "sample) and --corpus"
                    )
                from .operators.similarity import (
                    _index_is_residual,
                    ann_recall_at_k,
                )

                rows = ann_recall_at_k(
                    spark.read.parquet(args.queries), args.index,
                    spark.read.parquet(args.corpus),
                    k=args.k, nprobe=args.nprobe,
                    query_id_col=args.query_id_col,
                    query_vec_col=args.ann_vec_col,
                    id_col=args.ann_id_col, vec_col=args.ann_vec_col,
                ).collect()
                n = len(rows)
                print(json.dumps({
                    "index": args.index,
                    "k": args.k,
                    "nprobe": args.nprobe,
                    # r13: surface the index mode so a residual-vs-plain
                    # recall comparison (build --residual, then recall
                    # on each) is attributable from the JSON alone
                    "residual": _index_is_residual(spark, args.index),
                    "queries": n,
                    "mean_recall": (
                        sum(r["recall"] for r in rows) / n if n else None
                    ),
                    "per_query": [
                        {"query_id": r[0], "n_hits": r[1],
                         "recall": r[2]} for r in rows
                    ],
                }))
            elif args.action == "rerank":
                if not args.queries or not args.corpus or not args.out:
                    raise SystemExit(
                        "annindex rerank needs --queries, --corpus "
                        "(the float vectors) and --out"
                    )
                from .operators.similarity import (
                    ivf_pq_nn_join,
                    nn_rerank_exact,
                )

                queries = spark.read.parquet(args.queries)
                cands = ivf_pq_nn_join(
                    queries, args.index, k=args.k, nprobe=args.nprobe,
                    query_id_col=args.query_id_col,
                    query_vec_col=args.ann_vec_col,
                    id_col=args.ann_id_col,
                )
                out = nn_rerank_exact(
                    cands, spark.read.parquet(args.corpus), queries,
                    k=args.rerank_k or args.k, metric=args.metric,
                    query_id_col=args.query_id_col,
                    id_col=args.ann_id_col,
                    corpus_vec_col=args.ann_vec_col,
                    query_vec_col=args.ann_vec_col,
                )
                out.write.mode("overwrite").parquet(args.out)
                written = spark.read.parquet(args.out)
                print(json.dumps({
                    "index": args.index,
                    "out": args.out,
                    "metric": args.metric,
                    "rows": written.count(),
                    "queries": written.select(
                        args.query_id_col
                    ).distinct().count(),
                }))
            elif args.action == "dedup":
                if not args.batch or not args.out:
                    raise SystemExit(
                        "annindex dedup needs --batch and --out"
                    )
                from .operators.similarity import (
                    dedup_batch_against_ann_index,
                )

                batch = spark.read.parquet(args.batch)
                survivors = dedup_batch_against_ann_index(
                    batch, args.index, k=args.k, nprobe=args.nprobe,
                    id_col=args.ann_id_col, vec_col=args.ann_vec_col,
                    index_id_col=args.ann_id_col,
                    max_l2=args.max_l2, min_cosine=args.min_cosine,
                    corpus=(
                        spark.read.parquet(args.corpus)
                        if args.corpus else None
                    ),
                )
                survivors.write.mode("overwrite").parquet(args.out)
                n_in = batch.count()
                n_out = spark.read.parquet(args.out).count()
                print(json.dumps({
                    "index": args.index,
                    "out": args.out,
                    "batch_rows": n_in,
                    "survivors": n_out,
                    "dropped": n_in - n_out,
                }))
            elif args.action == "stats":
                from .operators.similarity import ivf_pq_index_stats

                corpus_df = (
                    spark.read.parquet(args.corpus)
                    if args.corpus else None
                )
                rows = ivf_pq_index_stats(
                    spark, args.index, corpus=corpus_df,
                    id_col=args.ann_id_col, vec_col=args.ann_vec_col,
                ).orderBy("cluster").collect()
                print(json.dumps({
                    "index": args.index,
                    "clusters": [r.asDict() for r in rows],
                    "total_rows": sum(r["n_rows"] for r in rows),
                    "total_files": sum(r["n_files"] for r in rows),
                }))
            else:  # compact
                stats = ivf_pq_index_compact(
                    spark, args.index,
                    target_file_bytes=args.target_mb * 1024 * 1024,
                )
                print(json.dumps({"index": args.index, **stats}))
            return 0

        if args.cmd == "profile":
            # pre-flight diagnostics without writing code: key skew of
            # one table, the exact price of an equi-join of two, a
            # column histogram, PSI drift vs a reference snapshot,
            # sampled per-key quantiles, or a one-pass column profile
            if args.columns is not None:
                if (args.quantiles or args.histogram or args.join
                        or args.keys or args.drift_vs):
                    raise SystemExit(
                        "profile: --columns cannot combine with other "
                        "profile modes — run them as separate invocations"
                    )
                from web_api_postgres_etl_spark.operators.quality import (
                    profile_columns,
                )

                cols = [
                    c.strip() for c in args.columns.split(",") if c.strip()
                ] or None
                for r in profile_columns(
                    spark.read.parquet(args.table), cols
                ).collect():
                    print(json.dumps(r.asDict(), default=str))
                return 0
            if args.quantiles is not None:
                if not args.id_col:
                    raise SystemExit(
                        "profile --quantiles needs --id-col (a unique "
                        "row id — the deterministic sample priority)"
                    )
                from web_api_postgres_etl_spark.operators.aggregates import (
                    finalize_quantiles,
                    quantile_sample_state,
                )

                try:
                    probs = [float(x) for x in args.probs.split(",") if x]
                except ValueError:
                    raise SystemExit(
                        f"profile --probs: not a comma-separated list of "
                        f"numbers: {args.probs!r}"
                    )
                if not probs or not all(0.0 <= q <= 1.0 for q in probs):
                    raise SystemExit(
                        f"profile --probs: probabilities must be in "
                        f"[0, 1], got {args.probs!r}"
                    )
                if args.sample_k < 1:
                    raise SystemExit("profile --sample-k must be >= 1")
                keys = [
                    k.strip() for k in (args.keys or "").split(",")
                    if k.strip()
                ]
                st = quantile_sample_state(
                    spark.read.parquet(args.table), keys,
                    args.quantiles, args.id_col, k=args.sample_k,
                )
                out = finalize_quantiles(st, probs).drop("qsample")
                renames = dict(zip(
                    [f"q_{i}" for i in range(len(probs))],
                    [f"p{p}" for p in probs],
                ))
                for r in out.collect():
                    d = {renames.get(k, k): v for k, v in r.asDict().items()}
                    print(json.dumps(d, default=str))
                return 0
            if args.histogram is not None:
                left = spark.read.parquet(args.table)
                if args.drift_vs is not None:
                    from web_api_postgres_etl_spark.operators.quality import (
                        population_stability,
                    )

                    ref = spark.read.parquet(args.drift_vs)
                    psi, per_bin = population_stability(
                        ref, left, args.histogram, bins=args.bins
                    )
                    print(json.dumps({
                        "psi": psi, "column": args.histogram,
                        "bins": args.bins,
                        "verdict": ("stable" if psi < 0.1 else
                                    "shifting" if psi < 0.25 else "drifted"),
                    }))
                    for r in per_bin.collect():
                        print(json.dumps(r.asDict(), default=str))
                else:
                    from web_api_postgres_etl_spark.operators.aggregates import (
                        histogram_equi_width,
                    )

                    for r in histogram_equi_width(
                        left, args.histogram, args.bins
                    ).collect():
                        print(json.dumps(r.asDict(), default=str))
                return 0
            if not args.keys:
                raise SystemExit(
                    "profile: pass --keys (skew/join price) or "
                    "--histogram COL"
                )
            keys = [k.strip() for k in args.keys.split(",") if k.strip()]
            left = spark.read.parquet(args.table)
            if args.join is None:
                from web_api_postgres_etl_spark.operators.aggregates import (
                    key_skew_profile,
                )

                for r in key_skew_profile(left, keys, top_k=args.top_k).collect():
                    print(json.dumps(r.asDict(), default=str))
            else:
                from web_api_postgres_etl_spark.operators.joins import (
                    join_cardinality_profile,
                )

                pins: list = []
                summary, hot = join_cardinality_profile(
                    left, spark.read.parquet(args.join), keys,
                    top_k=args.top_k, pins=pins,
                )
                print(json.dumps(summary.first().asDict(), default=str))
                for r in hot.collect():
                    print(json.dumps(r.asDict(), default=str))
                for frame in pins:
                    frame.unpersist()
            return 0

        if args.cmd == "dimdate":
            from web_api_postgres_etl_spark.sources.dim_date import (
                generate_dim_date,
            )
            from web_api_postgres_etl_spark.sources.writers import (
                table_path,
                write_overwrite,
            )

            df = generate_dim_date(spark, args.start_jyear, args.end_jyear)
            path = table_path(args.warehouse, "prd", "dim_date")
            write_overwrite(df, path)
            print(json.dumps({"table": "prd_dim_date", "rows": df.count(), "path": path}))
            return 0

        from pyspark.sql import functions as F

        from web_api_postgres_etl_spark.functions.dates import fa_today

        on_failure = None
        if args.alert_log:
            from web_api_postgres_etl_spark.plans.alerts import file_alerter

            on_failure = file_alerter(args.alert_log)
        pipe = MedallionPipeline(
            spark,
            args.warehouse,
            range_start=args.range_start,
            range_end=args.range_end or fa_today(),
            on_failure=on_failure,
        )
        tables = _landing_tables(args.landing)
        read = lambda name: spark.read.parquet(os.path.join(args.landing, f"{name}.parquet"))
        if args.cmd == "create":
            results = pipe.run_full_refresh(
                {name: (lambda n=name: read(n)) for name in tables}
            )
        else:
            # delta extractors: the watermark predicate rides the scan
            # (PushedFilters on the landing parquet — same shape the
            # REST collector pushes into the query string)
            def _delta(name):
                def fn(wm):
                    df = read(name)
                    if wm is not None:
                        df = df.filter(F.col("`meta.version`") > F.lit(wm))
                    return df

                return fn

            # the runner has a delta path for every fact it declares;
            # everything else is full-refresh-only
            dims = {d: read(d) for d in _DIMS if d in tables}
            facts = [f.name for f in FACTS if f.name in tables]
            # say so LOUDLY when a landing table has no delta path —
            # silently exiting 0 while a table goes stale is the
            # worst cron failure mode
            for t in sorted(set(tables) - set(facts) - set(dims)):
                print(json.dumps({
                    "table": t,
                    "skipped": "no incremental path; refresh via `create`",
                }))
            results = pipe.run_incremental({t: _delta(t) for t in facts}, dims)
        failed = [r for r in results if r.error]
        for r in results:
            print(
                json.dumps(
                    {"table": r.table, "rows": r.rows, "attempts": r.attempts,
                     "error": r.error}
                )
            )
        return 1 if failed else 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
