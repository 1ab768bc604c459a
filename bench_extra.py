"""Auxiliary benchmarks, one mode per run, one JSON line each.

Modes:
  python bench_extra.py queries [names...]   noop-sink timing + explain
      capture for the bench query subset -> plans/r06/<name>_{when}.txt
      (set PLANS_WHEN=before|after; default after)
  python bench_extra.py tin_shuffle          large-TIN shuffle plan
      (tin.propagate_plan 'shuffle') timing + Exchange count
      (VERDICT r5 #4)
  python bench_extra.py mor_pos              positional-delete MoR apply
      at scale (VERDICT r5 #5)
  python bench_extra.py stream_state         stateful sessionizer at
      ~1e6 keys (VERDICT r5 #8)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench import BENCH_QUERIES, SF_DIR, warm_queries  # noqa: E402


def _spark():
    from gpiv_spark.session import get_spark

    return get_spark("bench-extra")


def run_queries(names: list[str]) -> None:
    from gpiv_spark.session import default_cpus

    when = os.environ.get("PLANS_WHEN", "after")
    out_dir = Path(__file__).resolve().parent / "plans" / "r06"
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = _spark()
    qs = warm_queries(spark)
    res = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        df = qs[name](spark, SF_DIR)
        (out_dir / f"{name}_{when}.txt").write_text(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        best = float("inf")
        for _ in range(3):
            df = qs[name](spark, SF_DIR)  # fresh plan per run (AQE reuse)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        res[name] = round(best, 3)
        print(f"[noop] {name}: {res[name]}s", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"mode": "queries", "noop_best3": res,
                      "sf": SF_DIR, "cpus": default_cpus(),
                      "loadavg": os.getloadavg()[0]}))
    spark.stop()


def run_tin_shuffle() -> None:
    """Time the distributed-join TIN plan at a scale where the pack
    would bust the broadcast budget (>4M points => >1 GB pack): this is
    the plan a 100-TB cloud takes (tin.choose_plan picks it)."""
    from pyspark.sql import functions as F

    from gpiv_spark.dialect import SPARK as d
    from gpiv_spark.functions import geocode
    from gpiv_spark.operators.tin import certified_blobs, propagate_plan
    from perfbench.engine import points_df, tin_halo

    n_points = int(os.environ.get("TIN_SHUFFLE_POINTS", "4200000"))
    n_docs = int(os.environ.get("TIN_SHUFFLE_DOCS", "20000000"))
    spark = _spark()
    pts = points_df(spark, n_points, 0)
    docs = spark.range(0, n_docs, 1, 64).select(F.col("id").alias("doc_id"))
    geo = docs.select(
        "doc_id",
        F.expr(geocode.x_expr(d, "doc_id")).alias("x"),
        F.expr(geocode.y_expr(d, "doc_id")).alias("y"),
    )
    cen = (geocode.X0 + 239.0, geocode.Y0 + 239.0, 7.0)
    halo = tin_halo(n_points)
    t0 = time.time()
    blobs = certified_blobs(spark, pts, cell_res=4, index_res=9,
                            halo_m=halo, id_col="pid", collect=False)
    n_tris = blobs.agg(F.sum("n_tri")).first()[0]
    t_build = time.time() - t0
    best = float("inf")
    plan = ""
    for _ in range(2):
        out = propagate_plan(spark, geo, blobs, "shuffle", index_res=9,
                             centroid=cen)
        agg = out.agg(F.count("*").alias("n"), F.avg("var_zp"))
        plan = agg._sc._jvm.PythonSQLUtils.explainString(
            agg._jdf.queryExecution(), "formatted")
        t0 = time.time()
        row = agg.collect()[0]
        best = min(best, time.time() - t0)
    n_exchanges = plan.count("Exchange")
    out_dir = Path(__file__).resolve().parent / "plans" / "r06"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / "tin_shuffle_path.txt").write_text(plan)
    print(json.dumps({
        "mode": "tin_shuffle", "n_points": n_points, "n_docs": n_docs,
        "n_triangles": n_tris, "build_sec": round(t_build, 2),
        "stream_sec": round(best, 2),
        "docs_per_sec": round(n_docs / best),
        "n_exchanges": n_exchanges, "found": row["n"],
        "loadavg": os.getloadavg()[0]}))
    spark.stop()


def run_mor_pos() -> None:
    """Positional-delete MoR apply at scale (~1e5 deletes / 1e7 rows),
    keeping a broadcast (or pinned fallback) plan."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gpiv_spark.sources.manifest import (
        append_positional_deletes,
        read_snapshot,
        write_snapshot,
    )

    n_rows, n_del = 10_000_000, 100_000
    spark = _spark()
    tbl = tempfile.mkdtemp(prefix="bex_morpos_")
    shutil.rmtree(tbl, ignore_errors=True)
    try:
        write_snapshot(
            spark.range(n_rows).select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 9973).alias("cell")),
            tbl, stats_cols=["doc_id"])
        live = read_snapshot(spark, tbl, with_pos=True)
        victims = live.filter(F.col("doc_id") % 100 == 0).select(
            F.col("_file_path").alias("file_path"),
            F.col("_pos").alias("pos"))
        append_positional_deletes(victims, tbl)
        best = float("inf")
        plan = ""
        for _ in range(2):
            df = read_snapshot(spark, tbl)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            t0 = time.time()
            n = df.count()
            best = min(best, time.time() - t0)
        assert n == n_rows - n_del, (n, n_rows, n_del)
        out_dir = Path(__file__).resolve().parent / "plans" / "r06"
        out_dir.mkdir(parents=True, exist_ok=True)
        (out_dir / "mor_apply_pos.txt").write_text(plan)
        print(json.dumps({
            "mode": "mor_pos", "n_rows": n_rows, "n_deletes": n_del,
            "apply_sec": round(best, 2),
            "broadcast": "BroadcastHashJoin" in plan,
            "loadavg": os.getloadavg()[0]}))
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
    spark.stop()


def run_stream_state() -> None:
    """Stateful sessionizer state-scale evidence (VERDICT r5 #8): ~1e6
    distinct keys live in applyInPandasWithState state at once, then a
    far-future flush batch closes every session."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gpiv_spark.streaming.stateful import stream_sessionize

    n_keys = int(os.environ.get("STREAM_STATE_KEYS", "1000000"))
    spark = _spark()
    schema = "user_id long, event_id long, ts timestamp, value double"
    work = Path(tempfile.mkdtemp(prefix="bex_state_"))
    try:
        indir = work / "in"
        indir.mkdir()
        events = spark.range(3 * n_keys).select(
            (F.col("id") % n_keys).alias("user_id"),
            F.col("id").alias("event_id"),
            F.timestamp_seconds(
                F.lit(1700000000) + (F.col("id") % n_keys) % 3600
                + (F.col("id") / n_keys).cast("long") * 60
            ).alias("ts"),
            F.lit(1.0).alias("value"),
        )
        events.repartition(32).write.mode("overwrite").parquet(str(indir))
        t0 = time.time()
        stream = spark.readStream.schema(schema).parquet(str(indir))
        out = stream_sessionize(stream, gap="30 minutes")
        q = (out.writeStream.outputMode("append").format("memory")
             .queryName("bex_sessions")
             .option("checkpointLocation", str(work / "ckpt")).start())
        q.processAllAvailable()
        t_batch1 = time.time() - t0
        flush = spark.range(n_keys).select(
            F.col("id").alias("user_id"),
            F.lit(-1).alias("event_id"),
            F.timestamp_seconds(F.lit(1700000000 + 365 * 86400)).alias("ts"),
            F.lit(0.0).alias("value"),
        )
        flush.write.mode("append").parquet(str(indir))
        t0 = time.time()
        q.processAllAvailable()
        t_flush = time.time() - t0
        n = spark.sql("SELECT count(*) AS n FROM bex_sessions").collect()[0]["n"]
        q.stop()
        print(json.dumps({"mode": "stream_state", "n_keys": n_keys,
                          "closed_sessions": int(n),
                          "ingest_batch_sec": round(t_batch1, 2),
                          "flush_batch_sec": round(t_flush, 2),
                          "loadavg": os.getloadavg()[0]}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        run_queries(sys.argv[2:] or BENCH_QUERIES)
    elif mode == "tin_shuffle":
        run_tin_shuffle()
    elif mode == "mor_pos":
        run_mor_pos()
    elif mode == "stream_state":
        run_stream_state()
    else:
        raise SystemExit(f"unknown mode {mode}")
