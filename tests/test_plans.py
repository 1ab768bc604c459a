"""Physical-plan assertions: pushdown, pruning, broadcast, codegen.

The 100 TB contract is about plans, not just results: filters must
reach the parquet scan, projections must prune columns, small sides
must broadcast, and scalar pipelines must stay inside whole-stage
codegen. These tests pin those properties so a refactor that silently
de-optimizes a plan fails CI.
"""

import pyspark.sql.functions as F
import pytest

from gpiv_spark.dialect import SPARK as d
from gpiv_spark.functions import cells, geocode

SF = "/root/testdata/sf0.01"


def _plan(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_filter_and_projection_pushed_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter("l_quantity > 45.0")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity" in plan
    # column pruning: the scan reads 2 columns, not all 11
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:300]


def test_geocode_cell_pipeline_is_codegen(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    x = geocode.x_expr(d, "doc_id")
    y = geocode.y_expr(d, "doc_id")
    q = docs.select(
        F.expr(cells.zcell_expr(d, x, y, 6)).alias("cell_id")
    ).groupBy("cell_id").count()
    q.collect()  # finalize the adaptive plan so codegen markers appear
    plan = _plan(q, "simple")
    # the generated-expression projection runs inside whole-stage codegen
    assert "*(" in plan, plan
    # and the doc scan prunes to the single needed column
    full = _plan(q)
    assert "ReadSchema" in full
    assert "text" not in full.split("ReadSchema")[1][:200]


def test_pip_join_broadcasts_roi_side(spark):
    from gpiv_spark.operators import pip as pip_op

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.expr(geocode.x_expr(d, "doc_id")).alias("x"),
        F.expr(geocode.y_expr(d, "doc_id")).alias("y"),
    )
    roi = spark.createDataFrame(
        pip_op.roi_triangles(),
        "roi_id int, x1 double, y1 double, x2 double, y2 double, "
        "x3 double, y3 double",
    ).alias("r")
    pred = pip_op.inside_triangle_pred(
        "g.x", "g.y", {k: f"r.{k}" for k in ("x1", "y1", "x2", "y2", "x3", "y3")}
    )
    q = docs.alias("g").join(F.broadcast(roi), F.expr(pred), "left")
    plan = _plan(q, "simple")
    assert "BroadcastNestedLoopJoin" in plan  # 32-row ROI side broadcast
    assert "BroadcastExchange" in plan


def test_knn_is_shuffle_free(spark):
    """Map-side top-k: the inlined-anchor kNN must contain NO exchange
    and NO join — the whole ranking happens inside the scan stage."""
    from gpiv_spark.operators import knn as knn_op

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.expr(geocode.x_expr(d, "doc_id")).alias("x"),
        F.expr(geocode.y_expr(d, "doc_id")).alias("y"),
    )
    adf = spark.createDataFrame(knn_op.anchors(), "anchor_id int, ax double, ay double")
    q = knn_op.knn_bruteforce(docs, adf, k=3)
    plan = _plan(q, "simple")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    # and it agrees with the Window fallback (same output contract)
    a = q.toPandas().sort_values(["doc_id", "rnk"]).reset_index(drop=True)
    b = (
        knn_op._knn_window(docs, adf, k=3, id_col="doc_id")
        .toPandas().sort_values(["doc_id", "rnk"]).reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_propagate_probe_is_narrow(spark):
    """Semi-join reduction: the containment probe must not carry the
    18 TPU columns; they join only after the per-doc winner is picked."""
    from gpiv_spark.operators.tin import (
        certified_blobs,
        propagate_at,
        triangles_from_blobs,
    )

    pts = spark.range(2000).select(F.col("id").alias("pid"))
    px = geocode.xq_expr(d, "pid")
    py = geocode.yq_expr(d, "pid")
    points = pts.select(
        "pid", F.expr(px).alias("x"), F.expr(py).alias("y"),
        F.lit(1.0).alias("z"),
        F.lit(0.1).alias("var_x"), F.lit(0.1).alias("var_y"),
        F.lit(0.1).alias("var_z"),
        F.lit(0.0).alias("cov_xy"), F.lit(0.0).alias("cov_xz"),
        F.lit(0.0).alias("cov_yz"),
    )
    tris = triangles_from_blobs(certified_blobs(
        spark, points, cell_res=3, index_res=7, halo_m=12.0, id_col="pid",
        collect=False))
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.expr(geocode.x_expr(d, "id")).alias("x"),
        F.expr(geocode.y_expr(d, "id")).alias("y"),
    )
    q = propagate_at(docs, tris, index_res=7, centroid=(0.0, 0.0, 0.0))
    plan = _plan(q)
    # the probe-side FlatMapGroupsInPandas feeds a projection of exactly
    # the narrow columns; var_x_1 etc. appear only once (payload join side)
    probe_section = plan.split("min(tri_id")[0]
    assert "var_x_1" not in probe_section.split("Project")[-1]


def test_range_join_is_bucketed_not_theta(spark):
    """The interval join's physical plan must be the bucketed equi-join
    (SortMerge/Hash on user_id+minute), never a nested-loop theta join
    — the shape that survives 100 TB."""
    from gpiv_spark.queries_misc import q_range_join_events

    plan = _plan(q_range_join_events(spark, SF))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # an equi-join is present


def test_asof_join_single_window_no_join(spark):
    """The as-of join compiles to ONE window over the merged stream —
    zero Join operators, one Exchange on user_id."""
    from gpiv_spark.queries_misc import q_asof_join

    plan = _plan(q_asof_join(spark, SF))
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_media_kernels_are_map_side_only(spark):
    """The multimodal decode/resize/frame-sample chain is pure
    mapInPandas over the span explode — NO Exchange, NO Join: at
    100 TB the blob column streams through workers without a shuffle."""
    from gpiv_spark.queries_misc import q_audio_frames, q_media_resize

    for q in (q_media_resize, q_audio_frames):
        plan = _plan(q(spark, SF), "simple")
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan


def test_mor_delete_apply_is_broadcast_anti_join(spark, tmp_path):
    """Merge-on-read delete application must be a BROADCAST anti-join
    (delete keys are metadata-scale) — a shuffled anti-join would add
    two exchanges per seq group on a 100-TB scan."""
    from gpiv_spark.sources.manifest import (
        append_equality_deletes,
        read_snapshot,
        write_snapshot,
    )

    tbl = str(tmp_path / "tbl")
    write_snapshot(
        spark.range(1000).select(F.col("id").alias("doc_id")),
        tbl, stats_cols=["doc_id"],
    )
    append_equality_deletes(
        spark.range(0, 1000, 3).select(F.col("id").alias("doc_id")),
        tbl, ["doc_id"],
    )
    df = read_snapshot(spark, tbl)
    plan = _plan(df, "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert df.count() == 1000 - len(range(0, 1000, 3))


def test_mor_delete_apply_degrades_to_shuffled_anti_join(
    spark, tmp_path, monkeypatch
):
    """Past the manifest-counted broadcast budget the SAME reader must
    plan a SHUFFLED anti-join instead of forcing an over-threshold
    broadcast build (VERDICT r4 #4): a 100-TB table accretes millions
    of delete rows between compactions, and F.broadcast on that side
    would OOM the driver. The manifest's own row counts make the
    decision without reading any delete data. Both flavors pinned."""
    from gpiv_spark.sources import manifest as m

    tbl = str(tmp_path / "tbl")
    m.write_snapshot(
        spark.range(1000).select(F.col("id").alias("doc_id")),
        tbl, stats_cols=["doc_id"],
    )
    m.append_equality_deletes(
        spark.range(0, 1000, 3).select(F.col("id").alias("doc_id")),
        tbl, ["doc_id"],
    )
    scan = m.read_snapshot(spark, tbl, with_pos=True)
    m.append_positional_deletes(
        scan.filter("doc_id % 100 = 1").select(
            F.col("_file_path").alias("file_path"),
            F.col("_pos").alias("pos"),
        ),
        tbl,
    )
    want = len({i for i in range(1000) if i % 3 and i % 100 != 1})
    df_bc = m.read_snapshot(spark, tbl)
    assert _plan(df_bc, "simple").count("BroadcastHashJoin") == 2
    assert df_bc.count() == want
    monkeypatch.setattr(m, "BROADCAST_DELETE_ROWS", 1)
    # the fallback's point is "no FORCED broadcast hint": with the
    # hint gone the planner is free to choose — disable its own
    # auto-broadcast so the plan shows the large-delete-side shape
    # (at real scale a multi-GB delete side is over threshold anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = m.read_snapshot(spark, tbl)
        plan = _plan(df, "simple")
        assert "BroadcastHashJoin" not in plan, plan
        assert "LeftAnti" in plan, plan
        assert df.count() == want
        # forced-hint path still broadcasts under the same threshold,
        # proving the hint (not the planner) was the difference
        monkeypatch.setattr(m, "BROADCAST_DELETE_ROWS", 10**9)
        assert _plan(m.read_snapshot(spark, tbl), "simple").count(
            "BroadcastHashJoin") == 2
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        else:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_repetition_score_is_map_side_only(spark):
    """The Gopher repetition filter must stay a pure scan+project at
    100 TB: no Exchange anywhere, scan pruned to (doc_id, text)."""
    import gpiv_spark.queries  # noqa: F401
    from gpiv_spark.queries_text import q_repetition_score

    df = q_repetition_score(spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "ReadSchema" in plan
    assert "lang" not in plan.split("ReadSchema")[1][:300]


def test_sample_stratified_two_phase_windows(spark):
    """The stratified sample's phase-1 rank must partition by
    (stratum, salt) — i.e. the salt expression reaches a window
    partitioning — so no stratum ever sorts through one task; phase 2
    partitions by the stratum alone over the bounded survivors."""
    import gpiv_spark.queries  # noqa: F401
    from gpiv_spark.queries_text import q_sample_stratified

    df = q_sample_stratified(spark, SF)
    plan = _plan(df)
    n_windows = plan.count("Window")
    assert n_windows >= 2, plan
    # the salted phase-1 partitioning appears (doc_id % 16)
    assert "% 16" in plan, plan


def test_fan_out_points_runs_no_decimal_arithmetic(spark):
    """fan_out_points' cell-offset and halo literals are doubles: a bare
    29.875 parses as DECIMAL and turned every row x neighbour into
    cast(cast(_ix as decimal(20,0)) * 29.875 as double)."""
    from gpiv_spark.operators import tin

    cols = ["x", "y", "z", *tin.TPU_COLS]
    pts = spark.createDataFrame(
        [(geocode.X0 + 100.0, geocode.Y0 + 200.0) + (0.0,) * (len(cols) - 2)],
        ", ".join(f"{c} double" for c in cols))
    df = tin.fan_out_points(spark, pts, 4, 3.7, edge_halo_m=7.25)
    qe = df._jdf.queryExecution()
    for plan in (qe.analyzed(), qe.optimizedPlan()):
        text = plan.toString()
        assert "29.875" in text and "decimal" not in text.lower(), text
