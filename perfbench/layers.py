"""The traced layer suite: one call into each layer, each inside a span,
at the benchmark's input sizes. Variants that isolate a layer (a noop
sink, a stub kernel, a kernel called in-process) run only here, never in
a timed pass."""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import engine

CKPT_DOCS = 200_000
PIV_DIM = 678  # 9 x 9 tiles at template 100 / step 50 / scale 2
PIV_SHIFT_RC = (3, -2)
PIV_TOL_PX = 0.2
WORDS = ["scan", "join", "merge", "filter", "window", "group", "sort", "hash",
         "table", "spark", "vector", "tile", "cell", "grid", "raster", "piv"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tin_layers(spark, tracer, points, n_points: int) -> list[str]:
    """Fan-out, grouped channel and the per-cell kernel in isolation."""
    from gpiv_spark.operators import tin

    halo = engine.tin_halo(n_points)
    csize = tin._EXT / (1 << engine.CELL_RES)
    edge = min(4.0 * halo, csize)

    def fanned():
        return tin.fan_out_points(spark, points, engine.CELL_RES, halo,
                                  extra_cols=("pid",), edge_halo_m=edge)

    with tracer.span("tin.fan_out_points"):
        _noop(fanned())

    def stub(key, pdf):
        return pd.DataFrame({"cell": [int(key[0])], "n": [len(pdf)]})

    with tracer.span("spark.grouped_channel"):
        _noop(fanned().repartition(tin.PACK_TASKS, "cell").groupBy("cell")
              .applyInPandas(stub, "cell long, n long"))

    rows = fanned().toPandas()
    tracer.count("tin.fan_out.rows", len(rows))
    nf = 1 << engine.INDEX_RES
    kernel = tin._make_cell_blob_kernel(
        1 << engine.CELL_RES, csize, nf, tin._EXT / nf,
        min(csize, halo), min(csize, edge), "pid")
    n_tri = 0
    for cell, pdf in rows.groupby("cell", sort=True):
        with tracer.span("delaunay.kernel"):
            out = kernel((cell,), pdf.reset_index(drop=True))
        n_tri += int(out["n_tri"].iloc[0])
    return [] if n_tri > 0 else ["in-process kernel built no triangles"]


def stream_layers(spark, tracer, seed: int, handle, n_docs: int) -> list[str]:
    """The doc stream's JVM half alone, then with a pass-through Arrow
    channel; both must see the same rows."""
    from pyspark.sql import functions as F

    def agg(df):
        return df.agg(F.count("*").alias("n"), F.avg("x").alias("mx"))

    with tracer.span("geo.jvm_plan"):
        jvm = agg(engine.doc_geo_joined(spark, n_docs, seed)).collect()[0]

    def passthru(batches):
        for pdf in batches:
            yield pdf[["doc_id", "x"]]

    with tracer.span("spark.arrow_channel"):
        arrow = agg(engine.doc_geo_joined(spark, n_docs, seed).mapInPandas(
            passthru, "doc_id long, x double")).collect()[0]
    if jvm["n"] != arrow["n"]:
        return [f"arrow channel rows {arrow['n']} != JVM rows {jvm['n']}"]
    return []


def _spans_docs(spark, n_docs: int, seed: int):
    """North-rule documents: doc_id + interleaved text/media spans with
    strictly increasing offsets, a pure function of doc_id."""
    from pyspark.sql import functions as F

    words = ", ".join(f"'{w}'" for w in WORDS)
    kind = "element_at(array('text', 'image', 'audio'), " \
           "CAST((doc_id + j * 13) % 3 AS INT) + 1)"
    spans = (
        "transform(sequence(0, CAST((doc_id * 7919) % 8 AS INT)), j -> "
        "named_struct("
        f"'kind', {kind}, "
        f"'text', CASE WHEN (doc_id + j * 13) % 3 = 0 THEN concat_ws(' ', "
        f"slice(array({words}), CAST((doc_id * 31 + j * 17) % 16 AS INT) + 1, "
        "CAST((doc_id + j) % 5 + 2 AS INT))) ELSE '' END, "
        "'media_ref', CASE WHEN (doc_id + j * 13) % 3 = 0 THEN '' ELSE "
        f"concat({kind}, '://bucket/', doc_id % 97, '/', "
        "(doc_id * 131 + j) % 9973, '.bin') END, "
        "'offset', CAST(j * 64 AS INT)))"
    )
    off = engine.seed_offset(seed, engine.DOC_STRIDE)
    return spark.range(off, off + n_docs, 1, 16).select(
        F.col("id").alias("doc_id")).select("doc_id", F.expr(spans).alias("spans"))


def _dir_stats(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def checkpoint_layers(spark, tracer, seed: int, handle, work: Path) -> list[str]:
    """Spans parquet -> probe_docs -> join back on doc_id -> checkpoint
    -> resume -> span-sequence check."""
    from pyspark.sql import functions as F

    from gpiv_spark.dialect import SPARK as d
    from gpiv_spark.functions import geocode
    from gpiv_spark.operators.tin import probe_docs
    from gpiv_spark.plans import lineage

    src_path = work / "spans"
    _spans_docs(spark, CKPT_DOCS, seed).write.mode("overwrite").parquet(
        str(src_path))

    with tracer.span("sources.parquet_scan"):
        _noop(spark.read.parquet(str(src_path)))

    def probed():
        src = spark.read.parquet(str(src_path))
        geo = src.select("doc_id",
                         F.expr(geocode.x_expr(d, "doc_id")).alias("x"),
                         F.expr(geocode.y_expr(d, "doc_id")).alias("y"))
        out = probe_docs(geo, handle, engine.probe_centroid())
        # sorted within partitions so the written bytes repeat exactly
        return out.join(src, "doc_id").sortWithinPartitions("doc_id")

    with tracer.span("tin.probe_docs"):
        _noop(probed())

    root = work / "lineage"
    stage, fp = "probe", f"seed={seed}"
    with tracer.span("lineage.checkpoint"):
        lineage.checkpoint(probed(), str(root), stage, fp)

    def no_rebuild():
        raise RuntimeError("checkpoint was not resumed")

    with tracer.span("lineage.resume"):
        resumed, was_resumed = lineage.resume_or_run(spark, str(root), stage,
                                                     no_rebuild, fp)
        n_resumed = resumed.count()

    with tracer.span("lineage.verify"):
        lineage_ok = lineage.verify_lineage(spark, str(root), stage)
        sig = "xxhash64(to_json(spans))"
        src = spark.read.parquet(str(src_path)).select(
            "doc_id", F.expr(sig).alias("want"))
        mismatches = resumed.select("doc_id", F.expr(sig).alias("got")).join(
            src, "doc_id", "left").filter(
            "want IS NULL OR got != want").count()

    meta = json.loads((root / stage / lineage.MARKER).read_text())
    # the data files only: the marker and the lineage table carry wall
    # times, so their sizes do not repeat exactly
    bytes_written, n_files = _dir_stats(root / stage / "data")
    tracer.count("lineage.bytes_written", bytes_written)
    tracer.count("lineage.files_written", n_files)
    tracer.count("lineage.partitions",
                 spark.read.parquet(str(root / stage / "lineage")).count())
    tracer.count("spans.mismatches", mismatches)
    problems = []
    if not was_resumed:
        problems.append("resume_or_run rebuilt instead of resuming")
    if n_resumed != meta["rows"]:
        problems.append(f"resumed {n_resumed} rows, wrote {meta['rows']}")
    if mismatches:
        problems.append(f"{mismatches} span sequences changed")
    if not lineage_ok:
        problems.append("lineage checksums disagree with the data")
    return problems


def piv_layers(spark, tracer, seed: int) -> list[str]:
    """Reference PIV job (propagation + fused bias) on a translated
    pair, its grouped channel with a stub kernel, and the per-tile
    kernel in-process."""
    from pyspark.sql import functions as F

    from gpiv_spark.operators import piv
    from gpiv_spark.operators.tiling import PivConfig
    from gpiv_spark.sources.raster import translated_pair

    cfg = PivConfig(dim=PIV_DIM)
    before, after = translated_pair(PIV_DIM, PIV_SHIFT_RC,
                                    seed=seed % (1 << 31))
    unc = np.abs(np.random.default_rng(seed % (1 << 31) + 1).normal(
        0.08, 0.01, (PIV_DIM, PIV_DIM)))
    rasters = (("bh", before), ("ah", after), ("bu", unc), ("au", unc))

    with tracer.span("piv.patches_from_array"):
        parts = [piv.patches_from_array(spark, a, ds, cfg) for ds, a in rasters]
    patches = parts[0]
    for p in parts[1:]:
        patches = patches.unionByName(p)

    def stub(key, pdf):
        return pd.DataFrame({"tile_r": [int(key[0])], "tile_c": [int(key[1])],
                             "n": [len(pdf)]})

    with tracer.span("piv.grouped_channel"):
        _noop(patches.join(F.broadcast(piv.tile_patch_map(spark, cfg)),
                           ["patch_r", "patch_c"])
              .repartition(max(8, min(64, cfg.count ** 2)), "tile_r", "tile_c")
              .groupBy("tile_r", "tile_c")
              .applyInPandas(stub, "tile_r int, tile_c int, n long"))

    with tracer.span("piv.run"):
        res = piv.run_piv_arrays(spark, before, after, cfg, propagate=True,
                                 before_unc=unc, after_unc=unc,
                                 with_bias=True).cache()
        cells = res.toPandas()
        with tracer.span("piv.bias"):
            bias = piv.bias_variance_fused(res).collect()[0]
        res.unpersist()

    # the per-tile kernel in-process on the same patch neighbourhoods
    local = patches.toPandas()
    rows_at: dict[tuple[int, int], list[int]] = {}
    for i, k in enumerate(zip(local["patch_r"], local["patch_c"])):
        rows_at.setdefault(k, []).append(i)
    mapping = piv.tile_patch_map(spark, cfg).toPandas()
    kcfg = dict(template=cfg.template, step=cfg.step, scale=cfg.scale,
                dim=cfg.dim, prop=True, bias=True)
    for (tr, tc), grp in mapping.groupby(["tile_r", "tile_c"], sort=True):
        idx = [i for k in zip(grp["patch_r"], grp["patch_c"])
               for i in rows_at.get(k, [])]
        pdf = local.iloc[idx].reset_index(drop=True)
        with tracer.span("ncc.tile_kernel"):
            piv._piv_tile((tr, tc), pdf, kcfg)

    valid = cells[~np.isnan(cells["dx_px"])]
    tracer.count("piv.tiles", cfg.count ** 2)
    tracer.count("piv.cells_valid", len(valid))
    want_dy, want_dx = PIV_SHIFT_RC
    off = ((valid["dy_px"] - want_dy).abs() > PIV_TOL_PX) | (
        (valid["dx_px"] - want_dx).abs() > PIV_TOL_PX)
    problems = []
    if len(valid) == 0:
        problems.append("PIV returned no valid cells")
    if off.any():
        problems.append(f"{int(off.sum())} PIV cells miss the planted shift")
    if not np.isfinite([bias["x_bias_variance"], bias["y_bias_variance"]]).all():
        problems.append("bias variance is not finite")
    return problems
