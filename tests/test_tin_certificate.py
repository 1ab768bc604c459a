"""Halo-sufficiency certificate for the distributed Delaunay build.

The per-cell kernel certifies each OWNED triangle by checking that its
circumcircle — clamped to the data bbox, where points can exist — fits
inside the cell+halo region the kernel actually saw (operators/tin.py,
_make_cell_blob_kernel). certified_blobs then retries failed cells with
wider halos until every owned triangle certifies, which is what makes a
density-adaptive halo SAFE: certified triangles are
provably in the global Delaunay no matter how small the starting halo
was (soundness); only the thin band between local and global convex
hulls is not claimed (F4 hull probes there return NULL either way).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gpiv_spark.functions import delaunay as dl
from gpiv_spark.functions import geocode
from gpiv_spark.operators import tin
from gpiv_spark.operators.tin import _EXT, _X0, _Y0, build_broadcast_pack

TPU_DEFAULTS = {
    "var_x": 0.0001, "var_y": 0.0002, "var_z": 0.0003,
    "cov_xy": 0.0, "cov_xz": 0.0, "cov_yz": 0.0,
}


def _cloud_pdf(n, seed=11, stray=False):
    import pandas as pd

    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "x": _X0 + rng.random(n) * _EXT,
        "y": _Y0 + rng.random(n) * _EXT,
        "z": rng.random(n) * 10.0,
    })
    for c, v in TPU_DEFAULTS.items():
        pdf[c] = v
    if stray:
        pdf.loc[0, "x"] = _X0 - 25.0  # outside the nominal extent
    return pdf


def _cloud_df(spark, n, seed=11, stray=False):
    pdf = _cloud_pdf(n, seed, stray)
    return pdf, spark.createDataFrame(pdf)


def _pack_triples(pack, pids_sorted):
    return {tuple(sorted(pids_sorted[row])) for row in pack["tv"].tolist()}


def _global_triples(pdf):
    p = pdf[["x", "y"]].to_numpy(np.float64)
    tri = dl.delaunay(p)
    pid = pdf["pid"].to_numpy(np.int64)
    return {tuple(sorted(pid[row])) for row in tri.tolist()}


@pytest.mark.parametrize("halo", [2.0, 0.1])
def test_certified_pack_is_sound_subset_of_global(spark, halo):
    """Whatever the starting halo — even one far below the point
    spacing — the certified build emits only triangles of the GLOBAL
    Delaunay (retries repair undersized halos), and misses at most a
    sliver-thin hull band."""
    pdf, points = _cloud_df(spark, 4000, seed=7)
    bc = build_broadcast_pack(spark, points, cell_res=4, index_res=8,
                              halo_m=halo, id_col="pid", certify=True)
    pack = bc.value
    bc.destroy()
    got = _pack_triples(pack, np.sort(pdf["pid"].to_numpy(np.int64)))
    want = _global_triples(pdf)
    rogue = got - want
    assert not rogue, f"{len(rogue)} non-global triangles emitted"
    missing = want - got
    assert len(missing) < 0.002 * len(want), (
        f"hull-band completeness gap too large: {len(missing)}")


def _kernel_blobs(pdf, cell_res, halo):
    """Run the per-cell blob kernel in-process on every cell's fan-in
    (the cell's points plus every point within ``halo`` of it) -> one
    (cell, n_uncert, owned pid triples) row per populated cell."""
    import pickle

    n = 1 << cell_res
    csize = _EXT / n
    kernel = tin._make_cell_blob_kernel(n, csize, 256, _EXT / 256, halo,
                                        halo, "pid")
    x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    out = []
    for cell in range(n * n):
        cx, cy = cell % n, cell // n
        sel = ((x >= _X0 + cx * csize - halo) & (x < _X0 + (cx + 1) * csize + halo)
               & (y >= _Y0 + cy * csize - halo) & (y < _Y0 + (cy + 1) * csize + halo))
        if not sel.any():
            continue
        row = kernel((cell,), pdf[sel].reset_index(drop=True)).iloc[0]
        shard = pickle.loads(row["payload"])
        triples = {tuple(sorted(t)) for t in zip(
            shard["v1"].tolist(), shard["v2"].tolist(), shard["v3"].tolist())}
        out.append((cell, int(row["n_uncert"]), triples))
    return out


def test_uncertified_small_halo_emits_rogue_triangles():
    """Control for the test above, at the kernel level: at an undersized
    halo the per-cell Delaunay emits triangles that are not in the
    global Delaunay, and the kernel's n_uncert flags every one of them
    — the certificate is what's doing the work."""
    pdf = _cloud_pdf(4000, seed=7)
    want = _global_triples(pdf)
    n_rogue = 0
    for cell, n_uncert, triples in _kernel_blobs(pdf, cell_res=4, halo=0.1):
        rogue = len(triples - want)
        assert rogue <= n_uncert, f"cell {cell}: {rogue} rogue, {n_uncert} flagged"
        n_rogue += rogue
    assert n_rogue, "expected rogue triangles at halo=0.1"


def test_build_broadcast_pack_only_certifies(spark):
    _, points = _cloud_df(spark, 50, seed=3)
    with pytest.raises(ValueError, match="always certifies"):
        build_broadcast_pack(spark, points, certify=False)


def test_stray_points_void_bbox_clamp(spark):
    """A point outside the nominal extent makes the certificate's bbox
    clamp unsound; certify must refuse rather than certify wrongly."""
    _, points = _cloud_df(spark, 500, seed=3, stray=True)
    with pytest.raises(ValueError, match="outside the nominal extent"):
        build_broadcast_pack(spark, points, cell_res=4, index_res=8,
                             halo_m=2.0, id_col="pid", certify=True)


def test_certified_build_total_on_clustered_cloud(spark):
    """Clustered clouds (big inter-cluster voids => huge circumcircles
    everywhere) exercise the whole repair ladder: halo doubling, then
    grid auto-coarsening. The build must still terminate and emit only
    globally-Delaunay triangles."""
    import pandas as pd

    rng = np.random.default_rng(23)
    centers = np.stack([_X0 + rng.random(5) * _EXT,
                        _Y0 + rng.random(5) * _EXT], axis=1)
    pts = np.concatenate([
        c + rng.normal(0, _EXT * 0.02, (300, 2)) for c in centers
    ])
    pts = np.clip(pts, [_X0, _Y0],
                  [_X0 + _EXT * 0.999, _Y0 + _EXT * 0.999])
    pdf = pd.DataFrame({
        "pid": np.arange(len(pts), dtype=np.int64),
        "x": pts[:, 0], "y": pts[:, 1],
        "z": rng.random(len(pts)),
    })
    for c, v in TPU_DEFAULTS.items():
        pdf[c] = v
    bc = build_broadcast_pack(spark, spark.createDataFrame(pdf),
                              cell_res=3, index_res=8, halo_m=1.0,
                              id_col="pid", certify=True)
    pack = bc.value
    bc.destroy()
    got = _pack_triples(pack, np.sort(pdf["pid"].to_numpy(np.int64)))
    want = _global_triples(pdf)
    assert not (got - want), "rogue triangles on clustered cloud"
    assert len(want - got) < 0.01 * len(want)


def test_in_ring_repairs_hand_their_halo_need_to_the_targeted_retry(
        spark, monkeypatch):
    """Uniform cloud with an empty disc: the small starting halo fails
    cells everywhere (the in-ring doublings fix those), while triangles
    spanning the disc need a halo beyond the 8-ring's reach. The ladder
    must then make ONE wide-reach retry, sized from the need the LAST
    in-ring round reported (not the first pass's stale one), and emit
    only globally-Delaunay triangles."""
    import pandas as pd

    rng = np.random.default_rng(7)
    p = np.stack([_X0 + rng.random(20_000) * _EXT,
                  _Y0 + rng.random(20_000) * _EXT], axis=1)
    p = p[np.hypot(p[:, 0] - (_X0 + 0.47 * _EXT),
                   p[:, 1] - (_Y0 + 0.53 * _EXT)) > 45.0]
    pdf = pd.DataFrame({"pid": np.arange(len(p), dtype=np.int64),
                        "x": p[:, 0], "y": p[:, 1],
                        "z": rng.random(len(p))})
    for c, v in TPU_DEFAULTS.items():
        pdf[c] = v
    points = spark.createDataFrame(pdf)

    rounds, wide = [], []
    ring, at_cells = tin.build_pack_blobs, tin.build_pack_blobs_at_cells

    def spy_ring(*a, **k):
        blobs = ring(*a, **k)
        rounds.append(blobs)
        return blobs

    def spy_wide(spark_, points_, cells, cell_res, index_res, halo_m, *a):
        wide.append((len(cells), halo_m))
        return at_cells(spark_, points_, cells, cell_res, index_res,
                        halo_m, *a)

    monkeypatch.setattr(tin, "build_pack_blobs", spy_ring)
    monkeypatch.setattr(tin, "build_pack_blobs_at_cells", spy_wide)
    bc = build_broadcast_pack(spark, points, cell_res=5, index_res=8,
                              halo_m=1.0, id_col="pid")
    pack = bc.value
    bc.destroy()

    def reported_need(blobs):
        return blobs.agg(F.max("halo_need")).first()[0]

    def targeted_halo(need):
        # the in-ring ladder stops at halo csize; the retry takes the
        # reported need (+2%), at least doubled, at most the extent
        return min(max(1.02 * need, 2.0 * _EXT / 32), _EXT)

    assert len(rounds) >= 2, "the in-ring ladder never ran"
    assert len(wide) == 1, f"expected one wide-reach retry, got {wide}"
    assert wide[0][1] == targeted_halo(reported_need(rounds[-1]))
    assert wide[0][1] != targeted_halo(reported_need(rounds[0]))
    got = _pack_triples(pack, np.sort(pdf["pid"].to_numpy(np.int64)))
    want = _global_triples(pdf)
    assert not (got - want), "rogue triangles after the targeted retry"
    assert len(want - got) < 0.01 * len(want)


def test_blob_adapters_agree_on_planted_duplicates(spark):
    """The Spark stages run the pack kernel once per task through
    mapInArrow (_make_pack_task_kernel), which groups the task's cells
    in NumPy; the pandas adapter (_make_cell_blob_kernel) stays for
    in-process callers. Fed one task's rows — every cell, interleaved
    across uneven record batches — the task kernel must emit, per cell,
    the adapter's counter columns and a byte-equal payload for that
    cell's rows in arrival order, and an empty partition emits nothing.
    Of points sharing an XY, the min id is the one triangulated."""
    import pickle

    import pandas as pd
    import pyarrow.compute as pc

    pdf = _cloud_pdf(3000, seed=5)
    src = pdf.iloc[:60]
    planted = [
        src.iloc[:20],                                      # same row twice
        src.iloc[20:40].assign(pid=src["pid"].iloc[20:40] + 10_000,
                               z=src["z"].iloc[20:40] + 1.0),  # higher id
        src.iloc[40:60].assign(pid=src["pid"].iloc[40:60] - 10_000,
                               z=src["z"].iloc[40:60] - 1.0),  # lower id
    ]
    pdf = pd.concat([pdf, *planted], ignore_index=True)
    df = spark.createDataFrame(pdf).withColumn(
        "var_x", F.expr("(1 + pid % 7) * 0.0001"))
    cell_res, halo = 2, 20.0
    n = 1 << cell_res
    csize = _EXT / n
    args = (n, csize, 256, _EXT / 256, halo, halo, "pid")
    fan = tin.fan_out_points(spark, tin._double_points(df, "pid"), cell_res,
                             halo, extra_cols=("pid",)).toArrow()
    # one task's input: the rows in a scrambled arrival order, cut into
    # uneven batches, one of them empty
    perm = np.random.default_rng(3).permutation(fan.num_rows)
    rb = fan.take(perm).combine_chunks().to_batches()[0]
    cuts = [0, 1, 500, 500, 2100, 2101, rb.num_rows]
    batches = [rb.slice(a, b - a) for a, b in zip(cuts[:-1], cuts[1:])]

    task = tin._make_pack_task_kernel(*args)
    assert list(task(iter([]))) == []
    assert list(task(iter([rb.slice(0, 0)]))) == []
    out = list(task(iter(batches)))
    assert len(out) == 1
    rows = out[0].to_pylist()
    assert [r["cell"] for r in rows] == list(range(n * n))

    fields = [c.split()[0] for c in tin.PACK_BLOB_SCHEMA.split(", ")]
    adapter = tin._make_cell_blob_kernel(*args)
    verts = set()
    for r in rows:
        cell_rows = rb.filter(pc.equal(rb.column("cell"), r["cell"]))
        p = adapter((r["cell"],), cell_rows.to_pandas()).iloc[0]
        for f in fields:
            want = p[f].item() if hasattr(p[f], "item") else p[f]
            assert r[f] == want, (r["cell"], f)
        shard = pickle.loads(r["payload"])
        for k in ("v1", "v2", "v3"):
            verts.update(shard[k].tolist())
    # min id wins for coincident XY (the pandas keeper rule)
    kept = pdf.sort_values("pid", kind="mergesort").drop_duplicates(
        subset=["x", "y"])["pid"]
    assert verts <= set(kept.tolist())
    assert set(planted[2]["pid"]) <= verts
    assert not set(planted[1]["pid"]) & verts
    assert not set(src["pid"].iloc[40:60]) & verts


def test_spark_decimal_cast_is_float_of_decimal(spark):
    """The pack stages cast DECIMAL coordinates and TPU to DOUBLE in the
    JVM (tin._double_points) instead of converting them in the kernel;
    the pack stays what float(Decimal) values give only because Spark's
    cast rounds correctly. Random decimals at precisions up to 18
    (Spark's compact long) and above (BigDecimal), scales 0-10, both
    signs, plus perfbench's TPU expression, must cast bit for bit."""
    import random
    from decimal import Decimal

    rng = random.Random(13)
    cols, ddl = {}, []
    for prec in (5, 12, 18, 19, 25, 38):
        for scale in (0, 1, 4, 7, 10):
            if scale > prec:
                continue
            name = f"d{prec}_{scale}"
            cols[name] = [Decimal(rng.choice((-1, 1)) * rng.randrange(
                10 ** rng.randint(1, prec))).scaleb(-scale)
                for _ in range(300)]
            ddl.append(f"{name} decimal({prec},{scale})")
    df = spark.createDataFrame(list(zip(*cols.values())), ", ".join(ddl))
    df = df.withColumn("tpu", F.expr("(1 + CAST(d18_0 AS BIGINT) % 7) * 0.0001"))
    names = [*cols, "tpu"]
    rows = df.selectExpr(*names, *(f"CAST({c} AS DOUBLE) AS {c}_f"
                                   for c in names)).collect()
    assert dict(df.dtypes)["tpu"].startswith("decimal")
    for c in names:
        dec = [r[c] for r in rows]
        got = np.array([r[f"{c}_f"] for r in rows], dtype=np.float64)
        want = np.array([float(v) for v in dec], dtype=np.float64)
        assert (got.view(np.int64) == want.view(np.int64)).all(), c


def test_certified_blobs_rejects_a_split_cell(monkeypatch):
    """Each cell must be whole in one pack task. A build round whose
    blob table holds a cell twice fails loudly instead of keeping one
    of its blobs."""
    import pyarrow as pa

    class SplitRound:
        def toArrow(self):
            return pa.table({"cell": [3, 5, 3], "n_uncert": [0, 0, 0],
                             "halo_need": [0.0] * 3, "n_outside": [0] * 3,
                             "payload": [b"a", b"b", b"c"]})

    monkeypatch.setattr(tin, "build_pack_blobs",
                        lambda *a, **k: SplitRound())
    with pytest.raises(ValueError, match="more than one blob for a cell"):
        tin.certified_blobs(None, None, cell_res=4, id_col="pid")
