"""Benchmark harness: one JSON line, BENCH.md refreshed.

Times the 13-query subset at $SPARK_GRAFT_SF_DIR, the skew, bucketed,
dedup-endgame, merge-on-read and reference-PIV evidence benches, and
the headline: N -> 4N throughput scaling of perfbench's tin_build and
doc_stream workloads. N = cores // 4 of the affinity mask (1 -> 4 on a
4-core host, 8 -> 32 on a 32-core one), each level pinned to the
HIGHEST cores, where host management load is lightest. Each (workload,
seed) runs one untraced ``perfbench/run.py`` child per level, pinned
before it starts, so its session, Python workers and JVM threads all
see exactly that many cores; levels alternate which runs first per
seed so both ends sample the same host-load windows. Efficiency is
median(4N) / (4 x median(N)) of ``items_per_s``, read next to a NumPy
multiprocessing control at the same pair and pinning. Hosts under 4
cores skip the headline; any child with ``correct: false`` makes the
run exit 1.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORKLOADS = ("tin_build", "doc_stream")
SEEDS = (1, 2, 3)
SECONDS = 15
SKEW_DOCS = 6_000_000
BUCKETED_DOCS = 6_000_000

BENCH_QUERIES = [
    "cells_zorder", "tile_assign", "pip_triangles", "pip_cells",
    "knn_anchors", "minhash_sig", "simhash", "ngram_jaccard",
    "embed_topk", "cosine_neardup_lsh", "piv_kernel", "piv_covariance",
    "tin_plane_kernel",
]
# salted_cell_stats is gated, not timed: at sf0.1 its wall is per-tiny-
# group pandas overhead; skew_bench measures the salting path at scale.


def warm_queries(spark) -> dict:
    """name -> query for gate and retired queries alike (retired ones
    stay in the timed subset so round-over-round columns persist),
    after a steady-state warm-up (JIT, codegen cache, Python workers,
    parquet footers) so the first timed query is not charged start-up."""
    import __spark_entry__ as entry
    from gpiv_spark.queries import RETIRED

    qs = dict(entry.queries())
    qs.update({name: q.spark for name, q in RETIRED.items()})
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(1000).mapInPandas(
        lambda it: it, "doc_id long, text string, lang string, "
        "source string, n_chars long"
    ).groupBy("lang").count().collect()
    return qs


def core_pair(avail) -> tuple[list[int], list[int]] | None:
    """(N, 4N) highest cores of the affinity set `avail`, N = |avail| // 4;
    None when the host has fewer than 4 cores."""
    cores = sorted(avail)
    n = len(cores) // 4
    if n == 0:
        return None
    return cores[-n:], cores[-4 * n:]


def efficiency(lo_rates: list[float], hi_rates: list[float]) -> float:
    """N -> 4N throughput scaling efficiency: median(4N) / (4 x median(N))."""
    lo = statistics.median(lo_rates)
    return statistics.median(hi_rates) / (4 * lo) if lo else 0.0


def child_argv(workload: str, seed: int, root: Path = ROOT) -> list[str]:
    return [sys.executable, str(root / "perfbench" / "run.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(SECONDS), "--trace", "0"]


def run_child(workload: str, seed: int, cores: list[int] | None = None,
              root: Path = ROOT) -> dict:
    """One untraced perfbench run in the checkout `root`, pinned to
    `cores` (None: this process's affinity): {"metrics": {name: value},
    "correct"} off its last stdout line; no metrics if it crashed."""
    t0 = time.time()
    pin = None if cores is None else (
        lambda: os.sched_setaffinity(0, set(cores)))
    out = subprocess.run(
        child_argv(workload, seed, root), cwd=root, capture_output=True,
        text=True, check=False, preexec_fn=pin,
    )
    try:
        res = json.loads(out.stdout.strip().splitlines()[-1])
        metrics = {k: m["value"] for k, m in res["metrics"].items()}
        ok = bool(res["correct"]) and out.returncode == 0
    except (IndexError, KeyError, json.JSONDecodeError):
        metrics, ok = {}, False
    where = f"{len(cores)} cores" if cores is not None else str(root)
    print(f"[bench] {workload} seed {seed} on {where}: "
          f"{metrics.get('items_per_s', 0.0):,.0f} items/s in "
          f"{time.time() - t0:.0f}s" + (
              "" if ok else f"; FAILED rc={out.returncode}\n"
              f"{out.stderr[-3000:]}"), file=sys.stderr)
    return {"metrics": metrics, "correct": ok}


def headline() -> dict:
    avail = os.sched_getaffinity(0)
    pair = core_pair(avail)
    if pair is None:
        return {"skipped": f"host offers {len(avail)} cores; N -> 4N "
                "needs >= 4", "cores": len(avail)}
    lo, hi = pair
    ctl = control_efficiency(lo, hi)
    rates = {w: {"lo": [], "hi": []} for w in WORKLOADS}
    correct = True
    for i, seed in enumerate(SEEDS):
        order = [("lo", lo), ("hi", hi)][::1 if i % 2 == 0 else -1]
        for w in WORKLOADS:
            for level, cores in order:
                rec = run_child(w, seed, cores)
                rates[w][level].append(
                    round(rec["metrics"].get("items_per_s", 0.0), 1))
                correct &= rec["correct"]
    eff = {w: round(efficiency(r["lo"], r["hi"]), 3)
           for w, r in rates.items()}
    return {
        "protocol": "perfbench/run.py --trace 0 children pinned to the "
                    "highest N and 4N cores; levels alternate per seed",
        "cores_lo": len(lo),
        "cores_hi": len(hi),
        "seeds": list(SEEDS),
        "seconds": SECONDS,
        "items_per_s": rates,
        "correct": correct,
        "scaling_efficiency": eff,
        "hw_control_mp_efficiency": round(ctl["efficiency"], 3),
        "engine_vs_control": {w: round(e / ctl["efficiency"], 3)
                              for w, e in eff.items()},
    }


def reference_workload(spark) -> dict:
    """The reference's own e2e PIV job (run_test_v1.py:148-160): 478x478
    rasters, template=100, step=50, search_scale=2, full covariance
    propagation + the bias two-pass -> 25 cells. The reference runs this
    single-threaded with an O(T^4) numeric Jacobian plus a >=5s
    matplotlib render floor (BASELINE.md); the engine uses the analytic
    Jacobian distributed over tiles."""
    import numpy as np

    from gpiv_spark.operators.piv import (
        add_bias_variance, bias_variance_fused, run_piv_arrays,
    )
    from gpiv_spark.operators.tiling import PivConfig
    from gpiv_spark.sources.raster import translated_pair

    before, after = translated_pair(478, (3, -2), seed=42)
    rng = np.random.default_rng(3)
    unc = np.abs(rng.normal(0.08, 0.01, (478, 478)))
    cfg = PivConfig()
    t0 = time.time()
    # fused bias pass: one pipeline does main PIV + propagation + the
    # A4 self-PIV (two NCC surfaces per kernel call), vs round-1's two
    # full pipelines; patches packed driver-side (arrays are in memory)
    piv = run_piv_arrays(spark, before, after, cfg, propagate=True,
                         before_unc=unc, after_unc=unc, with_bias=True)
    piv = piv.cache()
    bias = bias_variance_fused(piv)
    n = add_bias_variance(
        piv.drop("bias_dx", "bias_dy").filter("NOT isnan(dx_px)"), bias
    ).count()
    wall = time.time() - t0
    piv.unpersist()
    assert n == 25, n
    return {"cells": n, "wall_sec": round(wall, 2)}


def _control_work(seed: int) -> float:
    """Pure-NumPy compute chunk for the hardware-control measurement."""
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.normal(0, 1, (256, 256))
    acc = 0.0
    for _ in range(160):
        acc += float(np.abs(np.fft.rfft2(a)).sum())
        a = a * 0.999 + 0.001
    return acc


def control_efficiency(lo: list[int], hi: list[int]) -> dict:
    """VM scaling ceiling at a core pair: identical numpy work via
    multiprocessing only (no Spark), pinned to the same cores as the
    engine children. If the box itself cannot scale at a pair, no
    engine can — engine efficiency is read RELATIVE to this number."""
    import multiprocessing as mp

    # 16 full waves at the HI level (and 16*|hi|/|lo| at lo): multi-
    # second walls with no partial-wave quantization, and the same task
    # count at both levels, like the engine's same-input protocol
    tasks = 16 * len(hi)
    full = os.sched_getaffinity(0)
    out = {}
    for cores in (lo, hi):
        os.sched_setaffinity(0, set(cores))
        try:
            with mp.Pool(len(cores)) as pool:
                pool.map(_control_work, range(len(cores)))  # warm
                best = float("inf")
                for _ in range(2):
                    t0 = time.time()
                    pool.map(_control_work, range(tasks))
                    best = min(best, time.time() - t0)
                out[len(cores)] = best
        finally:
            os.sched_setaffinity(0, full)
    out["efficiency"] = (out[len(lo)] / out[len(hi)]) / (len(hi) / len(lo))
    return out


def skew_bench(spark, n_docs: int, res: int = 2, n_salt: int = 256) -> dict:
    """Skew evidence (SURVEY §7.3): the SAME salted-kernel pipeline over
    uniformly geocoded docs vs a fixture with 50% of docs in ONE cell.
    The salt splits the hot applyInPandas group into n_salt bounded
    Python calls that hash across all shuffle partitions, so skewed
    throughput should stay within ~1.3x of uniform. Coarse cells (res 2)
    keep per-group pandas overhead out; the hot group still holds 8x any
    uniform cell. Best-of-2, plan rebuilt per run."""
    from pyspark.sql import functions as F

    from gpiv_spark.dialect import SPARK as d
    from gpiv_spark.functions import cells, geocode
    from gpiv_spark.operators.salting import salted_cell_stats

    def run_once(skewed: bool) -> float:
        if skewed:
            # the SAME planted hot point as the salted_cell_stats gate
            # fixture — bench skew evidence and gate measure one shape
            from gpiv_spark.queries_misc import _skew_xy

            x, y = _skew_xy(d, "doc_id")
        else:
            x = geocode.x_expr(d, "doc_id")
            y = geocode.y_expr(d, "doc_id")
        docs = spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.expr(cells.zcell_expr(d, x, y, res)).alias("cell"),
            F.expr(f"{x} - {geocode.X0!r}").alias("dx"),
            F.expr(f"{y} - {geocode.Y0!r}").alias("dy"),
        )
        t0 = time.time()
        row = salted_cell_stats(docs, n_salt=n_salt).agg(
            F.sum("n_docs").alias("n")
        ).collect()[0]
        assert row["n"] == n_docs
        return time.time() - t0

    out = {"n_docs": n_docs, "n_salt": n_salt}
    for label, skewed in (("uniform_sec", False), ("skewed_sec", True)):
        out[label] = round(min(run_once(skewed) for _ in range(2)), 2)
    out["skew_ratio"] = round(out["skewed_sec"] / out["uniform_sec"], 3)
    return out


def bucketed_bench(spark, n_docs: int, n_buckets: int = 64) -> dict:
    """The repeated-join discipline (VERDICT r3 #6): the dedup
    pipeline's documents<->canonical join over n_docs rows on plain
    parquet (SortMergeJoin, both sides shuffled) vs on tables bucketed
    and sorted by doc_id at write time (no Exchange, no Sort). Writes
    are untimed setup; broadcast is off, as at 10^12 docs neither side
    broadcasts. Best-of-2, plan rebuilt per run."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gpiv_spark.sources.bucketed import (
        ensure_database, n_exchanges, write_bucketed,
    )

    warehouse = tempfile.mkdtemp(prefix="bench_bucketed_")
    db = "bench_bucketed"
    ensure_database(spark, db, warehouse)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (F.xxhash64("id") % 1000).alias("quality"),
    )
    canon = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (F.col("id") - F.col("id") % 7).alias("canonical_id"),
    )
    plain_docs, plain_canon = f"{warehouse}/docs_plain", f"{warehouse}/canon_plain"
    docs.write.mode("overwrite").parquet(plain_docs)
    canon.write.mode("overwrite").parquet(plain_canon)
    write_bucketed(docs, f"{db}.docs_b", "doc_id", n_buckets)
    write_bucketed(canon, f"{db}.canon_b", "doc_id", n_buckets)

    def join_agg(left, right):
        return left.join(right, "doc_id").groupBy("canonical_id").agg(
            F.count("*").alias("n"), F.sum("quality").alias("q")
        ).agg(F.count("*"), F.sum("n"), F.sum("q"))

    out = {"n_docs": n_docs, "n_buckets": n_buckets}
    # capture BEFORE the try: if unset, RuntimeConfig.get(key, None)
    # returns None and the restore must UNSET, not skip — otherwise the
    # session keeps broadcast joins disabled after this bench returns
    with_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def timed(mk):
            best = float("inf")
            for _ in range(2):
                df = mk()
                t0 = time.time()
                df.collect()
                best = min(best, time.time() - t0)
            return round(best, 2), n_exchanges(mk())

        out["shuffled_sec"], out["shuffled_exchanges"] = timed(
            lambda: join_agg(spark.read.parquet(plain_docs),
                             spark.read.parquet(plain_canon))
        )
        out["bucketed_sec"], out["bucketed_join_exchanges"] = timed(
            lambda: join_agg(spark.table(f"{db}.docs_b"),
                             spark.table(f"{db}.canon_b"))
        )
        # n_exchanges counts the whole plan incl. the final aggregate's
        # exchange; the JOIN itself is exchange-free iff the bucketed
        # plan has exactly the two aggregation exchanges fewer
        out["join_exchanges_deleted"] = (
            out["shuffled_exchanges"] - out["bucketed_join_exchanges"]
        )
    finally:
        if with_bc is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_bc)
        else:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {db}.docs_b")
        spark.sql(f"DROP TABLE IF EXISTS {db}.canon_b")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")
        shutil.rmtree(warehouse, ignore_errors=True)
    return out


def dedup_endgame_bench(spark, sf_dir: str) -> dict:
    """The full dedup chain, timed end to end at the bench SF (VERDICT
    r4 #5): minhash-LSH pairs -> connected components -> keep-best
    canonicalizer -> equality-delete MoR commit of the losers -> merged
    read-back. Each link is gated on its own; here a regression in any
    link shows as wall time (seconds: iterative CC rounds, file I/O)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gpiv_spark.operators.components import connected_components
    from gpiv_spark.queries_misc import q_minhash_lsh_pairs
    from gpiv_spark.queries_text import _quality_sql
    from gpiv_spark.dialect import SPARK as d
    from gpiv_spark.sources.manifest import (
        append_equality_deletes, read_snapshot, write_snapshot,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    tbl = tempfile.mkdtemp(prefix="bench_endgame_")
    shutil.rmtree(tbl, ignore_errors=True)
    try:
        # untimed setup: the production table the chain maintains
        write_snapshot(docs.select("doc_id", "n_chars"), tbl,
                       stats_cols=["doc_id"])
        t0 = time.time()
        pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
        comp = connected_components(pairs, a="doc_a", b="doc_b")
        quality = spark.sql(_quality_sql(d)).select("doc_id", "quality")
        labeled = quality.join(
            comp, quality["doc_id"] == comp["node"], "left"
        ).select(
            "doc_id", F.coalesce("comp", "doc_id").alias("component"),
            "quality",
        )
        winners = labeled.groupBy("component").agg(
            F.min_by(
                "doc_id",
                F.struct((-F.col("quality")).alias("nq"), "doc_id"),
            ).alias("canonical_id")
        )
        losers = labeled.join(winners, "component").filter(
            F.col("doc_id") != F.col("canonical_id")
        ).select("doc_id")
        n_losers = losers.count()
        append_equality_deletes(losers, tbl, ["doc_id"])
        live = read_snapshot(spark, tbl).count()
        wall = time.time() - t0
        assert live == n_docs - n_losers, (live, n_docs, n_losers)
        return {"n_docs": n_docs, "n_dups_deleted": n_losers,
                "live_after_commit": live, "wall_sec": round(wall, 2)}
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


def mor_apply_bench(spark, n_rows: int = 10_000_000,
                    n_keys: int = 200_000) -> dict:
    """Merge-on-read delete APPLY at scale (VERDICT r4 #4): n_keys
    equality-delete keys over n_rows rows. Times the reader (scan +
    anti-join against the delete files) and asserts the broadcast build
    (past BROADCAST_DELETE_ROWS it becomes a shuffled anti-join, pinned
    in tests/test_plans.py). Best-of-2, plan rebuilt per run."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gpiv_spark.sources.manifest import (
        append_equality_deletes, read_snapshot, write_snapshot,
    )

    tbl = tempfile.mkdtemp(prefix="bench_mor_")
    shutil.rmtree(tbl, ignore_errors=True)
    try:
        write_snapshot(
            spark.range(n_rows).select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 9973).alias("cell"),
            ),
            tbl, stats_cols=["doc_id"],
        )
        # every 50th doc is a dedup loser: n_rows/50 = n_keys delete rows
        append_equality_deletes(
            spark.range(0, n_keys * 50, 50).select(
                F.col("id").alias("doc_id")
            ),
            tbl, ["doc_id"],
        )
        best = float("inf")
        for _ in range(2):
            df = read_snapshot(spark, tbl)
            t0 = time.time()
            n = df.count()
            best = min(best, time.time() - t0)
        assert n == n_rows - n_keys, (n, n_rows, n_keys)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        return {"n_rows": n_rows, "n_delete_keys": n_keys,
                "apply_sec": round(best, 2), "broadcast_apply": True}
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


def write_bench_md(result: dict) -> None:
    h = result["headline"]
    lines = ["# BENCH — gpiv_spark", "", "Written by `python bench.py` "
             "(protocol in its docstring; all numbers in its JSON line).", ""]
    if "skipped" in h:
        lines += [f"Headline skipped: {h['skipped']}.", ""]
    else:
        lo, hi = h["cores_lo"], h["cores_hi"]
        lines += [
            f"Headline: perfbench `--trace 0`, {h['seconds']} s windows, "
            f"seeds {h['seeds']}, pinned {lo} -> {hi} cores; NumPy "
            f"control efficiency {h['hw_control_mp_efficiency']}.", "",
            f"| workload | items/s @ {lo} cores | items/s @ {hi} cores "
            "| scaling efficiency | engine / control |",
            "|---|---|---|---|---|",
        ]
        for w, r in h["items_per_s"].items():
            lines.append(
                f"| {w} | {', '.join(f'{v:,.0f}' for v in r['lo'])} "
                f"| {', '.join(f'{v:,.0f}' for v in r['hi'])} "
                f"| **{h['scaling_efficiency'][w]}** "
                f"| {h['engine_vs_control'][w]} |")
        lines.append("")
    sk, bk = result["skew"], result["bucketed"]
    eg, mor = result["dedup_endgame"], result["mor_apply"]
    ref = result["reference_workload"]
    lines += [
        "| evidence bench | input | result |", "|---|---|---|",
        f"| skew (salted kernel) | {sk['n_docs']:,} docs | uniform "
        f"{sk['uniform_sec']} s, one hot cell {sk['skewed_sec']} s, "
        f"ratio {sk['skew_ratio']} |",
        f"| bucketed join | {bk['n_docs']:,} rows/side | shuffled "
        f"{bk['shuffled_sec']} s, bucketed {bk['bucketed_sec']} s, "
        f"{bk['join_exchanges_deleted']} Exchanges deleted |",
        f"| dedup endgame | {eg['n_docs']:,} docs | {eg['wall_sec']} s, "
        f"{eg['n_dups_deleted']:,} deletes |",
        f"| MoR delete apply | {mor['n_delete_keys']:,} keys / "
        f"{mor['n_rows']:,} rows | {mor['apply_sec']} s |",
        f"| reference PIV job | 478x478, 25 cells | {ref['wall_sec']} s "
        f"(min/med/max {ref['wall_min_med_max']}) |",
        "", f"Query seconds at sf{result['sf']} (sum {result['value']}):", "",
    ]
    lines += [f"- {k}: {v}" for k, v in result["queries"].items()]
    (ROOT / "BENCH.md").write_text("\n".join(lines) + "\n")


def main() -> int:
    from gpiv_spark.session import default_cpus, get_spark

    t_main0 = time.time()

    def _mark(phase):
        print(f"[bench] {phase} done (elapsed "
              f"{time.time() - t_main0:.0f}s)", file=sys.stderr)

    # the headline children run before this process starts a JVM of
    # its own, so they never share the host's memory with it
    head = headline()
    _mark("headline")

    cpus = default_cpus()
    qtimes: dict[str, float] = {}
    spark = get_spark("bench", cpus=cpus)
    qs = warm_queries(spark)
    for name in BENCH_QUERIES:
        t0 = time.time()
        n = qs[name](spark, SF_DIR).count()
        qtimes[name] = round(time.time() - t0, 3)
        assert n > 0, name
    _mark("queries")
    skew = skew_bench(spark, SKEW_DOCS)
    bucketed = bucketed_bench(spark, BUCKETED_DOCS)
    _mark("skew+bucketed")
    endgame = dedup_endgame_bench(spark, SF_DIR)
    mor = mor_apply_bench(spark)
    _mark("endgame+mor")
    # 3 warm runs: persist the spread, not just the min — round-over-
    # round comparisons on this noisy box stop being min-vs-min flips
    ref_runs = sorted(reference_workload(spark)["wall_sec"] for _ in range(3))
    ref = {"cells": 25, "wall_sec": ref_runs[0], "wall_min_med_max": ref_runs}
    _mark("reference_workload")
    spark.stop()

    result = {
        "metric": "e2e_bench_sec",
        "value": round(sum(qtimes.values()), 3),
        "unit": "sec",
        "queries": qtimes,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "headline": head,
        "skew": skew,
        "bucketed": bucketed,
        "bucketed_stream_sec": bucketed["bucketed_sec"],
        "dedup_endgame": endgame,
        "dedup_endgame_sec": endgame["wall_sec"],
        "mor_apply": mor,
        "reference_workload": ref,
    }
    write_bench_md(result)
    print(json.dumps(result))
    return 0 if head.get("correct", True) else 1


if __name__ == "__main__":
    sys.exit(main())
