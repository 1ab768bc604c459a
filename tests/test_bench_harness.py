"""bench.py's N -> 4N harness logic, without Spark: the core pair it
derives from the affinity mask, the median-based efficiency, and the
perfbench child it runs per level."""

from pathlib import Path

import bench


def test_core_pair_uses_highest_cores():
    assert bench.core_pair(range(4)) == ([3], [0, 1, 2, 3])
    lo, hi = bench.core_pair(range(32))
    assert lo == list(range(24, 32))
    assert hi == list(range(32))
    # unsorted, non-contiguous masks still give the highest cores
    lo, hi = bench.core_pair({9, 2, 30, 17, 5, 11, 40, 1})
    assert lo == [30, 40]
    assert hi == [1, 2, 5, 9, 11, 17, 30, 40]


def test_core_pair_skips_small_hosts():
    assert bench.core_pair(range(3)) is None
    assert bench.core_pair([7]) is None


def test_efficiency_is_median_ratio_over_four():
    assert bench.efficiency([100.0], [400.0]) == 1.0
    # medians, not means: one outlier run moves neither end
    lo = [100.0, 90.0, 1000.0]
    hi = [360.0, 10.0, 380.0]
    assert bench.efficiency(lo, hi) == 360.0 / (4 * 100.0)
    assert bench.efficiency([0.0], [400.0]) == 0.0


def test_child_argv_is_untraced_perfbench_run():
    argv = bench.child_argv("doc_stream", 2)
    assert Path(argv[1]) == Path(bench.__file__).parent / "perfbench" / "run.py"
    args = argv[2:]
    assert dict(zip(args[::2], args[1::2])) == {
        "--workload": "doc_stream", "--seed": "2",
        "--seconds": "15", "--trace": "0",
    }


def test_ab_pairs_claim_rule():
    from tools.ab_pairs import compare

    parent = [100.0, 102.0, 98.0, 101.0, 99.0, 100.0, 103.0, 97.0, 100.0, 101.0]
    # 9 of 10 wins and a median gap far outside the parent's IQR
    change = [130.0] * 9 + [99.0]
    r = compare(parent, change, higher=True, bound=0.25)
    assert (r["wins"], r["pairs"], r["claim"]) == (9, 10, True)
    assert r["ratios"][0] == 1.3
    # 8 of 10 wins is not enough, however large the gap
    r = compare(parent, [130.0] * 8 + [90.0, 90.0], higher=True, bound=0.25)
    assert (r["wins"], r["claim"]) == (8, False)
    # every pair won, but by less than the parent's own spread
    r = compare(parent, [p + 0.5 for p in parent], higher=True, bound=0.25)
    assert r["wins"] == 10 and not r["claim"]
    # ties count for neither side
    assert compare(parent, parent, higher=True, bound=0.25)["wins"] == 0
    # lower is better: smaller values win
    r = compare(parent, [70.0] * 10, higher=False, bound=0.25)
    assert (r["wins"], r["claim"]) == (10, True)


def test_ab_pairs_bound_reading():
    from tools.ab_pairs import compare

    tight = [100.0, 101.0, 99.0, 100.0]
    assert compare(tight, [90.0] * 4, True, 0.25)["bound"] == "ok"
    r = compare(tight, [70.0] * 4, True, 0.25)
    assert r["bound"] == "worse" and abs(r["worse_by"] - 0.30) < 1e-9
    # a parent spread wider than the bound leaves the metric unresolved ...
    wide = [50.0, 80.0, 120.0, 150.0]
    assert compare(wide, [95.0] * 4, True, 0.25)["bound"] == "unresolved"
    # ... unless every change run beats every parent run
    assert compare(wide, [160.0] * 4, True, 0.25)["bound"] == "ok"
    # lower is better (memory): a higher median is worse
    assert compare(tight, [130.0] * 4, False, 0.2)["bound"] == "worse"


def test_ab_pairs_drops_failed_pairs():
    """A crashed child has no metrics: its pair leaves every metric's
    comparison instead of scoring 0.0 (a dead parent used to count as a
    change win and drag the parent's quartiles)."""
    from tools.ab_pairs import compare, complete_pairs

    def run(seed, rate, correct=True):
        return {"seed": seed, "correct": correct,
                "metrics": {"items_per_s": rate} if correct else {}}

    parent = [run(1, 100.0), run(2, 0.0, correct=False), run(3, 104.0),
              run(4, 98.0)]
    change = [run(1, 99.0), run(2, 120.0), run(3, 101.0),
              run(4, 0.0, correct=False)]
    kept, dropped = complete_pairs(parent, change)
    assert dropped == [2, 4]
    assert [(p["seed"], c["seed"]) for p, c in kept] == [(1, 1), (3, 3)]
    par = [p["metrics"]["items_per_s"] for p, _ in kept]
    chg = [c["metrics"]["items_per_s"] for _, c in kept]
    r = compare(par, chg, higher=True, bound=0.25)
    assert (r["wins"], r["pairs"]) == (0, 2)
    # quartiles over the kept pairs only: no 0.0 from the crashed runs
    assert r["parent_q"] == (101.0, 102.0, 103.0)
