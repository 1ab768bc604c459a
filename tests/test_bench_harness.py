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
