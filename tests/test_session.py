"""Session defaults must fit the host. The driver heap is pinned (-Xms):
min(16g, half the physical memory), SPARK_GRAFT_DRIVER_MEM overriding
it. Local cores: the affinity mask, SPARK_GRAFT_CPUS overriding it."""

import os

from gpiv_spark.session import default_cpus, default_driver_mem


def test_default_driver_mem_fits_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    got = default_driver_mem()
    assert got.endswith("m")
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    assert 0 < int(got[:-1]) <= min(16 << 10, phys_mb // 2)


def test_env_overrides_driver_mem(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_mem() == "3g"


def test_default_cpus_is_affinity_size(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_env_overrides_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
