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


def test_socket_dir_fits_spark_and_af_unix(monkeypatch):
    """A socket dir under TMPDIR is TMPDIR + 18 characters; Spark 4.1
    rejects a socket dir over 61 characters and AF_UNIX needs the dir +
    43 within 107, so TMPDIRs of 44-46 characters (which fit AF_UNIX
    alone) must also fall back to /tmp. Calls the uncached function
    body so the process's cached dir, which a live session may hold,
    stays as it is."""
    import shutil
    import tempfile

    from gpiv_spark.session import socket_dir

    root = tempfile.mkdtemp(dir="/tmp")
    made = []
    try:
        for n in range(40, 51):
            base = root + "/" + "d" * (n - len(root) - 1)
            assert len(base) == n
            os.makedirs(base, exist_ok=True)
            monkeypatch.setattr(tempfile, "tempdir", base)
            d = socket_dir.__wrapped__()
            made.append(d)
            assert len(d) <= 61 and len(d) + 43 <= 107, (n, d)
            assert os.path.dirname(d) == (base if n <= 43 else "/tmp"), (n, d)
            assert os.stat(d).st_mode & 0o777 == 0o700
    finally:
        for d in made:
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
