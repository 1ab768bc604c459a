"""The per-task fixes get_spark applies to every Python worker must
actually take effect inside the workers it launches: the worker-side
sitecustomize's zipimporter invalidate_caches mtime guard (without it
every task re-reads every zip's central directory, 130-380 ms per
task) and its heap freeze after a worker's first task (without it the
daemon's per-task gc.collect() walks the whole import graph), plus the
Unix-domain socket channel's directory rules. See
gpiv_spark/workerenv/sitecustomize.py and gpiv_spark/session.py."""

import pandas as pd


def test_workers_have_zipimport_guard(spark):
    def probe(batches):
        import zipimport

        patched = zipimport.zipimporter.invalidate_caches.__name__ == (
            "_guarded_invalidate"
        )
        for pdf in batches:
            yield pd.DataFrame({"patched": [bool(patched)], "n": [len(pdf)]})

    rows = (
        spark.range(0, 100, 1, 4)
        .selectExpr("id as doc_id")
        .mapInPandas(probe, "patched boolean, n long")
        .collect()
    )
    assert rows and all(r["patched"] for r in rows)


def test_guard_reloads_on_archive_change(tmp_path):
    """Driver-side unit check of the guard's semantics: unchanged stat =>
    no re-read; changed stat => falls through to the original."""
    import os
    import sys
    import zipfile

    sys.path.insert(0, str((__import__("pathlib").Path(__file__).resolve()
                            .parents[1] / "gpiv_spark" / "workerenv")))
    try:
        import sitecustomize as sc
    finally:
        sys.path.pop(0)

    zpath = tmp_path / "t.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("m1.py", "X = 1\n")
    import zipimport

    zi = zipimport.zipimporter(str(zpath))
    assert zi.find_spec("m1") is not None

    calls = []
    orig = sc._orig_invalidate

    def counting(self):
        calls.append(1)
        return orig(self)

    sc._orig_invalidate = counting
    try:
        sc._stamp.pop(str(zpath), None)
        sc._guarded_invalidate(zi)   # first call: stat recorded, re-read
        sc._guarded_invalidate(zi)   # unchanged: must NOT re-read
        assert len(calls) == 1
        with zipfile.ZipFile(zpath, "a") as z:
            z.writestr("m2.py", "Y = 2\n")
        os.utime(zpath, (1, 1))      # force a distinct mtime
        sc._guarded_invalidate(zi)   # changed: must re-read
        assert len(calls) == 2
    finally:
        sc._orig_invalidate = orig


def test_shadowed_sitecustomize_still_runs(tmp_path):
    """The guard shadows any sitecustomize later on PYTHONPATH; it must
    chain to it, so an environment's own start-up hooks still run."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    workerenv = Path(__file__).resolve().parents[1] / "gpiv_spark" / "workerenv"
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text(
        "import builtins\nbuiltins._shadowed_sitecustomize_ran = True\n")
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join([str(workerenv), str(other)]))
    out = subprocess.run(
        [sys.executable, "-c",
         "import builtins, zipimport\n"
         "print(zipimport.zipimporter.invalidate_caches.__name__)\n"
         "print(getattr(builtins, '_shadowed_sitecustomize_ran', False))"],
        env=env, capture_output=True, text=True, timeout=60, check=True,
    )
    assert out.stdout.split() == ["_guarded_invalidate", "True"], out


def test_workers_freeze_heap_after_first_task(spark):
    """pyspark.daemon runs a full gc.collect() after every task a reused
    worker finishes; the worker sitecustomize freezes the heap after a
    worker's first task so those collects skip the import graph. Every
    later task of the same worker must see a frozen heap."""
    def probe(batches):
        import gc
        import os

        for _ in batches:
            yield pd.DataFrame({"pid": [os.getpid()],
                                "frozen": [gc.get_freeze_count()]})

    pdf = (
        spark.range(0, 96, 1, 96)
        .mapInPandas(probe, "pid long, frozen long")
        .toPandas()
    )
    assert len(pdf) == 96
    per_worker = pdf.groupby("pid")["frozen"]
    assert per_worker.size().max() > 1, "no worker ran a second task"
    # at most one task per worker (its first) ran before the freeze
    assert (per_worker.apply(lambda f: int((f == 0).sum())) <= 1).all(), pdf


def test_worker_rss_bounded_with_frozen_heap(spark):
    """Garbage made after the freeze is still collected: each of >= 500
    tasks drops ~1 MB of cyclic garbage (a self-referencing list holding
    a NumPy array), and no worker's RSS grows by 64 MB or more from its
    10th task to its last."""
    def churn(batches):
        import os
        import time

        import numpy as np

        page = os.sysconf("SC_PAGE_SIZE")
        for _ in batches:
            junk = [np.ones(1 << 17)]  # 1 MiB of float64
            junk.append(junk)
            del junk
            with open("/proc/self/statm") as f:
                rss = int(f.read().split()[1]) * page
            yield pd.DataFrame({"pid": [os.getpid()],
                                "t": [time.monotonic_ns()], "rss": [rss]})

    pdf = (
        spark.range(0, 1024, 1, 1024)
        .mapInPandas(churn, "pid long, t long, rss long")
        .toPandas()
    )
    assert len(pdf) == 1024
    growth = {}
    for pid, g in pdf.sort_values("t").groupby("pid"):
        if len(g) > 10:
            growth[pid] = (g["rss"].iloc[-1] - g["rss"].iloc[9]) / 2**20
    assert growth, "no worker ran more than 10 tasks"
    assert max(growth.values()) < 64, growth


def test_socket_path_fits_on_long_tmpdir(tmp_path):
    """Spark names each Unix socket <dir>/.<uuid4>.sock and AF_UNIX
    paths hold 107 bytes, so a socket dir under a long TMPDIR /
    java.io.tmpdir would fail every Python task. get_spark must pick a
    private dir that fits, keep it for a second session in the same
    process (the JVM's driver-side servers keep the first one), leave
    no socket after a stop and no dir after the interpreter exits."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    long_tmp = tmp_path / ("t" * max(1, 100 - len(str(tmp_path)) - 1))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 100
    script = (
        "import os, sys\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "from gpiv_spark.session import get_spark\n"
        "for _ in range(2):\n"
        "    spark = get_spark(cpus=2)\n"
        "    d = spark.sparkContext.getConf().get(\n"
        "        'spark.python.unix.domain.socket.dir')\n"
        "    assert os.stat(d).st_mode & 0o777 == 0o700, oct(os.stat(d).st_mode)\n"
        "    n = (spark.range(0, 1000, 1, 4)\n"
        "         .mapInPandas(lambda it: it, 'id long').count())\n"
        "    assert n == 1000, n\n"
        "    assert spark.range(10).toArrow().num_rows == 10\n"
        "    print(d, flush=True)\n"
        "    spark.stop()\n"
        "    assert not os.listdir(d), os.listdir(d)\n"
        "get_spark(cpus=2).range(0, 10, 1, 2).mapInPandas(\n"
        "    lambda it: it, 'id long').count()\n"  # exit without a stop
    )
    env = dict(os.environ, TMPDIR=str(long_tmp), SPARK_GRAFT_DRIVER_MEM="1g",
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={long_tmp}")
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=root,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    dirs = out.stdout.split()
    assert len(dirs) == 2 and dirs[0] == dirs[1], out.stdout
    d = dirs[0]
    assert len(d) + len("/.00000000-0000-0000-0000-000000000000.sock") <= 107
    assert not os.path.exists(d), d
    left = [p.name for p in long_tmp.rglob("*")
            if p.name.endswith(".sock") or p.name.startswith("gpiv-uds-")]
    assert not left, left


def test_session_starts_on_46_char_tmpdir(tmp_path):
    """A 46-character TMPDIR fits AF_UNIX's socket paths but not Spark's
    61-character socket-dir limit (TMPDIR + 18); the session must still
    start and run a Python task."""
    import os
    import shutil
    import subprocess
    import sys
    import tempfile
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    top = tempfile.mkdtemp(dir="/tmp")
    tmp = top + "/" + "t" * (46 - len(top) - 1)
    os.makedirs(tmp)
    assert len(tmp) == 46
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "from gpiv_spark.session import get_spark\n"
        "spark = get_spark(cpus=1)\n"
        "d = spark.sparkContext.getConf().get(\n"
        "    'spark.python.unix.domain.socket.dir')\n"
        "n = spark.range(0, 100, 1, 2).mapInPandas(lambda it: it, 'id long').count()\n"
        "assert n == 100, n\n"
        "print(d, flush=True)\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, TMPDIR=tmp, SPARK_GRAFT_DRIVER_MEM="1g")
    try:
        out = subprocess.run([sys.executable, "-c", script], env=env,
                             cwd=root, capture_output=True, text=True,
                             timeout=600)
    finally:
        shutil.rmtree(top, ignore_errors=True)
    assert out.returncode == 0, out.stderr[-3000:]
    d = out.stdout.split()[-1]
    assert len(d) <= 61 and d.startswith("/tmp/gpiv-uds-"), d
