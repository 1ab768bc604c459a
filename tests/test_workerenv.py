"""The worker-side sitecustomize (zipimporter invalidate_caches mtime
guard) must actually load inside the Python workers get_spark launches —
without it every task re-reads every zip's central directory (130-380 ms
per task, the round-6 handshake-floor finding; see
gpiv_spark/workerenv/sitecustomize.py)."""

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
