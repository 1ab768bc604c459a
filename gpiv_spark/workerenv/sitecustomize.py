"""Worker-side interpreter fixes for the per-task Python floor.

This directory is appended to the Python workers' PYTHONPATH by
gpiv_spark.session.get_spark (spark.executorEnv.PYTHONPATH), so the
interpreter inside pyspark.daemon / every forked worker imports this
sitecustomize module once at startup. It does two things.

1. mtime-guard zipimporter.invalidate_caches. pyspark.worker calls
``importlib.invalidate_caches()`` at the start of EVERY task
(worker_util.setup_spark_files), and Python 3.11's
``zipimporter.invalidate_caches()`` unconditionally re-reads the zip
central directory. The worker sys.path carries several zipimporter
entries (pyspark.zip, py4j zip, spark jars — one cached finder per
subpackage path), so every Python task re-parsed every archive's TOC:
measured 130-380 ms per task on this box, the dominant share of the
"~20 ms/task python handshake" floor that capped every
mapInPandas/applyInPandas stage (see BASELINE.md).

CPython 3.12+ fixed this upstream by re-reading only when the
archive's stat changes (gh-84283); this module backports that rule:
``invalidate_caches`` becomes a no-op while (st_mtime_ns, st_size) of
the archive is unchanged, and falls through to the original re-read
(or cache drop) the moment the file changes or disappears. Semantics
for changed archives are identical to stock 3.11.

Measured effect (8 pinned cores, no-op mapInPandas stage, best of 3):
128 tasks 2.55 s -> 1.08 s; 256 tasks 4.94 s -> 2.03 s.

2. Freeze the heap after a worker's first task. pyspark.daemon runs a
full ``gc.collect()`` after every task a reused worker finishes, and a
warm worker holds ~73k gc-tracked objects, nearly all from importing
pandas, pyarrow and pyspark (21-41 ms per collect on a 4-core host).
``pyspark.worker.main`` is wrapped as that module loads (the daemon
binds it at its own import), so that when a worker's first task
returns it runs ``gc.collect(); gc.freeze()``. Later collects walk
only objects created since the freeze; garbage those tasks make is
still collected.

Being named ``sitecustomize``, this module hides any sitecustomize
further down the worker's sys.path (a venv's, conda's or the distro's).
After installing both fixes it therefore finds the next one, skipping
its own directory, and runs it, so that environment's start-up hooks
still apply.
"""

import gc
import importlib.util
import os
import sys
import zipimport

_orig_invalidate = zipimport.zipimporter.invalidate_caches
_stamp: dict = {}


def _guarded_invalidate(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        _stamp.pop(self.archive, None)
        return _orig_invalidate(self)
    if _stamp.get(self.archive) == key:
        return None
    _stamp[self.archive] = key
    return _orig_invalidate(self)


zipimport.zipimporter.invalidate_caches = _guarded_invalidate


def _freeze_after_first_task(main):
    """Wrap a worker's task entry point: after the first task it runs
    returns, collect once and move every survivor to the permanent
    generation, out of later collections' reach."""
    first = True

    def main_then_freeze(infile, outfile):
        nonlocal first
        result = main(infile, outfile)
        if first:
            first = False
            gc.collect()
            gc.freeze()
        return result

    return main_then_freeze


class _WrapMainLoader:
    """Loads pyspark.worker with its own loader, then wraps its main."""

    def __init__(self, loader):
        self._loader = loader

    def __getattr__(self, name):
        return getattr(self._loader, name)

    def exec_module(self, module):
        self._loader.exec_module(module)
        module.main = _freeze_after_first_task(module.main)


class _WorkerMainHook:
    """One-shot meta-path hook: finds pyspark.worker the usual way and
    hands it to _WrapMainLoader."""

    def find_spec(self, name, path=None, target=None):
        if name != "pyspark.worker":
            return None
        sys.meta_path.remove(self)
        spec = importlib.util.find_spec(name)
        if spec is not None and spec.loader is not None:
            spec.loader = _WrapMainLoader(spec.loader)
        return spec


sys.meta_path.insert(0, _WorkerMainHook())


def _chain_shadowed() -> None:
    """Run the next ``sitecustomize`` on sys.path after this directory,
    if there is one. Searching only later entries means two such
    chaining modules on one path cannot call each other in a loop."""
    import importlib.machinery

    here = os.path.realpath(os.path.dirname(__file__))
    real = [os.path.realpath(p or os.curdir) for p in sys.path]
    start = real.index(here) + 1 if here in real else 0
    path = [p for p, r in zip(sys.path[start:], real[start:]) if r != here]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", path)
    if spec is not None and spec.loader is not None:
        spec.loader.exec_module(importlib.util.module_from_spec(spec))


_chain_shadowed()
