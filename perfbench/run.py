"""Run one benchmark workload of the gpiv_spark engine and print its
metrics as one JSON object on the last line of standard output.

    python3 perfbench/run.py --workload tin_build --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics (BENCHMARK.json "end_to_end");
--trace 1 runs the same passes with spans on, plus the layer suite, and
prints the per-layer metrics ("per_layer"). Run it from the root of a
checkout of the repository: it imports ``gpiv_spark`` from there, and
keeps every file it writes under ``.perfbench_work/`` there.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETUP_ROUNDS = 2

# per-layer metrics: (name, unit, source). Source ("pass", span) is the
# span's self time per top-level pass, median over passes; ("max", span)
# its longest single span; None a count the traced run records by name.
LAYER_METRICS = [
    ("session.start.s", "s", None),
    ("host.control_s", "s", None),
    ("trace.overhead_s", "s", None),
    ("spark.shuffle_write_bytes", "bytes", None),
    ("spark.tasks", "count", None),
    ("tin.fan_out_points.s", "s", ("pass", "tin.fan_out_points")),
    ("spark.grouped_channel.s", "s", ("pass", "spark.grouped_channel")),
    ("tin.build_pack_blobs.s", "s", ("pass", "tin.build_pack_blobs")),
    ("delaunay.kernel.s", "s", ("pass", "delaunay.kernel")),
    ("delaunay.kernel.max_cell_s", "s", ("max", "delaunay.kernel")),
    ("tin.merge_pack_blobs.s", "s", ("pass", "tin.merge_pack_blobs")),
    ("tin.pack_write.s", "s", ("pass", "tin.pack_write")),
    ("tin.certify_repair.s", "s", ("pass", "tin.certify_repair")),
    ("tin.fan_out.rows", "count", None),
    ("tin.cells", "count", None),
    ("tin.triangles", "count", None),
    ("tin.uncertified_first_pass", "count", None),
    ("tin.spark_jobs", "count", None),
    ("tin.pack_bytes", "bytes", None),
    ("geo.jvm_plan.s", "s", ("pass", "geo.jvm_plan")),
    ("spark.arrow_channel.s", "s", ("pass", "spark.arrow_channel")),
    ("tin.probe_batch.s", "s", None),
    ("tin.probe_batch.docs_per_s", "docs/s", None),
    ("doc_stream.docs_found", "count", None),
    ("sources.parquet_scan.s", "s", ("pass", "sources.parquet_scan")),
    ("tin.probe_docs.s", "s", ("pass", "tin.probe_docs")),
    ("lineage.checkpoint.s", "s", ("pass", "lineage.checkpoint")),
    ("lineage.resume.s", "s", ("pass", "lineage.resume")),
    ("lineage.verify.s", "s", ("pass", "lineage.verify")),
    ("lineage.bytes_written", "bytes", None),
    ("lineage.files_written", "count", None),
    ("lineage.partitions", "count", None),
    ("spans.mismatches", "count", None),
    ("piv.patches_from_array.s", "s", ("pass", "piv.patches_from_array")),
    ("piv.grouped_channel.s", "s", ("pass", "piv.grouped_channel")),
    ("ncc.tile_kernel.s", "s", ("pass", "ncc.tile_kernel")),
    ("ncc.tile_kernel.max_tile_s", "s", ("max", "ncc.tile_kernel")),
    ("piv.bias.s", "s", ("pass", "piv.bias")),
    ("piv.tiles", "count", None),
    ("piv.cells_valid", "count", None),
]
E2E_UNITS = {"items_per_s": "items/s", "setup_s": "s", "peak_mem_mb": "MB",
             "success_rate": "ratio"}


def host_size() -> dict:
    """Cores from the affinity mask; JVM heap at most half of MemTotal
    (capped at 4 GiB, ample for these input sizes)."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {"cores": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "heap_mb": min(mem_kb // 2 // 1024, 4096)}


def configure_env(host: dict, work: Path, trace: bool) -> None:
    """Everything the session, its JVM and its Python workers read from
    the environment; must run before pyspark starts the JVM."""
    for sub in ("tmp", "local", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{host['heap_mb']}m"
    os.environ["SPARK_GRAFT_WORKER_PYTHONPATH"] = str(ROOT)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    submit = ["pyspark-shell"]
    if trace:
        submit = ["--conf", "spark.eventLog.enabled=true",
                  "--conf", "spark.eventLog.compress=false",
                  "--conf", f"spark.eventLog.dir=file://{work / 'eventlog'}",
                  *submit]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    from perfbench.tracer import descendants

    tree = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in tree if _alive(p)]
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if _alive(p)]
        if not alive:
            return
        for p in alive:
            if sig is not None:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + 10


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Passes:
    """Top-level passes: each is a root span and its own Spark job
    group, so jobs, tasks and shuffle bytes can be read per pass."""

    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self._n = itertools.count()
        self.groups: dict[str, list[str]] = {}

    @contextmanager
    def __call__(self, name: str):
        group = f"{name}#{next(self._n)}"
        self.groups.setdefault(name, []).append(group)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name):
                yield group
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs_tasks(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                stage = st.getStageInfo(s)
                tasks += stage.numCompletedTasks if stage else 0
        return len(jobs), tasks


def measure(wl, passes, seconds: float, between=None) -> dict:
    """Timed passes for about ``seconds`` (at least one): stop once the
    next pass would end more than half a pass past the window."""
    rates, walls, attempted, failed = [], [], 0, 0
    end = time.perf_counter() + seconds
    while True:
        attempted += 1
        t0 = time.perf_counter()
        try:
            with passes("rep"):
                wall, items, problems = wl.rep()
        except Exception:
            traceback.print_exc()
            failed += 1
        else:
            if problems:
                print(f"check failed: {problems}", file=sys.stderr)
                failed += 1
            else:
                walls.append(wall)
                rates.append(items / wall)
        if between is not None:
            between()
        if time.perf_counter() + 0.5 * (time.perf_counter() - t0) >= end:
            break
    return {"rates": rates, "walls": walls, "attempted": attempted,
            "failed": failed}


def run(args, host: dict, work: Path) -> dict:
    from perfbench.tracer import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(enabled=False)  # off for set-up and untraced passes
    t0 = time.perf_counter()
    from gpiv_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cpus=host["cores"])
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    wl = WORKLOADS[args.workload](spark, args.seed, tracer, work)
    passes = Passes(spark, tracer)
    try:
        rounds = []
        # setup_s is not reported by a traced run: one round warms it up
        for _ in range(1 if args.trace else SETUP_ROUNDS):
            t = time.perf_counter()
            with passes("setup.round"):
                wl.setup_round()
            rounds.append(time.perf_counter() - t)
        with passes("setup.finish"):
            wl.finish_setup()
        if args.trace:
            tracer.count("session.start.s", session_s)
            out = traced(wl, passes, tracer, args.seconds)
        else:
            out = timed(wl, passes, args.seconds)
            out["metrics"]["setup_s"] = session_s + statistics.median(rounds)
    finally:
        wl.close()
        stop_spark(spark)
    if args.trace:
        from perfbench.tracer import shuffle_bytes_by_group

        shuffled = shuffle_bytes_by_group(work / "eventlog")
        tracer.count("spark.shuffle_write_bytes",
                     shuffled.get(passes.groups["rep"][-1], 0))
        out["metrics"] = {name: layer_value(tracer, name, source)
                          for name, _, source in LAYER_METRICS}
        units = {name: unit for name, unit, _ in LAYER_METRICS}
    else:
        units = E2E_UNITS
    tracer.dump(ROOT / ".perfbench_work" / "traces"
                / f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
                {"workload": args.workload, "seed": args.seed, "host": host,
                 "setup_rounds_s": rounds, "rep_walls_s": out["walls"],
                 "metrics": out["metrics"]})
    return {"correct": out["failed"] == 0, "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in out["metrics"].items()}}


def timed(wl, passes, seconds: float) -> dict:
    """Untraced passes: the end-to-end metrics (setup_s added by run)."""
    from perfbench.tracer import PssSampler

    with PssSampler(interval_s=0.5) as mem:
        m = measure(wl, passes, seconds)
    ok = m["attempted"] - m["failed"]
    m["metrics"] = {
        "items_per_s": statistics.median(m["rates"]) if ok else 0.0,
        "peak_mem_mb": mem.peak_kb / 1024.0,
        "success_rate": ok / m["attempted"],
    }
    return m


def traced(wl, passes, tracer, seconds: float) -> dict:
    """Half the window untraced, half traced, then the layer suite; the
    per-layer counts go to ``tracer``."""
    from perfbench.tracer import control_work

    controls = []

    def control():
        controls.append(control_work())

    plain = measure(wl, passes, seconds / 2)
    tracer.enabled = True
    spanned = measure(wl, passes, seconds / 2, between=control)
    problems = wl.layer_suite(passes)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    control()
    tracer.count("tin.spark_jobs",
                 passes.jobs_tasks(passes.groups["layers.build"][-1])[0])
    tracer.count("spark.tasks",
                 passes.jobs_tasks(passes.groups["rep"][-1])[1])
    tracer.count("host.control_s", statistics.median(controls))
    tracer.count("trace.overhead_s",
                 statistics.median(spanned["walls"] or [0.0])
                 - statistics.median(plain["walls"] or [0.0]))
    return {"walls": plain["walls"] + spanned["walls"],
            "attempted": plain["attempted"] + spanned["attempted"] + 1,
            "failed": plain["failed"] + spanned["failed"] + bool(problems)}


def layer_value(tracer, name: str, source) -> float:
    if source is None:
        return tracer.counts.get(name, 0)
    stat, span = source
    return tracer.per_pass(span) if stat == "pass" else tracer.longest(span)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tin_build", "doc_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "gpiv_spark" / "__init__.py").is_file():
        print(f"perfbench: no gpiv_spark package under {ROOT}; run it from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    host = host_size()
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    configure_env(host, work, bool(args.trace))
    print(f"perfbench host: cores={host['cores']} heap={host['heap_mb']}m "
          f"mem_total={host['mem_total_mb']}MB", flush=True)
    try:
        result = run(args, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
