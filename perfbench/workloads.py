"""The benchmark's workloads. Each one has set-up rounds (which also warm
the JIT, the Python workers and the C kernels), a timed pass with an
output check, and the traced layer suite."""

from __future__ import annotations

import time
from pathlib import Path

from perfbench import engine, layers


class Workload:
    name = ""

    def __init__(self, spark, seed: int, tracer, work: Path):
        self.spark, self.seed, self.tracer, self.work = spark, seed, tracer, work
        self.points = engine.points_df(spark, engine.TIN_POINTS, seed)
        self.record = engine.BuildRecord()
        self.digest: str | None = None
        self.handle = None  # the latest certified pack
        self.twin: dict | None = None

    def build_pack(self) -> tuple[float, list[str]]:
        """One certified build into self.handle, the previous pack's
        directory removed: (build seconds, check problems)."""
        if self.handle is not None:
            self.handle.destroy()
            self.handle = None
        t0 = time.perf_counter()
        with engine.instrument_tin(self.tracer, self.record):
            self.handle = engine.certified_pack(self.spark, self.points,
                                                engine.TIN_POINTS)
        wall = time.perf_counter() - t0
        digest, problems = engine.check_pack(self.handle, self.record,
                                             engine.TIN_POINTS, self.digest)
        self.digest = self.digest or digest
        return wall, problems

    def compute_twin(self) -> None:
        self.twin = engine.doc_stream_twin(engine.STREAM_DOCS, self.seed,
                                           self.handle)

    def setup_round(self) -> None:
        """The workload's set-up work: a checked certified build (the
        doc stream's pack; for tin_build, its warm-up)."""
        _, problems = self.build_pack()
        if problems:
            raise RuntimeError(f"set-up build failed its check: {problems}")

    def finish_setup(self) -> None:
        """Set-up done once, after the rounds (not part of setup_s)."""

    def rep(self) -> tuple[float, int, list[str]]:
        """One timed pass: (wall seconds, items, check problems)."""
        raise NotImplementedError

    def layer_suite(self, spark_pass) -> list[str]:
        """Every traced layer, each suite part in its own pass."""
        with spark_pass("layers.build"):
            problems = [f"layers.build: {p}" for p in self.build_pack()[1]]
        if self.twin is None:
            with spark_pass("layers.twin"):
                self.compute_twin()
        for part, fn in (
            ("layers.tin", lambda: layers.tin_layers(
                self.spark, self.tracer, self.points, engine.TIN_POINTS)),
            ("layers.stream", lambda: layers.stream_layers(
                self.spark, self.tracer, self.seed, self.handle,
                engine.STREAM_DOCS)),
            ("layers.checkpoint", lambda: layers.checkpoint_layers(
                self.spark, self.tracer, self.seed, self.handle, self.work)),
            ("layers.piv", lambda: layers.piv_layers(
                self.spark, self.tracer, self.seed)),
        ):
            with spark_pass(part):
                problems += [f"{part}: {p}" for p in fn()]
        self.tracer.count("doc_stream.docs_found", self.twin["n"])
        self.tracer.count("tin.probe_batch.s", self.twin["probe_s"])
        self.tracer.count("tin.probe_batch.docs_per_s",
                          engine.STREAM_DOCS / self.twin["probe_s"])
        for k in ("cells", "triangles", "uncertified_first_pass",
                  "pack_bytes"):
            self.tracer.count(f"tin.{k}", getattr(self.record, k))
        return problems

    def close(self) -> None:
        if self.handle is not None:
            self.handle.destroy()
            self.handle = None


class TinBuild(Workload):
    """Certified build_broadcast_pack of the seeded cloud: fan-out
    shuffle, grouped Arrow channel, C Delaunay kernel, driver merge and
    pack write. Items are input points."""

    name = "tin_build"

    def rep(self):
        wall, problems = self.build_pack()
        return wall, engine.TIN_POINTS, problems


class DocStream(Workload):
    """Seeded docs through geocode, Z-cell, tile, broadcast PIP and the
    mmap'd-pack probe into one aggregate: shuffle-free, so the JVM
    expression layer, the mapInPandas channel and the C probe carry it.
    Items are documents."""

    name = "doc_stream"

    def finish_setup(self) -> None:
        self.compute_twin()
        _, _, problems = self.rep()  # warm pass, checked, not timed
        if problems:
            raise RuntimeError(f"warm-up stream failed its check: {problems}")

    def rep(self):
        t0 = time.perf_counter()
        row = engine.doc_stream_plan(self.spark, engine.STREAM_DOCS,
                                     self.seed, self.handle).collect()[0]
        wall = time.perf_counter() - t0
        return wall, engine.STREAM_DOCS, engine.check_stream(row, self.twin)


WORKLOADS = {w.name: w for w in (TinBuild, DocStream)}
