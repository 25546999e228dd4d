"""The benchmark workloads.

Each workload owns its seeded inputs under ``work`` and exposes:

* ``prepare()``        — generate the seeded inputs, load them into the
  engine and compute the oracle;
* ``warmup()``         — the set-up's warm-up (JIT, Python workers, memos);
* ``run_pass(tracer)`` — one timed pass, returning a ``Pass``;
* ``throughput(passes)`` — (input docs processed, seconds spent) over the
  passes that succeeded;
* ``latencies(passes)`` — the run's latency samples;
* ``layers(tracer, traced)`` — per-layer figures of a traced run: read
  from the traced passes, and from extra probes that run after the
  timed passes;
* ``detail(passes)``   — extra fields for the run's detail line.

Set-up time spent on the benchmark's own work — generating inputs
(``gen_s``) and computing the oracle (``oracle_s``) — is counted apart
so that ``setup_s`` holds only the program's time.

All passes are closed loops with one client.  Every pass checks its
outputs against an oracle that shares no code with the engine.  Pass
and operation times are steal-adjusted (see ``host.py``); each pass
keeps its raw wall, CPU and steal seconds in ``extra["timing"]``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

import gen
import host
import oracle

BOARD_QUERIES = (
    "pip_join", "cell_assign", "span_counts", "knn", "radius_join",
    "bbox_join", "rasterize_hist", "zonal_stats", "point_sampling", "polygonize",
)


@dataclasses.dataclass
class Pass:
    samples: list[float]  # latency samples of the operations that succeeded
    wall_s: float  # the whole pass, steal-adjusted
    attempted: int
    failed: int
    reads: list[dict] = dataclasses.field(default_factory=list)  # traced operations
    extra: dict = dataclasses.field(default_factory=dict)


class Workload:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.gen_s = 0.0
        self.oracle_s = 0.0
        self.probes = self.probes_failed = 0  # checked operations of the traced run's probes

    def latencies(self, passes) -> list[float]:
        """The run's latency samples: one per successful pass."""
        return [s for p in passes for s in p.samples]

    @property
    def own_s(self) -> float:
        return self.gen_s + self.oracle_s

    def clock(self) -> host.Clock:
        return host.Clock()

    def _op(self, tracer, name: str, build, action):
        """(result, steal-adjusted seconds, traced Op or None) of
        ``action(build())``."""
        clock = self.clock()
        if tracer is not None:
            result, op = tracer.run(name, build, action)
        else:
            result, op = action(build()), None
        return result, clock.read().adjusted, op

    @contextlib.contextmanager
    def own(self, kind: str):
        """Time the benchmark's own work: ``kind`` is gen_s or oracle_s."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            setattr(self, kind, getattr(self, kind) + time.perf_counter() - t0)


def _collect_one(df):
    return df.collect()[0]


def _fingerprint(row) -> tuple[int, int, int]:
    return int(row["n"]), int(row["h1"] or 0), int(row["h2"] or 0)


def _median_time(fn, reps: int = 3) -> tuple[float, object]:
    """Median wall of ``reps`` calls, and the last result."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _warm(w, passes: int) -> Pass:
    """Untimed passes: the first pays JIT and Python-worker start; later
    ones let the JIT settle.  On the polygon join, on a 4-core VM, the
    driver and its workers spent 27, 11, 8.6, 7.7, 6.2, 5.9 and then
    about 5 CPU seconds per pass: timing from the fourth pass measured
    how fast the host let the JIT catch up, not the join."""
    runs = [w.run_pass(None) for _ in range(passes)]
    return Pass([], 0.0, sum(p.attempted for p in runs), sum(p.failed for p in runs))


def join_layers(docs, candidates, join, pairs: int) -> dict:
    """Per-layer probes of one interleaved-docs join, each timed alone:
    scan, span extraction, point parse + cell id, the filter (the join's
    candidates) and the refinement (the full join minus the filter)."""
    from gdal_boots_spark.functions.geometry_fns import cell_id_sql, point_xy_sql
    from gdal_boots_spark.operators.spans import extract_geo_spans

    xs, ys, ps = point_xy_sql("text")
    scan_s, _ = _median_time(lambda: docs.selectExpr("count(*)", "sum(size(spans))").collect())
    extract_s, geo_rows = _median_time(
        lambda: extract_geo_spans(docs).selectExpr("count(*) AS n", "sum(length(text))").collect()[0]["n"]
    )
    cells_s, _ = _median_time(
        lambda: extract_geo_spans(docs).where(ps).selectExpr(f"sum(pmod({cell_id_sql(xs, ys, 8)}, 1000003))").collect()
    )
    filter_s, cand = _median_time(lambda: candidates().selectExpr("count(*) AS n").collect()[0]["n"])
    join_s, _ = _median_time(lambda: join().selectExpr("count(*)").collect())
    return {
        "sources.scan_s": scan_s,
        "spans.extract_s": extract_s,
        "spans.geo_rows": geo_rows,
        "functions.cell_assign_s": max(0.0, cells_s - extract_s),
        "spatial_join.filter_s": filter_s,
        "spatial_join.refine_s": max(0.0, join_s - filter_s),
        "spatial_join.candidates": cand,
        "spatial_join.pairs": pairs,
        "spatial_join.hit_ratio": pairs / cand if cand else 0.0,
    }


class JoinPolygons(Workload):
    """Docs whose geo spans mix Point, rectangle Polygon and
    GeometryCollection, interleaved once into parquet during set-up and
    joined by ``pip_join_docs_any`` against a seeded dim of convex
    polygons plus some rectangles on every pass.  (Deriving the spans
    inside every pass made it 1.7x slower: the join reads its span
    table twice.)  Its traced run also drives ``plans.runner`` over the
    same inputs (see ``runner_layers``)."""

    n_docs = 100_000

    def prepare(self) -> None:
        from gdal_boots_spark.sources.synth import interleaved_docs

        self.flat = os.path.join(self.work, "flat")
        with self.own("gen_s"):
            rng = np.random.default_rng(self.seed)
            ids = gen.doc_ids(rng, self.n_docs)
            shutil.rmtree(self.flat, ignore_errors=True)
            gen.write_documents(os.path.join(self.flat, "documents.parquet"), ids, rng)
            polys = gen.convex_dim(rng)
            gen.write_dim(os.path.join(self.work, "dim.parquet"), polys)
        docs_path = os.path.join(self.work, "docs")
        interleaved_docs(self.spark, self.flat, poly_spans=True).write.mode("overwrite").parquet(docs_path)
        self.docs = self.spark.read.parquet(docs_path)
        self.dim = self.spark.read.parquet(os.path.join(self.work, "dim.parquet"))
        with self.own("oracle_s"):
            self.expected = oracle.expected_pairs(ids, polys, rect_spans=True)

    def _join(self, docs=None):
        from gdal_boots_spark.operators.spatial_join import pip_join_docs_any

        return pip_join_docs_any(self.docs if docs is None else docs, self.dim)

    def warmup(self) -> Pass:
        return _warm(self, 6)

    def run_pass(self, tracer) -> Pass:
        op, clock = None, self.clock()
        try:
            row, wall, op = self._op(
                tracer, "join", lambda: self._join().selectExpr(*oracle.FINGERPRINT_SQL), _collect_one
            )
            ok = _fingerprint(row) == self.expected
            if not ok:
                print(f"join_polygons: {_fingerprint(row)} != oracle {self.expected}", file=sys.stderr)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            wall, ok = float("nan"), False
        finally:
            self.spark.catalog.clearCache()  # the join persists its branch point
        timing = clock.read()
        reads = [tracer.read(op)] if op is not None else []
        return Pass([wall] if ok else [], wall, 1, 0 if ok else 1, reads, {"timing": timing})

    def throughput(self, passes) -> tuple[int, float]:
        walls = [s for p in passes for s in p.samples]
        return self.n_docs * len(walls), sum(walls)

    def layers(self, tracer, traced) -> dict:
        from gdal_boots_spark.operators.spatial_join import pip_join_docs, poly_span_candidates

        def candidates():
            pts = pip_join_docs(self.docs, self.dim, refine=False).selectExpr("doc_id")
            return pts.unionByName(poly_span_candidates(self.docs, self.dim).selectExpr("doc_id"))

        try:
            out = join_layers(self.docs, candidates, self._join, self.expected[0])
        finally:
            self.spark.catalog.clearCache()
        out.update(self.runner_layers())
        return out

    def runner_layers(self) -> dict:
        """``plans.runner.StageRunner`` over interleave -> pip_join ->
        poly_stats (the resumable flagship script's chain) on this
        workload's flat table: a fresh run into an empty directory, a
        resume (every stage skipped) and a rerun after invalidating
        ``pip_join``, each checked against the oracle.  Then
        ``runner.lineage_s``: the runner's pip_join stage (write, lineage,
        manifest) minus a plain parquet write of the same DataFrame."""
        from pyspark.sql import functions as F

        from gdal_boots_spark.plans.runner import StageRunner
        from gdal_boots_spark.sources.synth import interleaved_docs

        root = os.path.join(self.work, "runner")
        fp = f"seed={self.seed};v1"

        def stages(runner):
            docs = runner.run("interleave", lambda: interleaved_docs(self.spark, self.flat, poly_spans=True), fp)
            joined = runner.run("pip_join", lambda: self._join(docs), fp)
            runner.run("poly_stats", lambda: joined.groupBy("poly_id").agg(F.count("*").alias("n")), fp)
            self.spark.catalog.clearCache()

        walls = {}
        for phase, invalidate, expect in RUNNER_PHASES:
            runner = StageRunner(self.spark, root)
            if invalidate:
                runner.invalidate(invalidate)
            t0 = time.perf_counter()
            stages(runner)
            walls[phase] = time.perf_counter() - t0
            self.probes += 1
            if [e["action"] for e in runner.events] != expect or not self._check_runner(root):
                print(f"runner: {phase} gave {runner.events} or a wrong output", file=sys.stderr)
                self.probes_failed += 1
            if phase == "fresh":
                written = _tree_bytes(root)
                manifest = runner._load_manifest()
        out = {f"runner.stage_s.{s}": manifest[s]["wall_sec"] for s in RUNNER_STAGES}
        out.update({f"runner.files_written.{s}": manifest[s]["files"] for s in RUNNER_STAGES})
        out["runner.files_written"] = sum(manifest[s]["files"] for s in RUNNER_STAGES)
        out["runner.bytes_written"] = written
        out["runner.bytes_written_per_doc"] = written / self.n_docs
        out["runner.resume_s"] = walls["resume"]
        out["runner.invalidate_rerun_s"] = walls["rerun"]

        docs = self.spark.read.parquet(os.path.join(root, "interleave"))
        plain = os.path.join(self.work, "plain")
        lineage = StageRunner(self.spark, os.path.join(self.work, "lineage"))

        def runner_write():
            lineage.invalidate("pip_join")
            lineage.run("pip_join", lambda: self._join(docs), "lineage")
            self.spark.catalog.clearCache()

        def plain_write():
            self._join(docs).write.mode("overwrite").parquet(plain)
            self.spark.catalog.clearCache()

        plain_s, _ = _median_time(plain_write)
        run_s, _ = _median_time(runner_write)
        out["runner.lineage_s"] = max(0.0, run_s - plain_s)
        return out

    def _check_runner(self, root: str) -> bool:
        out = self.spark.read.parquet(os.path.join(root, "pip_join")).selectExpr(*oracle.FINGERPRINT_SQL)
        if _fingerprint(out.collect()[0]) != self.expected:
            return False
        n = self.spark.read.parquet(os.path.join(root, "poly_stats")).selectExpr("sum(n)").collect()[0][0]
        return int(n) == self.expected[0]

    def detail(self, passes) -> dict:
        return {"docs": self.n_docs, "pairs": self.expected[0]}


RUNNER_STAGES = ("interleave", "pip_join", "poly_stats")
RUNNER_PHASES = (
    ("fresh", None, ["ran", "ran", "ran"]),
    ("resume", None, ["skipped", "skipped", "skipped"]),
    ("rerun", "pip_join", ["skipped", "ran", "skipped"]),
)


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files)


class Board(Workload):
    """Ten ``__spark_entry__.queries()`` at sf0.05, each built cold and
    run in seed-shuffled order, each checked against the fingerprint of
    its DuckDB ``oracle_sql()`` result computed once during set-up.  A
    query's latency is its median over the run's passes."""

    sf = 0.05

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.rng = np.random.default_rng(seed)
        self.sf_dir = os.path.join(work, "sf")

    def prepare(self) -> None:
        """Seeded tables, then each query's DuckDB result as parquet.
        DuckDB runs alone, before Spark does any work: its time is the
        benchmark's and does not overlap the engine's warm-up."""
        import __spark_entry__ as entry

        self.queries = {k: v for k, v in entry.queries().items() if k in BOARD_QUERIES}
        with self.own("gen_s"):
            shutil.rmtree(self.sf_dir, ignore_errors=True)
            self.sizes = gen.write_board_tables(self.sf_dir, np.random.default_rng(self.seed), self.sf)
        with self.own("oracle_s"):
            self._run_oracle_sql(entry.oracle_sql())

    def _oracle_path(self, name: str) -> str:
        return os.path.join(self.work, "oracle", f"{name}.parquet")

    def _run_oracle_sql(self, sql: dict) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for name in self.sizes:
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            os.makedirs(os.path.dirname(self._oracle_path("x")), exist_ok=True)
            for name in self.queries:
                con.execute(f"COPY ({sql[name]}) TO '{self._oracle_path(name)}' (FORMAT PARQUET)")
        finally:
            con.close()

    def warmup(self) -> Pass:
        """Two untimed passes on the real tables, then the expected
        fingerprints: Spark hashes each DuckDB result after the warm-up,
        so the engine's cold start stays in the set-up time.  The warm
        passes are checked against them afterwards.  (After a warm-up on
        tiny tables the first timed pass read 10-25% slower than the
        second; after one pass on the real tables, still 5-20%, so a run
        of one timed pass and a run of two disagreed.)"""
        self.expected = None
        warm = [self.run_pass(None) for _ in range(2)]
        with self.own("oracle_s"):
            self.expected = {}
            for name in self.queries:
                row = board_fingerprint(self.spark.read.parquet(self._oracle_path(name))).collect()[0]
                self.expected[name] = _fingerprint(row)
        failed = sum(p.extra["fingerprints"].get(name) != self.expected[name] for p in warm for name in self.queries)
        return Pass([], 0.0, len(warm) * len(self.queries), failed)

    def run_pass(self, tracer) -> Pass:
        names = list(self.queries)
        order = [names[i] for i in self.rng.permutation(len(names))]
        samples, failed, reads, per_query, walls, fps = [], 0, [], {}, {}, {}
        clock = self.clock()
        for name in order:
            op = None
            try:
                row, wall, op = self._op(
                    tracer, f"query-{name}",
                    lambda: board_fingerprint(self.queries[name](self.spark, self.sf_dir)),
                    _collect_one,
                )
                fps[name] = _fingerprint(row)
                ok = self.expected is None or fps[name] == self.expected[name]  # None: the warm pass
                if not ok:
                    print(f"board: {name} differs from its oracle", file=sys.stderr)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                wall, ok = float("nan"), False
            if ok:
                samples.append(wall)
                walls[name] = wall
            failed += 0 if ok else 1
            if op is not None:
                reads.append(tracer.read(op))
                per_query[name] = {"build_s": op.build_s, "exec_s": op.exec_s, "py4j_calls": op.py4j_calls}
        timing = clock.read()
        extra = {"per_query": per_query, "walls": walls, "fingerprints": fps, "timing": timing}
        return Pass(samples, timing.adjusted, len(order), failed, reads, extra)

    def latencies(self, passes) -> list[float]:
        return [
            statistics.median(p.extra["walls"][name] for p in passes if name in p.extra["walls"])
            for name in self.queries
            if any(name in p.extra["walls"] for p in passes)
        ]

    def throughput(self, passes) -> tuple[int, float]:
        walls = [p.wall_s for p in passes if not p.failed] or [p.wall_s for p in passes]
        return self.sizes["documents"] * len(walls), sum(walls)

    def layers(self, tracer, traced) -> dict:
        out = {}
        for name in self.queries:
            for k in ("build_s", "exec_s", "py4j_calls"):
                vals = [p.extra["per_query"][name][k] for p in traced if name in p.extra["per_query"]]
                if vals:
                    out[f"query.{name}.{k}"] = statistics.median(vals)
        return out

    def detail(self, passes) -> dict:
        return {"tables": self.sizes, "queries": sorted(self.queries)}


def board_fingerprint(df):
    """Order-insensitive fingerprint of any result: the row count and two
    sums of 31-bit slices of a per-row xxhash64 over its columns in name
    order, each normalised (integers to BIGINT, floats to DOUBLE without
    negative zero, anything else to STRING)."""
    cols = []
    for name, dtype in sorted(df.dtypes):
        q = f"`{name}`"
        if dtype in ("tinyint", "smallint", "int", "bigint"):
            cols.append(f"CAST({q} AS BIGINT)")
        elif dtype in ("float", "double") or dtype.startswith("decimal"):
            cols.append(f"CAST({q} AS DOUBLE) + 0.0D")
        else:
            cols.append(f"CAST({q} AS STRING)")
    return df.selectExpr(f"xxhash64({', '.join(cols)}) AS _h").selectExpr(
        "count(*) AS n",
        "sum(pmod(_h, 2147483647)) AS h1",
        "sum(pmod(shiftright(_h, 31), 2147483647)) AS h2",
    )


WORKLOADS = {
    "join_polygons": JoinPolygons,
    "board": Board,
}
