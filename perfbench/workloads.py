"""The three workloads. Each one sets up, runs timed passes, checks every
pass's output and, in a traced run, turns spans and the Spark event log into
per-layer metrics.

A pass times only the operation itself (the action that consumes its
result included); checking the output happens after the timed region.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

import checks
import eventlog
import gen
import harness
from stats import median

RULES = ["intersect", "union", "xor"]
INPUT_FILES = 16
WARM_SLICE = "id % 64 = 0"  # share of the line ids a short warm-up pass reads


@dataclass
class PassResult:
    wall: float  # seconds in the timed region
    ops: int  # operations whose output was checked
    problems: list = field(default_factory=list)  # one entry per failing op
    items: float = 0.0  # units of work, see the workload's ITEMS
    extra: dict = field(default_factory=dict)  # per-pass figures for layers


def _med(values) -> float:
    return float(median(values)) if values else 0.0


def _skew(durations) -> float:
    d = [x for x in durations if x > 0]
    return max(d) / median(d) if d else 0.0


def _stages(log: eventlog.Log, jobs) -> list:
    """Stages of `jobs` that ran tasks (skipped stages have none)."""
    out = [log.stages[s] for j in jobs for s in j.stages if s in log.stages]
    return [s for s in out if s.tasks]


def spark_task_layers(log: eventlog.Log, jobs: list, ex: dict) -> dict:
    """Spark-wide layers of one timed region `ex` (wall, window, cores,
    cpu_s): scan, Exchange, the Python worker crossing, tasks, GC, CPU."""
    stages = _stages(log, jobs)
    tasks = [t for s in stages for t in s.tasks]
    dominant = max(stages, key=lambda s: s.sum("run_ms"), default=None)
    w0, w1 = ex["window"]
    busy = ex["wall"] * ex["cores"]

    def accum(name):
        return sum(s.accum.get(name, 0) for s in stages)

    return {
        "spark.scan.s": accum("scan time") / 1000.0,
        "spark.scan.bytes": float(sum(
            v for t, name, v in log.sql_metrics if name == "size of files read" and w0 <= t <= w1)),
        "spark.exchange.write_bytes": float(sum(t.shuffle_write_bytes for t in tasks)),
        "spark.exchange.read_bytes": float(sum(t.shuffle_read_bytes for t in tasks)),
        "spark.exchange.fetch_wait_s": sum(t.fetch_wait_ms for t in tasks) / 1000.0,
        "spark.python.run_s": accum("time to run Python workers") / 1000.0,
        "spark.python.bytes_in": float(accum("data sent to Python workers")),
        "spark.python.bytes_out": float(accum("data returned from Python workers")),
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(len(tasks)),
        "spark.task_skew": _skew([t.run_ms for t in dominant.tasks]) if dominant else 0.0,
        "spark.cpu_util": sum(t.cpu_ns for t in tasks) / 1e9 / busy,
        "host.cpu_util": ex.get("cpu_s", 0.0) / busy,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
    }


def median_of_passes(per_pass: list[dict]) -> dict:
    return {k: _med([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}


class Workload:
    """A workload without Spark; subclasses fill setup and run_pass."""

    name = ""
    ITEMS = ""

    def __init__(self, seed: int, tracer: harness.Tracer):
        self.seed = seed
        self.tracer = tracer
        self.traced = tracer.enabled
        self.passes: list[PassResult] = []
        self.udf_profile: list[dict] = []  # traced Spark runs only

    def setup(self) -> None:
        """Make the inputs (and, for Spark, a fresh context) ready."""
        raise NotImplementedError

    def warm(self) -> None:
        """One untimed pass on a small input after the last setup."""

    def warm_up(self) -> None:
        self.warm()

    def run_pass(self) -> PassResult:
        raise NotImplementedError

    def timed_pass(self) -> PassResult:
        with self.tracer.span(f"{self.name}.pass"):
            res = self.run_pass()
        self.passes.append(res)
        return res

    def layers(self) -> dict:
        return {}

    def close(self) -> None:
        pass


class SparkWorkload(Workload):
    def __init__(self, seed, tracer):
        super().__init__(seed, tracer)
        self.spark = None
        self.slots = harness.slots()
        if self.traced:
            # the library labels its distributed jobs only when asked to
            os.environ["IOVERLAY_AUDIT_JOBDESC"] = "1"

    def start(self, cores: int) -> None:
        if self.spark is not None:
            harness.stop_spark(self.spark)
        with self.tracer.span("spark.session", cores=cores):
            self.spark = harness.start_spark(cores, event_log=self.traced)
        self.cores = cores

    def setup(self) -> None:
        self.start(self.slots)
        with self.tracer.span("setup.materialize"):
            self.materialize()

    def materialize(self) -> None:
        pass

    def label(self, text: str | None) -> None:
        self.spark.sparkContext.setJobDescription(text)

    @contextmanager
    def window(self, extra: dict):
        """Time a region; record its epoch-ms window for event-log matching."""
        cpu0 = harness.tree_cpu_s() if self.traced else 0.0
        t0, e0 = time.perf_counter(), time.time()
        yield
        extra["wall"] = time.perf_counter() - t0
        extra["window"] = (e0 * 1000.0 - 5, time.time() * 1000.0 + 5)
        if self.traced:
            extra["cpu_s"] = harness.tree_cpu_s() - cpu0

    def warm_up(self) -> None:
        """The warm-up pass; in a traced run under Spark's Python UDF
        profiler, keeping the ten functions with most own time per UDF."""
        if not self.traced:
            self.warm()
            return
        import pstats

        out_dir = os.path.join(harness.WORK, "udf-profile")
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            self.warm()
        finally:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        self.spark.profile.dump(out_dir, type="perf")
        for name in sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []:
            st = pstats.Stats(os.path.join(out_dir, name)).stats
            rows = sorted(st.items(), key=lambda kv: kv[1][2], reverse=True)[:10]
            self.udf_profile += [
                {"udf": name, "function": f"{os.path.basename(f)}:{line}({fn})",
                 "calls": nc, "self_s": tt, "cum_s": ct}
                for (f, line, fn), (_cc, nc, tt, ct, _callers) in rows
            ]

    def event_log(self) -> eventlog.Log:
        """Stop the context (which flushes its log) and read every log."""
        harness.stop_spark(self.spark)
        self.spark = None
        return eventlog.read(os.path.join(harness.WORK, "events"))

    def close(self) -> None:
        if self.spark is not None:
            harness.stop_spark(self.spark)
            self.spark = None
        harness.shutdown_jvm()


def write_id_files(name: str, ids: np.ndarray, seed: int) -> str:
    """Write ids as INPUT_FILES parquet files in seed order, one Spark
    partition each, the seed choosing each row's file; returns the directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(harness.WORK, "data", name)
    os.makedirs(d, exist_ok=True)
    perm, part = gen.presentation(seed, len(ids), INPUT_FILES)
    ids = ids[perm]
    for k in range(INPUT_FILES):
        pq.write_table(pa.table({"id": ids[part == k]}), os.path.join(d, f"part-{k:02d}.parquet"))
    return d


# ------------------------------------------------------------------ flagship


def _overlay_input(src, dx: int, dy: int):
    """Line ids -> (pair_id, subj ring, clip ring) job rows: an L-shaped
    hexagon and a shifted, resized rectangle per id, translated by (dx, dy)."""
    from ioverlay_spark.queries import _clip_rect_exprs, _hex_pts

    p = {k: v.replace("doc_id", "id") for k, v in _hex_pts("spark").items()}
    rc = _clip_rect_exprs("id", "spark")

    def ring(points):
        xs = ", ".join(f"CAST({x} AS BIGINT) + {dx}" for x, _ in points)
        ys = ", ".join(f"CAST({y} AS BIGINT) + {dy}" for _, y in points)
        return f"array({xs})", f"array({ys})"

    sx, sy = ring(
        [(p["x1"], p["y1"]), (p["x2"], p["y1"]), (p["x2"], p["ym"]),
         (p["xm"], p["ym"]), (p["xm"], p["y2"]), (p["x1"], p["y2"])]
    )
    cx, cy = ring([(rc["x1"], rc["y1"]), (rc["x2"], rc["y1"]), (rc["x2"], rc["y2"]), (rc["x1"], rc["y2"])])
    return src.selectExpr(
        "CAST(id AS BIGINT) AS pair_id",
        f"{sx} AS subj_x", f"{sy} AS subj_y", f"{cx} AS clip_x", f"{cy} AS clip_y",
    )


class Flagship(SparkWorkload):
    """overlay_rows over every line id, three rules, aggregated per rule."""

    name = "flagship"
    ITEMS = "overlay jobs x rules"

    def materialize(self):
        self.ids = gen.line_ids()
        self.dir = write_id_files("lineitem", self.ids, self.seed)
        self.dx, self.dy = gen.cell_offset(self.seed)

    def overlay(self, where: str | None = None) -> dict:
        from pyspark.sql import functions as F

        from ioverlay_spark.operators.overlay_df import overlay_rows

        src = self.spark.read.parquet(self.dir)
        if where:
            src = src.where(where)
        rows = (
            overlay_rows(_overlay_input(src, self.dx, self.dy), rules=RULES)
            .groupBy("rule")
            .agg(F.count("*").alias("n"), F.sum("area2").alias("a2"))
            .collect()
        )
        return {r["rule"]: (int(r["n"]), int(r["a2"])) for r in rows}

    def warm(self):
        # two full passes: after a slice the first timed pass ran 15–20%
        # slower, after one full pass the next one or two still ran 5–10%
        # slower (worker memory and JIT still growing), and the number of
        # passes that fit in a run, so their weight in the median, varies
        for _ in range(2):
            self.overlay()

    def timed_overlay(self) -> tuple[dict, dict]:
        extra = {"cores": self.cores}
        self.label(f"{self.name} local[{self.cores}]")
        with self.window(extra):
            per_rule = self.overlay()
        extra["rings_out"] = sum(n for n, _ in per_rule.values())
        return per_rule, extra

    def run_pass(self):
        per_rule, extra = self.timed_overlay()
        return PassResult(
            wall=extra["wall"],
            ops=len(RULES),
            problems=checks.check_flagship(per_rule),
            items=float(len(RULES) * len(self.ids)),
            extra=extra,
        )

    def kernel_batch_us_per_job(self, every: int = 8) -> float:
        """In-process overlay_batch_flat_out on the same job arrays (a 1/every
        sample, in Arrow batches of the session's size): microseconds per job."""
        from ioverlay_spark.kernel.batch import overlay_batch_flat_out
        from ioverlay_spark.options import FillRule, OverlayRule

        src = self.spark.read.parquet(self.dir).where(f"id % {every} = 0")
        tbl = _overlay_input(src, self.dx, self.dy).toArrow()
        rules = [OverlayRule(r) for r in RULES]
        n_jobs, spent = 0, 0.0
        for rb in tbl.combine_chunks().to_batches(max_chunksize=20000):
            n = rb.num_rows

            def flat(name):
                col = rb.column(name)
                offs = np.asarray(col.offsets, dtype=np.int64)
                return offs - offs[0], np.asarray(col.values, dtype=np.int64)[offs[0]:offs[-1]]

            so, sx = flat("subj_x")
            _, sy = flat("subj_y")
            co, cx = flat("clip_x")
            _, cy = flat("clip_y")
            P = np.column_stack([np.concatenate([sx, cx]), np.concatenate([sy, cy])])
            counts = np.concatenate([np.diff(so), np.diff(co)])
            ring_job = np.concatenate([np.arange(n), np.arange(n)])
            ring_subj = np.arange(2 * n) < n
            with self.tracer.span("kernel.batch", jobs=n):
                t0 = time.perf_counter()
                overlay_batch_flat_out(P, counts, ring_job, ring_subj, n, rules, FillRule.EVEN_ODD)
                spent += time.perf_counter() - t0
            n_jobs += n
        return 1e6 * spent / max(n_jobs, 1)

    def overlay_layers(self, log: eventlog.Log, extras: list[dict], kernel_s: float) -> dict:
        """Median over timed overlays of the Spark layers and the Arrow
        crossing: the scan stage's task time (it runs the mapInArrow kernel)
        less the in-process kernel time for the same jobs."""
        per_pass = []
        for ex in extras:
            jobs = log.jobs_between(*ex["window"])
            m = spark_task_layers(log, jobs, ex)
            scan = [s for s in _stages(log, jobs) if "scan time" in s.accum]
            m["overlay_df.s"] = sum(s.wall_s for s in scan)
            m["spark.arrow.s"] = sum(s.sum("run_ms") for s in scan) / 1000.0 - kernel_s
            per_pass.append(m)
        return median_of_passes(per_pass)

    def local1_overlay_s(self) -> float:
        """The same overlay once at local[1]: a new context on the same JVM,
        warmed like the first, timed like a pass."""
        self.start(1)
        self.overlay(WARM_SLICE)
        per_rule, extra = self.timed_overlay()
        if checks.check_flagship(per_rule):
            raise RuntimeError(f"flagship at local[1]: {checks.check_flagship(per_rule)}")
        return extra["wall"]

    def layers(self):
        extras = [p.extra for p in self.passes]
        us_per_job = self.kernel_batch_us_per_job()
        kernel_s = us_per_job * len(self.ids) / 1e6
        spatial = SpatialQueries(self, self.dir).layers()
        t1 = self.local1_overlay_s()
        out = self.overlay_layers(self.event_log(), extras, kernel_s)
        out.update(spatial)
        out["kernel.batch.s"] = kernel_s
        out["kernel.batch.us_per_job"] = us_per_job
        out["overlay_df.rings_out"] = float(extras[-1]["rings_out"])
        out["scaling.local1_s"] = t1
        out["scaling_eff"] = t1 / (self.slots * _med([ex["wall"] for ex in extras]))
        return out


# ------------------------------------------------------------------ spatial


class SpatialQueries:
    """pip_join (level 9), tile_assign (level 7) and knn_broadcast_grid (k=3)
    over line-id points and order-id rects, on the session of the workload
    that hosts them. They are not a workload of their own: a run of them
    costs ~35 s, more than the benchmark's time budget leaves (README,
    "Dropped"), so the traced flagship run measures them once, warmed."""

    QUERIES = ("pip", "tiles", "knn")

    def __init__(self, host: SparkWorkload, li_dir: str):
        from ioverlay_spark.operators.spatial import derive_rects, rect_centers

        self.host = host
        self.spark = host.spark
        self.li_dir = li_dir
        self.n_orders = len(gen.order_ids())
        o_dir = write_id_files("orders", gen.order_ids(), host.seed)
        self.rects = derive_rects(self.spark.read.parquet(o_dir), "id")
        self.centers = rect_centers(self.rects).select("r_id", "cx2", "cy2")
        # the kNN index (a broadcast grid of the order-rect centers) is built
        # once, like any reusable index; queries use it
        self.knn = self.knn_query(self.spark.read.parquet(self.li_dir))

    def knn_query(self, li):
        from ioverlay_spark.operators.spatial import derive_points, knn_broadcast_grid

        return knn_broadcast_grid(derive_points(li, "id"), self.centers, k=3)

    def queries(self, where: str | None = None) -> tuple[dict, dict]:
        """The three queries; `where` slices the line-id side only, so the
        order rects (and the kNN index) stay whole."""
        from pyspark.sql import functions as F

        from ioverlay_spark.operators.spatial import (
            derive_points,
            derive_rects,
            pip_join,
            tile_assign,
        )

        li = self.spark.read.parquet(self.li_dir)
        if where:
            li = li.where(where)
        pts = derive_points(li, "id")
        plans = {
            "pip": lambda: pip_join(pts, self.rects, level=9).agg(
                F.count("*"), F.sum(F.col("p_id") + F.col("r_id"))),
            "tiles": lambda: tile_assign(derive_rects(li, "id"), level=7).agg(
                F.count("*"), F.sum("n_rects")),
            "knn": lambda: (self.knn_query(li) if where else self.knn).agg(
                F.count("*"), F.sum("d2")),
        }
        out, extra = {}, {}
        for q in self.QUERIES:
            self.host.label(f"spatial.{q}")
            ex = extra.setdefault(q, {"cores": self.host.cores})
            with self.host.tracer.span(f"spatial.{q}"), self.host.window(ex):
                row = plans[q]().first()
            out[q] = (int(row[0]), int(row[1]))
        return out, extra

    def layers(self) -> dict:
        """One warmed pass of the three queries, checked, then the counts the
        queries do not expose, measured on the same inputs."""
        from ioverlay_spark.operators.spatial import (
            derive_points,
            derive_rects,
            knn_auto_level,
            rect_cover,
            with_cell,
        )

        self.queries(WARM_SLICE)
        per_query, extra = self.queries()
        problems = checks.check_spatial(per_query)
        if problems:
            raise RuntimeError(f"spatial queries: {problems}")
        li = self.spark.read.parquet(self.li_dir)
        self.host.label("spatial.layer-counts")
        candidates = (
            with_cell(derive_points(li, "id"), "px", "py", 9)
            .join(rect_cover(self.rects, 9), "cell").count()
        )
        cover_rows = rect_cover(derive_rects(li, "id"), 7).count()
        level = knn_auto_level(self.n_orders)
        # the broadcast grid: three int64 center columns + two int64 CSR arrays
        knn_bytes = 3 * 8 * self.n_orders + 2 * 8 * (1 << level) ** 2
        matches = per_query["pip"][0]
        return {
            **{f"spatial.{q}.s": ex["wall"] for q, ex in extra.items()},
            "spatial.pip.candidates": float(candidates),
            "spatial.pip.matches": float(matches),
            "spatial.pip.hit_ratio": matches / candidates if candidates else 0.0,
            "spatial.tiles.cover_rows": float(cover_rows),
            "spatial.knn.broadcast_bytes": float(knn_bytes),
        }


# ------------------------------------------------------------------ lines_net

EXTRACT_TIERS = {  # distributed_extract.tier codes, by the extract job label
    "extract:fused blob walk+ckpt": 1.0,
    "extract:fused walk+ckpt": 2.0,
    "extract:salted walk+ckpt": 3.0,
}
LAYER_OF_LABEL = (  # library job label prefix -> operators/distributed layer
    ("merge", "distributed.merge"),
    ("split:", "distributed.split"),
    ("fill", "distributed.fill"),
    ("extract:", "distributed_extract"),
)


class LinesNet(SparkWorkload):
    """n=1024 strip net through distributed_overlay(force_distributed=True)."""

    name = "lines_net"
    ITEMS = "output rings"
    WARM_N = 32

    def contours(self, n: int):
        return self.spark.createDataFrame(
            gen.lines_net_rows(self.seed, n),
            "role string, cid long, pts_x array<long>, pts_y array<long>",
        ).localCheckpoint(eager=True)

    def materialize(self):
        self.input = self.contours(gen.LINES_NET_N)

    def overlay(self, contours) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from ioverlay_spark.operators.distributed import (
            contours_to_segments_df,
            distributed_overlay,
        )
        from ioverlay_spark.options import FillRule, OverlayRule

        rings = distributed_overlay(
            contours_to_segments_df(self.spark, contours),
            OverlayRule.INTERSECT,
            FillRule.EVEN_ODD,
            force_distributed=True,
        )
        self.label("lines_net.result")
        row = rings.agg(F.count("*"), F.sum("area2")).first()
        return int(row[0]), int(row[1])

    def warm(self):
        self.overlay(self.contours(self.WARM_N))

    def run_pass(self):
        extra = {"cores": self.cores}
        self.label("lines_net")
        with self.window(extra):
            rings, area2 = self.overlay(self.input)
        return PassResult(
            wall=extra["wall"],
            ops=1,
            problems=checks.check_lines_net(rings, area2),
            items=float(rings),
            extra=extra,
        )

    def row_counts(self) -> tuple[int, int]:
        """Rows out of the merge and out of the split fixpoint, counted by
        running those public stages once more on the same input."""
        from ioverlay_spark.operators.distributed import (
            contours_to_segments_df,
            merge_segments_df,
            split_segments_df,
        )

        self.label("lines_net.layer-counts")
        merged = merge_segments_df(contours_to_segments_df(self.spark, self.input))
        merged = merged.localCheckpoint(eager=True)
        return merged.count(), split_segments_df(merged, pre_merged=True).count()

    def layers(self):
        merge_rows, split_rows = self.row_counts()
        log = self.event_log()
        per_pass = []
        for p in self.passes:
            jobs = log.jobs_between(*p.extra["window"])
            m = spark_task_layers(log, jobs, p.extra)
            by_layer = {layer: [] for _, layer in LAYER_OF_LABEL}
            for j in jobs:
                for prefix, layer in LAYER_OF_LABEL:
                    if j.desc.startswith(prefix):
                        by_layer[layer].append(j)
            for layer, js in by_layer.items():
                m[f"{layer}.s"] = sum(j.wall_s for j in js)
            m["distributed.labelled_share"] = sum(
                j.wall_s for js in by_layer.values() for j in js) / p.wall
            split = by_layer["distributed.split"]
            m["distributed.split.rounds"] = float(len({
                r for j in split for r in re.findall(r"\br\d+\b", j.desc)}))
            m["distributed.merge.rows_out"] = float(merge_rows)
            m["distributed.split.rows_out"] = float(split_rows)
            m["distributed.split.blowup"] = split_rows / merge_rows
            fill = _stages(log, by_layer["distributed.fill"])
            dom = max(fill, key=lambda s: s.sum("run_ms"), default=None)
            m["distributed.fill.strip_skew"] = _skew([t.run_ms for t in dom.tasks]) if dom else 0.0
            ext = by_layer["distributed_extract"]
            m["distributed_extract.tier"] = max(
                (EXTRACT_TIERS.get(j.desc, 0.0) for j in ext), default=0.0)
            m["distributed_extract.max_task_s"] = max(
                (t.run_ms for s in _stages(log, ext) for t in s.tasks), default=0) / 1000.0
            m["distributed_extract.rings"] = p.items
            ckpt = [j for j in jobs if "+ckpt" in j.desc]
            keys = {(j.app, j.id) for j in ckpt}
            m["spark.checkpoint.s"] = sum(j.wall_s for j in ckpt)
            m["spark.checkpoint.bytes"] = float(sum(b for k, b in log.rdd_blocks if k in keys))
            per_pass.append(m)
        return median_of_passes(per_pass)


# ------------------------------------------------------------------ spiral


class Spiral(Workload):
    """n=262,144 self-intersecting path through float_overlay (SUBJECT,
    NON_ZERO) in this process, without Spark."""

    name = "spiral"
    ITEMS = "path segments"

    def setup(self):
        from ioverlay_spark.functions.float_shell import NumpyFloatAdapter

        with self.tracer.span("setup.materialize"):
            self.path = gen.spiral_path(self.seed)
            self.adapter = NumpyFloatAdapter.fit([self.path])

    def warm(self):
        # a full pass: the first one in a process faults in ~5 GB and runs
        # ~20% slower than the rest
        self.overlay(self.path)

    @staticmethod
    def overlay(path):
        from ioverlay_spark.functions.float_shell import float_overlay
        from ioverlay_spark.options import FillRule, OverlayRule

        return float_overlay([path], [], OverlayRule.SUBJECT, FillRule.NON_ZERO, dtype=np.float64)

    def run_pass(self):
        with self.tracer.span("float_shell.float_overlay"):
            t0 = time.perf_counter()
            shapes = self.overlay(self.path)
            wall = time.perf_counter() - t0
        extra = self.kernel_stages() if self.traced else {}
        return PassResult(
            wall=wall,
            ops=1,
            problems=checks.check_spiral(checks.spiral_summary(shapes, self.adapter)),
            items=float(len(self.path)),
            extra=extra,
        )

    def kernel_stages(self) -> dict:
        """float_overlay's steps called one by one on the same input: the
        float shell's adapter fit, quantize and dequantize around the integer
        kernel's stages, as kernel.overlay.build_graph and its extract run
        them. The shell's float-space cleanup of output rings is not timed."""
        from ioverlay_spark.functions.float_shell import NumpyFloatAdapter
        from ioverlay_spark.kernel.batch import vectorized_ring_segments
        from ioverlay_spark.kernel.extract import extract_shapes
        from ioverlay_spark.kernel.fill import compute_fills_windowed
        from ioverlay_spark.kernel.gcpause import gc_paused_fn
        from ioverlay_spark.kernel.segments import Segments
        from ioverlay_spark.kernel.split import split_segments
        from ioverlay_spark.options import FillRule, OverlayOptions, OverlayRule

        options = OverlayOptions()
        times = {}

        @contextmanager
        def stage(name, layer="kernel"):
            with self.tracer.span(f"{layer}.{name}"):
                t0 = time.perf_counter()
                yield
                times[name] = time.perf_counter() - t0

        @gc_paused_fn
        def stages():
            with stage("quantize", "float_shell"):
                adapter = NumpyFloatAdapter.fit([self.path])
                ring = adapter.quantize(self.path)
            with stage("segments"):
                ax, ay, bx, by, sj, cl, _ = vectorized_ring_segments(
                    [ring], np.zeros(1, dtype=np.int64), [True], options)
                segs = Segments(ax, ay, bx, by, sj, cl)
            with stage("split"):
                segs = split_segments(segs)
            with stage("fill"):
                fills = compute_fills_windowed(segs, FillRule.NON_ZERO)
            with stage("extract"):
                shapes = extract_shapes(segs, fills, OverlayRule.SUBJECT, options)
            with stage("dequantize", "float_shell"):
                for shape in shapes:
                    for r in shape:
                        adapter.dequantize(r)
            return len(segs), sum(len(sh) for sh in shapes)

        times["segs_out"], times["rings"] = stages()
        return times

    def layers(self):
        per_pass = []
        for p in self.passes:
            ex = p.extra
            per_pass.append({
                "float_shell.s": ex["quantize"] + ex["dequantize"],
                "kernel.segments.s": ex["segments"],
                "kernel.split.s": ex["split"],
                "kernel.split.segs_out": float(ex["segs_out"]),
                "kernel.fill.s": ex["fill"],
                "kernel.extract.s": ex["extract"],
                "kernel.extract.rings": float(ex["rings"]),
            })
        return median_of_passes(per_pass)


WORKLOADS = {w.name: w for w in (Flagship, LinesNet, Spiral)}
