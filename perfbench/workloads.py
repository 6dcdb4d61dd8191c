"""The benchmark's workloads: seeded inputs, timed operations, output
checks and the trace-only layer counters.

Each workload builds its first operation's inputs in ``setup`` and
any others in ``finish_setup``, exposes its timed operations through
``ops`` and checks outputs in ``check``. Operations are public package
calls ending in an action; the runner times them one after another
(closed loop).
"""

from __future__ import annotations

import hashlib
import json
import pickle
import time
import tracemalloc
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LINES_SCHEMA = "line_id long, xs array<double>, ys array<double>, dataset string"


@dataclass
class Op:
    name: str
    run: Callable[[], object]  # timed: one action; a row count or the collected rows
    prepare: Callable[[], None] | None = None  # untimed input arrival
    expect: Callable[[int], str | None] = lambda n: None  # row-count check → failure reason
    warm_runs: int = 1  # untimed runs before the timed ones


def _write_parquet(columns: dict, path: Path, stem: str, n_files: int = 1) -> None:
    """Write ``columns`` as ``n_files`` parquet files under the directory
    ``path``, with pyarrow, so input generation starts no Spark job."""
    table = pa.table(columns)
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), path / f"{stem}-{k:03d}.parquet")


def _write_lines(xs: list, ys: list, path: Path, id0: int = 0, dataset: str = "g",
                 n_files: int = 1) -> None:
    coords = pa.list_(pa.float64())
    _write_parquet({
        "line_id": pa.array(np.arange(id0, id0 + len(xs)), pa.int64()),
        "xs": pa.array([np.asarray(a, dtype=np.float64) for a in xs], coords),
        "ys": pa.array([np.asarray(a, dtype=np.float64) for a in ys], coords),
        "dataset": pa.array([dataset] * len(xs), pa.string()),
    }, path, f"lines-{id0:012d}", n_files)


def random_segments(n: int, extent: float, seed: int):
    """``n`` segments: uniform start in the extent, uniform angle,
    length 5–25 (the generator of scripts/scaling_bench.py)."""
    rng = np.random.default_rng(seed)
    p = rng.uniform(0.0, extent, (n, 2))
    ang = rng.uniform(0.0, 2 * np.pi, n)
    ln = rng.uniform(5.0, 25.0, n)
    xs = np.stack([p[:, 0], p[:, 0] + ln * np.cos(ang)], axis=1)
    ys = np.stack([p[:, 1], p[:, 1] + ln * np.sin(ang)], axis=1)
    return xs, ys


def jittered_lattice(n: int, seed: int, circle_every: int | None = 7):
    """(n+1) horizontal and (n+1) vertical polylines through a shared
    n×n vertex lattice, interior vertices jittered by up to ±0.3 (so
    polygon edges follow no index cell), plus a 24-vertex circle inside
    every ``circle_every``-th cell (none if None): n² polygons plus one
    disk per circle, each of whose cells gets one hole."""
    rng = np.random.default_rng(seed)
    g = np.arange(n + 1, dtype=np.float64)
    vx = np.repeat(g[:, None], n + 1, axis=1)  # vx[i, j]: vertex i along x, j along y
    vy = np.repeat(g[None, :], n + 1, axis=0)
    jx = rng.uniform(-0.3, 0.3, vx.shape)
    jy = rng.uniform(-0.3, 0.3, vy.shape)
    jx[[0, -1], :] = 0.0  # keep the outer frame square
    jy[:, [0, -1]] = 0.0
    vx, vy = vx + jx, vy + jy
    xs = [vx[:, j] for j in range(n + 1)] + [vx[i, :] for i in range(n + 1)]
    ys = [vy[:, j] for j in range(n + 1)] + [vy[i, :] for i in range(n + 1)]
    t = np.linspace(0.0, 2 * np.pi, 25)
    cos, sin = np.cos(t) * 0.12, np.sin(t) * 0.12
    cos[-1], sin[-1] = cos[0], sin[0]
    for k in range(0, n * n, circle_every) if circle_every else ():
        i, j = divmod(k, n)
        cx = vx[i:i + 2, j:j + 2].mean()
        cy = vy[i:i + 2, j:j + 2].mean()
        xs.append(cx + cos)
        ys.append(cy + sin)
    return xs, ys


def ring_key(xs, ys) -> str:
    """Order-insensitive identity of a polygon shell (canonical start
    vertex, coordinates rounded to 1e-6)."""
    from geo_polygonize_spark.kernels.rings import canonicalize_ring

    cx, cy = canonicalize_ring(np.asarray(xs), np.asarray(ys))
    return hashlib.sha1(np.round(np.stack([cx, cy]), 6).tobytes()).hexdigest()[:20]


def _even_odd(px, py, xs, ys) -> np.ndarray:
    """Brute-force even-odd ray cast of points against one closed ring."""
    x1, x2 = xs[:-1][None, :], xs[1:][None, :]
    y1, y2 = ys[:-1][None, :], ys[1:][None, :]
    pxv, pyv = px[:, None], py[:, None]
    straddle = (y1 > pyv) != (y2 > pyv)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (pyv - y1) * (x2 - x1) / (y2 - y1)
    return (np.count_nonzero(straddle & (pxv < xint), axis=1) % 2).astype(bool)


def brute_force_owner(px, py, polys: pd.DataFrame) -> np.ndarray:
    """Row index into ``polys`` of the smallest-area polygon containing
    each point (shell minus holes), -1 where none does."""
    best = np.full(px.size, -1, dtype=np.int64)
    best_area = np.full(px.size, np.inf)
    for r, p in enumerate(polys.itertuples(index=False)):
        sx, sy = np.asarray(p.shell_xs), np.asarray(p.shell_ys)
        cand = np.flatnonzero((px >= sx.min()) & (px <= sx.max()) & (py >= sy.min()) & (py <= sy.max()))
        if cand.size == 0:
            continue
        inside = _even_odd(px[cand], py[cand], sx, sy)
        for hx, hy in zip(p.hole_xs if p.hole_xs is not None else (), p.hole_ys if p.hole_ys is not None else ()):
            inside &= ~_even_odd(px[cand], py[cand], np.asarray(hx), np.asarray(hy))
        hit = cand[inside & (p.area < best_area[cand])]
        best[hit] = r
        best_area[hit] = p.area
    return best


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.last: dict = {}  # op name → result of its latest run

    def setup(self) -> dict:
        """Build every input the first operation needs, with no package
        call that starts a Spark job; returns named sub-timings in
        seconds."""
        raise NotImplementedError

    def finish_setup(self) -> dict:
        """Build the remaining inputs (after the first operation has run
        once); returns named sub-timings in seconds."""
        return {}

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Deep check of the latest results in ``self.last`` → failure
        reasons."""
        raise NotImplementedError

    def traced_run(self, trace, op: Op) -> int:
        """Run one operation under ``trace`` (a ``sparktrace.SparkTrace``)."""
        return trace.measure(op.name, op.run)

    def layer_metrics(self, traces: dict) -> dict:
        """Trace-only counters of this workload's layers."""
        return {}

    def table_kernels(self, op: str) -> dict:
        """In-process kernel seconds to split out of ``op``'s Python time."""
        return {}

    def layer_of(self, op: str) -> str:
        """The module layer that owns ``op``'s Python-worker time."""
        raise NotImplementedError

    def throughput(self, op_medians: dict) -> dict:
        """Per-operation figures by name → (value, unit)."""
        raise NotImplementedError


def segments_of(xs: list, ys: list):
    """Polylines → (x1, y1, x2, y2) segment arrays."""
    xs = [np.asarray(a, dtype=np.float64) for a in xs]
    ys = [np.asarray(a, dtype=np.float64) for a in ys]
    return (np.concatenate([a[:-1] for a in xs]), np.concatenate([a[:-1] for a in ys]),
            np.concatenate([a[1:] for a in xs]), np.concatenate([a[1:] for a in ys]))


# ---------------------------------------------------------------- cover
class Cover(Workload):
    """Polygonize side. Random linework through ``tiled_polygonize`` and
    ``stitched_polygonize`` (auto → chain), and a small seeded streaming
    store that takes one clustered batch per trigger of
    ``streaming_polygonize(available_now=True)``. The store is seeded by
    the first warm-up trigger, which reads the seed lattice too."""

    name = "cover"
    N_SEGMENTS = 800
    EXTENT = 82.0  # the density of 30,000 segments on 500×500
    TILE = 20.5
    BUFFER = 7.0
    STORE_LATTICE = 8
    STORE_TILE = 4.0
    STORE_BUFFER = 1.5
    BATCH = 40

    def setup(self):
        t0 = time.perf_counter()
        self.xs, self.ys = random_segments(self.N_SEGMENTS, self.EXTENT, self.seed)
        path = self.work / "cover_lines"
        _write_lines(list(self.xs), list(self.ys), path, dataset="r", n_files=4)
        self.lines = self.spark.read.parquet(str(path))
        self.bbox = (0.0, 0.0, self.EXTENT, self.EXTENT)
        root = self.work / "update"
        self.src, self.store, self.ckpt = root / "src", root / "store", root / "ckpt"
        self.store_bbox = (0.0, 0.0, float(self.STORE_LATTICE), float(self.STORE_LATTICE))
        xs, ys = jittered_lattice(self.STORE_LATTICE, self.seed, circle_every=None)
        _write_lines(xs, ys, self.src)
        self.n_lines = len(xs)
        self.batches = 0
        return {"cover.inputs_s": time.perf_counter() - t0}

    def reference(self) -> dict:
        """Single-group kernel result (count, summed area, canonical
        shell keys), cached per seed next to the work directory."""
        from geo_polygonize_spark.kernels.polygonize import polygonize_segments_pdf

        cache = self.work.parent / ".perfbench_cache" / (
            f"cover-{self.seed}-{self.N_SEGMENTS}-{self.EXTENT}.json")
        if cache.is_file():
            return json.loads(cache.read_text())
        out = polygonize_segments_pdf(
            self.xs[:, 0], self.ys[:, 0], self.xs[:, 1], self.ys[:, 1],
            node_input=True, drop_collapsed=True,
        )
        ref = {
            "count": int(len(out)),
            "area": float(out["area"].sum()),
            "keys": sorted(ring_key(a, b) for a, b in zip(out["shell_xs"], out["shell_ys"])),
        }
        cache.parent.mkdir(parents=True, exist_ok=True)
        cache.write_text(json.dumps(ref))
        return ref

    def _tiled(self):
        from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize

        return tiled_polygonize(self.lines, self.TILE, buffer=self.BUFFER, bbox=self.bbox,
                                drop_collapsed=True)

    def _stitched(self):
        from geo_polygonize_spark.operators.stitch import stitched_polygonize

        return stitched_polygonize(self.lines, self.TILE, buffer=self.BUFFER, bbox=self.bbox,
                                   drop_collapsed=True)

    def _trigger(self) -> int:
        """One availableNow trigger over the source directory; returns
        the number of micro-batches that read input."""
        from geo_polygonize_spark.streaming import streaming_polygonize

        stream = self.spark.readStream.schema(LINES_SCHEMA).parquet(str(self.src))
        q = streaming_polygonize(
            self.spark, stream, str(self.store), str(self.ckpt), tile_size=self.STORE_TILE,
            bbox=self.store_bbox, buffer=self.STORE_BUFFER, drop_collapsed=True, available_now=True,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)

    def _append_batch(self):
        """40 two-unit segments clustered at a seeded site."""
        rng = np.random.default_rng([self.seed, self.batches])
        sx, sy = rng.uniform(1.0, self.STORE_LATTICE - 3.0, 2)
        p = rng.uniform(0.0, 2.0, (self.BATCH, 2))
        a = rng.uniform(0.0, 2 * np.pi, self.BATCH)
        xs = np.stack([sx + p[:, 0], sx + p[:, 0] + 2 * np.cos(a)], axis=1)
        ys = np.stack([sy + p[:, 1], sy + p[:, 1] + 2 * np.sin(a)], axis=1)
        _write_lines(list(xs), list(ys), self.src, id0=self.n_lines, dataset="u")
        self.n_lines += self.BATCH
        self.batches += 1

    def ops(self):
        self.ref = self.reference()
        n_ref = self.ref["count"]
        tiled_first = []

        def tiled_expect(n):
            tiled_first[:] = tiled_first or [n]
            if n > n_ref or n != tiled_first[0]:
                return f"tiled count {n} (single-group {n_ref}, first run {tiled_first[0]})"
            return None

        return [
            Op("tiled", lambda: self._tiled().toPandas(), expect=tiled_expect),
            Op("stitched", lambda: self._stitched().toPandas(),
               expect=lambda n: None if n == n_ref else f"stitched count {n} != single-group {n_ref}"),
            Op("trigger", self._trigger, prepare=self._append_batch,
               expect=lambda n: None if n == 1 else f"trigger ran {n} input batches, not 1"),
        ]

    def check(self):
        from geo_polygonize_spark.streaming import read_coverage

        fails = []
        st = self.last["stitched"]
        keys = sorted(ring_key(a, b) for a, b in zip(st["shell_xs"], st["shell_ys"]))
        if len(st) != self.ref["count"]:
            fails.append(f"cover: stitched count {len(st)} != single-group {self.ref['count']}")
        if not np.isclose(st["area"].sum(), self.ref["area"], rtol=1e-9):
            fails.append(f"cover: stitched area {st['area'].sum()} != single-group {self.ref['area']}")
        if keys != self.ref["keys"]:
            fails.append("cover: stitched ring keys differ from the single-group kernel")
        # tiled ⊆ exact, for every polygon whose shell fits its tile's
        # buffered window. A shell that overflows the window is the
        # documented parity limitation of tiled_polygonize (its owner
        # tile cannot see all of it); those are counted, not failed.
        ti = self.last["tiled"]
        span = self.TILE + 2 * self.BUFFER
        fits = np.array([
            min(sx) >= lx and max(sx) <= lx + span and min(sy) >= ly and max(sy) <= ly + span
            for sx, sy, lx, ly in zip(ti["shell_xs"], ti["shell_ys"],
                                      ti["tile_i"] * self.TILE - self.BUFFER,
                                      ti["tile_j"] * self.TILE - self.BUFFER)
        ], dtype=bool)
        missing = ~np.isin([ring_key(a, b) for a, b in zip(ti["shell_xs"], ti["shell_ys"])],
                           self.ref["keys"])
        self.window_overflow = int((missing & ~fits).sum())
        if (missing & fits).any():
            fails.append(f"cover: {int((missing & fits).sum())} tiled polygons that fit their "
                         "window are not in the single-group result")
        # update: the incremental coverage equals a fresh batch run
        # over every line appended so far
        from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize

        want = tiled_polygonize(self.spark.read.parquet(str(self.src)), self.STORE_TILE,
                                buffer=self.STORE_BUFFER, bbox=self.store_bbox,
                                drop_collapsed=True).select("cx", "cy", "area").toPandas()
        got = read_coverage(self.spark, str(self.ckpt)).select("cx", "cy", "area").toPandas()

        def cov_keys(df):
            return sorted(map(tuple, np.round(df[["cx", "cy", "area"]].to_numpy(), 6).tolist()))

        if cov_keys(got) != cov_keys(want):
            fails.append(f"update: coverage after {self.batches} batches ({len(got)} polygons) "
                         f"differs from a fresh tiled_polygonize ({len(want)} polygons)")
        return fails

    def _dir_stats(self):
        files = [p for d in (self.store, self.ckpt) for p in d.rglob("*") if p.is_file()]
        return len(files), sum(p.stat().st_size for p in files)

    def traced_run(self, trace, op):
        if op.name != "trigger":
            return trace.measure(op.name, op.run)
        f0, b0 = self._dir_stats()
        n = trace.measure(op.name, op.run)
        f1, b1 = self._dir_stats()
        self.trigger_writes = (f1 - f0, b1 - b0)
        return n

    def layer_metrics(self, traces):
        """Kernel timings on this workload's own tile inputs (in
        process), the tile assignment's row counts, and the counters of
        the traced calls."""
        from geo_polygonize_spark.kernels import graph as G
        from geo_polygonize_spark.kernels.noding import node_segments
        from geo_polygonize_spark.kernels.polygonize import DEFAULT_SNAP_GRID
        from geo_polygonize_spark.kernels.rings import assemble_polygons_pdf
        from geo_polygonize_spark.operators.polygonize_op import assign_tiles, segmentize_df

        cols = rows = int(np.ceil(self.EXTENT / self.TILE))
        assigned = assign_tiles(segmentize_df(self.lines), self.TILE, self.BUFFER, 0.0, 0.0,
                                cols, rows).toPandas()
        t = dict.fromkeys(["node", "build", "sort", "prune", "rings", "assemble"], 0.0)
        n = dict.fromkeys(["seg_out", "nodes", "rings", "polys", "holes"], 0)
        for (ti, tj), g in assigned.groupby(["tile_i", "tile_j"]):
            a = [g[c].to_numpy() for c in ("x1", "y1", "x2", "y2")]
            t0 = time.perf_counter()
            a = node_segments(*a, DEFAULT_SNAP_GRID)
            t1 = time.perf_counter()
            pg = G.build_graph(*a)
            t2 = time.perf_counter()
            G.sort_edges(pg)
            t3 = time.perf_counter()
            G.prune_dangles(pg)
            t4 = time.perf_counter()
            rx, ry = G.edge_rings(pg)
            t5 = time.perf_counter()
            out = assemble_polygons_pdf(rx, ry, True, int(ti), int(tj))
            t6 = time.perf_counter()
            for k, dt in zip(t, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4, t6 - t5)):
                t[k] += dt
            n["seg_out"] += a[0].size
            n["nodes"] += pg.n_nodes
            n["rings"] += len(rx)
            n["polys"] += len(out)
            n["holes"] += int(out["n_holes"].sum())
        self.kernel_s = {
            "noding.node_segments_s": t["node"],
            "graph.total_s": t["build"] + t["sort"] + t["prune"] + t["rings"],
            "rings.assemble_s": t["assemble"],
        }
        tiled, stitched, trig = traces["tiled"], traces["stitched"], traces["trigger"]
        m = self.spark.read.parquet(str(self.ckpt / "metrics")).toPandas()
        last = m[m["run_id"] == m.sort_values("completed_at")["run_id"].iloc[-1]]
        return {
            "polygonize_op.segments_in": self.N_SEGMENTS,
            "polygonize_op.tile_rows": len(assigned),
            "polygonize_op.replication": len(assigned) / self.N_SEGMENTS,
            "polygonize_op.window_overflow_polys": self.window_overflow,
            "polygonize_op.shuffle_bytes": tiled.shuffle_bytes,
            "polygonize_op.py_worker_s": tiled.py_worker_s,
            "polygonize_op.arrow_to_py_bytes": tiled.arrow_to_py_bytes,
            "polygonize_op.arrow_from_py_bytes": tiled.arrow_from_py_bytes,
            "noding.node_segments_s": t["node"],
            "noding.segments_out": n["seg_out"],
            "graph.build_graph_s": t["build"],
            "graph.sort_edges_s": t["sort"],
            "graph.prune_dangles_s": t["prune"],
            "graph.edge_rings_s": t["rings"],
            "graph.nodes": n["nodes"],
            "graph.rings": n["rings"],
            "rings.assemble_s": t["assemble"],
            "rings.polygons_out": n["polys"],
            "rings.holes_out": n["holes"],
            "chain_stitch.jobs": stitched.jobs,
            "chain_stitch.shuffle_bytes": stitched.shuffle_bytes,
            "chain_stitch.py_worker_s": stitched.py_worker_s,
            "chain_stitch.arrow_bytes": stitched.arrow_to_py_bytes + stitched.arrow_from_py_bytes,
            "chain_stitch.plan_s": stitched.plan_s,
            "checkpoint.tiles_touched": len(last[["tile_i", "tile_j"]].drop_duplicates()),
            "checkpoint.tiles_recomputed": len(last),
            "streaming.bytes_written": self.trigger_writes[1],
            "streaming.files_written": self.trigger_writes[0],
            "streaming.jobs": trig.jobs,
        }

    def table_kernels(self, op):
        return self.kernel_s if op == "tiled" else {}

    def layer_of(self, op):
        return {"tiled": "polygonize_op", "stitched": "chain_stitch", "trigger": "streaming"}[op]

    def throughput(self, med):
        return {
            "cover.tiled_segs_per_s": (self.N_SEGMENTS / med["tiled"], "1/s"),
            "cover.stitched_segs_per_s": (self.N_SEGMENTS / med["stitched"], "1/s"),
            "update.batch_s": (med["trigger"], "s"),
        }


# ---------------------------------------------------------------- probe
class Probe(Workload):
    """Probe side. Records streamed through the broadcast coverage index
    (``image_pipeline``), then points through the cell-join scale path
    (``pip_join(strategy="cells")``, ``knn_join_cells``), all against
    one jittered-lattice coverage that follows no index cell."""

    name = "probe"
    LATTICE = 32
    N_RECORDS = 400_000
    N_POINTS = 20_000
    CELL = 2.0
    QUERY_BATCH = 65_536

    def setup(self):
        from geo_polygonize_spark.kernels.polygonize import polygonize_segments_pdf
        from geo_polygonize_spark.operators.polygonize_op import POLYGON_SCHEMA
        from geo_polygonize_spark.operators.spatial_join import broadcast_coverage_index

        spark, n = self.spark, self.LATTICE
        t0 = time.perf_counter()
        # the coverage: single-group kernel in process, then a persisted
        # DataFrame (the cell-join input) collected back like the
        # production path collects a polygonized coverage
        polys = polygonize_segments_pdf(*segments_of(*jittered_lattice(n, self.seed)),
                                        node_input=True, drop_collapsed=True)
        self.bbox = (0.0, 0.0, float(n), float(n))
        self.coverage = spark.createDataFrame(polys, POLYGON_SCHEMA).persist()
        self.coverage.count()
        t1 = time.perf_counter()
        self.poly_pdf = self.coverage.toPandas().sort_values(["tile_i", "tile_j", "poly_id"],
                                                             ignore_index=True)
        rows = self.poly_pdf.to_dict("records")
        t2 = time.perf_counter()
        self.bc_index = broadcast_coverage_index(spark, rows=rows)
        t3 = time.perf_counter()
        # the driver's copy serves the query timing and the pip check
        self.index = self.bc_index.value

        # seed < 2**32, so every id stays within Spark's long
        self.id0 = self.seed * 1_000_000
        rec_path = self.work / "probe_records"
        ids = range(self.id0, self.id0 + self.N_RECORDS)
        rng = np.random.default_rng(self.seed)
        _write_parquet({
            "image_id": pa.array([f"img_{i:012d}" for i in ids], pa.string()),
            "caption": pa.array([f"caption {i}" for i in ids], pa.string()),
            "phash": pa.array(rng.integers(-2**63, 2**63 - 1, self.N_RECORDS, dtype=np.int64)),
            "fmt": pa.array(["png"] * self.N_RECORDS, pa.string()),
            "w": pa.array(np.full(self.N_RECORDS, 32, dtype=np.int32)),
            "h": pa.array(np.full(self.N_RECORDS, 32, dtype=np.int32)),
        }, rec_path, "records", n_files=8)
        self.records = spark.read.parquet(str(rec_path))
        return {"coverage.polygonize_s": t1 - t0, "coverage.collect_s": t2 - t1,
                "coverage.build_s": t3 - t2, "probe.records_s": time.perf_counter() - t3}

    def finish_setup(self):
        from pyspark.sql import functions as F

        from geo_polygonize_spark.engine import derive_points

        spark = self.spark
        t0 = time.perf_counter()
        ids = spark.range(self.id0, self.id0 + self.N_POINTS, numPartitions=8).select(
            F.format_string("pt_%012d", "id").alias("image_id"))
        self.points = derive_points(ids, self.bbox).persist()
        self.points.count()
        cents = self.poly_pdf[["cx", "cy"]].assign(
            centroid_id=np.arange(len(self.poly_pdf), dtype=np.int64))
        self.centroids = spark.createDataFrame(cents[["centroid_id", "cx", "cy"]]).persist()
        self.centroids.count()
        return {"probe.points_s": time.perf_counter() - t0}

    def _stream(self):
        from geo_polygonize_spark.engine import image_pipeline

        # with a prebuilt index the pipeline never touches the linework
        return image_pipeline(
            self.spark, self.records, None, self.bbox, tile_size=self.LATTICE / 4.0,
            cell_size=1.0, payload_rejoin=False, coverage_index=self.bc_index,
        )

    def _pip(self):
        from geo_polygonize_spark.operators.spatial_join import pip_join

        return pip_join(self.points, self.coverage, 0.0, 0.0, self.CELL, strategy="cells")

    def _knn(self):
        from geo_polygonize_spark.operators.spatial_join import knn_join_cells

        return knn_join_cells(self.points, self.centroids, k=2)

    def ops(self):
        def equal(what, want):
            return lambda n: None if n == want else f"{what} rows {n} != {want}"

        # the lattice covers the whole bbox, so every record and point
        # has an owner
        return [
            Op("stream", lambda: self._stream().count(), expect=equal("stream", self.N_RECORDS)),
            Op("pip", lambda: self._pip().toPandas(), expect=equal("pip", self.N_POINTS)),
            # kNN's second run is still 10-20% slower than its later ones
            Op("knn", lambda: self._knn().toPandas(), expect=equal("knn", 2 * self.N_POINTS),
               warm_runs=2),
        ]

    def check(self):
        from pyspark.sql import functions as F

        fails = []
        key_cols = ["poly_tile_i", "poly_tile_j", "poly_id"]
        key = self.poly_pdf[["tile_i", "tile_j", "poly_id"]].to_numpy()
        # stream: a seeded 10k-record sample against brute force
        rng = np.random.default_rng(self.seed + 1)
        ids = self.id0 + rng.choice(self.N_RECORDS, 10_000, replace=False)
        sample = self.spark.createDataFrame(
            pd.DataFrame({"image_id": [f"img_{i:012d}" for i in ids]}))
        got = self._stream().join(F.broadcast(sample), "image_id").select(
            "x", "y", *key_cols).toPandas()
        want = brute_force_owner(got["x"].to_numpy(), got["y"].to_numpy(), self.poly_pdf)
        bad = (want < 0) | np.any(key[np.maximum(want, 0)] != got[key_cols].to_numpy(), axis=1)
        if len(got) != len(ids) or bad.any():
            fails.append(f"probe.stream: {int(bad.sum())} of {len(got)} sampled rows differ from "
                         f"brute force ({len(ids)} sampled)")
        # pip: every point against the in-process CoverageIndex
        got = self.last["pip"]
        found, idx, _ = self.index.query(got["x"].to_numpy(), got["y"].to_numpy())
        bad = ~found | np.any(key[idx] != got[key_cols].to_numpy(), axis=1)
        if len(got) != self.N_POINTS or bad.any():
            fails.append(f"probe.pip: {int(bad.sum())} of {len(got)} rows differ from "
                         "CoverageIndex.query")
        # knn: a seeded 2k-point sample against brute-force distances
        got = self.last["knn"].sort_values(["image_id", "rank"])
        ids = np.sort(rng.choice(got["image_id"].unique(), 2000, replace=False))
        got = got[got["image_id"].isin(ids)]
        pts = got[got["rank"] == 0]
        dx = pts["x"].to_numpy()[:, None] - self.poly_pdf["cx"].to_numpy()[None, :]
        dy = pts["y"].to_numpy()[:, None] - self.poly_pdf["cy"].to_numpy()[None, :]
        want = np.sort(np.sqrt(dx * dx + dy * dy), axis=1)[:, :2]
        if len(got) != want.size or not np.allclose(
                got["dist"].to_numpy().reshape(-1, 2), want, rtol=1e-12):
            fails.append("probe.knn: sampled distances differ from brute force")
        return fails

    def layer_metrics(self, traces):
        from geo_polygonize_spark.operators.spatial_join import polygon_cells

        stream, pip, knn = traces["stream"], traces["pip"], traces["knn"]
        rng = np.random.default_rng(self.seed + 2)
        px = rng.uniform(0.0, self.LATTICE, 4 * self.QUERY_BATCH)
        py = rng.uniform(0.0, self.LATTICE, 4 * self.QUERY_BATCH)
        hits = 0
        t0 = time.perf_counter()
        for s in range(0, px.size, self.QUERY_BATCH):
            hits += int(self.index.query(px[s:s + self.QUERY_BATCH],
                                         py[s:s + self.QUERY_BATCH])[0].sum())
        query_s_per_m = (time.perf_counter() - t0) / px.size * 1e6
        tracemalloc.start()
        self.index.query(px[:self.QUERY_BATCH], py[:self.QUERY_BATCH])
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        self.kernel_s = {"coverage.query_s": query_s_per_m * self.N_RECORDS / 1e6}
        return {
            "coverage.collect_s": self.setup_timings["coverage.collect_s"],
            "coverage.build_s": self.setup_timings["coverage.build_s"],
            "coverage.index_bytes": len(pickle.dumps(self.index, protocol=pickle.HIGHEST_PROTOCOL)),
            "coverage.query_s_per_m": query_s_per_m,
            "coverage.hit_ratio": hits / px.size,
            "coverage.query_peak_mb": peak / 2**20,
            "engine.py_worker_s": stream.py_worker_s,
            "engine.arrow_to_py_bytes_per_record": stream.arrow_to_py_bytes / self.N_RECORDS,
            "engine.tasks": stream.tasks,
            "spatial_join.polygon_cells_rows": polygon_cells(self.coverage, 0.0, 0.0, self.CELL).count(),
            "spatial_join.pip_candidate_rows": pip.max_join_rows,
            "spatial_join.pip_useful_ratio":
                self.N_POINTS / pip.max_join_rows if pip.max_join_rows else 0.0,
            "spatial_join.pip_shuffle_bytes": pip.shuffle_bytes,
            "spatial_join.pip_stages": pip.stages,
            "spatial_join.knn_jobs": knn.jobs,
            "spatial_join.knn_candidate_rows": knn.max_join_rows,
            "spatial_join.knn_shuffle_bytes": knn.shuffle_bytes,
        }

    def table_kernels(self, op):
        return self.kernel_s if op == "stream" else {}

    def layer_of(self, op):
        return "engine" if op == "stream" else "spatial_join"

    def throughput(self, med):
        return {
            "stream.records_per_s": (self.N_RECORDS / med["stream"], "1/s"),
            "cells.pip_points_per_s": (self.N_POINTS / med["pip"], "1/s"),
            "cells.knn_points_per_s": (self.N_POINTS / med["knn"], "1/s"),
        }


WORKLOADS = {w.name: w for w in (Cover, Probe)}
