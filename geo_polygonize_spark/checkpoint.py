"""Per-partition lineage/metrics checkpoints + mid-job resume.

north_rule requirement with no reference analog (the reference is a
single-process library; a crash restarts from scratch). Design:

* work unit = one (sub-)tile group of the tiled polygonize;
* polygons append under ``<dir>/polygons/run_id=<id>``; one metrics
  row per completed tile appends to ``<dir>/metrics``:
  ``(tile key, fingerprint, n_segments, n_polys, run_id,
  completed_at)``. Fingerprint = commutative xor of per-segment
  xxhash64 → lineage records *what input* the tile was computed from.
* metrics commit AFTER polygons, so a crash mid-run leaves orphan
  polygon files but no metrics row — the resume recomputes the tile
  and the read path ignores orphans (it only admits polygons whose
  (tile key, run_id) is the tile's LATEST committed metrics row).
* resume = the current assignment's per-key (fingerprint,
  n_segments), collected once, compared on the driver against the
  latest committed metrics — unchanged tiles skip, changed/missing
  tiles recompute, vanished keys are tombstoned. Idempotent end to
  end (``commit_tiled_polygonize``).
"""

from __future__ import annotations

import time
import uuid

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from .operators.polygonize_op import (
    POLYGON_SCHEMA,
    TILE_KEY,
    prepare_assigned,
    prepare_tiled,
)


# the store's own layouts — every read of them passes its schema, so
# no read starts a schema-inference job
CKPT_SCHEMA = T.StructType(
    POLYGON_SCHEMA.fields
    + [
        T.StructField("f", T.IntegerType()),
        T.StructField("sub_i", T.IntegerType()),
        T.StructField("sub_j", T.IntegerType()),
    ]
)
METRICS_SCHEMA = T.StructType(
    [T.StructField(c, T.IntegerType()) for c in TILE_KEY]
    + [
        T.StructField("n_segments", T.LongType()),
        T.StructField("fingerprint", T.LongType()),
        T.StructField("n_polys", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("completed_at", T.DoubleType()),
    ]
)
_KEY_SCHEMA = T.StructType(METRICS_SCHEMA.fields[: len(TILE_KEY)])


def _tile_metrics(assigned: DataFrame) -> DataFrame:
    # bit_xor: commutative + overflow-free under ANSI mode (a plain
    # sum of 64-bit hashes overflows); n_segments disambiguates the
    # duplicate-pair xor cancellation case
    return assigned.groupBy(*TILE_KEY).agg(
        F.count("*").alias("n_segments"),
        F.bit_xor(F.xxhash64("x1", "y1", "x2", "y2")).alias("fingerprint"),
    )


def _local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """Driver-side rows as a DataFrame, converted through Arrow: a plain
    ``createDataFrame(list)`` pickles the rows into a python RDD whose
    tasks start a second pool of python workers."""
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)


def _latest_metrics(spark: SparkSession, metrics_path: str) -> DataFrame | None:
    try:
        m = spark.read.schema(METRICS_SCHEMA).parquet(metrics_path)
    except AnalysisException as e:
        # absent metrics dir = never-checkpointed store (fresh run);
        # other failures must surface (same rationale as the polygons
        # read in read_checkpointed_coverage)
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise
    w = Window.partitionBy(*TILE_KEY).orderBy(F.col("completed_at").desc())
    return m.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def _committed(
    spark: SparkSession, metrics_path: str, parents: set | None
) -> dict[tuple, tuple[int, int]]:
    """Latest committed ``(fingerprint, n_segments)`` per tile key,
    collected to the driver — restricted to ``parents`` (tile_i,
    tile_j) when given. The whole log is still scanned (the filter
    prunes row groups by their statistics), so this read grows with
    the number of committed runs."""
    latest = _latest_metrics(spark, metrics_path)
    if latest is None:
        return {}
    if parents is not None:
        # a superset filter on each column (pushed below the window into
        # the scan); the exact (tile_i, tile_j) pairs are kept below
        latest = latest.where(
            F.col("tile_i").isin(sorted({p[0] for p in parents}))
            & F.col("tile_j").isin(sorted({p[1] for p in parents}))
        )
    rows = latest.select(*TILE_KEY, "fingerprint", "n_segments").collect()
    return {
        tuple(r[:5]): (r["fingerprint"], r["n_segments"])
        for r in rows
        if parents is None or (r["tile_i"], r["tile_j"]) in parents
    }


def commit_tiled_polygonize(
    spark: SparkSession,
    lines_df: DataFrame | None,
    ckpt_dir: str,
    tile_size: float,
    assigned_segments: DataFrame | None = None,
    scope_to_assigned: bool = False,
    x0: float = 0.0,
    y0: float = 0.0,
    buffer: float = 0.0,
    **kwargs,
) -> None:
    """The commit step of ``resumable_tiled_polygonize`` (same
    arguments): bring the checkpoint at ``ckpt_dir`` up to date with
    the current assignment, recomputing only tiles whose content
    changed. Every piece of work runs once:

    1. the tile assignment is persisted, and its per-key
       ``(fingerprint, n_segments)`` — one row per (sub-)tile key — is
       collected;
    2. the latest committed metrics (scoped to the assignment's parent
       tiles under ``scope_to_assigned``) are collected;
    3. the driver decides the pending keys (content differs from the
       latest commit) and the stale keys (committed, absent from the
       assignment);
    4. the kernel runs over the pending keys only, its polygons are
       written to a new run directory and read back per key;
    5. metrics rows for the pending keys and tombstones for the stale
       keys are written in one append — after the polygons, so a crash
       in between leaves orphans that the read path ignores.
    """
    if assigned_segments is not None:
        bbox = kwargs.pop("bbox", None)
        if bbox is not None:
            x0, y0 = float(bbox[0]), float(bbox[1])
        assigned, kernel = prepare_assigned(
            assigned_segments, tile_size, buffer=buffer, x0=x0, y0=y0, **kwargs
        )
    else:
        assigned, kernel = prepare_tiled(lines_df, tile_size, buffer=buffer, **kwargs)

    poly_path = f"{ckpt_dir}/polygons"
    metrics_path = f"{ckpt_dir}/metrics"

    assigned = assigned.persist()
    try:
        now = {
            tuple(r[:5]): (r["fingerprint"], r["n_segments"])
            for r in _tile_metrics(assigned).collect()
        }
        # incremental scope: only parents present in the current
        # assignment may invalidate; everything else is trusted
        parents = {k[:2] for k in now} if scope_to_assigned else None
        committed = _committed(spark, metrics_path, parents)
        # n_segments is compared too: xor cancels on duplicated
        # segments, so (fingerprint, count) together identify the
        # tile's multiset
        pending = [k for k, v in now.items() if committed.get(k) != v]
        # stale keys: committed in the store but absent from the
        # CURRENT assignment — a vanished tile, or a sub-tile layout
        # superseded by a different skew-split factor f (a changed
        # max_segments_per_tile or data growth). Without invalidation
        # their polygons stay admitted NEXT TO the new layout's —
        # silent duplication of the tile's coverage. Tombstone metrics
        # rows (a newer run that wrote zero polygons for the key) make
        # the latest-run admission drop them; a key whose latest row
        # is already a tombstone (n_segments 0) needs no new one.
        stale = [k for k, (_, n) in committed.items() if k not in now and n > 0]
        if not pending and not stale:
            return

        run_id = uuid.uuid4().hex
        n_polys: dict[tuple, int] = {}
        if pending:
            todo = assigned
            if len(pending) < len(now):
                todo = assigned.join(
                    F.broadcast(_local_frame(spark, pending, _KEY_SCHEMA)),
                    TILE_KEY,
                    "left_semi",
                )

            # polygon rows carry the FULL sub-tile group key so resume
            # admission is exact even when a single sub-tile recomputes
            def keyed_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
                out = kernel(key, pdf)
                out["f"] = int(key[2])
                out["sub_i"] = int(key[3])
                out["sub_j"] = int(key[4])
                return out

            run_dir = f"{poly_path}/run_id={run_id}"
            polys = todo.groupBy(*TILE_KEY).applyInPandas(keyed_kernel, CKPT_SCHEMA)
            polys.write.mode("append").parquet(run_dir)
            # count what actually landed (cheap scan of the new run dir)
            written = spark.read.schema(CKPT_SCHEMA).parquet(run_dir)
            n_polys = {
                tuple(r[:5]): r["n_polys"]
                for r in written.groupBy(*TILE_KEY).agg(F.count("*").alias("n_polys")).collect()
            }
        done_at = float(time.time())
        rows = [
            (*k, now[k][1], now[k][0], n_polys.get(k, 0), run_id, done_at) for k in pending
        ] + [(*k, 0, 0, 0, run_id, done_at) for k in stale]
        _local_frame(spark, rows, METRICS_SCHEMA).coalesce(1).write.mode("append").parquet(
            metrics_path
        )
    finally:
        assigned.unpersist()


def resumable_tiled_polygonize(
    spark: SparkSession,
    lines_df: DataFrame | None,
    ckpt_dir: str,
    tile_size: float,
    assigned_segments: DataFrame | None = None,
    scope_to_assigned: bool = False,
    x0: float = 0.0,
    y0: float = 0.0,
    buffer: float = 0.0,
    **kwargs,
) -> DataFrame:
    """Tiled polygonize with tile-level checkpoint/resume. Returns the
    polygon DataFrame read from the checkpoint store — identical
    whether the job ran fresh, resumed after a crash, or was already
    complete (then it is a pure scan, no recompute).

    ``assigned_segments``: pre-tile-assigned segments (x1..y2, tile_i,
    tile_j) instead of raw lines — the streaming path feeds the
    touched partitions of its tile-partitioned segment store here.
    ``scope_to_assigned``: the assignment covers only a SUBSET of the
    store's tiles (incremental recompute); stale-key tombstoning then
    applies only within the parents present in the assignment, and
    absent tiles are trusted as still-valid coverage."""
    commit_tiled_polygonize(
        spark,
        lines_df,
        ckpt_dir,
        tile_size,
        assigned_segments=assigned_segments,
        scope_to_assigned=scope_to_assigned,
        x0=x0,
        y0=y0,
        buffer=buffer,
        **kwargs,
    )
    return read_checkpointed_coverage(spark, ckpt_dir)


def read_checkpointed_coverage(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Latest committed polygon coverage from a checkpoint dir: admit
    only each sub-tile's latest committed run (orphans from crashed
    runs, superseded fingerprints, and tombstoned keys — vanished
    tiles / replaced skew-split layouts — drop out). An empty or
    not-yet-written checkpoint dir reads as an empty coverage."""
    latest = _latest_metrics(spark, f"{ckpt_dir}/metrics")
    if latest is None:
        return spark.createDataFrame([], POLYGON_SCHEMA)
    try:
        run_schema = T.StructType(CKPT_SCHEMA.fields + [T.StructField("run_id", T.StringType())])
        polys = (
            spark.read.schema(run_schema)
            .option("basePath", f"{ckpt_dir}/polygons")
            .parquet(f"{ckpt_dir}/polygons/run_id=*")
        )
    except AnalysisException as e:
        # ONLY a genuinely absent polygons dir reads as empty (a
        # metrics-only checkpoint: every committed run wrote 0 polygons,
        # so no polygons/ directory was ever created). Any other read
        # failure — permissions, corruption, transient FS errors — must
        # surface, not masquerade as an empty coverage.
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame([], POLYGON_SCHEMA)
        raise
    return polys.join(
        F.broadcast(latest.select(*TILE_KEY, "run_id")),
        on=TILE_KEY + ["run_id"],
        how="left_semi",
    ).drop("run_id", "f", "sub_i", "sub_j")
