"""Streaming ingestion → incremental polygonize.

The reference is strictly batch (single ``polygonize()`` call,
SURVEY.md §2.9) and the north_rule asks for resumable checkpoints
rather than Structured Streaming semantics. This module is the bridge
for callers that DO receive linework as a stream.

Incremental design — per-batch cost is O(batch): the segments, tiles
and keys the batch touches, not the store size:

1. Each micro-batch segmentizes its lines, assigns tiles (the same
   buffered-replication expressions as the batch path), and APPENDS
   to a segment store PARTITIONED BY (tile_i, tile_j).
2. The batch's touched tile set (usually a handful of partitions) is
   re-read via explicit partition paths — directory pruning, not a
   store scan.
3. The checkpoint's commit step (checkpoint.commit_tiled_polygonize
   with ``scope_to_assigned``) runs over ONLY those tiles: per-tile
   content fingerprints skip unchanged sub-tiles, superseded split
   layouts inside touched parents are tombstoned, and untouched tiles
   remain valid committed coverage. The batch ends with that commit;
   it reads no coverage back.

One term still grows with the store's history: the commit reads the
latest metrics row per key from the WHOLE metrics log (one row per
committed key per run), so each trigger's metrics scan is
O(triggers so far), pruned by the touched parents' row-group
statistics.

Earlier designs re-read the ENTIRE lines store every trigger (the
fingerprints skipped kernels but the scan itself grew with history)
and counted the whole committed coverage at the end of every batch;
the tile-partitioned store and the commit-only batch remove both
O(store) terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..checkpoint import commit_tiled_polygonize
from ..operators.polygonize_op import assign_tiles, segmentize_df

import numpy as np

# the segment store's layout: tile_i / tile_j are its partition columns
SEGMENT_SCHEMA = "x1 double, y1 double, x2 double, y2 double, tile_i int, tile_j int"


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the JVM Hadoop FileSystem — correct on
    local paths, HDFS, and object stores alike (anything the session's
    Hadoop configuration can resolve)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def streaming_polygonize(
    spark: SparkSession,
    lines_stream: DataFrame,
    store_dir: str,
    ckpt_dir: str,
    tile_size: float,
    bbox: tuple[float, float, float, float],
    buffer: float = 0.0,
    trigger: str = "10 seconds",
    available_now: bool = False,
    **polygonize_kwargs,
):
    """lines readStream → incremental polygon coverage.

    ``lines_stream``: streaming DataFrame with the lines schema
    (line_id, xs, ys, dataset). ``bbox`` must be the FIXED global
    extent (streaming cannot infer it from unseen data). Each
    micro-batch appends tile-assigned segments to
    ``store_dir/segments`` (parquet, partitioned by tile) and
    recomputes only the touched tiles at ``ckpt_dir``. Returns the
    StreamingQuery; read the current coverage any time with
    ``read_coverage``.
    """
    x0, y0, x1g, y1g = (float(v) for v in bbox)
    cols = max(int(np.ceil((x1g - x0) / tile_size)), 1)
    rows = max(int(np.ceil((y1g - y0) / tile_size)), 1)
    seg_root = f"{store_dir}/segments"

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        seg = assign_tiles(
            segmentize_df(batch_df), tile_size, buffer, x0, y0, cols, rows
        ).persist()
        try:
            touched = [
                (int(r["tile_i"]), int(r["tile_j"]))
                for r in seg.select("tile_i", "tile_j").distinct().collect()
            ]
            if not touched:
                # no rows, or only lines that yield no segment (fewer
                # than two vertices): nothing to store or recompute
                return
            seg.write.mode("append").partitionBy("tile_i", "tile_j").parquet(seg_root)
        finally:
            seg.unpersist()
        # partition existence through the Hadoop FileSystem API — a
        # driver-side os.path check only works on local filesystems;
        # on HDFS/object stores it silently filtered EVERY path out,
        # leaving the coverage permanently stale while the store grew
        paths = [f"{seg_root}/tile_i={ti}/tile_j={tj}" for ti, tj in touched]
        missing = [p for p in paths if not _hadoop_path_exists(spark, p)]
        if missing:
            # the batch just appended these partitions — absence is
            # store corruption / misconfiguration, never a normal state
            raise RuntimeError(
                f"streaming_polygonize: {len(missing)} touched segment "
                f"partitions missing after append (first: {missing[0]})"
            )
        pruned = (
            spark.read.schema(SEGMENT_SCHEMA).option("basePath", seg_root).parquet(*paths)
        )
        commit_tiled_polygonize(
            spark,
            None,
            ckpt_dir,
            tile_size,
            assigned_segments=pruned,
            scope_to_assigned=True,
            x0=x0,
            y0=y0,
            buffer=buffer,
            **polygonize_kwargs,
        )

    w = lines_stream.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", f"{ckpt_dir}/_stream_meta"
    )
    # availableNow: drain everything currently available then stop —
    # deterministic for tests and batch-catchup runs
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime=trigger)
    return w.start()


def read_coverage(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Latest committed polygon coverage from a streaming/resumable
    checkpoint dir."""
    from ..checkpoint import read_checkpointed_coverage

    return read_checkpointed_coverage(spark, ckpt_dir)
