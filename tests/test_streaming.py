"""Streaming bridge: file-source micro-batches → incremental
checkpointed polygonize (fingerprints recompute only changed tiles)."""

from geo_polygonize_spark.sources.fixtures import grid_lines
from geo_polygonize_spark.streaming import read_coverage, streaming_polygonize

from .conftest import lines_to_df


LINES_SCHEMA = "line_id long, xs array<double>, ys array<double>, dataset string"


def _drain(spark, src, store, ck, n, **kwargs):
    """One availableNow trigger over ``src``; returns the finished query."""
    q = streaming_polygonize(
        spark, spark.readStream.schema(LINES_SCHEMA).parquet(src), store, ck,
        tile_size=5.0, buffer=1.5, bbox=(0.0, 0.0, float(n), float(n)),
        drop_collapsed=True, available_now=True, **kwargs,
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    return q


def _cov_key(rows):
    return sorted((round(r["cx"], 6), round(r["cy"], 6), round(r["area"], 6)) for r in rows)


def test_streaming_incremental(spark, tmp_path):
    n = 10
    xs, ys = grid_lines(n)
    src, store, ck = (str(tmp_path / d) for d in ("src", "store", "ck"))

    # batch 1: horizontals only (no closed rings yet)
    lines_to_df(spark, xs[::2], ys[::2]).write.mode("append").parquet(src)
    _drain(spark, src, store, ck, n)
    assert read_coverage(spark, ck).count() == 0  # dangles only so far

    # batch 2: verticals arrive → full grid closes
    lines_to_df(spark, xs[1::2], ys[1::2]).write.mode("append").parquet(src)
    _drain(spark, src, store, ck, n)
    out = read_coverage(spark, ck)
    assert out.count() == n * n
    # metrics show multiple runs (incremental lineage)
    m = spark.read.parquet(f"{ck}/metrics")
    assert m.select("run_id").distinct().count() >= 2

    # batch 3: extra linework confined to tile (0,0) — the recompute
    # must touch ONLY that parent tile (per-batch cost is O(touched
    # tiles), not O(store)), and the result must equal a fresh batch
    # run over the full accumulated linework
    extra_xs = [[0.0, 2.0], [0.5, 0.5], [1.5, 1.5]]
    extra_ys = [[0.5, 0.5], [0.0, 2.0], [0.0, 2.0]]
    lines_to_df(spark, extra_xs, extra_ys).write.mode("append").parquet(src)
    q3 = _drain(spark, src, store, ck, n)
    # the trigger's job budget: the commit decides pending and stale
    # tiles once, and the batch neither probes the commit's frames nor
    # scans the coverage
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q3.runId))
    assert 0 < len(jobs) <= 20, sorted(jobs)
    m = spark.read.parquet(f"{ck}/metrics")
    last_run = (
        m.orderBy(m.completed_at.desc()).select("run_id").first()["run_id"]
    )
    touched = m.where(m.run_id == last_run).select("tile_i", "tile_j").distinct().collect()
    assert {(r["tile_i"], r["tile_j"]) for r in touched} == {(0, 0)}

    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize

    all_lines = spark.read.parquet(src)
    want = tiled_polygonize(
        all_lines, tile_size=5.0, buffer=1.5, bbox=(0.0, 0.0, float(n), float(n)),
        drop_collapsed=True,
    ).collect()
    got = read_coverage(spark, ck).collect()
    assert _cov_key(got) == _cov_key(want)


def test_streaming_batch_without_segments(spark, tmp_path):
    """A micro-batch whose lines yield no segment (single-vertex lines)
    completes without committing anything, and the stream keeps
    working: a later real batch gives the batch result."""
    import os

    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize

    n = 10
    src, store, ck = (str(tmp_path / d) for d in ("src", "store", "ck"))
    lines_to_df(spark, [[1.0], [7.0]], [[1.0], [3.0]]).write.mode("append").parquet(src)
    q = _drain(spark, src, store, ck, n)
    assert any(p["numInputRows"] > 0 for p in q.recentProgress)
    assert not os.path.exists(f"{ck}/metrics")
    assert read_coverage(spark, ck).count() == 0

    xs, ys = grid_lines(n)
    lines_to_df(spark, xs, ys).write.mode("append").parquet(src)
    _drain(spark, src, store, ck, n)
    want = tiled_polygonize(
        spark.read.parquet(src), tile_size=5.0, buffer=1.5,
        bbox=(0.0, 0.0, float(n), float(n)), drop_collapsed=True,
    ).collect()
    got = read_coverage(spark, ck).collect()
    assert len(got) == n * n
    assert _cov_key(got) == _cov_key(want)


def test_streaming_split_layout_change_tombstones_scoped(spark, tmp_path):
    """A batch that pushes one parent tile over ``max_segments_per_tile``
    changes its split factor from 1 to 2: the parent's old f=1 key is
    tombstoned, no polygon is admitted twice, other parents are left
    alone, and the coverage equals the batch result with the same
    threshold."""
    from pyspark.sql import Window, functions as F

    from geo_polygonize_spark.operators.polygonize_op import tiled_polygonize

    n = 10
    src, store, ck = (str(tmp_path / d) for d in ("src", "store", "ck"))
    # every parent tile holds 14 segments of the grid: no split at 16
    xs, ys = grid_lines(n)
    lines_to_df(spark, xs, ys).write.mode("append").parquet(src)
    _drain(spark, src, store, ck, n, max_segments_per_tile=16)
    assert read_coverage(spark, ck).count() == n * n

    # six segments inside tile (0,0)'s core, clear of every other
    # tile's buffered window: 20 segments > 16 → f = 2 there
    extra_xs = [[0.0, 3.0]] * 3 + [[v, v] for v in (0.5, 1.5, 2.5)]
    extra_ys = [[v, v] for v in (0.5, 1.5, 2.5)] + [[0.0, 3.0]] * 3
    lines_to_df(spark, extra_xs, extra_ys).write.mode("append").parquet(src)
    _drain(spark, src, store, ck, n, max_segments_per_tile=16)

    m = spark.read.parquet(f"{ck}/metrics")
    last_run = m.orderBy(m.completed_at.desc()).first()["run_id"]
    last = m.where(m.run_id == last_run).collect()
    assert {(r["tile_i"], r["tile_j"]) for r in last} == {(0, 0)}
    w = Window.partitionBy("tile_i", "tile_j", "f", "sub_i", "sub_j").orderBy(
        F.col("completed_at").desc()
    )
    latest = {
        (r["tile_i"], r["tile_j"], r["f"], r["sub_i"], r["sub_j"]): r
        for r in m.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").collect()
    }
    old = latest[(0, 0, 1, 0, 0)]
    assert old["run_id"] == last_run and old["n_segments"] == 0 and old["n_polys"] == 0
    assert {k for k in latest if k[:2] == (0, 0) and latest[k]["n_segments"] > 0} == {
        (0, 0, 2, i, j) for i in range(2) for j in range(2)
    }

    got = read_coverage(spark, ck).collect()
    centroids = [(round(r["cx"], 6), round(r["cy"], 6)) for r in got]
    assert len(centroids) == len(set(centroids))
    want = tiled_polygonize(
        spark.read.parquet(src), tile_size=5.0, buffer=1.5,
        bbox=(0.0, 0.0, float(n), float(n)), drop_collapsed=True,
        max_segments_per_tile=16,
    ).collect()
    assert len(got) > n * n
    assert _cov_key(got) == _cov_key(want)


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """Custom stateful streaming operator (applyInPandasWithState):
    sessions emitted by the stream must equal the batch sessionization
    minus each user's final (still-open) session."""
    import numpy as np
    from pyspark.sql import functions as F

    from geo_polygonize_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    rng = np.random.default_rng(5)
    rows = []
    t = 0
    for eid in range(600):
        t += int(rng.integers(1, 40 * 60))  # 1 s .. 40 min gaps
        rows.append((eid, t * 1_000_000, int(rng.integers(0, 12)), float(rng.uniform(0, 20))))
    ev = spark.createDataFrame(
        rows, "event_id long, t_raw long, user_id long, value double"
    ).select(
        "event_id",
        F.timestamp_micros(F.col("t_raw") + 1_700_000_000_000_000).alias("ts"),
        "user_id",
        "value",
    )

    # batch ground truth
    want_all = sessionize_batch(ev, gap_minutes=30.0).collect()
    last_per_user = {}
    for r in want_all:
        cur = last_per_user.get(r["user_id"])
        if cur is None or r["t_start_us"] > cur["t_start_us"]:
            last_per_user[r["user_id"]] = r
    want_closed = sorted(
        (r["user_id"], r["session_id"], r["t_start_us"], r["t_end_us"],
         r["n_events"], r["value_cents"])
        for r in want_all if last_per_user[r["user_id"]] is not r
    )

    # stream the same events as 6 time-ordered file chunks
    src = str(tmp_path / "events_stream")
    for c in range(6):
        ev.where((F.col("event_id") >= c * 100) & (F.col("event_id") < (c + 1) * 100)).coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = str(tmp_path / "sessions_out")
    q = (
        sessionize_stream(stream, gap_minutes=30.0)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["user_id"], r["session_id"], r["t_start_us"], r["t_end_us"],
         r["n_events"], r["value_cents"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == want_closed and len(got) > 50


def test_sessionize_stream_multichunk_group(spark, tmp_path):
    """r4 regression: a user with more events in one micro-batch than
    the Arrow batch size arrives as MULTIPLE unsorted chunks; the
    kernel must gather+sort the whole group (sorting per chunk and
    trusting chunk order mis-sessionized or spuriously raised)."""
    import numpy as np
    from pyspark.sql import functions as F

    from geo_polygonize_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        rng = np.random.default_rng(9)
        n = 1000
        # one user, gaps 1s..40min, rows written in SHUFFLED order
        gaps = rng.integers(1, 40 * 60, n)
        t = np.cumsum(gaps.astype(np.int64)) * 1_000_000 + 1_700_000_000_000_000
        perm = rng.permutation(n)
        rows = [(int(i), int(t[i]), 0, float(i % 7)) for i in perm]
        ev = spark.createDataFrame(
            rows, "event_id long, t_raw long, user_id long, value double"
        ).select(
            "event_id", F.timestamp_micros("t_raw").alias("ts"), "user_id", "value"
        )
        src = str(tmp_path / "mc_src")
        ev.coalesce(1).write.parquet(src)

        want_all = sessionize_batch(spark.read.parquet(src), gap_minutes=30.0).collect()
        last_start = max(r["t_start_us"] for r in want_all)
        want_closed = sorted(
            (r["user_id"], r["session_id"], r["t_start_us"], r["t_end_us"],
             r["n_events"], r["value_cents"])
            for r in want_all if r["t_start_us"] != last_start
        )
        assert len(want_closed) >= 100  # the fixture really has many sessions

        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = str(tmp_path / "mc_out")
        q = (
            sessionize_stream(stream, gap_minutes=30.0)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "mc_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            (r["user_id"], r["session_id"], r["t_start_us"], r["t_end_us"],
             r["n_events"], r["value_cents"])
            for r in spark.read.parquet(out).collect()
        )
        assert got == want_closed
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
