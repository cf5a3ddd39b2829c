"""Incremental rasterization over document arrivals — Structured Streaming.

The reference is bounded batch only (SURVEY.md §2.10); this is the engine's
streaming extension: documents arrive with an event-time column, tile
assignment is the same stateless closed-form Column math as the batch path
(encoders are pure expressions, so they are trivially streamable), and the
per-tile aggregate becomes a watermarked windowed groupBy. In append mode
(production) late data beyond the watermark is dropped and windows emit once
the watermark passes; the availableNow backfill helper defaults to complete
mode, where Spark ignores the watermark (see run_available_now).

    readStream(parquet dir) → cell_id = encode(x,y) →
    withWatermark(ts) → groupBy(window(ts), cell_id, kind).count →
    writeStream (append once windows close / availableNow for backfill)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..expressions import centroid_sql
from ..rasterize import assign_tiles
from ..grid import GridSpec


def stream_rasterize_cell_type(
    spark: SparkSession,
    input_path: str,
    schema: T.StructType,
    spec: GridSpec,
    ts_col: str = "ts",
    label_col: str = "kind",
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming per-(window, tile, kind) counts. Returns the streaming DF
    (caller attaches writeStream)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_path)
    with_cell = assign_tiles(docs, spec)
    agg = (
        with_cell.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), "cell_id", label_col)
        .agg(F.count(F.lit(1)).alias("pixelval"))
    )
    cx, cy = centroid_sql("`cell_id`", spec)
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "cell_id",
        label_col,
        F.col("pixelval").cast("double").alias("pixelval"),
        F.expr(cx).alias("cx"),
        F.expr(cy).alias("cy"),
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
):
    """Drain everything currently available (backfill / test mode) into an
    in-memory table named `query_name`; returns the finished query.

    NOTE on watermark semantics: in the default ``complete`` mode Spark
    IGNORES the watermark — every window (including late data beyond the
    watermark) is rewritten each trigger, which is the convenient shape for
    a bounded backfill whose result must equal the batch aggregate. For true
    streaming watermark behavior (late rows dropped, windows emitted once
    the watermark passes — the production shape, where state is evicted)
    pass ``output_mode="append"``; windows still inside the watermark at
    end-of-input remain buffered in state and are NOT emitted."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def drain_available_now_to_files(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
):
    """availableNow drain into a FILE sink with append-mode watermark
    semantics — the production shape: late rows beyond the persisted
    watermark are dropped, windows land as files exactly once when the
    watermark passes them, and the checkpoint is resumable across drains
    (the in-memory sink cannot recover a checkpoint in append mode; file
    sinks can). Returns the finished query."""
    q = (
        stream_df.writeStream.format(fmt)
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_event_sessions(
    spark: SparkSession,
    input_path: str,
    schema: T.StructType,
    ts_col: str = "ts",
    key_col: str = "event_type",
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming SESSION-window counts per key — the same `session_window`
    expression the batch oracle query `events_sessions` checks against
    DuckDB (merge-iff-overlap, end = last event + gap). In append mode a
    session emits once the watermark passes its end (state evicted); the
    no-data micro-batch after an availableNow drain advances the watermark,
    so closed sessions emit within the drain that closed them."""
    e = spark.readStream.schema(schema).parquet(input_path)
    return (
        e.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


def stream_enriched_counts(
    spark: SparkSession,
    input_path: str,
    schema: T.StructType,
    dim: DataFrame,
    dim_key: str = "kind",
    ts_col: str = "ts",
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Stream-static enrichment: the streaming micro-batches join a STATIC
    dimension table (labels, per-kind weights, polygon/zone attributes)
    before the windowed aggregate — Structured Streaming's stream-static
    join, which needs no state (the static side is simply available to
    every micro-batch; Spark broadcasts it when small). The canonical
    'enrich events with reference data, then roll up' pipeline.

    Returns per-(window, enriched group) counts + weighted sums; caller
    attaches writeStream. The static side is re-resolved per micro-batch,
    so slowly-changing dims pick up changes on restart (standard
    stream-static semantics)."""
    e = spark.readStream.schema(schema).parquet(input_path)
    joined = e.join(F.broadcast(dim), dim_key, "inner")
    return (
        joined.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration), "group_label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # no cast: keeps the input weight type (a long cast would
            # silently truncate fractional weights)
            F.sum("weight").alias("weighted"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "group_label",
            "n_docs",
            "weighted",
        )
    )


def stream_stream_interval_join(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    schema: T.StructType,
    on: str = "user_id",
    ts_col: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM interval join: each left event matched to every right
    event of the same key within ``[left.ts − lookback, left.ts]`` — both
    sides are unbounded streams, so Spark buffers each side in state and
    the TIME-RANGE condition plus the two watermarks are what BOUND that
    state (without them a stream-stream join's state grows forever; with
    them, rows older than watermark+lookback are evicted). Inner-join rows
    emit as soon as both sides arrive — no end-of-window wait.

    This is the streaming counterpart of ``joins.interval_join``; the same
    enrichment expressed over two live feeds (e.g. attribute purchases to
    the views that preceded them within the attribution window).
    """
    l = (
        spark.readStream.schema(schema)
        .parquet(left_path)
        .withWatermark(ts_col, watermark)
        .alias("l")
    )
    r = (
        spark.readStream.schema(schema)
        .parquet(right_path)
        .withWatermark(ts_col, watermark)
        .alias("r")
    )
    cond = F.expr(
        f"l.{on} = r.{on} AND r.{ts_col} >= l.{ts_col} - INTERVAL {lookback} "
        f"AND r.{ts_col} <= l.{ts_col}"
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{on}").alias(on),
        F.col(f"l.event_id").alias("l_id"),
        F.col(f"l.{ts_col}").alias("l_ts"),
        F.col(f"r.event_id").alias("r_id"),
        F.col(f"r.{ts_col}").alias("r_ts"),
    )
