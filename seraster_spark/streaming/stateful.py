"""Custom stateful streaming operator — running per-tile totals via
applyInPandasWithState.

Windowed aggregation (incremental.py) covers the standard case; this is the
custom-state shape: per tile we keep (total_docs, per-kind counts) across
ALL triggers (no window expiry) and emit the updated running totals each
trigger — the streaming analogue of an ever-growing raster.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..rasterize import assign_tiles
from ..grid import GridSpec

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("cell_id", T.LongType()),
        T.StructField("total_docs", T.LongType()),
        T.StructField("n_kinds", T.IntegerType()),
        T.StructField("batch_docs", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("total", T.LongType()),
        T.StructField("kinds", T.ArrayType(T.StringType())),
    ]
)


def _update_tile(key, pdf_iter, state: GroupState):
    total, kinds = (state.get if state.exists else (0, []))
    kinds = set(kinds or [])
    batch = 0
    for pdf in pdf_iter:
        batch += len(pdf)
        kinds.update(pdf["kind"].unique().tolist())
    total += batch
    state.update((total, sorted(kinds)))
    yield pd.DataFrame(
        {
            "cell_id": [key[0]],
            "total_docs": [total],
            "n_kinds": [len(kinds)],
            "batch_docs": [batch],
        }
    )


def stream_running_tile_totals(
    spark: SparkSession,
    input_path: str,
    schema: T.StructType,
    spec: GridSpec,
) -> DataFrame:
    """Streaming DF of running per-tile totals (update mode)."""
    docs = spark.readStream.schema(schema).parquet(input_path)
    with_cell = assign_tiles(docs, spec)
    return (
        with_cell.groupBy("cell_id")
        .applyInPandasWithState(
            _update_tile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def batch_replay_running_totals(
    docs: DataFrame, spec: GridSpec, batch_col: str = "batch_id"
) -> DataFrame:
    """Batch twin of :func:`stream_running_tile_totals`: replay the
    update-mode emissions as a cumulative window aggregate. Row
    ``(cell, b)`` equals exactly what the stateful operator emits for that
    cell at trigger ``b`` (state = running doc count + kind set; update
    mode emits only cells touched in the trigger — hence grouping on the
    observed (cell, batch) pairs).

    This is the oracle-checkable statement of the stateful semantics (the
    driver query ``stateful_totals`` runs it against a DuckDB cumulative
    join); the streaming pytest asserts the applyInPandasWithState path
    emits these same rows. Scale shape: one groupBy + one window over
    (cell, batch) — batch cardinality is tiny (trigger count), so the
    cumulative window is O(rows)."""
    from pyspark.sql import Window as W

    with_cell = assign_tiles(docs, spec)
    per = with_cell.groupBy("cell_id", batch_col).agg(
        F.count(F.lit(1)).alias("batch_docs"),
        F.collect_set("kind").alias("_ks"),
    )
    w = (
        W.partitionBy("cell_id")
        .orderBy(batch_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return per.select(
        "cell_id",
        batch_col,
        F.sum("batch_docs").over(w).alias("total_docs"),
        F.size(F.array_distinct(F.flatten(F.collect_list("_ks").over(w)))).alias(
            "n_kinds"
        ),
        "batch_docs",
    )


def drain_update(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Drain available data in update mode via foreachBatch → parquet append
    (the memory sink cannot recover from a checkpoint; foreachBatch can)."""

    def write_batch(batch_df: DataFrame, batch_id: int):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir
        )

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
