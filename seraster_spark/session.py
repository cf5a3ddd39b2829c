"""SparkSession factory with the engine's scale-oriented defaults.

Local sandbox runs on local[N]; on a real cluster the same config applies —
AQE handles runtime partition coalescing and skew-join splitting, Arrow is on
for every pandas-UDF boundary, and shuffle partitions default to the session
parallelism rather than Spark's legacy 200.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def get_spark(
    app_name: str = "seraster_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Let the planner pick shuffled-hash join when its size conditions
        # hold: the pointpat bucket self-joins flipped SortMergeJoin ->
        # ShuffledHashJoin and stopped paying two 10M-row sorts. The choice
        # is made once, at planning, from the optimizer's size ESTIMATE of
        # the build side (small enough to hash per partition, and much
        # smaller than the other side); it is not re-checked at run time.
        # A ShuffledHashJoin build side cannot spill, so when the estimate
        # is low or one key is hot, a task's hash table can outgrow its
        # memory and fail with OOM instead of falling back to sort-merge.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Fall back from whole-stage codegen exactly when HotSpot would
        # refuse to JIT the fused method (DontCompileHugeMethods limit is
        # 8000 bytecode bytes): Spark's default of 65535 knowingly leaves
        # oversized fused stages running as INTERPRETED bytecode — measured
        # ~4x slower on the segment-supercover expression pipeline. A JVM
        # property, not a data-scale tunable, so the same value is right on
        # a cluster.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame, name: str, **counts: Column) -> tuple[DataFrame, dict[str, int]]:
    """Eagerly ``localCheckpoint`` ``df`` in one job described as ``name``;
    return the checkpoint and ``counts`` (aggregates over its rows, e.g.
    ``n=F.count(F.lit(1))``) observed on that same job, 0 when it is empty.
    Free the blocks with :func:`release` once nothing references it."""
    sc = df.sparkSession.sparkContext
    obs = Observation()
    if counts:
        df = df.observe(obs, *[c.alias(k) for k, c in counts.items()])
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        out = df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    return out, (obs.get if counts else {})


def release(frame: DataFrame) -> None:
    """Unpersist the RDD under a :func:`materialize` frame's LogicalRDD (a
    checkpointed Dataset's ``unpersist`` only touches the cache manager).
    Any later action on ``frame``, or on a frame built from it, fails."""
    frame._jdf.queryExecution().logical().rdd().unpersist(False)
