"""Sources, sinks, checkpoint/lineage/metrics (north_rule requirements).

Sources: Iceberg when a runtime catalog is configured (``spark.read.format
("iceberg")``), else plain Parquet with an Iceberg-style partition layout —
the sandbox's PySpark 4.1.2 ships no Iceberg jar (SURVEY.md §7.6), so the
Parquet path is the tested one; the Iceberg call is the same DataFrame API.

Checkpointed writes: the job is divided into partition-key units (e.g. a
coarse parent-cell prefix). Each unit writes atomically to its own
subdirectory and records a manifest row ``(job_id, unit, rows, wall_s,
finished_at)``. Resume = anti-join pending units against the manifest —
kill-and-restart safe because a unit's directory is rewritten wholesale
(overwrite) before its manifest row lands.

Lineage + metrics: one JSON record per stage with input snapshot ids, config,
row counts (from Spark-observed metrics, not extra jobs where possible).

No bookkeeping jobs. A bare ``spark.read.parquet`` runs one schema-inference
job (80–90 ms at benchmark sizes) before any query job; :func:`read_parquet`
reads the same schema from one data file's footer on the driver instead.
:func:`checkpointed_write` takes its per-unit row counts from an
``Observation`` on the write job itself, where it used to read the written
root back in two more jobs.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


#: footer key under which Spark's parquet writer stores the row schema as JSON
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    """File names Spark's file index skips (InMemoryFileIndex)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema Spark's parquet inference returns for a Spark-written
    table, read on the driver from the row-schema footer key of one
    top-level data file (inference reads the same key of one file when
    schemas are not merged). None when that shortcut does not apply:
    schema merging on, partition subdirectories (their columns are
    inferred from the directory names), no data file, or no key (a file
    written by another library)."""
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    try:
        root = jvm.org.apache.hadoop.fs.Path(path)
        fs = root.getFileSystem(conf)
        data = None
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if _hidden(name):
                continue
            if st.isDirectory():
                return None
            if data is None or name < data[0]:
                data = (name, st)
        if data is None:
            return None
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(data[1], conf)
        )
        try:
            text = reader.getFooter().getFileMetaData().getKeyValueMetaData().get(
                _SPARK_SCHEMA_KEY
            )
        finally:
            reader.close()
    except Py4JJavaError:
        return None  # unreadable here: let spark.read.parquet report it
    return None if text is None else StructType.fromJson(json.loads(text))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job when
    the table was written by Spark: the footer schema is passed as the
    read schema, so building the DataFrame runs no job. Other tables fall
    back to the plain (inferring) read."""
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet (or Iceberg if `sf_dir` is a catalog ref like 'iceberg:db')."""
    if sf_dir.startswith("iceberg:"):
        return spark.read.format("iceberg").load(f"{sf_dir.split(':', 1)[1]}.{name}")
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def write_tiles(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    zorder: bool = False,
    n_files: int | None = None,
) -> None:
    """Tile-table sink: Parquet, partitioned by coarse keys so downstream
    bbox/tile queries get partition pruning.

    ``zorder=True`` range-partitions and sorts the rows by the Morton code
    of (row, col) before writing (requires a ``cell_id`` column): every
    output file then covers a COMPACT bbox, so a 2D predicate's parquet
    min/max row-group statistics on row_i/col_i (written alongside) prune
    most files — the Z-ORDER clustering practice; a plain cell_id or
    row-major sort clusters only one axis, leaving each file a full-width
    strip that every query touches. ``n_files`` sets the target file count
    for the z-ordered layout (default: spark.sql.shuffle.partitions)."""
    if zorder:
        from . import expressions as X

        row, col = X.unpack_sql("`cell_id`")
        # offset to the non-negative packed plane before interleaving:
        # hex axial q/r are signed, and two's-complement low bits of a
        # negative coordinate interleave to the FAR end of the z-curve,
        # scattering adjacent tiles across files (morton_sql precondition)
        off = 1 << 27
        df = df.withColumns(
            {
                "_z": F.expr(X.morton_sql(f"{row} + {off}", f"{col} + {off}")),
                "row_i": F.expr(f"CAST({row} AS BIGINT)"),
                "col_i": F.expr(f"CAST({col} AS BIGINT)"),
            }
        )
        if n_files:
            df = df.repartitionByRange(n_files, "_z")
        else:
            df = df.repartitionByRange("_z")
        df = df.sortWithinPartitions("_z").drop("_z")
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_tiles_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int = 32,
    bucket_col: str = "cell_id",
    sort_col: str | None = "cell_id",
    mode: str = "overwrite",
) -> None:
    """Bucketed tile-table sink (``bucketBy`` + ``sortBy`` → saveAsTable):
    two rasters written with the same bucketing join on cell_id WITHOUT any
    shuffle — Spark's bucket-aware scan feeds a SortMergeJoin directly from
    the files. At 100 TB this is THE way to make repeated tile↔tile joins
    (raster algebra, multi-round enrichment, raster↔raster diffing across
    snapshots) shuffle-free; the one-time bucketed write replaces a shuffle
    per downstream join. Requires a session warehouse (saveAsTable), which
    any real deployment has; plain write_tiles covers pathless sinks."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)


# ---------------------------------------------------------------------------
# checkpointed, resumable unit writes


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


# chars Spark escapes in partition directory names (Hive FileUtils /
# ExternalCatalogUtils.escapePathName): C0 controls, DEL, and the listed
# specials — each becomes %XX (uppercase hex)
_PART_ESCAPE_CHARS = (
    {chr(c) for c in range(0x20)} | {chr(0x7F)} | set('"#%\'*/:=?\\{[]^')
)


def _escape_partition_value(v: str) -> str:
    """Python replica of Spark's partition-directory escaping, so paths we
    derive for cleanup (and manifest filenames) match what the writer
    actually produced for units containing '/', ':', '%', etc."""
    return "".join(
        f"%{ord(c):02X}" if c in _PART_ESCAPE_CHARS else c for c in v
    )


def completed_units(out_dir: str) -> set[str]:
    """Units with a manifest row (a local-filesystem scan, no Spark job)."""
    mpath = _manifest_path(out_dir)
    if not os.path.exists(mpath):
        return set()
    units = set()
    for fn in os.listdir(mpath):
        if fn.endswith(".json"):
            with open(os.path.join(mpath, fn)) as f:
                units.add(json.load(f)["unit"])
    return units


def checkpointed_write(
    df: DataFrame,
    out_dir: str,
    unit_col: str,
    units: list[str],
    job_id: str | None = None,
) -> dict:
    """Write `df` split by `unit_col` into per-unit subdirectories with an
    idempotent manifest; already-completed units are skipped (resume).

    All pending units are written in ONE job (dynamic partition overwrite)
    — a per-unit write loop would recompute the upstream plan once per unit,
    which is catastrophic at scale. Manifest rows land only AFTER the write
    job succeeds; a crash mid-write leaves no manifest rows, and the next
    run redoes exactly the pending partitions (dynamic overwrite is
    idempotent per partition directory).

    Per-unit row counts come from an ``Observation`` on the write itself
    (one ``count_if`` per pending unit), not from reading the output back.
    The observed node sits directly under the write, in the stage that
    runs the write tasks, so each written row is counted once.
    """
    job_id = job_id or uuid.uuid4().hex[:12]
    os.makedirs(_manifest_path(out_dir), exist_ok=True)
    spark = df.sparkSession
    done = completed_units(out_dir)
    pending = [str(u) for u in units if str(u) not in done]
    records = []
    if pending:
        t0 = time.time()
        # a pending unit may have data on disk from a run that crashed
        # between the parquet write and its manifest row; if the unit is
        # EMPTY in the current df, dynamic overwrite would never touch the
        # stale directory and its rows would survive as phantom output
        # — remove un-manifested unit directories first (local-fs layout;
        # an object-store deployment would issue the equivalent deletes)
        import shutil

        for u in pending:
            stale = os.path.join(
                out_dir, f"{unit_col}={_escape_partition_value(u)}"
            )
            if os.path.isdir(stale):
                shutil.rmtree(stale)
        unit = F.col(unit_col).cast("string")
        obs = Observation()
        pending_df = df.filter(unit.isin(pending)).observe(
            obs, *[F.count_if(unit == u).alias(f"_n{i}") for i, u in enumerate(pending)]
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            pending_df.write.mode("overwrite").partitionBy(unit_col).parquet(out_dir)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        wall = round(time.time() - t0, 3)
        finished = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        observed = obs.get
        for i, u in enumerate(pending):
            rows = int(observed[f"_n{i}"])
            rec = {
                "job_id": job_id,
                "unit": u,
                "rows": rows,
                "wall_s": wall,
                "finished_at": finished,
            }
            # escaped filename: unit values may contain path separators etc.;
            # the raw unit string lives inside the JSON (completed_units
            # reads the field, not the filename)
            mf = f"{_escape_partition_value(u)}.json"
            with open(os.path.join(_manifest_path(out_dir), mf), "w") as f:
                json.dump(rec, f)
            records.append(rec)
    lineage = {
        "job_id": job_id,
        "out_dir": out_dir,
        "unit_col": unit_col,
        "units_total": len(units),
        "units_skipped": len(units) - len(pending),
        "units_written": len(pending),
        "records": records,
    }
    write_lineage(out_dir, lineage)
    return lineage


def write_lineage(out_dir: str, record: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "_lineage.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
