"""Checkpoint/resume + lineage tests (north_rule: resumable from
per-partition checkpoints with lineage + metrics)."""

import json
import os

from pyspark.sql import functions as F

from seraster_spark import io as sio
from seraster_spark import rasterize
from seraster_spark.bbox import grid_spec_for


def _tiles(spark, docs):
    spec = grid_spec_for(docs, 200.0, square=True)
    t = rasterize.rasterize_cell_type(docs, 200.0, fun="sum", spec=spec)
    return t.withColumn("unit", F.pmod(F.col("grid_index"), F.lit(4)).cast("string"))


def test_checkpointed_write_and_resume(spark, docs, tmp_path):
    tiles = _tiles(spark, docs).cache()
    out = str(tmp_path / "tiles_out")
    units = ["0", "1", "2", "3"]

    # first run: write only half the units (simulated crash after 2)
    rec1 = sio.checkpointed_write(tiles, out, "unit", units[:2], job_id="job1")
    assert rec1["units_written"] == 2
    assert sio.completed_units(out) == {"0", "1"}

    # resume: all 4 requested, only the 2 missing are written
    rec2 = sio.checkpointed_write(tiles, out, "unit", units, job_id="job2")
    assert rec2["units_skipped"] == 2
    assert rec2["units_written"] == 2
    assert sio.completed_units(out) == {"0", "1", "2", "3"}

    # data round-trips completely
    back = spark.read.parquet(os.path.join(out, "unit=0"))
    for u in units[1:]:
        back = back.unionByName(spark.read.parquet(os.path.join(out, f"unit={u}")))
    assert back.count() == tiles.count()

    # third run: everything skipped (idempotent)
    rec3 = sio.checkpointed_write(tiles, out, "unit", units, job_id="job3")
    assert rec3["units_written"] == 0

    # lineage log has all three runs
    with open(os.path.join(out, "_lineage.jsonl")) as f:
        lines = [json.loads(l) for l in f]
    assert [l["job_id"] for l in lines] == ["job1", "job2", "job3"]


def test_read_table(spark):
    df = sio.read_table(spark, "/root/testdata/sf0.001", "documents")
    assert df.count() > 0
    assert "doc_id" in df.columns


def test_read_table_schema_equals_inferred(spark, docs, tmp_path):
    """read_table's schema is the one spark.read.parquet infers: for every
    testdata table (pandas-written, so inference runs) and for a
    Spark-written table with nested spans and values (footer schema)."""
    import pytest

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    for name in sio.TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            got = sio.read_table(spark, sf_dir, name)
            assert got.schema == spark.read.parquet(path).schema, name
    root = str(tmp_path / "spark_written")
    docs.write.parquet(os.path.join(root, "documents.parquet"))
    got = sio.read_table(spark, root, "documents")
    want = spark.read.parquet(os.path.join(root, "documents.parquet"))
    assert got.schema == want.schema
    assert {"spans", "values"} <= set(got.columns)
    assert got.count() == want.count() == docs.count()


def test_read_table_sees_overwritten_schema(spark, tmp_path):
    """Overwriting a table with a different schema between two reads: the
    second read returns the new columns and their values, not NULLs."""
    root = str(tmp_path / "rw")
    path = os.path.join(root, "t.parquet")
    spark.createDataFrame([(1, "a")], "k long, a string").write.parquet(path)
    assert sio.read_table(spark, root, "t").columns == ["k", "a"]
    spark.createDataFrame([(2, 2.5)], "k long, b double").write.mode("overwrite").parquet(path)
    back = sio.read_table(spark, root, "t")
    assert back.columns == ["k", "b"]
    assert [tuple(r) for r in back.collect()] == [(2, 2.5)]


def test_assign_tiles_quoted_column_names(spark):
    """Coordinate names F.col accepts — with a space, or a dotted path into
    a struct — resolve to the same columns in the SQL-text encoder."""
    import numpy as np

    from seraster_spark import grid
    from seraster_spark.grid import GridSpec

    spec = GridSpec(0.0, 0.0, 100.0, 100.0, 10.0, square=True)
    pts = [(1.0, 2.0), (55.0, 70.0), (99.0, 0.5)]
    df = spark.createDataFrame(pts, "`pos x` double, `pos y` double")
    got = [r["cell_id"] for r in rasterize.assign_tiles(df, spec, "pos x", "pos y").collect()]
    want = grid.encode(np.array([p[0] for p in pts]), np.array([p[1] for p in pts]), spec)
    assert got == [int(c) for c in want]
    nested = df.select(F.struct(F.col("pos x").alias("x"), F.col("pos y").alias("y")).alias("p"))
    got = [r["cell_id"] for r in rasterize.assign_tiles(nested, spec, "p.x", "p.y").collect()]
    assert got == [int(c) for c in want]


def test_write_tiles_partitioned(spark, docs, tmp_path):
    tiles = _tiles(spark, docs)
    out = str(tmp_path / "part_out")
    sio.write_tiles(tiles, out, partition_by=["unit"])
    # partition pruning: reading one unit touches one directory
    one = spark.read.parquet(out).filter(F.col("unit") == "2")
    assert 0 < one.count() < tiles.count()


def test_checkpointed_write_counts_in_one_job(spark, docs, tmp_path):
    """Manifest row counts are observed on the write job itself: no
    read-back job, and not one read+count job per unit (per-unit jobs are
    thousands of scheduler round-trips at scale)."""
    n_units = 8
    tiles = (
        _tiles(spark, docs)
        .withColumn("unit", F.pmod(F.col("grid_index"), F.lit(n_units)).cast("string"))
        .localCheckpoint()  # materialize upstream first
    )
    out = str(tmp_path / "tiles_out_jobcount")
    units = [str(u) for u in range(n_units)]
    sc = spark.sparkContext
    sc.setJobGroup("cw_jobcount", "checkpointed_write job count")
    try:
        rec = sio.checkpointed_write(tiles, out, "unit", units, job_id="jobX")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rec["units_written"] == n_units
    assert sum(r["rows"] for r in rec["records"]) == tiles.count()
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    ids = sc.statusTracker().getJobIdsForGroup("cw_jobcount")
    # the write job only — a read-back was 2 more jobs, and the old
    # per-unit count loop 1 + n_units = 9 jobs here
    assert len(ids) == 1, f"expected 1 job, saw {len(ids)}"


def test_write_tiles_zorder_files_cover_compact_bboxes(spark, tmp_path):
    """Z-ordered sink: each parquet file covers a compact 2D bbox (so
    min/max stats on row_i/col_i prune most files for a 2D predicate);
    a cell_id-sorted layout leaves full-width strips."""
    import glob
    import os

    from seraster_spark import expressions as X
    from seraster_spark.io import write_tiles

    cells = [(r, c, 1.0) for r in range(64) for c in range(64)]
    tiles = spark.createDataFrame(cells, "row_i long, col_i long, pixelval double").select(
        F.expr(X.pack_sql(0, 0, "`row_i`", "`col_i`")).alias("cell_id"), "pixelval"
    )

    def mean_file_max_side(path):
        sides = []
        for f in glob.glob(os.path.join(path, "part-*.parquet")):
            pdf = spark.read.parquet("file://" + os.path.abspath(f)).toPandas()
            if not len(pdf):
                continue
            sides.append(max(pdf.row_i.max() - pdf.row_i.min(),
                             pdf.col_i.max() - pdf.col_i.min()) + 1)
        assert len(sides) >= 8
        return sum(sides) / len(sides)

    zdir = str(tmp_path / "z")
    write_tiles(tiles, zdir, zorder=True, n_files=16)
    got = spark.read.parquet(zdir)
    assert got.count() == 64 * 64 and "row_i" in got.columns

    # baseline: same file count, sorted by packed cell_id (row-major)
    pdir = str(tmp_path / "plain")
    row, col = X.unpack_rowcol("cell_id")
    tiles.withColumn("row_i", row.cast("long")).withColumn(
        "col_i", col.cast("long")
    ).repartitionByRange(16, "cell_id").sortWithinPartitions("cell_id").write.mode(
        "overwrite"
    ).parquet(pdir)

    assert mean_file_max_side(zdir) <= mean_file_max_side(pdir) / 2


def test_write_tiles_zorder_hex_negative_axials(spark, tmp_path):
    """Signed hex axial coords must be offset before interleaving —
    two's-complement low bits of q=-1 would otherwise land at the far end
    of the z-curve and scatter adjacent tiles across every file."""
    import glob
    import os

    from seraster_spark import expressions as X
    from seraster_spark.io import write_tiles

    cells = [(r, c, 1.0) for r in range(64) for c in range(-32, 32)]
    tiles = spark.createDataFrame(cells, "row_i long, col_i long, pixelval double").select(
        F.expr(X.pack_sql(1, 0, "`row_i`", "`col_i`")).alias("cell_id"), "pixelval"
    )
    zdir = str(tmp_path / "zhex")
    write_tiles(tiles, zdir, zorder=True, n_files=16)
    sides = []
    for f in glob.glob(os.path.join(zdir, "part-*.parquet")):
        pdf = spark.read.parquet("file://" + os.path.abspath(f)).toPandas()
        if len(pdf):
            sides.append(max(pdf.row_i.max() - pdf.row_i.min(),
                             pdf.col_i.max() - pdf.col_i.min()) + 1)
    # 4096 tiles / 16 files = 256-tile files; compact ⇒ bbox side ~16-32,
    # scattered-across-the-sign-boundary ⇒ side ~64
    assert sum(sides) / len(sides) <= 34


def test_checkpointed_write_stale_crashed_unit_is_cleared(spark, tmp_path):
    """A unit directory left by a run that crashed before its manifest row
    must not survive as phantom rows when the unit is empty on resume."""
    import os

    from seraster_spark.io import checkpointed_write

    out = str(tmp_path / "ckw")
    d1 = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "unit string, v long")
    checkpointed_write(d1, out, "unit", ["a", "b"])
    # simulate the crash: manifest row for 'a' lost, data dir remains
    os.remove(os.path.join(out, "_manifest", "a.json"))
    # upstream changed: unit 'a' now has NO rows
    d2 = spark.createDataFrame([("b", 3)], "unit string, v long")
    lineage = checkpointed_write(d2, out, "unit", ["a", "b"])
    rec = {r["unit"]: r["rows"] for r in lineage["records"]}
    assert rec == {"a": 0}
    got = spark.read.parquet(out)
    assert got.filter(F.col("unit") == "a").count() == 0  # no phantom rows


def test_checkpointed_write_numeric_looking_unit_strings(spark, tmp_path):
    """Unit '01' must not re-infer as integer 1 and mis-key the manifest
    counts."""
    from seraster_spark.io import checkpointed_write

    out = str(tmp_path / "ckw01")
    d = spark.createDataFrame([("01", 1), ("01", 2), ("02", 3)], "unit string, v long")
    lineage = checkpointed_write(d, out, "unit", ["01", "02"])
    rec = {r["unit"]: r["rows"] for r in lineage["records"]}
    assert rec == {"01": 2, "02": 1}


def test_checkpointed_write_special_char_units(spark, tmp_path):
    """Unit values containing chars Spark escapes in partition dir names
    (':', '/', '%') must round-trip: write, resume-skip, and the
    stale-crashed-dir cleanup must find the ESCAPED directory."""
    import os

    from seraster_spark.io import checkpointed_write

    out = str(tmp_path / "ckw_esc")
    units = ["a:b", "p/q", "50%"]
    d1 = spark.createDataFrame(
        [("a:b", 1), ("a:b", 2), ("p/q", 3), ("50%", 4)], "unit string, v long"
    )
    lineage = checkpointed_write(d1, out, "unit", units)
    rec = {r["unit"]: r["rows"] for r in lineage["records"]}
    assert rec == {"a:b": 2, "p/q": 1, "50%": 1}
    # crash-simulate the ':' unit: manifest row lost, escaped data dir stays
    os.remove(os.path.join(out, "_manifest", "a%3Ab.json"))
    assert os.path.isdir(os.path.join(out, "unit=a%3Ab"))
    d2 = spark.createDataFrame([("p/q", 3)], "unit string, v long")
    lineage2 = checkpointed_write(d2, out, "unit", units)
    rec2 = {r["unit"]: r["rows"] for r in lineage2["records"]}
    assert rec2 == {"a:b": 0}  # cleared, not resurrected; others skipped
    got = spark.read.parquet(out)
    assert got.filter(F.col("unit") == "a:b").count() == 0
    assert got.filter(F.col("unit") == "p/q").count() == 1
