"""Bit-for-bit reproducibility: canonical-order tile aggregation gives
byte-identical doubles regardless of input partitioning (SURVEY §4.3.4)."""

import struct

from pyspark.sql import functions as F

from seraster_spark import rasterize
from seraster_spark.bbox import grid_spec_for


def _bits(pdf):
    return {
        (r.cell_id, r.feature): struct.pack("<d", r.pixelval)
        for r in pdf.itertuples()
    }


def test_canonical_aggregation_partitioning_invariant(spark, docs):
    spec = grid_spec_for(docs, 100.0, square=True)
    a = (
        rasterize.rasterize_gene_expression_deterministic(
            docs.repartition(3), 100.0, fun="mean", spec=spec
        )
        .select("cell_id", "feature", "pixelval")
        .toPandas()
    )
    b = (
        rasterize.rasterize_gene_expression_deterministic(
            docs.repartition(17, "kind"), 100.0, fun="mean", spec=spec
        )
        .select("cell_id", "feature", "pixelval")
        .toPandas()
    )
    ba, bb = _bits(a), _bits(b)
    assert ba.keys() == bb.keys() and len(ba) > 0
    assert all(ba[k] == bb[k] for k in ba)


def test_canonical_matches_default_within_fp(spark, docs):
    """Same math, different summation order: results agree to 1e-9."""
    spec = grid_spec_for(docs, 100.0, square=True)
    det = rasterize.rasterize_gene_expression_deterministic(
        docs, 100.0, fun="sum", spec=spec
    ).select("cell_id", "feature", F.col("pixelval").alias("a"))
    dflt = rasterize.rasterize_gene_expression(
        docs, 100.0, fun="sum", spec=spec
    ).select("cell_id", "feature", F.col("pixelval").alias("b"))
    j = det.join(dflt, ["cell_id", "feature"], "full")
    assert j.filter(F.col("a").isNull() | F.col("b").isNull()).count() == 0
    assert j.filter(F.abs(F.col("a") - F.col("b")) > 1e-9).count() == 0


def test_deterministic_keeps_null_feature_group(spark):
    """A NULL feature must aggregate into a NULL-feature pixel row on BOTH
    paths (pandas groupby drops NaN keys by default — regression)."""
    from seraster_spark.grid import GridSpec
    from seraster_spark.rasterize import (
        rasterize_gene_expression,
        rasterize_gene_expression_deterministic,
    )

    spec = GridSpec(0.0, 0.0, 100.0, 100.0, 50.0, square=True)
    rows = [
        (1, 10.0, 10.0, [(None, 5.0), ("g1", 2.0)]),
        (2, 12.0, 11.0, [("g1", 3.0)]),
    ]
    d = spark.createDataFrame(
        rows,
        "doc_id long, x double, y double, "
        "values array<struct<feature:string,value:double>>",
    )
    a = {(r["cell_id"], r["feature"]): r["pixelval"]
         for r in rasterize_gene_expression(d, 50.0, fun="sum", spec=spec).collect()}
    b = {(r["cell_id"], r["feature"]): r["pixelval"]
         for r in rasterize_gene_expression_deterministic(d, 50.0, fun="sum", spec=spec).collect()}
    assert a == b
    assert any(k[1] is None for k in a)


def test_deterministic_skips_null_values_like_sum(spark):
    """A NULL value beside non-NULL values in one (tile, feature) group is
    skipped, as the default path's sum() skips it; a group of only NULL
    values gives a NULL pixel on both paths."""
    from seraster_spark.grid import GridSpec
    from seraster_spark.rasterize import (
        rasterize_gene_expression,
        rasterize_gene_expression_deterministic,
    )

    spec = GridSpec(0.0, 0.0, 100.0, 100.0, 50.0, square=True)
    rows = [
        (1, 10.0, 10.0, [("g1", None), ("g2", None)]),
        (2, 12.0, 11.0, [("g1", 3.0)]),
    ]
    d = spark.createDataFrame(
        rows,
        "doc_id long, x double, y double, "
        "values array<struct<feature:string,value:double>>",
    )
    a = {r["feature"]: r["pixelval"]
         for r in rasterize_gene_expression(d, 50.0, fun="sum", spec=spec).collect()}
    b = {r["feature"]: r["pixelval"]
         for r in rasterize_gene_expression_deterministic(d, 50.0, fun="sum", spec=spec).collect()}
    assert a == b == {"g1": 3.0, "g2": None}
