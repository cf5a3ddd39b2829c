"""End-to-end spatial hot-spot analysis — the composed raster workflow an
analyst runs after rasterization (the step SEraster hands off to spdep/
ggplot in R; here it stays one distributed plan):

    1. rasterize the point corpus to a square count raster
    2. binomial-kernel focal smoothing (1-2-1 ⊗ 1-2-1)
    3. Getis-Ord Gi* z-scores on the raw counts
    4. global Moran's I of the surface
    5. label the contiguous hot regions (z > 1) — patch analysis
    6. export the scored raster as newline-delimited GeoJSON (distributed
       sink — every tile a Feature, no driver collect)
    7. report the top hot spots (|z| ranking) + the autocorrelation verdict

Run: python examples/hotspot_pipeline.py [sf_dir] [geojson_out]
Prints one JSON line of summary stats.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from seraster_spark import (
    assign_tiles,
    binomial_kernel,
    focal_stats,
    getis_ord_gi_star,
    grid_spec_for,
    morans_i,
)
from seraster_spark.driver_queries import docs_with_coords
from seraster_spark.expressions import unpack_rowcol
from seraster_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    gj_out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/seraster_hotspots_geojsonl"
    spark = get_spark("hotspot_pipeline", master="local[8]", shuffle_partitions=8)

    # 1. square count raster (the only doc-cardinality stage)
    d = docs_with_coords(spark, sf_dir)
    spec = grid_spec_for(d, 100.0, square=True)
    row, col = unpack_rowcol("cell_id")
    raster = (
        assign_tiles(d, spec)
        .withColumn("row_i", row.cast("long"))
        .withColumn("col_i", col.cast("long"))
        .groupBy("row_i", "col_i")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    ).localCheckpoint()  # reused by 3 downstream stats — cut the re-scan

    # 2. smoothed surface
    smooth = focal_stats(raster, "n_docs", kernel=binomial_kernel(1))

    # 3. hot spots
    gi = getis_ord_gi_star(raster, "n_docs")
    top = [
        {"row": r["row_i"], "col": r["col_i"], "n": r["n_docs"],
         "z": round(r["gi_star"], 3)}
        for r in gi.orderBy(F.desc("gi_star")).limit(5).collect()
    ]

    # 4. global autocorrelation
    mi = morans_i(raster, "n_docs").first()

    # 5. contiguous hot regions: tiles with z > 1, labeled by connectivity
    from seraster_spark import label_regions

    hot = gi.filter(F.col("gi_star") > 1.0).select("row_i", "col_i")
    regions = label_regions(hot)
    n_regions = regions.select("region_id").distinct().count()

    # 6. distributed GeoJSONL export of the scored surface (tile polygon +
    # count + z per line; a GIS tool can stream it straight from the sink)
    from seraster_spark import write_geojson_lines
    from seraster_spark.expressions import pack_sql

    scored = gi.select(
        F.expr(pack_sql(spec.mode, spec.level, "`row_i`", "`col_i`")).alias("cell_id"),
        "n_docs",
        F.round("gi_star", 4).alias("gi_star"),
    )
    write_geojson_lines(scored, spec, gj_out)

    print(json.dumps({
        "tiles": raster.count(),
        "smoothed_tiles": smooth.count(),
        "moran_i": round(mi["moran_i"], 6),
        "clustered": mi["moran_i"] > 0,
        "hot_regions": n_regions,
        "geojson_features": spark.read.text(gj_out).count(),
        "top_hotspots": top,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
