"""End-to-end pipeline job — the spark-submit entrypoint shape the
north_rule describes: Iceberg/parquet in → rasterize → per-partition
checkpointed parquet out with lineage + metrics, resumable.

    spark-submit --py-files dist/seraster_spark.zip -m seraster_spark.jobs \\
        --input /data/documents --output /out/tiles \\
        --resolution 100 --mode square --fun sum [--resume]

Checkpoint units are coarse parent-cell row bands (unit = row_i at a parent
resolution), so each unit's output is a spatially contiguous slab and the
manifest anti-join resumes mid-job after a crash.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import functions as F

from . import expressions as X
from . import rasterize as R
from .bbox import grid_spec_for
from .io import checkpointed_write, read_parquet, write_lineage
from .session import get_spark


def run(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet dir of documents")
    p.add_argument("--output", required=True)
    p.add_argument("--resolution", type=float, default=100.0)
    p.add_argument("--mode", choices=["square", "hex"], default="square")
    p.add_argument("--fun", choices=["sum", "mean"], default="sum")
    p.add_argument("--label-col", default="kind")
    p.add_argument("--units", type=int, default=8, help="checkpoint units (row bands)")
    p.add_argument("--salt-buckets", type=int, default=0)
    p.add_argument("--roster", action="store_true")
    args = p.parse_args(argv)

    spark = get_spark("rasterize_job")
    t0 = time.time()
    docs = read_parquet(spark, args.input)
    spec = grid_spec_for(docs, args.resolution, square=args.mode == "square")
    tiles = R.rasterize_cell_type(
        docs,
        args.resolution,
        square=args.mode == "square",
        fun=args.fun,
        label_col=args.label_col,
        spec=spec,
        collect_roster=args.roster,
        salt_buckets=args.salt_buckets,
    )
    row, _col = X.unpack_sql("`cell_id`")
    n_units = max(1, args.units)
    tiles = tiles.withColumn("unit", F.expr(f"CAST(pmod({row}, {n_units}) AS STRING)"))
    units = [str(u) for u in range(n_units)]
    lineage = checkpointed_write(tiles, args.output, "unit", units)
    metrics = {
        "stage": "rasterize_job",
        "input": args.input,
        "output": args.output,
        "resolution": args.resolution,
        "mode": args.mode,
        "fun": args.fun,
        "grid": {
            "xmin": spec.xmin, "ymin": spec.ymin,
            "xmax": spec.xmax, "ymax": spec.ymax,
        },
        "rows_written": sum(r["rows"] for r in lineage["records"]),
        "units_written": lineage["units_written"],
        "units_skipped": lineage["units_skipped"],
        "wall_s": round(time.time() - t0, 3),
    }
    write_lineage(args.output, metrics)
    print(json.dumps(metrics))
    return metrics


if __name__ == "__main__":
    run()
