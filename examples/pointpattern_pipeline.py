"""End-to-end point-pattern analysis — the distributed version of a
spatstat session, run BEFORE rasterization decides what to keep (the
second-order structure is exactly what binning throws away):

    1. Ripley-K pair counts + semivariogram at multiple radii, with the
       EW/NS directional (anisotropic) variogram split (pair_stats)
    1b. Knox space-time interaction on a derived pseudo-timestamp (knox)
    2. nearest-neighbor G function + Clark-Evans aggregation index
       (nn_stats; R < 0.9 clustered, 0.9-1.1 ~CSR, > 1.1 dispersed —
       up to the 2.149 hexagonal-lattice maximum)
    2b. empty-space F function from the full grid's tile centers
       (nn_stats cross mode) and the van Lieshout-Baddeley J = (1-G)/(1-F)
    3. quartic KDE density surface + Nadaraya-Watson value smoothing at
       tile centers (kde_raster)
    4. Local Moran's I (LISA) quadrants over the binned counts — where
       the clustering lives (HH cores, LH/HL outliers) — plus the
       quadrat-count VMR / chi-square CSR test (quadrat_vmr)
    5. one JSON line: all global diagnostics + the densest KDE peaks +
       the LISA quadrant census

Every statistic here is the exact estimator (no sampling, no edge
correction) computed by bucketed candidate joins + single hash
aggregates — the plans scale to a point corpus, not a sample.

Run: python examples/pointpattern_pipeline.py [sf_dir]
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from seraster_spark import assign_tiles, grid_spec_for
from seraster_spark.driver_queries import docs_with_coords
from seraster_spark.expressions import unpack_rowcol
from seraster_spark.focal import local_morans_i, quadrat_vmr
from seraster_spark.pointpat import grid_centers, kde_raster, knox, nn_stats, pair_stats
from seraster_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("pointpattern_pipeline", master="local[8]", shuffle_partitions=8)

    d = docs_with_coords(spark, sf_dir)
    area = 3000.0 * 2000.0
    radii = [50.0, 100.0, 200.0]

    # 1. second-order structure: K(r) vs CSR expectation pi*r^2, plus the
    # EW/NS directional variogram (anisotropy check before kriging)
    pp = pair_stats(d, radii, area=area, split_axes=True).first()
    ripley = {
        f"r{int(r)}": {
            "pairs": pp[f"pc_{int(r)}"],
            "khat": pp[f"khat_{int(r)}"],
            "csr_expect": math.pi * r * r,
            "gamma": pp[f"gamma_{int(r)}"],
            "gamma_ew": pp[f"gamma_ew_{int(r)}"],
            "gamma_ns": pp[f"gamma_ns_{int(r)}"],
        }
        for r in radii
    }

    # 1b. space-time interaction (Knox): pairs close in space AND time vs
    # the independence expectation (t here is a derived pseudo-timestamp)
    kx = knox(
        d.withColumn("t", (F.col("doc_id") * 13 % 1000).cast("long")), 100.0, 50.0
    ).first()

    # 2. first-order structure: G function + Clark-Evans index
    nn = nn_stats(d.where(F.col("val").isNotNull()), radii).first()
    if nn["n_pts"] > 0 and nn["mean_nn"] is not None:
        clark_evans = nn["mean_nn"] / (0.5 * math.sqrt(area / nn["n_pts"]))
        g_curve = {f"r{int(r)}": nn[f"g_{int(r)}"] / nn["n_pts"] for r in radii}
    else:
        clark_evans, g_curve = None, {}

    # 2b. empty-space F function: cross-NN from ALL tile centers (empty
    # included) to the points; F below G at the same r ⇒ clustered
    spec = grid_spec_for(d, 100.0, square=True)
    ff = nn_stats(
        grid_centers(spark, spec), radii, other=d.where(F.col("val").isNotNull())
    ).first()
    f_curve = {f"r{int(r)}": ff[f"g_{int(r)}"] / ff["n_pts"] for r in radii}
    # J is informative only where F is neither empty nor saturated
    j_fn = next(
        (
            (1.0 - g_curve[f"r{int(r)}"]) / (1.0 - f_curve[f"r{int(r)}"])
            for r in radii
            if 0.05 < f_curve[f"r{int(r)}"] < 0.95 and g_curve
        ),
        None,
    )

    # 3. density + value surface at tile centers (res 100, bandwidth 150)
    kde = kde_raster(
        d, 100, 150, int(spec.xmin), int(spec.ymin),
        value_col="val", nrows=spec.nrows, ncols=spec.ncols,
    ).localCheckpoint()  # reused: peaks + join against LISA
    peaks = [
        {"row": r["row_i"], "col": r["col_i"],
         "density": round(r["kde_mean"], 4),
         "smoothed_val": round(r["kde_smooth"], 1)}
        for r in kde.orderBy(F.desc("kde_w")).limit(5).collect()
    ]

    # 4. where the autocorrelation lives: LISA over the binned counts
    row, col = unpack_rowcol("cell_id")
    raster = (
        assign_tiles(d, spec)
        .withColumn("row_i", row.cast("long"))
        .withColumn("col_i", col.cast("long"))
        .groupBy("row_i", "col_i")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    lisa = local_morans_i(raster, "n_docs")
    qv = quadrat_vmr(raster, "n_docs", spec.nrows * spec.ncols).first()
    census = {
        r["quadrant"]: r["n"]
        for r in lisa.groupBy("quadrant").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # how many of the top-5 KDE peaks sit on an HH (hot-core) LISA tile —
    # cross-confirmation between the density surface and the cluster map
    peak_keys = {(p["row"], p["col"]) for p in peaks}
    cores = sum(
        1
        for r in lisa.filter(F.col("quadrant") == "HH")
        .select("row_i", "col_i")
        .collect()
        if (r["row_i"], r["col_i"]) in peak_keys
    )

    print(json.dumps({
        "n_pts": nn["n_pts"],
        "ripley": ripley,
        "g_curve": g_curve,
        "f_curve": f_curve,
        # van Lieshout-Baddeley J = (1-G)/(1-F) at the least-saturated
        # radius (J > 1 dispersed, < 1 clustered, = 1 CSR); saturated
        # radii (F ~ 1) carry no signal
        "j_function": j_fn,
        "fg_verdict": (
            "no-signal" if j_fn is None
            else "dispersed" if j_fn > 1.05
            else "clustered" if j_fn < 0.95
            else "~CSR"
        ),
        "mean_nn_dist": nn["mean_nn"],
        "clark_evans_R": clark_evans,
        "verdict": (
            "clustered" if clark_evans is not None and clark_evans < 0.9
            else "dispersed/lattice" if clark_evans is not None and clark_evans > 1.1
            else "~CSR"
        ),
        "kde_peaks": peaks,
        "lisa_census": census,
        "kde_peaks_on_hh_tiles": cores,
        "quadrat_vmr": qv["q_vmr"],
        "quadrat_chi2": qv["q_chi2"],
        "knox": {
            "s_pairs": kx["s_pairs"], "t_pairs": kx["t_pairs"],
            "st_pairs": kx["st_pairs"], "expected": kx["knox_expected"],
            "ratio": kx["knox_ratio"],
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
