"""The three benchmark workloads.

Each workload stages its seeded inputs to Parquet, then runs a fixed list of
operations. An operation is one call into a package module's public
function plus the forcing of its output: ``checkpoint`` materializes it
(``localCheckpoint``, which the next operation reads as its input),
``noop`` scans every column into Spark's no-op sink, ``none`` is for calls
that write files themselves. Every operation has a check. The first
iteration after staging runs the deep checks (closed-form and brute-force
references); later iterations run the cheap invariants and require each
checkpointed output to match the first iteration's digest.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, FloatType

import gen
from seraster_spark import expressions as X
from seraster_spark import grid as G
from seraster_spark import io as IO
from seraster_spark import knn as KNN
from seraster_spark import permutate as PERM
from seraster_spark import pointpat as PP
from seraster_spark import rasterize as R
from seraster_spark import similarity as SIM
from seraster_spark import text as TX
from seraster_spark import vector as V
from seraster_spark.grid import GridSpec

SPEC_SQ = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 100.0, square=True)
SPEC_HX = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 100.0, square=False)
#: common grid of the rotated copies (rotation about the extent centre)
SPEC_ROT = GridSpec(-2000.0, -2000.0, 5000.0, 4000.0, 100.0, square=True)
SPEC_FINE = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 25.0, square=True)
#: kNN grid: coarse enough that one ring round completes nearly every query
SPEC_KNN = GridSpec(-50.0, -50.0, 3050.0, 2050.0, 50.0, square=True)
ORIGIN = (gen.EXTENT_X / 2, gen.EXTENT_Y / 2)


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Op:
    span: str  # "<module>.<function>" of the layer called
    label: str  # unique per workload
    call: Callable
    force: str = "checkpoint"
    check: Callable | None = None
    #: (num, den) pairs or counts for the traced run, from (span, ctx, out)
    extra: Callable | None = None
    task_records: bool = False


@dataclass
class Ctx:
    spark: object
    seed: int
    cfg: dict
    samples: dict
    work: str
    n_docs: int
    inputs: dict = field(default_factory=dict)
    out: dict = field(default_factory=dict)
    memo: dict = field(default_factory=dict)
    iter_dir: str = ""


def digest(df: DataFrame) -> tuple:
    """(rows, xor of row hashes) over every non-floating column: floating
    aggregates may differ in the last bit between runs, so their values are
    checked by each operation's own invariants instead."""
    cols = [
        f.name for f in df.schema.fields if not isinstance(f.dataType, (DoubleType, FloatType))
    ]
    r = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")).first()
    return r["n"], r["h"]


def force(op: Op, res):
    if op.force == "checkpoint":
        return res.localCheckpoint(eager=True)
    if op.force == "noop":
        res.write.format("noop").mode("overwrite").save()
    return res


def _stage(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _sum(df: DataFrame, expr) -> float:
    return df.agg(F.sum(expr).alias("s")).first()["s"]


def _sample_encode_check(ctx: Ctx, out: DataFrame, spec: GridSpec) -> None:
    k = ctx.samples["tile_assignments"]
    every = max(1, ctx.n_docs // k)
    rows = (
        out.filter(F.pmod(F.xxhash64(F.lit(ctx.seed), "doc_id"), F.lit(every)) == 0)
        .select("x", "y", "cell_id")
        .collect()
    )
    expect(len(rows) > 0, "empty tile sample")
    xs = np.array([r["x"] for r in rows])
    ys = np.array([r["y"] for r in rows])
    got = np.array([r["cell_id"] for r in rows], dtype=np.int64)
    bad = int((G.encode(xs, ys, spec) != got).sum())
    expect(bad == 0, f"{bad} of {len(rows)} sampled tile ids differ from grid.encode")


def _tile_sum_check(ctx: Ctx, out: DataFrame, by: str | None = None, copies: int = 1) -> None:
    if by is None:
        s = _sum(out, F.col("pixelval"))
        expect(s == ctx.n_docs, f"sum(pixelval)={s}, docs={ctx.n_docs}")
        return
    per = out.groupBy(by).agg(F.sum("pixelval").alias("s")).collect()
    expect(len(per) == copies, f"{len(per)} groups of {by}, expected {copies}")
    bad = [(r[by], r["s"]) for r in per if r["s"] != ctx.n_docs]
    expect(not bad, f"sum(pixelval) per {by} differs from docs={ctx.n_docs}: {bad[:3]}")


class Workload:
    name = ""

    def __init__(self, cfg: dict, samples: dict, seed: int, work: str):
        self.cfg = cfg
        self.ctx = Ctx(None, seed, cfg, samples, os.path.join(work, self.name), self.n_docs())

    def n_docs(self) -> int:
        raise NotImplementedError

    def stage(self, spark) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def warmup(self) -> None:
        """One forced call into the workload's main path on the staged
        inputs: JVM code generation and the Python workers start here,
        not in the first measured iteration."""
        raise NotImplementedError

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.work, "stage", name + ".parquet")

    def start_iteration(self, i: int) -> None:
        self.ctx.out.clear()
        self.ctx.iter_dir = os.path.join(self.ctx.work, "out", str(i))

    def end_iteration(self) -> None:
        self.ctx.out.clear()
        shutil.rmtree(self.ctx.iter_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# raster_pipeline


class RasterPipeline(Workload):
    """The jobs.py shape over the interleaved corpus: wide scan, tile
    assignment, a checkpointed spatially-partitioned write of the corpus
    (spans included), square/hex/feature rasters, a rotation permutation
    re-raster, a two-level pyramid and a GeoJSON-lines export."""

    name = "raster_pipeline"

    def n_docs(self) -> int:
        return self.cfg["docs"]

    def stage(self, spark) -> None:
        c = self.cfg
        self.ctx.spark = spark
        corpus = gen.corpus(
            spark, c["docs"], self.ctx.seed, c["words_per_span"], c["hot_tile_share"],
            partitions=spark.sparkContext.defaultParallelism,
        )
        _stage(corpus.drop("src", "is_near"), self.path("documents"))
        self.ctx.inputs["root"] = os.path.join(self.ctx.work, "stage")

    def _docs(self, ctx: Ctx) -> DataFrame:
        return IO.read_table(ctx.spark, ctx.inputs["root"], "documents")

    def warmup(self) -> None:
        R.rasterize_cell_type(self._docs(self.ctx), 100.0, fun="sum", spec=SPEC_SQ).localCheckpoint(
            eager=True
        )

    def ops(self) -> list[Op]:
        c = self.cfg
        units = [str(u) for u in range(c["write_units"])]

        def read(ctx):
            ctx.inputs["docs"] = self._docs(ctx)
            return ctx.inputs["docs"]

        def write_corpus(ctx):
            row, _ = X.unpack_rowcol(F.col("cell_id"))
            tiled = ctx.out["assign_tiles"].withColumn(
                "unit", F.pmod(row, F.lit(len(units))).cast("string")
            )
            return IO.checkpointed_write(tiled, os.path.join(ctx.iter_dir, "corpus"), "unit", units)

        def check_write(ctx, lineage, deep):
            rows = sum(r["rows"] for r in lineage["records"])
            expect(rows == ctx.n_docs, f"lineage rows {rows} != docs {ctx.n_docs}")
            expect(lineage["units_written"] == len(units), f"units written {lineage['units_written']}")
            if deep:
                self._span_survival(ctx, os.path.join(ctx.iter_dir, "corpus"))

        def check_mean(ctx, out, deep):
            if "values_total" not in ctx.memo:
                ctx.memo["values_total"] = _sum(
                    self._docs(ctx).select(F.explode("values").alias("v")), F.col("v.value")
                )
            want = ctx.memo["values_total"]
            got = _sum(out, F.col("pixelval") * F.col("num_cell"))
            expect(
                abs(got - want) <= 1e-9 * abs(want),
                f"sum(pixelval*num_cell)={got} != sum(values)={want}",
            )

        def rollup_l1(ctx):
            tiles, ctx.memo["spec_l1"] = R.rollup_tiles(
                ctx.out["raster_square"], SPEC_SQ, 2, keys=["kind"]
            )
            return tiles

        def rollup_l2(ctx):
            return R.rollup_tiles(ctx.out["rollup_l1"], ctx.memo["spec_l1"], 2, keys=["kind"])[0]

        def geojson(ctx):
            path = os.path.join(ctx.iter_dir, "geojson")
            V.write_geojson_lines(
                ctx.out["raster_square"], SPEC_SQ, path,
                properties=["kind", "pixelval", "num_cell"],
            )
            return path

        def check_geojson(ctx, path, deep):
            lines = ctx.spark.read.text(path)
            n, want = lines.count(), ctx.out["raster_square"].count()
            expect(n == want, f"{n} GeoJSON lines for {want} tiles")
            if deep:
                feat = json.loads(lines.first()["value"])
                ring = feat["geometry"]["coordinates"][0]
                expect(
                    feat["type"] == "Feature" and len(ring) == 5 and ring[0] == ring[-1],
                    "GeoJSON feature is not a closed square ring",
                )

        def perm_check(ctx, out, deep):
            if not deep:
                return
            n = out.count()
            expect(n == c["n_perm"] * ctx.n_docs, f"{n} rotated rows")

        # a sum raster's pixelval is a count, which the output digest covers,
        # so later iterations need only the digest
        sq = lambda ctx, out, deep: deep and _tile_sum_check(ctx, out)  # noqa: E731
        return [
            Op("io.read_table", "read_corpus", read, force="noop",
               extra=_scan_extra),
            Op("rasterize.assign_tiles", "assign_tiles",
               lambda ctx: R.assign_tiles(ctx.inputs["docs"], SPEC_SQ),
               check=lambda ctx, out, deep: deep and _sample_encode_check(ctx, out, SPEC_SQ),
               extra=_agg_extra),
            Op("io.checkpointed_write", "write_corpus", write_corpus, force="none",
               check=check_write, extra=_write_extra),
            Op("rasterize.rasterize_cell_type", "raster_square",
               lambda ctx: R.rasterize_cell_type(self._docs(ctx), 100.0, fun="sum", spec=SPEC_SQ),
               check=sq, extra=_agg_extra),
            Op("rasterize.rasterize_cell_type", "raster_hex",
               lambda ctx: R.rasterize_cell_type(self._docs(ctx), 100.0, fun="sum", spec=SPEC_HX),
               check=sq, extra=_agg_extra),
            Op("rasterize.rasterize_gene_expression", "raster_values_mean",
               lambda ctx: R.rasterize_gene_expression(
                   self._docs(ctx), 100.0, fun="mean", spec=SPEC_SQ),
               check=check_mean, extra=_agg_extra),
            Op("permutate.permutate_by_rotation", "rotate",
               lambda ctx: PERM.permutate_by_rotation(
                   self._docs(ctx).select("doc_id", "x", "y", "kind"), n_perm=c["n_perm"],
                   origin=ORIGIN),
               check=perm_check,
               extra=lambda s, ctx, out: {"fanout_ratio": (s.rows_out, ctx.n_docs)}),
            Op("rasterize.rasterize_cell_type", "raster_rotated",
               lambda ctx: R.rasterize_cell_type(
                   ctx.out["rotate"], 100.0, fun="sum", group_cols=["perm"], spec=SPEC_ROT),
               check=lambda ctx, out, deep: deep and _tile_sum_check(ctx, out, "perm", c["n_perm"]),
               extra=_agg_extra),
            Op("rasterize.rollup_tiles", "rollup_l1", rollup_l1, check=sq, extra=_agg_extra),
            Op("rasterize.rollup_tiles", "rollup_l2", rollup_l2, check=sq, extra=_agg_extra),
            Op("vector.write_geojson_lines", "geojson", geojson, force="none",
               check=check_geojson, extra=_write_extra),
        ]

    def _span_survival(self, ctx: Ctx, written: str) -> None:
        """Every document's (doc_id, pos, span) sequence read back from the
        checkpointed write hashes equal to the staged input's."""

        def per_doc(df):
            return df.select(
                "doc_id",
                F.xxhash64(
                    "doc_id",
                    F.transform("spans", lambda s, i: F.struct(i.alias("pos"), s.alias("span"))),
                ).alias("h"),
            )

        before = per_doc(self._docs(ctx)).alias("b")
        after = per_doc(ctx.spark.read.parquet(written)).alias("a")
        bad = (
            before.join(after, F.col("b.doc_id") == F.col("a.doc_id"), "full_outer")
            .filter(~F.col("b.h").eqNullSafe(F.col("a.h")))
            .count()
        )
        expect(bad == 0, f"{bad} documents' span sequences changed through the pipeline")


def _scan_extra(s, ctx, out) -> dict:
    scans = [n for n in s.nodes() if n.name.startswith("Scan")]
    return {
        "bytes_read": sum(n.metrics.get("size of files read", 0) for n in scans),
        "files_read": sum(n.metrics.get("number of files read", 0) for n in scans),
    }


def _agg_extra(s, ctx, out) -> dict:
    return {
        "peak_agg_mem_bytes": s.stages["peak_mem_bytes"],
        "spill_bytes": s.stages["spill_bytes"],
    }


def _write_extra(s, ctx, out) -> dict:
    return {"rows_written": s.stages["output_records"]}


# ---------------------------------------------------------------------------
# spatial_join


class SpatialJoin(Workload):
    """Slim points against a parcel-rectangle corpus: tile assignment, the
    cover + point-in-polygon corpus join, exact kNN and hot-tile pair
    statistics."""

    name = "spatial_join"

    def n_docs(self) -> int:
        return self.cfg["points"]

    def stage(self, spark) -> None:
        c, seed = self.cfg, self.ctx.seed
        self.ctx.spark = spark
        par = spark.sparkContext.defaultParallelism
        _stage(gen.points(spark, c["points"], seed, c["hot_tile_share"], par), self.path("points"))
        _stage(
            gen.parcels(spark, c["parcels"], seed, c["parcel_side_min"], c["parcel_side_max"]),
            self.path("parcels"),
        )
        _stage(gen.queries(spark, c["knn_queries"], seed), self.path("queries"))
        root = os.path.join(self.ctx.work, "stage")
        for t in ("parcels", "queries"):
            self.ctx.inputs[t] = IO.read_table(spark, root, t)
        self.ctx.inputs["root"] = root

    def warmup(self) -> None:
        pts = R.assign_tiles(IO.read_table(self.ctx.spark, self.ctx.inputs["root"], "points"), SPEC_FINE)
        V.spatial_join_corpus(pts, self.ctx.inputs["parcels"], SPEC_FINE).localCheckpoint(eager=True)

    def _points_np(self, ctx: Ctx):
        if "points_np" not in ctx.memo:
            rows = ctx.out["assign_points"].select("doc_id", "x", "y", "val").collect()
            ctx.memo["points_np"] = (
                np.array([r["doc_id"] for r in rows]),
                np.array([r["x"] for r in rows]),
                np.array([r["y"] for r in rows]),
                np.array([r["val"] for r in rows], dtype=np.int64),
            )
        return ctx.memo["points_np"]

    def ops(self) -> list[Op]:
        c = self.cfg
        hx0, hy0, hx1, hy1 = gen.HOT_TILE

        def read(ctx):
            ctx.inputs["points"] = IO.read_table(ctx.spark, ctx.inputs["root"], "points")
            return ctx.inputs["points"]

        def hot(df):
            return df.filter(
                (F.col("x") >= hx0) & (F.col("x") < hx1) & (F.col("y") >= hy0) & (F.col("y") < hy1)
            )

        def check_join(ctx, out, deep):
            if not deep:
                return
            ids, xs, ys, _ = self._points_np(ctx)
            k = ctx.samples["join_points"]
            pick = np.argsort(ids)[np.random.default_rng(ctx.seed).choice(len(ids), k, replace=False)]
            polys = ctx.inputs["parcels"].collect()
            pid = np.array([p["poly_id"] for p in polys])
            x0 = np.array([min(p["xs"]) for p in polys])
            x1 = np.array([max(p["xs"]) for p in polys])
            y0 = np.array([min(p["ys"]) for p in polys])
            y1 = np.array([max(p["ys"]) for p in polys])
            want = set()
            for j in pick:
                inside = (x0 <= xs[j]) & (xs[j] <= x1) & (y0 <= ys[j]) & (ys[j] <= y1)
                want.update((ids[j], int(p)) for p in pid[inside])
            sample = ctx.spark.createDataFrame([(str(ids[j]),) for j in pick], "doc_id string")
            got = {
                (r["doc_id"], r["poly_id"])
                for r in out.join(sample, "doc_id", "left_semi").select("doc_id", "poly_id").collect()
            }
            expect(got == want, f"join pairs differ on the sample: {len(got ^ want)} mismatches")

        def check_knn(ctx, out, deep):
            n = out.count()
            expect(n == c["knn_queries"] * c["knn_k"], f"{n} kNN rows")
            if not deep:
                return
            ids, xs, ys, _ = self._points_np(ctx)
            q = ctx.inputs["queries"].orderBy("query_id").limit(ctx.samples["knn_queries"]).collect()
            res = {}
            for r in out.filter(F.col("query_id") < len(q)).collect():
                res.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["dist"]))
            for qr in q:
                dx, dy = xs - qr["x"], ys - qr["y"]
                d = np.sqrt(dx * dx + dy * dy)
                order = np.lexsort((ids, d))[: c["knn_k"]]
                got = sorted(res.get(qr["query_id"], []))
                expect(
                    [g[1] for g in got] == list(ids[order])
                    and all(abs(g[2] - d[o]) <= 1e-9 for g, o in zip(got, order)),
                    f"kNN of query {qr['query_id']} differs from brute force",
                )

        def check_pairs(ctx, out, deep):
            if not deep:
                return
            ids, xs, ys, vals = self._points_np(ctx)
            m = (xs >= hx0) & (xs < hx1) & (ys >= hy0) & (ys < hy1)
            hxs, hys, hv = xs[m], ys[m], vals[m]
            row = out.first()
            expect(row["n_pts"] == len(hxs), f"n_pts {row['n_pts']} != {len(hxs)}")
            radii = sorted(c["pair_radii"])
            pc = np.zeros(len(radii), dtype=np.int64)
            sv = np.zeros(len(radii))
            for lo in range(0, len(hxs), 1000):
                dx = hxs[lo : lo + 1000, None] - hxs[None, :]
                dy = hys[lo : lo + 1000, None] - hys[None, :]
                d2 = dx * dx + dy * dy
                np.fill_diagonal(d2[:, lo : lo + 1000], np.inf)
                sq = (hv[lo : lo + 1000, None] - hv[None, :]) ** 2
                for k, r in enumerate(radii):
                    w = d2 <= r * r
                    pc[k] += int(w.sum())
                    sv[k] += sq[w].sum()
            got_pc = [row[cname] for cname in out.columns if cname.startswith("pc_")]
            got_sv = [row[cname] for cname in out.columns if cname.startswith("sv_")]
            expect(
                got_pc == list(pc) and np.allclose(got_sv, sv, rtol=1e-12, atol=0),
                f"pair counts {got_pc}/{got_sv} != brute force {list(pc)}/{list(sv)}",
            )

        def pair_extra(s, ctx, out):
            row = out.first()
            pc_max = [row[cn] for cn in out.columns if cn.startswith("pc_")][-1]
            return {
                "pair_hit_ratio": (pc_max // 2, s.inner_join_rows()),
                "max_task_records": s.max_task_records,
            }

        return [
            Op("io.read_table", "read_points", read, force="noop",
               extra=_scan_extra),
            Op("rasterize.assign_tiles", "assign_points",
               lambda ctx: R.assign_tiles(ctx.inputs["points"], SPEC_FINE),
               check=lambda ctx, out, deep: deep and _sample_encode_check(ctx, out, SPEC_FINE),
               extra=_agg_extra),
            Op("vector.spatial_join_corpus", "parcel_join",
               lambda ctx: V.spatial_join_corpus(
                   ctx.out["assign_points"], ctx.inputs["parcels"], SPEC_FINE),
               check=check_join,
               extra=lambda s, ctx, out: {"pip_hit_ratio": (s.rows_out, sum(
                   n.metrics.get("number of output rows", 0)
                   for n in s.nodes("ArrowEvalPython")))}),
            Op("knn.knn_join", "knn",
               lambda ctx: KNN.knn_join(
                   ctx.out["assign_points"], ctx.inputs["queries"], c["knn_k"], SPEC_KNN),
               check=check_knn,
               extra=lambda s, ctx, out: {
                   "rounds": sum(1 for ex in s.executions if any(n.name == "Window" for n in ex)),
                   "candidates_per_result": (s.inner_join_rows(), s.rows_out),
               }),
            Op("pointpat.pair_stats", "pair_stats_hot",
               lambda ctx: PP.pair_stats(hot(ctx.out["assign_points"]), c["pair_radii"],
                                         value_col="val", exact_int=False),
               check=check_pairs, extra=pair_extra, task_records=True),
        ]


# ---------------------------------------------------------------------------
# neardup


def _shingles(text: str, n: int = 3) -> set:
    toks = text.strip().lower().split()
    return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}


class NearDup(Workload):
    """Dedup of the interleaved corpus by its span text, with planted exact
    and near duplicates: exact dedup, MinHash-LSH candidates, incremental
    dedup against the corpus (anti-join and Bloom), embedding near-dups."""

    name = "neardup"

    def n_docs(self) -> int:
        return self.cfg["docs"]

    def stage(self, spark) -> None:
        c, seed = self.cfg, self.ctx.seed
        self.ctx.spark = spark
        par = spark.sparkContext.defaultParallelism
        n_orig, n_exact, n_near = gen.planted_counts(
            c["docs"], c["exact_dup_share"], c["near_dup_share"]
        )
        corpus = gen.corpus(
            spark, c["docs"], seed, c["words_per_span"], c["hot_tile_share"],
            c["exact_dup_share"], c["near_dup_share"], partitions=par,
        )
        _stage(corpus.drop("src", "is_near"), self.path("documents"))
        _stage(
            corpus.filter(F.col("src").isNotNull()).select("doc_id", "src", "is_near"),
            self.path("truth"),
        )
        _stage(gen.embeddings(spark, c["docs"], seed, n_orig, par), self.path("embeddings"))
        _stage(
            gen.incoming(spark, c["incoming_docs"], seed, c["docs"], n_orig, c["words_per_span"]),
            self.path("incoming"),
        )
        root = os.path.join(self.ctx.work, "stage")
        for t in ("embeddings", "incoming", "truth"):
            self.ctx.inputs[t] = IO.read_table(spark, root, t)
        self.ctx.inputs["root"] = root
        self.ctx.memo["planted"] = (n_exact, n_near)

    def warmup(self) -> None:
        SIM.cosine_near_duplicates(
            self.ctx.inputs["embeddings"], threshold=self.cfg["cosine_threshold"],
            dim=gen.EMBED_DIM, id_col="doc_id", vec_col="embedding",
        ).localCheckpoint(eager=True)

    def _docs_text(self, ctx: Ctx) -> DataFrame:
        docs = IO.read_table(ctx.spark, ctx.inputs["root"], "documents")
        return docs.select("doc_id", gen.doc_text(F.col("spans")).alias("text"))

    def _truth(self, ctx: Ctx):
        if "truth" not in ctx.memo:
            ctx.memo["truth"] = [
                (r["doc_id"], r["src"], r["is_near"]) for r in ctx.inputs["truth"].collect()
            ]
        return ctx.memo["truth"]

    def _planted_pairs(self, ctx: Ctx, near_too: bool) -> set:
        return {
            (min(d, s), max(d, s)) for d, s, near in self._truth(ctx) if near_too or not near
        }

    def ops(self) -> list[Op]:
        c = self.cfg

        def check_exact(ctx, out, deep):
            n_exact, _ = ctx.memo["planted"]
            dups = out.filter(~F.col("is_canonical")).count()
            expect(dups == n_exact, f"{dups} non-canonical docs, planted {n_exact}")
            if deep:
                h = {r["doc_id"]: r["content_hash"] for r in out.select("doc_id", "content_hash").collect()}
                miss = [p for p in self._planted_pairs(ctx, False) if h[p[0]] != h[p[1]]]
                expect(not miss, f"{len(miss)} planted exact duplicates not grouped")

        def _pairs(out, col):
            return {(r["id_a"], r["id_b"]): r[col] for r in out.collect()}

        def check_minhash(ctx, out, deep):
            if not deep:
                return
            got = _pairs(out, "jaccard")
            miss = self._planted_pairs(ctx, True) - set(got)
            expect(not miss, f"{len(miss)} planted duplicates not recalled by MinHash-LSH")
            ids = {i for p in got for i in p}
            texts = {
                r["doc_id"]: _shingles(r["text"])
                for r in self._docs_text(ctx).filter(F.col("doc_id").isin(list(ids))).collect()
            }
            for (a, b), jac in got.items():
                sa, sb = texts[a], texts[b]
                true = len(sa & sb) / len(sa | sb)
                expect(
                    true >= c["jaccard_threshold"] and abs(true - jac) <= 1e-9,
                    f"pair ({a}, {b}) reported jaccard {jac}, re-verified {true}",
                )

        def check_new(ctx, out, deep):
            if "new_ids" not in ctx.memo:
                ctx.memo["new_ids"] = {
                    r["doc_id"] for r in ctx.inputs["incoming"].filter("is_new").collect()
                }
            got = {r["doc_id"] for r in out.select("doc_id").collect()}
            want = ctx.memo["new_ids"]
            expect(got == want, f"new documents differ: {len(got ^ want)} mismatches")

        def check_cosine(ctx, out, deep):
            if not deep:
                return
            got = _pairs(out, "cosine")
            miss = self._planted_pairs(ctx, True) - set(got)
            expect(not miss, f"{len(miss)} planted embedding duplicates not recalled")
            ids = {i for p in got for i in p}
            vec = {
                r["doc_id"]: np.asarray(r["embedding"])
                for r in ctx.inputs["embeddings"].filter(F.col("doc_id").isin(list(ids))).collect()
            }
            for (a, b), cos in got.items():
                va, vb = vec[a], vec[b]
                true = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                expect(
                    true >= c["cosine_threshold"] - 1e-12 and abs(true - cos) <= 1e-9,
                    f"pair ({a}, {b}) reported cosine {cos}, re-verified {true}",
                )

        def new_docs(method):
            def call(ctx):
                return TX.new_documents(
                    ctx.inputs["incoming"].drop("is_new"), self._docs_text(ctx),
                    method=method, bloom_bits=c["bloom_bits"],
                )
            return call

        def bloom_extra(s, ctx, out):
            # the probe: a left-outer join of the hashes to the filter's
            # words, then the bit-mask filter (sketch.bloom_maybe_contains)
            def rows(pred):
                return sum(n.metrics.get("number of output rows", 0) for n in s.nodes() if pred(n))

            probed = rows(lambda n: "LeftOuter" in n.desc and "word_ix#" in n.desc)
            maybe = rows(lambda n: n.name == "Filter" and "_bm#" in n.desc)
            return {"bloom_bypass_share": (probed - maybe, probed)}

        return [
            Op("text.exact_dedup", "exact_dedup",
               lambda ctx: TX.exact_dedup(self._docs_text(ctx)).drop("text"),
               check=check_exact,
               extra=lambda s, ctx, out: {"verify_hit_ratio": (
                   out.filter(F.col("dup_group_size") > 1).count(), s.rows_out)}),
            Op("text.minhash_lsh_candidates", "minhash",
               lambda ctx: TX.minhash_lsh_candidates(
                   self._docs_text(ctx), verify_threshold=c["jaccard_threshold"],
                   max_bucket_size=c["minhash_max_bucket"]),
               check=check_minhash,
               extra=lambda s, ctx, out: {
                   "verify_hit_ratio": (s.rows_out, s.inner_join_rows(last_only=True))}),
            Op("text.new_documents", "new_docs_antijoin", new_docs("antijoin"),
               check=check_new, extra=bloom_extra),
            Op("text.new_documents", "new_docs_bloom", new_docs("bloom"),
               check=check_new, extra=bloom_extra),
            Op("similarity.cosine_near_duplicates", "cosine",
               lambda ctx: SIM.cosine_near_duplicates(
                   ctx.inputs["embeddings"], threshold=c["cosine_threshold"],
                   dim=gen.EMBED_DIM, id_col="doc_id", vec_col="embedding"),
               check=check_cosine,
               extra=lambda s, ctx, out: {
                   "verify_hit_ratio": (s.rows_out, s.inner_join_rows(last_only=True))}),
        ]


WORKLOADS = {w.name: w for w in (RasterPipeline, SpatialJoin, NearDup)}
