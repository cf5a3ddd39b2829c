"""kNN via k-ring expansion vs brute-force numpy oracle (FIXTURES.md T4)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from seraster_spark import fixtures, knn
from seraster_spark.bbox import grid_spec_for


@pytest.fixture(scope="module")
def queries_pdf():
    return fixtures.knn_queries_pdf(40, seed=7)


@pytest.fixture(scope="module")
def queries(spark, queries_pdf):
    return spark.createDataFrame(queries_pdf)


def brute_force(docs_pdf, queries_pdf, k):
    px = docs_pdf.x.to_numpy()
    py = docs_pdf.y.to_numpy()
    ids = docs_pdf.doc_id.to_numpy()
    out = {}
    for _, q in queries_pdf.iterrows():
        d = np.hypot(px - q.x, py - q.y)
        order = np.lexsort((ids, d))[:k]
        out[q.query_id] = [(ids[i], d[i]) for i in order]
    return out


@pytest.mark.parametrize("square,k", [(True, 1), (True, 5), (True, 15), (False, 5)])
def test_knn_matches_bruteforce(spark, docs, docs_pdf, queries, queries_pdf, square, k):
    spec = grid_spec_for(docs, 100.0, square=square)
    got = knn.knn_join(docs, queries, k, spec, initial_radius=2).toPandas()
    exp = brute_force(docs_pdf, queries_pdf, k)
    assert set(got["query_id"]) == set(queries_pdf["query_id"])
    for qid, grp in got.groupby("query_id"):
        grp = grp.sort_values("rank")
        assert len(grp) == k
        exp_ids = [t[0] for t in exp[qid]]
        exp_d = np.array([t[1] for t in exp[qid]])
        assert list(grp["doc_id"]) == exp_ids
        np.testing.assert_allclose(grp["dist"].to_numpy(), exp_d, atol=1e-9)


def test_knn_hex_sparse_exact(spark):
    """Sparse data on a FINE hex grid: true neighbors live many rings out and
    the hex completeness bound is exercised hard. Regression for the
    overclaiming (R+1)·res − 2·res/√3 bound, which certified queries complete
    while a closer point sat in an unscanned hex-distance-(R+1) cell (the
    safe bound is (√3/2)·(R+1)·res − 2·res/√3)."""
    from seraster_spark.grid import GridSpec

    rng = np.random.default_rng(3)
    pts = rng.uniform(0.0, 50.0, size=(40, 2))
    import pandas as pd

    docs_pdf = pd.DataFrame(
        {"doc_id": np.arange(40), "x": pts[:, 0], "y": pts[:, 1]}
    )
    qpts = rng.uniform(0.0, 50.0, size=(12, 2))
    queries_pdf = pd.DataFrame(
        {"query_id": [f"q{i}" for i in range(12)], "x": qpts[:, 0], "y": qpts[:, 1]}
    )
    docs = spark.createDataFrame(docs_pdf)
    queries = spark.createDataFrame(queries_pdf)
    # res=1 over a 50-unit extent: ~0.016 points per hex, so ring 1 almost
    # never completes and radius doubles several times (re-expansion path)
    spec = GridSpec(-1.0, -1.0, 51.0, 51.0, 1.0, square=False)
    got = knn.knn_join(docs, queries, 3, spec, initial_radius=1, max_radius=256).toPandas()
    exp = brute_force(docs_pdf, queries_pdf, 3)
    assert set(got["query_id"]) == set(queries_pdf["query_id"])
    for qid, grp in got.groupby("query_id"):
        grp = grp.sort_values("rank")
        assert list(grp["doc_id"]) == [t[0] for t in exp[qid]], qid


def test_knn_distributed_rounds_no_driver_collect(spark, docs, docs_pdf):
    """Many queries (all 2000 docs as queries — doc↔doc kNN): the rounds loop
    must stay distributed; result is a DataFrame whose lineage starts at the
    checkpointed per-round outputs, and spot-checked rows match brute force."""
    spec = grid_spec_for(docs, 100.0, square=True)
    queries = docs.select(F.col("doc_id").alias("query_id"), "x", "y")
    out = knn.knn_join(docs, queries, 3, spec, initial_radius=2)
    assert out.count() == 3 * 2000
    qsub = docs_pdf.iloc[:5][["doc_id", "x", "y"]].rename(columns={"doc_id": "query_id"})
    exp = brute_force(docs_pdf, qsub, 3)
    got = out.filter(F.col("query_id").isin(list(qsub["query_id"]))).toPandas()
    for qid, grp in got.groupby("query_id"):
        assert list(grp.sort_values("rank")["doc_id"]) == [t[0] for t in exp[qid]]


def test_knn_deterministic(spark, docs, queries):
    spec = grid_spec_for(docs, 100.0, square=True)
    a = knn.knn_join(docs, queries, 5, spec).toPandas().sort_values(["query_id", "rank"])
    b = knn.knn_join(docs, queries, 5, spec).toPandas().sort_values(["query_id", "rank"])
    assert (a.reset_index(drop=True)["doc_id"] == b.reset_index(drop=True)["doc_id"]).all()


def test_knn_resolution_invariant(spark, docs, queries):
    """The probe-grid resolution is a search-schedule knob, not a semantics
    knob: results at a coarse and a fine grid are identical (the bench
    density-matches the grid relying on exactly this)."""
    coarse = grid_spec_for(docs, 200.0, square=True)
    fine = grid_spec_for(docs, 25.0, square=True)
    a = knn.knn_join(docs, queries, 5, coarse).toPandas().sort_values(
        ["query_id", "rank"]
    ).reset_index(drop=True)
    b = knn.knn_join(docs, queries, 5, fine).toPandas().sort_values(
        ["query_id", "rank"]
    ).reset_index(drop=True)
    assert (a["doc_id"] == b["doc_id"]).all()
    assert (a["dist"] == b["dist"]).all()


def test_candidate_cells_match_numpy_kring(spark, docs):
    """The ring fan-out knn_join runs (_candidate_cells: broadcast offsets
    crossJoin, pure Column math) yields exactly grid.kring's cells, square
    and hex."""
    from seraster_spark import expressions as X
    from seraster_spark import grid

    for square in (True, False):
        spec = grid_spec_for(docs, 100.0, square=square)
        qdf = (
            docs.select(F.col("doc_id").alias("_qid"), "x", "y")
            .limit(50)
            .withColumn("_qcell", F.expr(X.cell_id_sql("`x`", "`y`", spec)))
            .localCheckpoint()
        )
        cells = {r["_qid"]: r["_qcell"] for r in qdf.collect()}
        got = {}
        for r in knn._candidate_cells(spark, qdf, spec, 2).collect():
            got.setdefault(r["_qid"], []).append(r["cell_id"])
        ids = list(cells)
        exp = grid.kring(np.array([cells[i] for i in ids], dtype=np.int64), 2, spec)
        for i, ring in zip(ids, exp):
            assert sorted(got[i]) == sorted(ring.tolist()), (square, i)
