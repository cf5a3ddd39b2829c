"""pair_stats: Ripley-K pair counts + semivariogram over a point corpus."""

import numpy as np
import pytest

from seraster_spark import pointpat


def _naive(px, py, v, radii, area=None):
    """Brute-force ordered-pair replay (the completeness oracle)."""
    dx = px[:, None] - px[None, :]
    dy = py[:, None] - py[None, :]
    d2 = dx * dx + dy * dy
    np.fill_diagonal(d2, np.inf)
    sq = (v[:, None] - v[None, :]) ** 2
    out = {"n_pts": len(px)}
    for r in radii:
        m = d2 <= r * r
        lbl = pointpat._rlabel(r)
        pc = int(m.sum())
        sv = int(sq[m].sum())
        out[f"pc_{lbl}"] = pc
        out[f"sv_{lbl}"] = sv
        out[f"gamma_{lbl}"] = sv / (2.0 * pc) if pc else None
        if area is not None:
            out[f"khat_{lbl}"] = (area * pc) / (len(px) * (len(px) - 1.0))
    return out


def _df(spark, px, py, v):
    rows = [
        (int(i), float(x), float(y), int(val))
        for i, (x, y, val) in enumerate(zip(px, py, v))
    ]
    return spark.createDataFrame(rows, "doc_id long, x double, y double, val long")


def test_pair_stats_matches_naive(spark):
    """Engine (bucketed candidate join) ≡ brute-force all-pairs replay on
    random integer points, both join shapes, multiple radii spanning
    sub-bucket to multi-bucket distances."""
    rng = np.random.default_rng(11)
    px = rng.integers(0, 400, 300).astype(float)
    py = rng.integers(0, 300, 300).astype(float)
    v = rng.integers(0, 50, 300)
    radii = [10.0, 40.0, 90.0]
    want = _naive(px, py, v, radii, area=400.0 * 300.0)
    for bc in (True, False):
        got = pointpat.pair_stats(
            _df(spark, px, py, v), radii, area=400.0 * 300.0, broadcast_side=bc
        ).collect()[0].asDict()
        for k, wv in want.items():
            if isinstance(wv, float):
                assert got[k] == pytest.approx(wv, abs=0, rel=0), (k, bc)
            else:
                assert got[k] == wv, (k, bc)


def test_pair_stats_boundary(spark):
    """Points EXACTLY r_max apart, straddling bucket gridlines — the
    9-neighbor cover must still find every pair (d ≤ r_max ⇒ adjacent
    buckets), and pairs at distance exactly r count as within."""
    # colinear points at exact bucket-size spacing, one pair diagonal
    px = np.array([0.0, 100.0, 200.0, 100.0])
    py = np.array([0.0, 0.0, 0.0, 100.0])
    v = np.array([1, 2, 3, 4])
    got = pointpat.pair_stats(_df(spark, px, py, v), [100.0]).collect()[0].asDict()
    want = _naive(px, py, v, [100.0])
    assert got["pc_100"] == want["pc_100"] == 6  # 3 unordered pairs at d=100
    assert got["sv_100"] == want["sv_100"]


def test_pair_stats_null_and_nonfinite_dropped(spark):
    rows = [
        (1, 0.0, 0.0, 5),
        (2, 3.0, 4.0, 7),
        (3, None, 1.0, 9),
        (4, float("nan"), 1.0, 9),
        (5, 1.0, 1.0, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, x double, y double, val long")
    got = pointpat.pair_stats(df, [10.0]).collect()[0].asDict()
    assert got["n_pts"] == 2
    assert got["pc_10"] == 2  # one unordered pair at d=5, ordered count 2
    assert got["sv_10"] == 2 * (7 - 5) ** 2
    assert got["gamma_10"] == pytest.approx(2.0)  # (7-5)^2 / 2


def test_pair_stats_no_pairs_in_radius(spark):
    px = np.array([0.0, 500.0])
    py = np.array([0.0, 0.0])
    v = np.array([1, 2])
    got = pointpat.pair_stats(_df(spark, px, py, v), [5.0]).collect()[0].asDict()
    assert got["pc_5"] == 0 and got["sv_5"] == 0
    assert got["gamma_5"] is None


def test_pair_stats_duplicate_coords_and_labels(spark):
    """Coincident points pair at d=0; fractional radius gets a safe label."""
    px = np.array([1.0, 1.0, 1.0])
    py = np.array([2.0, 2.0, 2.0])
    v = np.array([10, 20, 30])
    got = pointpat.pair_stats(_df(spark, px, py, v), [2.5]).collect()[0].asDict()
    assert got["pc_2p5"] == 6
    assert got["sv_2p5"] == 2 * (100 + 400 + 100)


def test_pair_stats_rejects_bad_radii(spark):
    df = _df(spark, np.array([0.0]), np.array([0.0]), np.array([1]))
    with pytest.raises(ValueError, match="non-empty"):
        pointpat.pair_stats(df, [])
    with pytest.raises(ValueError, match="positive"):
        pointpat.pair_stats(df, [0.0, 10.0])


def test_exact_int_rejects_fractional_input(spark):
    """exact_int=True must not truncate fractional input to BIGINT: two
    points 0.9 apart would land on one integer point (d=0) and count as a
    pair within r=0.5. The query fails naming the column; exact_int=False
    gives the true answer (no pair)."""
    df = _df(spark, np.array([0.0, 0.9]), np.array([0.0, 0.0]), np.array([1, 2]))
    with pytest.raises(Exception, match="column 'x' has a fractional"):
        pointpat.pair_stats(df, [0.5]).collect()
    with pytest.raises(Exception, match="column 'x' has a fractional"):
        pointpat.nn_stats(df, [0.5]).collect()
    got = pointpat.pair_stats(df, [0.5], exact_int=False).collect()[0]
    assert got["pc_0p5"] == 0
    got = pointpat.nn_stats(df, [0.5], exact_int=False).collect()[0]
    assert (got["nn_found"], got["g_0p5"]) == (0, 0)
    # a fractional VALUE is truncated the same way (sv would be 0, not 0.25)
    schema = "doc_id long, x double, y double, val double"
    vals = spark.createDataFrame([(0, 0.0, 0.0, 1.0), (1, 3.0, 4.0, 1.5)], schema)
    with pytest.raises(Exception, match="column 'val' has a fractional"):
        pointpat.pair_stats(vals, [10.0]).collect()
    # integral doubles still pass
    ok = spark.createDataFrame([(0, 0.0, 0.0, 1.0), (1, 3.0, 4.0, 3.0)], schema)
    got = pointpat.pair_stats(ok, [10.0]).collect()[0]
    assert (got["pc_10"], got["sv_10"]) == (2, 8)


def test_pair_stats_no_python_in_plan(spark):
    """Pure Column plan — no Arrow/Python eval nodes."""
    df = _df(spark, np.array([0.0, 1.0]), np.array([0.0, 1.0]), np.array([1, 2]))
    plan = pointpat.pair_stats(df, [10.0])._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_pair_stats_split_axes_matches_naive(spark):
    """Directional (anisotropic) variogram: EW = |dx|>|dy|, NS = |dy|>|dx|,
    exact diagonal ties in neither — replayed brute-force, and an
    anisotropic field (value = x) must show gamma_ew >> gamma_ns."""
    rng = np.random.default_rng(71)
    px = rng.integers(0, 200, 200).astype(float)
    py = rng.integers(0, 200, 200).astype(float)
    v = px.astype(int)  # value gradient along x -> EW pairs differ most
    radii = [20.0, 60.0]
    dx = px[:, None] - px[None, :]
    dy = py[:, None] - py[None, :]
    d2 = dx * dx + dy * dy
    np.fill_diagonal(d2, np.inf)
    sq = (v[:, None] - v[None, :]) ** 2
    ew = np.abs(dx) > np.abs(dy)
    ns = np.abs(dy) > np.abs(dx)
    got = (
        pointpat.pair_stats(_df(spark, px, py, v), radii, split_axes=True)
        .collect()[0]
        .asDict()
    )
    for r in radii:
        lbl = pointpat._rlabel(r)
        m = d2 <= r * r
        assert got[f"pc_{lbl}"] == int(m.sum())
        assert got[f"pc_ew_{lbl}"] == int((m & ew).sum())
        assert got[f"pc_ns_{lbl}"] == int((m & ns).sum())
        assert got[f"sv_ew_{lbl}"] == int(sq[m & ew].sum())
        assert got[f"sv_ns_{lbl}"] == int(sq[m & ns].sum())
        # diagonal ties belong to neither class (derivable by difference)
        assert got[f"pc_ew_{lbl}"] + got[f"pc_ns_{lbl}"] <= got[f"pc_{lbl}"]
    assert got["gamma_ew_60"] > 3 * got["gamma_ns_60"]  # anisotropy detected


def _naive_cross(ax, ay, av, bx, by, bv, radii, area=None):
    dx = ax[:, None] - bx[None, :]
    dy = ay[:, None] - by[None, :]
    d2 = dx * dx + dy * dy
    sq = (av[:, None] - bv[None, :]) ** 2
    out = {"n_pts": len(ax), "n_other": len(bx)}
    for r in radii:
        m = d2 <= r * r
        lbl = pointpat._rlabel(r)
        pc = int(m.sum())
        out[f"pc_{lbl}"] = pc
        out[f"sv_{lbl}"] = int(sq[m].sum())
        out[f"gamma_{lbl}"] = out[f"sv_{lbl}"] / (2.0 * pc) if pc else None
        if area is not None:
            out[f"khat_{lbl}"] = (area * pc) / (len(ax) * len(bx))
    return out


def test_pair_stats_cross_matches_naive(spark):
    """Bivariate (cross-K) mode ≡ brute-force A×B replay on both join
    shapes — no self-pair exclusion, khat normalized by n_pts·n_other."""
    rng = np.random.default_rng(47)
    ax = rng.integers(0, 300, 150).astype(float)
    ay = rng.integers(0, 200, 150).astype(float)
    av = rng.integers(0, 30, 150)
    bx = rng.integers(0, 300, 80).astype(float)
    by = rng.integers(0, 200, 80).astype(float)
    bv = rng.integers(0, 30, 80)
    radii = [15.0, 60.0]
    want = _naive_cross(ax, ay, av, bx, by, bv, radii, area=300.0 * 200.0)
    for bc in (True, False):
        got = (
            pointpat.pair_stats(
                _df(spark, ax, ay, av),
                radii,
                area=300.0 * 200.0,
                broadcast_side=bc,
                other=_df(spark, bx, by, bv),
            )
            .collect()[0]
            .asDict()
        )
        for k, wv in want.items():
            if isinstance(wv, float):
                assert got[k] == pytest.approx(wv, abs=0, rel=0), (k, bc)
            else:
                assert got[k] == wv, (k, bc)


def test_pair_stats_cross_coincident_counts(spark):
    """A cross pair at d=0 is REAL (distinct populations, no self-pair
    exclusion even when ids collide across the two sets)."""
    a = _df(spark, np.array([5.0]), np.array([5.0]), np.array([10]))
    b = _df(spark, np.array([5.0, 100.0]), np.array([5.0, 5.0]), np.array([4, 9]))
    got = pointpat.pair_stats(a, [10.0], other=b).collect()[0].asDict()
    assert got["n_pts"] == 1 and got["n_other"] == 2
    assert got["pc_10"] == 1  # only the coincident pair is within 10
    assert got["sv_10"] == (10 - 4) ** 2


# ---------------------------------------------------------------------------
# nn_stats — empirical G function / nearest-neighbor distances


def _naive_nn(px, py, radii):
    """Brute-force per-point NN replay within r_max (the completeness oracle)."""
    dx = px[:, None] - px[None, :]
    dy = py[:, None] - py[None, :]
    d2 = (dx * dx + dy * dy).astype(np.int64)
    np.fill_diagonal(d2, np.iinfo(np.int64).max)
    nnd2 = d2.min(axis=1)
    r_max = max(radii)
    within = nnd2[nnd2 <= int(r_max * r_max)]
    out = {
        "n_pts": len(px),
        "nn_found": int(len(within)),
        "nn_d2_sum": int(within.sum()) if len(within) else 0,
        "nn_q20_sum": int(np.floor(np.sqrt(within.astype(float)) * 1048576.0).sum())
        if len(within)
        else 0,
    }
    out["mean_nn"] = (
        (out["nn_q20_sum"] / 1048576.0) / out["nn_found"] if out["nn_found"] else None
    )
    for r in radii:
        out[f"g_{pointpat._rlabel(r)}"] = int((within <= int(r * r)).sum())
    return out


def test_nn_stats_matches_naive(spark):
    """Engine (bucket join + per-point min) ≡ brute-force NN replay on
    random integer points, both join shapes; r_max small enough that some
    points have no in-range neighbor (exercises nn_found < n_pts)."""
    rng = np.random.default_rng(23)
    px = rng.integers(0, 400, 250).astype(float)
    py = rng.integers(0, 300, 250).astype(float)
    v = rng.integers(0, 5, 250)
    radii = [4.0, 8.0, 16.0]
    want = _naive_nn(px, py, radii)
    assert 0 < want["nn_found"] < want["n_pts"]  # the interesting regime
    for bc in (True, False):
        got = (
            pointpat.nn_stats(_df(spark, px, py, v), radii, broadcast_side=bc)
            .collect()[0]
            .asDict()
        )
        for k, wv in want.items():
            if isinstance(wv, float):
                assert got[k] == pytest.approx(wv, abs=0, rel=0), (k, bc)
            else:
                assert got[k] == wv, (k, bc)
    # exact_int=False path: doubles are exact at these magnitudes, so the
    # counts and sums must still equal the integer replay numerically
    got_f = (
        pointpat.nn_stats(_df(spark, px, py, v), radii, exact_int=False)
        .collect()[0]
        .asDict()
    )
    for k, wv in want.items():
        assert float(got_f[k]) == float(wv) if wv is not None else got_f[k] is None, k


def test_nn_stats_candidate_overreach_filtered(spark):
    """A corner-bucket candidate farther than r_max must NOT become a
    point's 'nearest neighbor': isolated point with only an out-of-range
    candidate in a diagonal bucket reports no NN at all."""
    # buckets of size 10: (0,0) and (19,19) are diagonal-bucket neighbors
    # at d² = 722 > r_max² = 100 — candidate generated, must be filtered.
    px = np.array([0.0, 19.0])
    py = np.array([0.0, 19.0])
    v = np.array([1, 2])
    got = pointpat.nn_stats(_df(spark, px, py, v), [10.0]).collect()[0].asDict()
    assert got["n_pts"] == 2
    assert got["nn_found"] == 0
    assert got["nn_d2_sum"] == 0 and got["nn_q20_sum"] == 0
    assert got["mean_nn"] is None
    assert got["g_10"] == 0


def test_nn_stats_exact_boundary_and_ties(spark):
    """NN at EXACTLY r counts as within r; coincident points give d²=0."""
    px = np.array([0.0, 100.0, 100.0, 500.0, 530.0])
    py = np.array([0.0, 0.0, 0.0, 0.0, 40.0])
    v = np.array([1, 2, 3, 4, 5])
    got = pointpat.nn_stats(_df(spark, px, py, v), [50.0, 100.0]).collect()[0].asDict()
    # NNs: p0→d=100, p1/p2→d=0 (coincident), p3/p4→d=50 (3-4-5 triangle)
    assert got["nn_found"] == 5
    assert got["nn_d2_sum"] == 10000 + 0 + 0 + 2500 + 2500
    assert got["g_50"] == 4  # everyone but p0
    assert got["g_100"] == 5
    assert got["mean_nn"] == pytest.approx((100 + 0 + 0 + 50 + 50) / 5.0)


def test_nn_stats_single_point_and_bad_radii(spark):
    df = _df(spark, np.array([3.0]), np.array([4.0]), np.array([1]))
    got = pointpat.nn_stats(df, [10.0]).collect()[0].asDict()
    assert got["n_pts"] == 1 and got["nn_found"] == 0 and got["mean_nn"] is None
    with pytest.raises(ValueError, match="non-empty"):
        pointpat.nn_stats(df, [])
    with pytest.raises(ValueError, match="positive"):
        pointpat.nn_stats(df, [-1.0])


def _naive_cross_nn(ax, ay, bx, by, radii):
    dx = ax[:, None] - bx[None, :]
    dy = ay[:, None] - by[None, :]
    d2 = (dx * dx + dy * dy).astype(np.int64)
    nnd2 = d2.min(axis=1)
    r_max = max(radii)
    within = nnd2[nnd2 <= int(r_max * r_max)]
    out = {
        "n_pts": len(ax),
        "nn_found": int(len(within)),
        "nn_d2_sum": int(within.sum()) if len(within) else 0,
        "nn_q20_sum": int(np.floor(np.sqrt(within.astype(float)) * 1048576.0).sum())
        if len(within)
        else 0,
    }
    out["mean_nn"] = (
        (out["nn_q20_sum"] / 1048576.0) / out["nn_found"] if out["nn_found"] else None
    )
    for r in radii:
        out[f"g_{pointpat._rlabel(r)}"] = int((within <= int(r * r)).sum())
    return out


def test_nn_stats_cross_matches_naive(spark):
    """Cross-NN (the F-function / nearest-facility shape) ≡ brute-force
    A→B replay on both join shapes; coincident cross points are real d=0
    neighbors (no self-pair exclusion even when ids collide)."""
    rng = np.random.default_rng(59)
    ax = rng.integers(0, 300, 180).astype(float)
    ay = rng.integers(0, 200, 180).astype(float)
    bx = rng.integers(0, 300, 40).astype(float)
    by = rng.integers(0, 200, 40).astype(float)
    radii = [8.0, 20.0, 40.0]
    want = _naive_cross_nn(ax, ay, bx, by, radii)
    assert 0 < want["nn_found"] < want["n_pts"]
    av, bv = np.zeros(len(ax), int), np.zeros(len(bx), int)
    for bc in (True, False):
        got = (
            pointpat.nn_stats(
                _df(spark, ax, ay, av), radii, broadcast_side=bc,
                other=_df(spark, bx, by, bv),
            )
            .collect()[0]
            .asDict()
        )
        for k, wv in want.items():
            if isinstance(wv, float):
                assert got[k] == pytest.approx(wv, abs=0, rel=0), (k, bc)
            else:
                assert got[k] == wv, (k, bc)
    # coincident cross point with the SAME id on both sides: real d=0 NN
    a = _df(spark, np.array([7.0]), np.array([7.0]), np.array([0]))
    b = _df(spark, np.array([7.0]), np.array([7.0]), np.array([0]))
    row = pointpat.nn_stats(a, [5.0], other=b).collect()[0]
    assert row["nn_found"] == 1 and row["nn_d2_sum"] == 0 and row["g_5"] == 1


def test_nn_stats_no_python_in_plan(spark):
    df = _df(spark, np.array([0.0, 1.0]), np.array([0.0, 1.0]), np.array([1, 2]))
    plan = pointpat.nn_stats(df, [10.0])._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# knox — space-time interaction


def _df_t(spark, px, py, t):
    rows = [
        (int(i), float(x), float(y), int(tv))
        for i, (x, y, tv) in enumerate(zip(px, py, t))
    ]
    return spark.createDataFrame(rows, "doc_id long, x double, y double, t long")


def test_knox_matches_naive(spark):
    """Knox ≡ brute-force replay on random integer (x, y, t) points, both
    join shapes: space, time, and space-AND-time ordered pair counts plus
    the independence-expected count and ratio."""
    rng = np.random.default_rng(83)
    px = rng.integers(0, 250, 200).astype(float)
    py = rng.integers(0, 250, 200).astype(float)
    t = rng.integers(0, 500, 200)
    r, tau = 30.0, 20.0
    dx = px[:, None] - px[None, :]
    dy = py[:, None] - py[None, :]
    d2 = dx * dx + dy * dy
    np.fill_diagonal(d2, np.inf)
    dt = np.abs(t[:, None] - t[None, :]).astype(float)
    np.fill_diagonal(dt, np.inf)
    s = int((d2 <= r * r).sum())
    tt = int((dt <= tau).sum())
    st = int(((d2 <= r * r) & (dt <= tau)).sum())
    n = len(px)
    for bc in (True, False):
        got = (
            pointpat.knox(_df_t(spark, px, py, t), r, tau, broadcast_side=bc)
            .collect()[0]
            .asDict()
        )
        assert got["n_pts"] == n and got["s_pairs"] == s, bc
        assert got["t_pairs"] == tt and got["st_pairs"] == st, bc
        exp = (s * tt) / (n * (n - 1.0))
        assert got["knox_expected"] == pytest.approx(exp, rel=0, abs=0), bc
        assert got["knox_ratio"] == pytest.approx(st / exp, rel=0, abs=0), bc
    assert 0 < st < min(s, tt)  # the interesting regime


def test_knox_boundaries_and_disjoint_covers(spark):
    """Pairs at EXACTLY d=r / |dt|=tau count; a time-close pair that is
    spatially far shows up in t_pairs only (its own 1-D cover), and a
    space-close pair far in time in s_pairs only."""
    # p0-p1: d=100 exactly, dt=500 (time-far). p0-p2: d=5000, dt=50 exactly.
    px = np.array([0.0, 100.0, 5000.0])
    py = np.array([0.0, 0.0, 0.0])
    t = np.array([0, 500, 50])
    got = pointpat.knox(_df_t(spark, px, py, t), 100.0, 50.0).collect()[0].asDict()
    assert got["s_pairs"] == 2  # p0<->p1 at exactly r
    assert got["t_pairs"] == 2  # p0<->p2 at exactly tau
    assert got["st_pairs"] == 0
    with pytest.raises(ValueError, match="positive"):
        pointpat.knox(_df_t(spark, px, py, t), 0.0, 50.0)


def test_knox_fractional_thresholds_complete(spark):
    """Fractional radius/tau: the filters must use the TRUE thresholds —
    a rounded-up integer threshold (tau 19.5 → 20) would admit dt=20
    pairs the tau-sized bucket cover never joins (position-dependent
    undercount), and radius 1.9 → r²=4 would admit d=2 pairs likewise."""
    px = np.array([0.0, 17.0, 19.0, 300.0])
    py = np.array([0.0, 0.0, 0.0, 0.0])
    t = np.array([19, 39, 0, 20])
    # true thresholds: d(17,19)=2 > 1.9; dt(19,39)=20 > 19.5; dt(0,20)=20 > 19.5
    got = pointpat.knox(_df_t(spark, px, py, t), 1.9, 19.5).collect()[0].asDict()
    dx = px[:, None] - px[None, :]
    d2 = dx * dx
    np.fill_diagonal(d2, np.inf)
    dt = np.abs(t[:, None] - t[None, :]).astype(float)
    np.fill_diagonal(dt, np.inf)
    assert got["s_pairs"] == int((d2 <= 1.9 * 1.9).sum())
    assert got["t_pairs"] == int((dt <= 19.5).sum())
    assert got["st_pairs"] == int(((d2 <= 1.9 * 1.9) & (dt <= 19.5)).sum())


def test_knox_nan_time_dropped(spark):
    """NaN time coordinates are dropped like NaN x/y (not an ANSI crash,
    not a population-skewing passthrough)."""
    rows = [(1, 0.0, 0.0, 1.0), (2, 3.0, 0.0, 2.0), (3, 1.0, 0.0, float("nan"))]
    df = spark.createDataFrame(rows, "doc_id long, x double, y double, t double")
    got = pointpat.knox(df, 10.0, 5.0).collect()[0].asDict()
    assert got["n_pts"] == 2
    assert got["s_pairs"] == 2 and got["t_pairs"] == 2 and got["st_pairs"] == 2


def test_knox_exact_int_rejects_fractional_input(spark):
    """exact_int=True must not truncate fractional coordinates or times:
    points 0.9 apart would both land on x=0 and count as a space pair
    within r=0.5. The query fails naming the column; exact_int=False gives
    the true answer (no pair)."""
    schema = "doc_id long, x double, y double, t double"
    df = spark.createDataFrame([(0, 0.0, 0.0, 0.0), (1, 0.9, 0.0, 0.0)], schema)
    with pytest.raises(Exception, match="column 'x' has a fractional"):
        pointpat.knox(df, 0.5, 1.0).collect()
    got = pointpat.knox(df, 0.5, 1.0, exact_int=False).collect()[0]
    assert (got["s_pairs"], got["t_pairs"]) == (0, 2)
    times = spark.createDataFrame([(0, 0.0, 0.0, 0.6), (1, 5.0, 0.0, 1.4)], schema)
    with pytest.raises(Exception, match="column 't' has a fractional"):
        pointpat.knox(times, 1.0, 0.5).collect()


def test_knox_no_python_in_plan(spark):
    df = _df_t(spark, np.array([0.0, 1.0]), np.array([0.0, 1.0]), np.array([1, 2]))
    plan = pointpat.knox(df, 10.0, 5.0)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


# ---------------------------------------------------------------------------
# kde_raster — quartic kernel density surface at tile centers


def _naive_kde(px, py, v, res, h, xmin, ymin, nrows=None, ncols=None):
    """Brute-force replay: every tile center within h of any point."""
    out = {}
    for x, y, val in zip(px, py, v):
        c0 = int(np.floor((x - h - xmin) / res)) - 1
        c1 = int(np.floor((x + h - xmin) / res)) + 1
        r0 = int(np.floor((y - h - ymin) / res)) - 1
        r1 = int(np.floor((y + h - ymin) / res)) + 1
        for ci in range(c0, c1 + 1):
            if ncols is not None and not (0 <= ci < ncols):
                continue
            for ri in range(r0, r1 + 1):
                if nrows is not None and not (0 <= ri < nrows):
                    continue
                dx2 = int(2 * x) - (2 * xmin + (2 * ci + 1) * res)
                dy2 = int(2 * y) - (2 * ymin + (2 * ri + 1) * res)
                d2 = dx2 * dx2 + dy2 * dy2
                if d2 <= 4 * h * h:
                    w = (4 * h * h - d2) ** 2
                    n, ws, wv = out.get((ri, ci), (0, 0, 0))
                    out[(ri, ci)] = (n + 1, ws + w, wv + int(val) * w)
    return out


def test_kde_raster_matches_naive(spark):
    """Engine (sequence-explode fan-out + hash agg) ≡ brute-force replay on
    random integer points: every tile, all columns, odd AND even res (the
    doubled-coordinate trick must make half-integer centers exact)."""
    rng = np.random.default_rng(31)
    px = rng.integers(0, 200, 120).astype(float)
    py = rng.integers(0, 150, 120).astype(float)
    v = rng.integers(0, 9, 120)
    for res, h in [(10, 25), (7, 15)]:
        want = _naive_kde(px, py, v, res, h, 0, 0)
        rows = pointpat.kde_raster(
            _df(spark, px, py, v), res, h, 0, 0, value_col="val"
        ).collect()
        got = {
            (r["row_i"], r["col_i"]): (r["kde_n"], r["kde_w"], r["kde_wv"])
            for r in rows
        }
        assert got == want, (res, h)
        # kde_smooth = Nadaraya-Watson Σvw/Σw, NULL iff Σw == 0
        for r in rows:
            if r["kde_w"] == 0:
                assert r["kde_smooth"] is None
            else:
                assert r["kde_smooth"] == r["kde_wv"] / r["kde_w"]
    # exact_int=False (the bench path): double arithmetic is exact at these
    # magnitudes (w ≤ (2h)⁴ ≪ 2⁵³), so values must still match the replay
    got_f = {
        (r["row_i"], r["col_i"]): (r["kde_n"], r["kde_w"], r["kde_wv"])
        for r in pointpat.kde_raster(
            _df(spark, px, py, v), 10, 25, 0, 0, value_col="val", exact_int=False
        ).collect()
    }
    want_f = _naive_kde(px, py, v, 10, 25, 0, 0)
    assert {k: tuple(float(x) for x in t) for k, t in got_f.items()} == {
        k: tuple(float(x) for x in t) for k, t in want_f.items()
    }


def test_kde_raster_empty_tile_emitted_and_mean(spark):
    """A tile containing NO point still gets a density row when a point is
    within h of its center; kde_mean = kde_w / (16 h⁴) exactly."""
    # single point at (5,5); res 10, h 20: tile (0,0) center (5,5) d=0,
    # tile (0,1) center (15,5) d=10 — no point inside it, still emitted.
    got = {
        (r["row_i"], r["col_i"]): r
        for r in pointpat.kde_raster(
            _df(spark, np.array([5.0]), np.array([5.0]), np.array([1])), 10, 20, 0, 0
        ).collect()
    }
    h2sq = 4 * 20 * 20
    assert got[(0, 0)]["kde_w"] == h2sq**2  # d=0 ⇒ w=(4h²)²
    d2 = 20 * 20  # doubled coords: center (15,5) → dx2=20
    assert got[(0, 1)]["kde_w"] == (h2sq - d2) ** 2
    assert got[(0, 1)]["kde_mean"] == (h2sq - d2) ** 2 / float(16 * 20**4)
    # boundary: center at EXACTLY d=h contributes w=0 but counts in kde_n
    assert got[(0, 2)]["kde_n"] == 1 and got[(0, 2)]["kde_w"] == 0  # d=20=h


def test_kde_raster_grid_clip_and_offgrid_point(spark):
    """nrows/ncols clip candidates; a point off-grid by more than the
    clipped range must yield NO out-of-bounds tiles (the descending-
    sequence trap) but still contributes to in-bounds tiles within h."""
    px = np.array([5.0, 95.0, 500.0])
    py = np.array([5.0, 5.0, 5.0])
    v = np.array([1, 1, 1])
    rows = pointpat.kde_raster(
        _df(spark, px, py, v), 10, 15, 0, 0, nrows=1, ncols=4
    ).collect()
    assert all(0 <= r["col_i"] < 4 and r["row_i"] == 0 for r in rows)
    want = _naive_kde(px, py, v, 10, 15, 0, 0, nrows=1, ncols=4)
    got = {(r["row_i"], r["col_i"]): r["kde_n"] for r in rows}
    assert got == {k: n for k, (n, _, _) in want.items()}


def test_kde_raster_fanout_guard_and_bad_args(spark):
    df = _df(spark, np.array([0.0]), np.array([0.0]), np.array([1]))
    with pytest.raises(ValueError, match="max_fanout"):
        pointpat.kde_raster(df, 1, 1000, 0, 0)
    with pytest.raises(ValueError, match="positive"):
        pointpat.kde_raster(df, 0, 10, 0, 0)


def test_kde_raster_exact_int_rejects_fractional_input(spark):
    """exact_int=True must not truncate a doubled coordinate or a value to
    BIGINT: x = 0.25 doubles to 0.5 and v = 1.5 would sum as 1. Both fail
    the query naming the column; a half-integer coordinate doubles to an
    integer and matches the exact_int=False surface."""
    schema = "doc_id long, x double, y double, val double"
    quarter = spark.createDataFrame([(0, 0.25, 5.0, 1.0)], schema)
    with pytest.raises(Exception, match="column '2\\*x' has a fractional"):
        pointpat.kde_raster(quarter, 10, 20, 0, 0).collect()
    frac_v = spark.createDataFrame([(0, 5.0, 5.0, 1.5)], schema)
    with pytest.raises(Exception, match="column 'val' has a fractional"):
        pointpat.kde_raster(frac_v, 10, 20, 0, 0, value_col="val").collect()
    half = spark.createDataFrame([(0, 2.5, 5.0, 3.0)], schema)

    def surface(exact_int):
        rows = pointpat.kde_raster(
            half, 10, 20, 0, 0, value_col="val", exact_int=exact_int
        ).collect()
        return {(r["row_i"], r["col_i"]): (r["kde_n"], float(r["kde_w"])) for r in rows}

    assert surface(True) == surface(False)


def test_kde_raster_no_python_in_plan(spark):
    df = _df(spark, np.array([0.0]), np.array([0.0]), np.array([1]))
    plan = (
        pointpat.kde_raster(df, 10, 20, 0, 0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "ArrowEval" not in plan
