"""Point-pattern pair statistics: Ripley's K pair counts + semivariogram.

The classic second-order point-pattern statistics (Ripley 1977; Matheron's
semivariogram) over a point corpus — the point-side counterpart of the
tile-based spatial stats in :mod:`focal` (Moran's I, Gi*). Not in the
reference (SEraster rasterizes *for* downstream spatial statistics,
vignette:253-257; R/main.R has no point-pattern stats); first-class here
because pair structure is exactly what rasterization trades away.

Algorithm (exact within ``max(radii)``, no sampling, no edge correction —
the naive estimator; counts are raw ordered pairs):

1. Bucket every point into a square grid of cell size ``max(radii)``
   widened one part in 2²⁰ (pure Column ``floor`` math; see
   :func:`_cover_divisor` for why the widening makes the lemma hold on
   raw floats, not just integer coords). Any pair the float d² predicate
   accepts lies in the same or 8-adjacent buckets — the candidate join
   is complete for grids under ~2³¹ buckets per axis.
2. Fan each point out to its 9 neighbor buckets (literal-offset
   ``explode`` of a slim (id, x, y, v) projection) and equi-join back on
   the bucket key. Each unordered pair matches exactly once per
   direction (a point owns ONE bucket; the 9 neighbor keys are
   distinct), so no dedup pass is needed.  ``broadcast_side=True``
   broadcasts the un-exploded side for dimension-sized inputs; the
   default shuffle shape is the corpus-scale plan (slim payload, AQE
   skew split on hot buckets).
3. One global hash aggregate with map-side combine: candidates stream
   through partial aggregation and never materialize. Per radius r:
   ``pc_<r>``  ordered pair count with d² ≤ r²,
   ``sv_<r>``  Σ (vᵢ−vⱼ)² over those pairs (exact BIGINT when
   ``exact_int``), ``gamma_<r>`` = sv / (2·pc) — the semivariogram
   estimate γ̂(r), and (when ``area`` is given) ``khat_<r>`` =
   area·pc / (n·(n−1)) — the naive Ripley K̂(r).

Scale shape: the only shuffles are the bucket equi-join (slim columns,
9× fan-out on one side) and the 1-row final aggregate; no window over
the pair set, no driver collect. At 100 TB the statistic itself is the
bound — pairs within r grow with n·density·r², so pick radii that keep
the REAL pair count tractable, not this plan's overhead.

Bit-exactness (with ``exact_int=True``, integer-valued coords/values):
every dx/dy/dv, d², squared diff, and sum is BIGINT (Spark ANSI raises
loudly on overflow rather than wrapping); γ̂ and K̂ are single
correctly-rounded IEEE divisions on exact integers — bit-identical in
any engine that replays the same expression, which is what the DuckDB
twin in driver_queries does via a full quadratic self-join (genuinely
independent: no bucketing).  With ``exact_int=False`` all per-pair
arithmetic is correctly-rounded double ops in a fixed order — still
deterministic per pair, but the Σ(vᵢ−vⱼ)² aggregate is order-sensitive
for non-integer values (documented; counts stay exact).
``pair_stats``/``nn_stats``/``knox``/``kde_raster`` with ``exact_int=True``
fail the query on a finite fractional coordinate, time or value rather
than truncate it to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _rlabel(r: float) -> str:
    """Column-name-safe radius label: 50.0 → '50', 2.5 → '2p5'."""
    return str(int(r)) if float(r).is_integer() else str(r).replace(".", "p")


def _cover_divisor(r_max: float) -> float:
    """Bucket size for the candidate covers: ``r_max`` widened by 2⁻²⁰.

    Why not ``r_max`` itself: the float d² the radius predicate compares can
    round DOWN across the threshold (a pair with true distance up to
    ~r_max·(1+3·2⁻⁵³) still qualifies), and the float division ``x / B``
    inside the bucket index adds up to ``(|x|/B)·2⁻⁵³`` of absolute error per
    point — so with B exactly r_max, a qualifying pair can straddle buckets
    two apart (found by Hypothesis: points (0, 1) and (0, −1.11e−308),
    r_max = 1). Widening B by 2⁻²⁰ restores the 9-neighbor lemma with margin:
    the pair's bucket-index gap is ≤ (1+3·2⁻⁵³)/(1+2⁻²⁰) + 2·(|x|/B)·2⁻⁵³
    < 1 whenever |coord|/B < 2³¹ — i.e. for any grid of fewer than ~2 billion
    buckets per axis. Over-generation is free: membership is always decided
    by the exact d²/|dt| predicate, never by the cover, so results are
    identical — only completeness improves. (Cross-checked by the
    ``test_pointpat_bucket_cover_complete`` Hypothesis fuzz, which replays
    this exact arithmetic.)"""
    return r_max * (1.0 + 2.0**-20)


def _integral(col: str, name: str, fn: str) -> Column:
    """``exact_int`` contract guard on a slim per-point column: the BIGINT
    casts downstream would silently truncate a finite fractional value, so
    one fails the query instead (row-local ``raise_error`` in the
    projection, no extra job). ±inf passes through unchanged."""
    c = F.col(col)
    return F.when((c % 1 == 0) | (F.abs(c) == F.lit(float("inf"))), c).otherwise(
        F.raise_error(
            f"{fn}: exact_int=True needs integral values, but column {name!r} "
            "has a fractional one; pass exact_int=False for non-integer input"
        )
    ).alias(col)


def _bucket_candidates(
    slim: DataFrame,
    r_max: float,
    broadcast_side: bool,
    exact_int: bool,
    right_slim: DataFrame | None = None,
    with_axis: bool = False,
    half: bool = False,
) -> DataFrame:
    """Ordered candidate pairs from the r_max bucket grid's 9-neighbor cover.

    ``slim`` must carry ``_pid``, ``_x``, ``_y`` and optionally ``_v``.
    Returns one row per ordered (left, right) candidate with left's id as
    ``_pid``, the exact squared distance as ``_d2``, and — when ``_v`` is
    present — the squared value difference as ``_sq``. Complete for every
    pair within ``r_max`` (same or 8-adjacent buckets); each ordered pair
    appears exactly once (a point owns ONE bucket; the 9 neighbor keys
    are distinct). Callers must still filter ``_d2`` against their radius
    — corner buckets admit pairs out to ``r_max·2√2``.

    ``right_slim`` switches to BIVARIATE mode: candidates are (slim ×
    right_slim) pairs — no self-pair exclusion (the two sets are distinct
    populations; coincident cross points at d=0 are real pairs).

    ``with_axis`` adds ``_ax``: 0 when |dx| > |dy| (E–W-dominant pair),
    1 when |dy| > |dx| (N–S), 2 on the diagonal tie — an
    integer-decidable 45°-sector split (exact, unlike irrational
    angle-based sectors).

    When ``slim`` carries ``_t`` (a time coordinate), the output also
    carries ``_adt`` = |tᵢ − tⱼ| — the space–time (Knox) shape.

    ``half=True`` (univariate only) generates each UNORDERED pair exactly
    once instead of once per direction, halving both the explode fan-out
    (5 offsets instead of 9) and the join output: the offset set
    {(0,1), (1,−1), (1,0), (1,1)} is antisymmetric-free (never contains
    both d and −d) yet together with its negations covers all 8 neighbor
    directions, and same-bucket pairs take a ``_pid < _bid`` tie-break —
    so symmetric aggregates recover the ordered totals by doubling
    (exact for BIGINT counts/sums). Requires orderable unique ids; the
    output then also carries ``_bid`` (callers that need per-point state
    re-emit both directions after their distance filter).
    """
    has_v = "_v" in slim.columns
    has_t = "_t" in slim.columns
    bsize = _cover_divisor(r_max)
    bx = F.floor(F.col("_x") / F.lit(bsize))
    by = F.floor(F.col("_y") / F.lit(bsize))
    rcols = [
        F.col("_pid").alias("_bid"),
        F.col("_x").alias("_bx_pt"),
        F.col("_y").alias("_by_pt"),
        bx.alias("_jx"),
        by.alias("_jy"),
    ]
    if has_v:
        rcols.insert(3, F.col("_v").alias("_bv"))
    if has_t:
        rcols.insert(3, F.col("_t").alias("_bt"))
    right = (slim if right_slim is None else right_slim).select(*rcols)
    if half and right_slim is not None:
        raise ValueError("half cover is defined for the univariate case only")
    offs = (
        [(0, 0), (0, 1), (1, -1), (1, 0), (1, 1)]
        if half
        else [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    )
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("ox"),
                F.lit(dy).alias("oy"),
                F.lit(dx == 0 and dy == 0).alias("c0"),
            )
            for dx, dy in offs
        ]
    )
    lcols = ["_pid", "_x", "_y"] + (["_v"] if has_v else []) + (
        ["_t"] if has_t else []
    )
    left = slim.select(
        *lcols,
        F.explode(offsets).alias("_o"),
        bx.alias("_bx0"),
        by.alias("_by0"),
    ).select(
        *lcols,
        (F.col("_bx0") + F.col("_o.ox")).alias("_jx"),
        (F.col("_by0") + F.col("_o.oy")).alias("_jy"),
        F.col("_o.c0").alias("_c0"),
    )
    rhs = F.broadcast(right) if broadcast_side else right
    cand = left.join(rhs, ["_jx", "_jy"])
    if right_slim is None:
        if half:
            # same-bucket pairs once via the id tie-break; cross-bucket
            # offsets are inherently one-directional (and never self-pairs)
            cand = cand.where(~F.col("_c0") | (F.col("_pid") < F.col("_bid")))
        else:
            cand = cand.where(F.col("_pid") != F.col("_bid"))

    if exact_int:
        dx = F.col("_x").cast("long") - F.col("_bx_pt").cast("long")
        dy = F.col("_y").cast("long") - F.col("_by_pt").cast("long")
    else:
        dx = F.col("_x") - F.col("_bx_pt")
        dy = F.col("_y") - F.col("_by_pt")
    out = [F.col("_pid"), (dx * dx + dy * dy).alias("_d2")]
    if half:
        out.insert(1, F.col("_bid"))
    if has_v:
        dv = F.col("_v") - F.col("_bv")
        out.append((dv * dv).alias("_sq"))
    if with_axis:
        adx, ady = F.abs(dx), F.abs(dy)
        out.append(
            F.when(adx > ady, F.lit(0))
            .when(ady > adx, F.lit(1))
            .otherwise(F.lit(2))
            .alias("_ax")
        )
    if has_t:
        out.append(F.abs(F.col("_t") - F.col("_bt")).alias("_adt"))
    return cand.select(*out)


def pair_stats(
    points: DataFrame,
    radii: list[float],
    value_col: str = "val",
    x_col: str = "x",
    y_col: str = "y",
    id_col: str = "doc_id",
    area: float | None = None,
    broadcast_side: bool = False,
    exact_int: bool = True,
    other: DataFrame | None = None,
    split_axes: bool = False,
) -> DataFrame:
    """1-row DataFrame of cumulative pair statistics at each radius.

    Columns: ``n_pts`` then per radius r (label via :func:`_rlabel`):
    ``pc_<r>`` (BIGINT ordered pair count), ``sv_<r>`` (BIGINT squared
    value-difference sum), ``gamma_<r>`` (DOUBLE, NULL when no pairs),
    and ``khat_<r>`` (DOUBLE) when ``area`` is given.

    Rows with NULL/NaN coordinates or NULL value are dropped (both
    sides of every pair must be well-defined). With ``exact_int=True``
    a finite fractional coordinate or value fails the query (it would
    otherwise be truncated to BIGINT). Duplicate coordinates are fine.
    Self-pairs are excluded by ``id_col`` inequality, so ids must be
    unique for exact semantics.

    ``split_axes=True`` adds the DIRECTIONAL (anisotropic) variogram:
    per radius, ``pc_ew_<r>``/``sv_ew_<r>`` over pairs with |dx| > |dy|
    and ``pc_ns_<r>``/``sv_ns_<r>`` over |dy| > |dx| (exact diagonal
    ties belong to neither — derivable as total − ew − ns), plus
    ``gamma_ew_<r>``/``gamma_ns_<r>``. The 45°-sector split is
    integer-decidable ⇒ bit-exact, unlike irrational angle sectors;
    γ̂_ew ≫ γ̂_ns (or vice versa) reveals anisotropy a pooled
    variogram averages away — the standard geostatistics diagnostic
    before directional kriging.

    ``other`` switches to the BIVARIATE statistics (Lotwick–Silverman
    cross-K; cross-variogram): pairs are (points × other) with NO
    self-pair exclusion — each cross pair counts once in that one
    direction, so ``pc`` is the plain cross count (spatstat Kcross
    convention), ``sv``/``gamma`` become the cross-variogram, an extra
    ``n_other`` column follows ``n_pts``, and ``khat_<r>`` =
    area·pc / (n_pts·n_other). K̂_AB > πr² ⇒ the two types attract;
    < ⇒ they repel. Same plan shape — one bucket equi-join, one global
    aggregate — with the A side exploding and the B side bucketed (put
    the SMALLER set on ``other`` with ``broadcast_side=True`` when it
    is dimension-sized).
    """
    if not radii:
        raise ValueError("radii must be non-empty")
    radii = sorted(float(r) for r in radii)
    if radii[0] <= 0:
        raise ValueError(f"radii must be positive, got {radii[0]}")
    r_max = radii[-1]

    def _slim(df: DataFrame) -> DataFrame:
        v = F.col(value_col)
        slim = df.select(
            F.col(id_col).alias("_pid"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
            (v if exact_int else v.cast("double")).alias("_v"),
        ).where(
            F.col("_x").isNotNull()
            & F.col("_y").isNotNull()
            & ~F.isnan("_x")
            & ~F.isnan("_y")
            & F.col("_v").isNotNull()
        )
        if not exact_int:
            return slim
        return slim.select(
            "_pid",
            _integral("_x", x_col, "pair_stats"),
            _integral("_y", y_col, "pair_stats"),
            _integral("_v", value_col, "pair_stats").cast("long").alias("_v"),
        )

    slim = _slim(points)
    oslim = _slim(other) if other is not None else None

    # univariate: HALF cover — each unordered pair joins once, the ordered
    # totals below are recovered by doubling (exact: BIGINT counts always;
    # BIGINT sums when exact_int — with floats only the documented
    # order-sensitivity of Σ changes, never the pair set)
    halved = oslim is None
    cand = _bucket_candidates(
        slim, r_max, broadcast_side, exact_int, right_slim=oslim,
        with_axis=split_axes, half=halved,
    ).select("_d2", "_sq", *(["_ax"] if split_axes else []))
    mult = F.lit(2).cast("long") if halved else F.lit(1).cast("long")

    def _pair_aggs(lbl_suffix: str, extra) -> list:
        """pc/sv aggregate pair under an extra predicate (axis class)."""
        out = []
        for r in radii:
            lbl = _rlabel(r) if not lbl_suffix else f"{lbl_suffix}_{_rlabel(r)}"
            # TRUE threshold as a double even when exact_int: a round()ed
            # integer threshold can exceed r² (frac(r²) ≥ 0.5) and admit
            # pairs beyond the cover's completeness guarantee (the knox bug
            # class); BIGINT-vs-DOUBLE comparison is exact below 2^53 and
            # identical in DuckDB
            r2 = F.lit(r * r)
            within = (F.col("_d2") <= r2) & extra
            out.append(
                (
                    F.coalesce(F.sum(within.cast("long")), F.lit(0).cast("long"))
                    * mult
                ).alias(f"pc_{lbl}")
            )
            sv = F.sum(F.when(within, F.col("_sq")).otherwise(F.lit(0)))
            if exact_int:
                sv = sv.cast("long")
            sv = F.coalesce(sv, F.lit(0).cast("long" if exact_int else "double"))
            out.append((sv * mult).alias(f"sv_{lbl}"))
        return out

    aggs = _pair_aggs("", F.lit(True))
    if split_axes:
        aggs += _pair_aggs("ew", F.col("_ax") == 0)
        aggs += _pair_aggs("ns", F.col("_ax") == 1)
    stats = cand.agg(*aggs)

    n_row = slim.agg(F.count(F.lit(1)).alias("n_pts"))
    out = n_row.crossJoin(stats)
    if oslim is not None:
        out = out.crossJoin(oslim.agg(F.count(F.lit(1)).alias("n_other")))

    cols = [F.col("n_pts")] + ([F.col("n_other")] if oslim is not None else [])
    khat_den = (
        (F.col("n_pts") * (F.col("n_pts") - F.lit(1)))
        if oslim is None
        else (F.col("n_pts") * F.col("n_other"))
    )
    for r in radii:
        lbl = _rlabel(r)
        pc = F.col(f"pc_{lbl}")
        sv = F.col(f"sv_{lbl}")
        cols += [
            pc,
            sv,
            F.try_divide(sv.cast("double"), (pc * F.lit(2)).cast("double")).alias(
                f"gamma_{lbl}"
            ),
        ]
        if area is not None:
            cols.append(
                F.try_divide(
                    F.lit(float(area)) * pc.cast("double"),
                    khat_den.cast("double"),
                ).alias(f"khat_{lbl}")
            )
    if split_axes:
        for ax in ("ew", "ns"):
            for r in radii:
                lbl = f"{ax}_{_rlabel(r)}"
                pc = F.col(f"pc_{lbl}")
                sv = F.col(f"sv_{lbl}")
                cols += [
                    pc,
                    sv,
                    F.try_divide(
                        sv.cast("double"), (pc * F.lit(2)).cast("double")
                    ).alias(f"gamma_{lbl}"),
                ]
    return out.select(*cols)


#: Dyadic quantization scale for per-point NN distances: 2^20. Scaling a
#: double by a power of two is an exponent shift (exact); floor is exact;
#: the BIGINT sum is order-independent — which is what makes the mean NN
#: distance bit-reproducible across engines.
_Q20 = 1048576.0


def nn_stats(
    points: DataFrame,
    radii: list[float],
    x_col: str = "x",
    y_col: str = "y",
    id_col: str = "doc_id",
    broadcast_side: bool = False,
    exact_int: bool = True,
    other: DataFrame | None = None,
) -> DataFrame:
    """Nearest-neighbor distance statistics: the empirical G function.

    First-order companion to :func:`pair_stats` (Ripley K counts pairs at
    ALL ranges ≤ r; G asks only about each point's single nearest
    neighbor — together the two standard point-pattern diagnostics,
    Diggle 2003 ch. 4; spatstat's ``Gest``/``nndist``). Not in the
    reference (SEraster has no point-pattern stats; R/main.R).

    ``other`` switches to CROSS nearest-neighbor mode: each ``points``
    row's NN is sought in ``other`` instead (no self-pair exclusion;
    a coincident cross point is a real d=0 neighbor). Two classics fall
    out: spatstat's empty-space F function (``points`` = a regular grid
    of sample locations, ``other`` = the data points — the CDF of
    point-to-pattern distance; compare F against G for the
    clustered/dispersed verdict) and "distance to nearest facility"
    (``points`` = customers, ``other`` = facilities; put a
    dimension-sized facility set on ``other`` with
    ``broadcast_side=True``).

    Exact within ``r_max = max(radii)`` (no sampling, no edge
    correction): per point, the minimum squared distance over the
    bucket-grid candidate cover filtered to ``d² ≤ r_max²`` — the true
    NN distance whenever the NN lies within ``r_max``; points whose NN
    is farther are counted in ``n_pts − nn_found``.

    Output (1 row):

    - ``n_pts``       points with non-NULL, non-NaN coords (with
      ``exact_int=True`` a finite fractional coord fails the query),
    - ``nn_found``    points whose NN is within r_max (BIGINT),
    - ``nn_d2_sum``   Σ min-d² (exact BIGINT when ``exact_int``),
    - ``nn_q20_sum``  Σ floor(√min-d² · 2²⁰) (BIGINT — see ``_Q20``),
    - ``mean_nn``     (nn_q20_sum / 2²⁰) / nn_found — mean NN distance
      truncated to the 2⁻²⁰ grid; two divisions on exact values in a
      fixed order ⇒ bit-identical in any engine replaying the same
      expression (the Clark–Evans numerator),
    - ``g_<r>``       per radius r: count of points with NN within r —
      the unnormalized empirical G (CDF of NN distance; BIGINT).

    Plan shape: the 9-neighbor bucket join of :func:`_bucket_candidates`
    (slim (id, x, y) payload — no value column), then ONE groupBy(id)
    min (map-side combining; per-point state is a single BIGINT) and a
    1-row global aggregate. No windows, no driver collect; candidates
    stream through partial aggregation. Same 100 TB story as
    :func:`pair_stats` — the real bound is the candidate count
    n·density·r_max², so size r_max to the question.
    """
    if not radii:
        raise ValueError("radii must be non-empty")
    radii = sorted(float(r) for r in radii)
    if radii[0] <= 0:
        raise ValueError(f"radii must be positive, got {radii[0]}")
    r_max = radii[-1]

    def _slim(df: DataFrame) -> DataFrame:
        slim = df.select(
            F.col(id_col).alias("_pid"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        ).where(
            F.col("_x").isNotNull()
            & F.col("_y").isNotNull()
            & ~F.isnan("_x")
            & ~F.isnan("_y")
        )
        if not exact_int:
            return slim
        return slim.select(
            "_pid",
            _integral("_x", x_col, "nn_stats"),
            _integral("_y", y_col, "nn_stats"),
        )

    slim = _slim(points)
    oslim = _slim(other) if other is not None else None

    # TRUE threshold as a double even when exact_int (see pair_stats): exact
    # BIGINT-vs-DOUBLE comparison below 2^53, never a rounded-up integer
    rmax2 = F.lit(r_max * r_max)
    if oslim is None:
        # HALF cover: each unordered pair joins once; after the distance
        # filter (which keeps only true pairs — far fewer rows than
        # candidates) both endpoints' (id, d²) states are re-emitted, so
        # every point still sees the d² of each of its in-range neighbors
        # and the per-point min is unchanged
        pairs = _bucket_candidates(
            slim, r_max, broadcast_side, exact_int, half=True
        ).where(F.col("_d2") <= rmax2)
        both = pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("_pid").alias("p"), F.col("_d2").alias("d")),
                    F.struct(F.col("_bid").alias("p"), F.col("_d2").alias("d")),
                )
            ).alias("_e")
        ).select(F.col("_e.p").alias("_pid"), F.col("_e.d").alias("_d2"))
    else:
        both = _bucket_candidates(
            slim, r_max, broadcast_side, exact_int, right_slim=oslim
        ).where(F.col("_d2") <= rmax2)
    nnd = both.groupBy("_pid").agg(F.min("_d2").alias("_nnd2"))

    aggs = [
        F.count(F.lit(1)).alias("nn_found"),
        F.coalesce(
            F.sum("_nnd2").cast("long" if exact_int else "double"), F.lit(0)
        ).alias("nn_d2_sum"),
        F.coalesce(
            F.sum(F.floor(F.sqrt(F.col("_nnd2").cast("double")) * F.lit(_Q20))),
            F.lit(0),
        ).alias("nn_q20_sum"),
    ]
    for r in radii:
        r2 = F.lit(r * r)
        aggs.append(
            F.coalesce(
                F.sum((F.col("_nnd2") <= r2).cast("long")), F.lit(0).cast("long")
            ).alias(f"g_{_rlabel(r)}")
        )
    stats = nnd.agg(*aggs)

    n_row = slim.agg(F.count(F.lit(1)).alias("n_pts"))
    mean_nn = F.try_divide(
        F.col("nn_q20_sum").cast("double") / F.lit(_Q20),
        F.col("nn_found").cast("double"),
    ).alias("mean_nn")
    return n_row.crossJoin(stats).select(
        "n_pts",
        "nn_found",
        "nn_d2_sum",
        "nn_q20_sum",
        mean_nn,
        *[f"g_{_rlabel(r)}" for r in radii],
    )


def knox(
    points: DataFrame,
    radius: float,
    tau: float,
    x_col: str = "x",
    y_col: str = "y",
    t_col: str = "t",
    id_col: str = "doc_id",
    broadcast_side: bool = False,
    exact_int: bool = True,
) -> DataFrame:
    """Knox space–time interaction statistic (Knox 1964; the standard
    epidemiology test for space–time clustering — disease outbreaks,
    event bursts): of all ordered point pairs, how many are close in
    space (d ≤ radius), close in time (|dt| ≤ tau), and close in BOTH —
    versus the count expected if space- and time-closeness were
    independent, ``s_pairs·t_pairs / (n·(n−1))``.

    Plan: TWO independent candidate covers, each complete for its own
    closeness relation and each matching every qualifying ordered pair
    exactly once —

    1. the 2-D bucket grid of size ``radius`` (:func:`_bucket_candidates`
       with ``_t`` carried through, so ``st_pairs`` falls out of the
       same join), and
    2. a 1-D time-bucket join (``floor(t/tau)``, 3 literal offsets) for
       ``t_pairs`` — time-close pairs that are spatially FAR never enter
       the space cover, so they need their own.

    Both covers stream through single global aggregates; nothing
    materializes. With ``exact_int`` every d², |dt| and count is exact
    BIGINT (a finite fractional coordinate or ``t`` fails the query, as
    in :func:`pair_stats`; NaN times are dropped with the NaN
    coordinates); the thresholds are
    compared as the TRUE ``radius²``/``tau`` doubles, so fractional radii stay complete
    against their same-sized bucket covers (a rounded-up threshold
    would admit pairs the cover never joins) — exact while
    d² < 2⁵³. ``knox_expected`` (two exact counts multiplied then
    divided in doubles, fixed order) and ``knox_ratio = st_pairs /
    knox_expected`` (> 1 ⇒ space–time interaction) are deterministic
    IEEE sequences, bit-identical in any engine replaying them.

    Returns 1 row: (n_pts, s_pairs, t_pairs, st_pairs, knox_expected,
    knox_ratio). knox_ratio is NULL when n < 2 or no time pairs exist
    (knox_expected is 0.0, not NULL, in the latter case).
    """
    if radius <= 0 or tau <= 0:
        raise ValueError("radius and tau must be positive")
    slim = (
        points.select(
            F.col(id_col).alias("_pid"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
            F.col(t_col).cast("double").alias("_td"),
        )
        .where(
            F.col("_x").isNotNull()
            & F.col("_y").isNotNull()
            & ~F.isnan("_x")
            & ~F.isnan("_y")
            & F.col("_td").isNotNull()
            & ~F.isnan("_td")
        )
        .select(
            "_pid",
            *(
                [
                    _integral("_x", x_col, "knox"),
                    _integral("_y", y_col, "knox"),
                    _integral("_td", t_col, "knox").cast("long").alias("_t"),
                ]
                if exact_int
                else ["_x", "_y", F.col("_td").alias("_t")]
            ),
        )
    )

    # TRUE thresholds as doubles: a round()ed integer threshold can exceed
    # the bucket size and admit pairs the cover never generates (silent
    # undercount); BIGINT-vs-DOUBLE comparison is exact below 2^53 and
    # identical in DuckDB
    r2 = F.lit(float(radius) * float(radius))
    tau_l = F.lit(float(tau))
    # HALF covers (see _bucket_candidates): each unordered pair joins once,
    # ordered counts recovered by doubling — exact BIGINT arithmetic
    two = F.lit(2).cast("long")
    sp = (
        _bucket_candidates(slim, float(radius), broadcast_side, exact_int, half=True)
        .where(F.col("_d2") <= r2)
        .agg(
            (F.count(F.lit(1)) * two).alias("s_pairs"),
            (
                F.coalesce(
                    F.sum((F.col("_adt") <= tau_l).cast("long")),
                    F.lit(0).cast("long"),
                )
                * two
            ).alias("st_pairs"),
        )
    )

    # 1-D time cover: bucket size tau (widened one part in 2^20 — see
    # _cover_divisor), HALF offsets {0, +1} with the same-bucket id
    # tie-break — complete for |dt| <= tau, each unordered pair matched
    # exactly once, count doubled back to ordered
    tb = F.floor(F.col("_t") / F.lit(_cover_divisor(float(tau))))
    tright = slim.select(
        F.col("_pid").alias("_bid"), F.col("_t").alias("_bt"), tb.alias("_jt")
    )
    tleft = slim.select(
        "_pid",
        "_t",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("o"), F.lit(True).alias("c0")),
                F.struct(F.lit(1).alias("o"), F.lit(False).alias("c0")),
            )
        ).alias("_o"),
        tb.alias("_tb0"),
    ).select(
        "_pid",
        "_t",
        (F.col("_tb0") + F.col("_o.o")).alias("_jt"),
        F.col("_o.c0").alias("_c0"),
    )
    trhs = F.broadcast(tright) if broadcast_side else tright
    tp = (
        tleft.join(trhs, ["_jt"])
        .where(~F.col("_c0") | (F.col("_pid") < F.col("_bid")))
        .where(F.abs(F.col("_t") - F.col("_bt")) <= tau_l)
        .agg((F.count(F.lit(1)) * two).alias("t_pairs"))
    )

    n_row = slim.agg(F.count(F.lit(1)).alias("n_pts"))
    out = n_row.crossJoin(sp).crossJoin(tp)
    expected = F.try_divide(
        F.col("s_pairs").cast("double") * F.col("t_pairs").cast("double"),
        (F.col("n_pts") * (F.col("n_pts") - F.lit(1))).cast("double"),
    )
    return out.select(
        "n_pts",
        "s_pairs",
        "t_pairs",
        "st_pairs",
        expected.alias("knox_expected"),
        F.try_divide(F.col("st_pairs").cast("double"), expected).alias("knox_ratio"),
    )


def grid_centers(spark, spec) -> DataFrame:
    """All tile centers of a GridSpec's padded grid, row-major ids —
    the regular sample-location set for the empty-space F function
    (``nn_stats(grid_centers(...), other=points)``) and for evaluating
    any fitted surface on the full grid. Pure ``range``×``range`` fan
    (nrows·ncols rows — grid-cardinality, never corpus-cardinality);
    centers are exact when xmin/ymin/resolution are integral and res is
    even (odd res needs the doubled-coordinate treatment — see
    :func:`kde_raster`)."""
    res = float(spec.resolution)
    return (
        spark.range(spec.nrows)
        .select(F.col("id").alias("_ri"))
        .crossJoin(spark.range(spec.ncols).select(F.col("id").alias("_ci")))
        .select(
            (F.col("_ri") * F.lit(spec.ncols) + F.col("_ci")).alias("doc_id"),
            (F.lit(float(spec.xmin)) + F.col("_ci") * F.lit(res) + F.lit(res / 2)).alias("x"),
            (F.lit(float(spec.ymin)) + F.col("_ri") * F.lit(res) + F.lit(res / 2)).alias("y"),
        )
    )


def kde_raster(
    points: DataFrame,
    resolution: int,
    bandwidth: int,
    xmin: int,
    ymin: int,
    x_col: str = "x",
    y_col: str = "y",
    value_col: str | None = None,
    nrows: int | None = None,
    ncols: int | None = None,
    max_fanout: int = 4096,
    exact_int: bool = True,
) -> DataFrame:
    """Kernel density raster: quartic (biweight) KDE evaluated at tile centers.

    The classic density-surface / heatmap operator (spatstat ``density.ppp``,
    QGIS/ArcGIS "Kernel Density"; the reference rasterizes by containment
    only — R/main.R:132-136 — so smoothing is exactly what a SEraster user
    reaches for next). Evaluated on the same square grid convention as the
    rasterize ops: tile (row, col) spans ``[ymin + row·res, …)`` ×
    ``[xmin + col·res, …)``, center at ``(xmin + (col+½)·res, …)``.

    Kernel: per point p and tile center c with d = |p − c| ≤ h,
    ``w = ((2h)² − D2)²`` where ``D2 = (2·(p−c))²`` in DOUBLED integer
    coordinates — doubling makes the half-integer center integral for ANY
    res parity, so with integer coords/origin/res/h every D2 and w is an
    exact BIGINT (``w = 16·(h²−d²)²``). ``kde_mean = Σw / (16h⁴)`` — one
    division on exact ints ⇒ bit-reproducible; the textbook quartic
    density is the client-side scalar ``kde_mean · 3/(π h² n)``.

    Output: one row per tile with ≥1 point within h of its center
    (empty-raster tiles near points ARE emitted — that's the point of a
    density surface; tiles outside ``[0,nrows)×[0,ncols)`` are clipped
    when those bounds are given): ``row_i, col_i, kde_n`` (points with
    d ≤ h; d = h contributes w = 0 but counts), ``kde_w`` (BIGINT Σw),
    ``kde_mean``, and — when ``value_col`` is given — ``kde_wv``
    (BIGINT Σ v·w) plus ``kde_smooth = Σv·w / Σw``, the Nadaraya–Watson
    kernel-regression estimate of the value surface (NULL when every
    contributor sits exactly at d = h, i.e. Σw = 0); one division on
    exact ints ⇒ bit-reproducible. NB when ``value_col`` is given,
    NULL-valued points are dropped from the surface ENTIRELY (all
    columns, density included) so every column describes the same
    population; pass ``value_col=None`` for the pure density of all
    points.

    Plan shape: per point, two chained ``sequence`` explodes fan out to
    the O((2h/res+2)²) candidate tiles (bounded by ``max_fanout`` —
    raise loudly rather than 10⁶-amplify), exact D2 filter, then ONE
    hash aggregate on the tile key with map-side combine — candidates
    stream through partial aggregation and never materialize. No joins,
    no windows, no driver collect; the shuffle is tile-cardinality. At
    100 TB the knob is the fan-out ratio h/res: the work is
    n·(2h/res)², independent of corpus extent.

    With ``exact_int`` a doubled coordinate or a value that is finite but
    not integral (x = 0.25, v = 1.5) fails the query rather than being
    truncated to BIGINT; half-integer coordinates are exact and pass.

    Overflow (exact_int): per-term w ≤ 16h⁴, so Σ needs
    ``16h⁴·n_in_range < 2⁶³`` — ANSI mode raises loudly rather than
    wrapping. h ≤ 30000 keeps the per-term safe; value-weighted sums
    scale by max|v|.
    """
    resolution = int(resolution)
    bandwidth = int(bandwidth)
    if resolution <= 0 or bandwidth <= 0:
        raise ValueError("resolution and bandwidth must be positive")
    # worst case per axis: ceil(2h/res) + 2 indices (the ±1 slop bounds)
    per_axis = -(-2 * bandwidth // resolution) + 2
    if per_axis * per_axis > max_fanout:
        raise ValueError(
            f"bandwidth/resolution fan-out {per_axis}^2 exceeds max_fanout="
            f"{max_fanout}; coarsen the grid or shrink the bandwidth"
        )

    cols = [
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ]
    if value_col is not None:
        v = F.col(value_col)
        cols.append((v if exact_int else v.cast("double")).alias("_v"))
    slim = points.select(*cols).where(
        F.col("_x").isNotNull()
        & F.col("_y").isNotNull()
        & ~F.isnan("_x")
        & ~F.isnan("_y")
        & (F.col("_v").isNotNull() if value_col is not None else F.lit(True))
    )
    if exact_int:
        # the doubled coordinates and the values feed BIGINT casts below
        slim = slim.select(
            "*", (F.col("_x") * 2).alias("_x2"), (F.col("_y") * 2).alias("_y2")
        ).select(
            "_x",
            "_y",
            _integral("_x2", f"2*{x_col}", "kde_raster"),
            _integral("_y2", f"2*{y_col}", "kde_raster"),
            *(
                [_integral("_v", value_col, "kde_raster").cast("long").alias("_v")]
                if value_col is not None
                else []
            ),
        )

    res, h = F.lit(resolution), F.lit(bandwidth)

    # Candidate index range per axis (±1 slop; the exact D2 filter below
    # decides). When bounds clip the range empty (point off-grid by > h),
    # emit an EMPTY array — a raw sequence(lo, hi) with hi < lo would
    # descend through out-of-bounds indices instead.
    def _rng(p, origin, bound):
        lo = F.floor((p - h - F.lit(origin)) / res)
        hi = F.floor((p + h - F.lit(origin)) / res) + F.lit(1)
        if bound is not None:
            lo = F.greatest(lo, F.lit(0))
            hi = F.least(hi, F.lit(int(bound) - 1))
        return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<bigint>")
        )

    fan = slim.select(
        "*",
        F.explode(_rng(F.col("_x"), xmin, ncols)).alias("col_i"),
        _rng(F.col("_y"), ymin, nrows).alias("_rseq"),
    ).select("*", F.explode("_rseq").alias("row_i"))

    if exact_int:
        dx2 = F.col("_x2").cast("long") - (
            F.lit(2 * int(xmin)) + (F.col("col_i") * 2 + 1) * res
        )
        dy2 = F.col("_y2").cast("long") - (
            F.lit(2 * int(ymin)) + (F.col("row_i") * 2 + 1) * res
        )
        h2sq = F.lit(4 * bandwidth * bandwidth)
    else:
        dx2 = F.col("_x") * 2 - (F.lit(2.0 * xmin) + (F.col("col_i") * 2 + 1) * res)
        dy2 = F.col("_y") * 2 - (F.lit(2.0 * ymin) + (F.col("row_i") * 2 + 1) * res)
        h2sq = F.lit(4.0 * bandwidth * bandwidth)
    d2 = dx2 * dx2 + dy2 * dy2
    fan = fan.withColumn("_w", (h2sq - d2) * (h2sq - d2)).where(d2 <= h2sq)

    aggs = [
        F.count(F.lit(1)).alias("kde_n"),
        F.sum("_w").alias("kde_w"),
    ]
    if value_col is not None:
        aggs.append(F.sum(F.col("_v") * F.col("_w")).alias("kde_wv"))
    out = fan.groupBy("row_i", "col_i").agg(*aggs)
    norm = float(16 * bandwidth**4)
    out = out.withColumn(
        "kde_mean", F.col("kde_w").cast("double") / F.lit(norm)
    )
    order = ["row_i", "col_i", "kde_n", "kde_w", "kde_mean"]
    if value_col is not None:
        out = out.withColumn(
            "kde_smooth",
            F.try_divide(
                F.col("kde_wv").cast("double"), F.col("kde_w").cast("double")
            ),
        )
        order += ["kde_wv", "kde_smooth"]
    return out.select(*order)
