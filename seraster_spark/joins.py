"""As-of (temporal nearest-predecessor) join.

Spark has no ASOF JOIN operator; the naive formulation — an inequality join
``r.ts <= l.ts`` followed by a per-left-row top-1 — is quadratic per key and
unusable at corpus scale. The classic scalable re-expression used here:

    union both sides onto one timeline → ONE shuffle on the join keys →
    one ordered window pass carrying the latest right-side payload forward
    (``last(..., ignorenulls=True)``) → keep left rows.

Cost = one exchange + one sort, independent of match distance; no
candidate explosion. This is the same single-pass merge a time-series
database performs, expressed declaratively so Catalyst/AQE keep owning
the physical plan.

Determinism: ties at equal timestamp are resolved (a) right-before-left —
an equal-timestamp right row IS visible to the left row (``<=``
semantics), and (b) among equal-timestamp right rows by ``tiebreak``
ascending, so the LAST one (highest tiebreak) wins. Both rules are
mirrored in the driver oracle's ``ORDER BY r.ts DESC, r.tiebreak DESC
LIMIT 1`` formulation.

Skew: one hot key serializes its window partition. For a key carrying an
outsized share of rows, pre-split by a coarse time bucket and as-of join
within buckets after seeding each bucket with the previous bucket's last
right row (range-partition + boundary exchange); not needed for the
benchmark shapes here, documented for the 100 TB operator catalogue.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .session import materialize


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket: float,
    on: list[str] | None = None,
    how: str = "inner",
    outlier_buckets: int | None = None,
) -> DataFrame:
    """Range (interval-containment) join: each point row matched to every
    interval with ``start <= ts < end`` (optionally also equal on ``on``
    keys). The 1D-temporal analog of the engine's covering-cells spatial
    join: a naive ``ON ts BETWEEN start AND end`` is a cross product that
    Spark can only nested-loop; instead both sides are mapped to coarse
    time buckets of width ``bucket`` — intervals EXPLODE to the buckets
    they overlap (constant fan-out ≈ length/bucket + 1), points map to
    exactly one bucket — and the match becomes a hash equi-join on
    (bucket, *on) with the precise containment as a post-filter. Each
    qualifying (point, interval) pair meets in exactly one bucket (the
    point's), so no dedup pass is needed.

    Pick ``bucket`` near the TYPICAL interval length: fan-out stays O(1)
    while each bucket's candidate set stays local. A pathological interval
    spanning the whole timeline explodes to timeline/bucket rows; pass
    ``outlier_buckets`` to route intervals whose bucket fan-out exceeds it
    through a BROADCAST side-channel instead of the explode (outliers are
    by definition few, so they fit a broadcast; every point still meets a
    qualifying outlier exactly once, via the side-channel only).

    Interval columns whose names collide with point columns (outside
    ``on``) come back prefixed ``ivl_``. ``how='inner'`` keeps matched
    pairs; ``'left'`` keeps unmatched points with NULL interval columns
    (resolved by an anti-join on a generated long row key, so the wide
    point payload never rides a second exchange).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    on = on or []
    # disambiguate interval columns that clash with point columns — without
    # this, inner output has duplicate names and the left path's selects
    # raise AMBIGUOUS_REFERENCE
    for c in intervals.columns:
        if c in points.columns and c not in on:
            intervals = intervals.withColumnRenamed(c, f"ivl_{c}")
    start_col = f"ivl_{start_col}" if start_col in points.columns else start_col
    end_col = f"ivl_{end_col}" if end_col in points.columns else end_col
    # the generated key makes the left-mode anti-join exact (null-unsafe
    # equality over payload columns would duplicate NULL-bearing rows) and
    # slim (one long, not the whole payload). It must be STABLE across the
    # two independent evaluations of the points lineage (matched branch +
    # left_anti branch): monotonically_increasing_id depends on partition
    # row order, which a shuffled upstream or a task retry can change —
    # materialize once, eagerly, before either branch reads it.
    if how == "left":
        # EAGER: the matched branch and the left_anti branch are independent
        # query stages that a cluster (AQE submits leaf stages concurrently,
        # partitions land on different executors) can evaluate before any
        # checkpointed block exists — a lazy checkpoint leaves the first
        # action inside that race window and the same row can draw different
        # _pids per branch (silent duplicate/dropped left rows). The
        # construction-time job is the price of a stable key; callers
        # looping over many left interval joins should checkpoint upstream
        # themselves and pass how='inner' + their own key when that job
        # matters.
        points, _ = materialize(
            points.withColumn("_pid", F.monotonically_increasing_id()),
            "interval_join: stable row key",
        )
    pb = points.withColumn("_bkt", F.floor(F.col(ts_col).cast("double") / bucket))
    # empty/inverted intervals match nothing under half-open semantics; drop
    # them BEFORE the explode (F.sequence would otherwise step backwards)
    intervals = intervals.filter(F.col(end_col) > F.col(start_col))
    end_b = F.col(end_col).cast("double") / bucket
    last_bkt = F.floor(end_b) - F.when(
        # end EXCLUSIVE: an interval ending exactly on a bucket boundary
        # does not reach into that bucket (exact test — an epsilon would be
        # magnitude-dependent: swallowed at epoch scale, over-reaching at
        # sub-second scale)
        (F.floor(end_b) == end_b) & (F.floor(end_b) > F.floor(F.col(start_col).cast("double") / bucket)),
        F.lit(1),
    ).otherwise(F.lit(0))
    first_bkt = F.floor(F.col(start_col).cast("double") / bucket)
    outliers = None
    if outlier_buckets is not None:
        fanout = last_bkt - first_bkt + 1
        outliers = intervals.filter(fanout > outlier_buckets)
        intervals = intervals.filter(fanout <= outlier_buckets)
    ib = intervals.withColumn(
        "_bkt", F.explode(F.sequence(first_bkt, last_bkt))
    )
    cond = [pb["_bkt"] == ib["_bkt"]] + [pb[k] == ib[k] for k in on]
    matched = (
        pb.join(ib, cond, "inner")
        .filter(
            (pb[ts_col] >= ib[start_col]) & (pb[ts_col] < ib[end_col])
        )
        .drop(ib["_bkt"])
        .drop(pb["_bkt"])
    )
    for k in on:
        matched = matched.drop(ib[k])
    if outliers is not None:
        # side-channel: the few wide intervals ride a broadcast join (hash
        # on the `on` keys when present, nested-loop otherwise) with the
        # exact containment as the predicate — no bucket explode, so one
        # timeline-spanning interval costs O(points), not
        # O(points + timeline/bucket) shuffle rows
        ob = F.broadcast(outliers)
        if on:
            om = pb.join(ob, [pb[k] == ob[k] for k in on], "inner")
        else:
            om = pb.crossJoin(ob)
        om = om.filter(
            (pb[ts_col] >= ob[start_col]) & (pb[ts_col] < ob[end_col])
        ).drop(pb["_bkt"])
        for k in on:
            om = om.drop(ob[k])
        matched = matched.unionByName(om)
    if how == "inner":
        return matched.drop("_pid")
    # left: re-attach points that matched nothing (anti-join on _pid only)
    unmatched = points.join(
        matched.select("_pid").distinct(), "_pid", "left_anti"
    )
    for c in matched.columns:
        if c not in points.columns:
            unmatched = unmatched.withColumn(c, F.lit(None).cast(matched.schema[c].dataType))
    return matched.unionByName(unmatched).drop("_pid")


def _asof_payload(right: DataFrame, ts_col: str, right_cols: list[str], tiebreak):
    """Payload column list + the atomic carry struct type. The entire right
    payload rides as ONE struct so the carry-forward is ATOMIC: per-column
    last(ignorenulls) would mix columns from different right rows whenever
    a matched row carries a NULL payload value."""
    from pyspark.sql import types as T

    payload = list(right_cols)
    if ts_col not in payload:
        payload = [ts_col, *payload]
    if tiebreak is not None and tiebreak not in payload:
        payload = [*payload, tiebreak]
    return payload, T.StructType([right.schema[c] for c in payload])


def _align_to_left(tag: DataFrame, left: DataFrame) -> DataFrame:
    """Tagged right/seed rows carry NULL for left-only columns."""
    for c in left.columns:
        if c not in tag.columns:
            tag = tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    return tag


def _asof_carry_tail(
    u: DataFrame,
    part_cols: list[str],
    ts_col: str,
    payload: list[str],
    tiebreak,
    direction: str,
    tolerance,
    prefix: str,
    drop_extra: tuple[str, ...] = (),
) -> DataFrame:
    """The ONE place the as-of ordering/tie-break/tolerance rules live —
    shared by :func:`asof_join` and :func:`asof_join_bucketed`. ``u`` is the
    tagged union carrying _src (-1 seeds / 0 rights / 1 lefts) and the _r
    payload struct."""
    order = [
        F.col(ts_col).asc() if direction == "backward" else F.col(ts_col).desc(),
        F.col("_src").asc(),
    ]
    if tiebreak is not None:
        # among equal-ts right rows the highest tiebreak wins = is the last
        # row the carry-forward sees; must order AFTER _src so equal-ts
        # rights still precede lefts (left rows have a NULL struct)
        order.append(F.col(f"_r.{tiebreak}").asc_nulls_first())
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_rm", F.last("_r", ignorenulls=True).over(w))
    for c in payload:
        matched = matched.withColumn(f"{prefix}{c}", F.col(f"_rm.{c}"))
    out = matched.filter(F.col("_src") == 1).drop("_src", "_r", "_rm", *drop_extra)
    if tolerance is not None:
        gap = (
            F.col(ts_col) - F.col(f"{prefix}{ts_col}")
            if direction == "backward"
            else F.col(f"{prefix}{ts_col}") - F.col(ts_col)
        )
        keep = gap <= tolerance
        for c in payload:
            out = out.withColumn(
                f"{prefix}{c}", F.when(keep, F.col(f"{prefix}{c}"))
            )
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    right_cols: list[str],
    tiebreak: str | None = None,
    direction: str = "backward",
    tolerance: Column | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """For every left row, attach ``right_cols`` from the right row with the
    greatest ``ts_col`` ≤ left's (direction='backward'), or the smallest
    ``ts_col`` ≥ left's ('forward'), within the same ``on`` key group.

    Left rows with no match keep NULLs (left-outer semantics). ``tolerance``
    (a Column in the same units as a ts difference, e.g.
    ``F.expr("INTERVAL 1 HOUR")`` for timestamps or a numeric for numeric
    ts) nulls out matches farther than the bound.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    payload, r_struct_type = _asof_payload(right, ts_col, right_cols, tiebreak)
    # a NULL right ts can never satisfy <=/>= semantics; without this filter
    # it would sort nulls-first and its payload would leak into the carry
    r_clean = right.filter(F.col(ts_col).isNotNull())
    l_tag = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("_src"),
        F.lit(None).cast(r_struct_type).alias("_r"),
    )
    r_tag = _align_to_left(
        r_clean.select(
            *[F.col(c) for c in on],
            F.col(ts_col),
            F.lit(0).alias("_src"),
            F.struct(*[F.col(c).alias(c) for c in payload]).alias("_r"),
        ),
        left,
    )
    u = r_tag.select(*l_tag.columns).unionByName(l_tag)
    return _asof_carry_tail(
        u, on, ts_col, payload, tiebreak, direction, tolerance, prefix
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    right_cols: list[str],
    bucket: float,
    tiebreak: str | None = None,
    tolerance: Column | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """:func:`asof_join` (backward direction) with HOT-KEY ESCAPE: the plain
    formulation serializes each ``on``-key group through ONE window
    partition, so a key carrying 50% of the rows caps scaling at 2×. Here
    the window partitions on (keys..., time bucket) — a hot key splits into
    timeline/bucket independent partitions — and each bucket is seeded with
    the latest right row from all PRIOR buckets so carry-forward semantics
    are exactly preserved:

      1. per-(key, bucket) latest right row (one aggregate; ``max`` over a
         (ts, tiebreak, payload) struct — lexicographic = the window's
         ordering);
      2. carry that struct forward across the bucket spine (buckets seen on
         EITHER side) and lag by one — a bucket-cardinality window, tiny;
      3. inject each bucket's seed as a pseudo right row sorted before
         everything in its bucket (_src = -1 at the bucket boundary), then
         run the standard union + window pass partitioned by (keys, bucket).

    Result rows are identical to ``asof_join(...)``; forward as-of over a
    hot key is the same operator on negated numeric timestamps. ``ts_col``
    must be numeric or castable to double seconds (timestamps are)."""
    payload, r_struct_type = _asof_payload(right, ts_col, right_cols, tiebreak)
    ts_type = left.schema[ts_col].dataType
    r_clean = right.filter(F.col(ts_col).isNotNull())
    bkt = lambda c: F.floor(c.cast("double") / bucket)  # noqa: E731

    # 1. latest right row per (key, bucket): struct max is lexicographic on
    # (ts, tiebreak, ...) — the same "last row the window sees" rule
    ordfields = [F.col(ts_col).alias("_ots")]
    if tiebreak is not None:
        ordfields.append(F.col(tiebreak).alias("_otb"))
    rb = r_clean.withColumn("_bkt", bkt(F.col(ts_col)))
    lastr = rb.groupBy(*on, "_bkt").agg(
        F.max(
            F.struct(
                *ordfields,
                F.struct(*[F.col(c).alias(c) for c in payload]).alias("_p"),
            )
        ).alias("_m")
    )

    # 2. bucket spine = buckets present on either side; carry the latest
    # struct forward and shift by one bucket -> each bucket's SEED
    spine = (
        left.select(*on, bkt(F.col(ts_col)).alias("_bkt"))
        .unionByName(rb.select(*on, "_bkt"))
        .distinct()
    )
    wsp = Window.partitionBy(*on).orderBy("_bkt")
    # NULL-SAFE seed join: the window partitionBy groups NULL keys together
    # (same as the plain operator), so the seed join must too — a
    # null-unsafe equi-join would silently drop cross-bucket matches for
    # NULL-keyed groups. The lastr side is renamed first: spine and lastr
    # share lineage (both derive from the right frame), so qualified
    # references would be ambiguous in a self-join
    lastr_r = lastr.select(
        *[F.col(k).alias(f"_r_{k}") for k in on],
        F.col("_bkt").alias("_r_bkt"),
        "_m",
    )
    jcond = [F.col(k).eqNullSafe(F.col(f"_r_{k}")) for k in on] + [
        F.col("_bkt") == F.col("_r_bkt")
    ]
    joined_sp = spine.join(lastr_r, jcond, "left").drop(
        *[f"_r_{k}" for k in on], "_r_bkt"
    )
    seeds = (
        joined_sp.withColumn("_carry", F.last("_m", ignorenulls=True).over(wsp))
        .withColumn("_seed", F.lag("_carry").over(wsp))
        .filter(F.col("_seed").isNotNull())
        .select(*on, "_bkt", F.col("_seed._p").alias("_r"))
    )

    # 3. standard union + window, partitioned by (keys, bucket); the seed
    # sorts first in its bucket via _src = -1 at the bucket-boundary ts
    l_tag = left.select(
        *[F.col(c) for c in left.columns],
        bkt(F.col(ts_col)).alias("_bkt"),
        F.lit(1).alias("_src"),
        F.lit(None).cast(r_struct_type).alias("_r"),
    )
    r_tag = rb.select(
        *[F.col(c) for c in on],
        F.col(ts_col),
        F.col("_bkt"),
        F.lit(0).alias("_src"),
        F.struct(*[F.col(c).alias(c) for c in payload]).alias("_r"),
    )
    s_tag = seeds.select(
        *[F.col(c) for c in on],
        (F.col("_bkt") * F.lit(bucket)).cast("double").cast(ts_type).alias(ts_col),
        F.col("_bkt"),
        F.lit(-1).alias("_src"),
        F.col("_r"),
    )
    r_tag = _align_to_left(r_tag, left)
    s_tag = _align_to_left(s_tag, left)
    u = (
        r_tag.select(*l_tag.columns)
        .unionByName(s_tag.select(*l_tag.columns))
        .unionByName(l_tag)
    )
    return _asof_carry_tail(
        u, [*on, "_bkt"], ts_col, payload, tiebreak, "backward", tolerance,
        prefix, drop_extra=("_bkt",),
    )
