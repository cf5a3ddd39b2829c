"""Deterministic sketches and sampling for corpus-scale pipelines.

Unlike Spark's builtin ``approx_count_distinct`` (HyperLogLog++, whose
estimate depends on internal hashing and register layout and therefore
cannot be cross-checked against another engine), the KMV (k-minimum-values)
sketch here is FULLY deterministic given the hash function: both Spark and
DuckDB compute the same lowercase-hex md5, so the sketch — and the estimate
derived from it — is bit-identical across engines and partitionings. That
makes an *approximate* algorithm oracle-checkable, which is the whole point.

KMV estimator (Bar-Yossef et al. 2002): hash every distinct value to
U(0,1); with h(k) the k-th smallest hash, E[h(k)] ≈ k/(D+1), so
D̂ = (k−1)/h(k). We use the first 15 hex chars (60 bits) of md5 as the
integer hash — md5 hex is lexicographically order-isomorphic to its value,
so "k smallest hex strings" IS "k smallest hashes".

Scale shape: a per-partition Arrow pass keeps only the k smallest DISTINCT
hashes of each partition (``mapInPandas`` with a running numpy buffer —
constant memory, no full-partition materialization), so only
k × n_partitions slim rows ever reach the single final exchange; the global
distinct-sort-limit then runs on that tiny frame. The full corpus is never
shuffled — compare exact countDistinct, whose first phase shuffles every
distinct value.

Hash sampling: ``md5_uniform`` maps a key to U(0,1) by its first 8 hex
chars / 2³². Used for reproducible, engine-portable Bernoulli and
stratified sampling — the property a training-data mixing pipeline needs
(re-running the job, on any cluster size, selects the SAME documents).
Map-only; infinitely scalable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .session import materialize

TWO_60 = float(1 << 60)  # max of a 15-hex-char hash + 1; exact double
TWO_32 = float(1 << 32)


def md5_uniform(key: Column, salt: str = "") -> Column:
    """Deterministic U(0,1) from a key: first 8 hex chars of
    md5(salt || key) / 2³². Engine-portable (same md5, same division)."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long").cast("double") / F.lit(TWO_32)


def hash_sample(
    df: DataFrame,
    key: Column,
    rate: float | None = None,
    strata: Column | None = None,
    rates: dict[str, float] | None = None,
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic Bernoulli / stratified sample: keep a row iff its
    hash-uniform < the (stratum's) rate. With ``strata``+``rates``, each
    stratum gets its own rate (absent strata fall back to ``default_rate``)
    — the standard language/source re-balancing step of a training-data
    mix. Pure filter: map-only, no shuffle, reproducible across runs and
    cluster sizes. NULL keys hash through a sentinel (md5(NULL) is NULL and
    ``NULL < rate`` would silently drop every NULL-keyed row even at
    rate 1.0)."""
    u = md5_uniform(F.coalesce(key.cast("string"), F.lit("__null_key__")), salt=salt)
    if strata is not None:
        if not rates:
            raise ValueError("strata given but no rates")
        r: Column = F.lit(float(default_rate))
        for s, p in sorted(rates.items()):
            r = F.when(strata == s, F.lit(float(p))).otherwise(r)
    else:
        if rate is None:
            raise ValueError("need rate= or (strata=, rates=)")
        r = F.lit(float(rate))
    return df.filter(u < r)


def _partial_min_k(k: int):
    """mapInPandas kernel: per partition, the k smallest distinct md5-hex
    values. Running buffer stays ≤ 2k entries between batches."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: np.ndarray | None = None
        for pdf in batches:
            vals = np.unique(pdf["h"].to_numpy())  # sorted ascending
            vals = vals[:k]
            if best is None:
                best = vals
            else:
                best = np.unique(np.concatenate([best, vals]))[:k]
        if best is not None and len(best):
            yield pd.DataFrame({"h": best})

    return fn


def kmv_distinct(
    df: DataFrame, col: Column, k: int = 256, alias: str = "est_distinct"
) -> DataFrame:
    """KMV distinct-count sketch over ``col``. Returns ONE row:

    (k_used, kth_hex, kth_val, est_distinct)

    - k_used: number of hashes retained (= k, or the exact distinct count
      when the domain is smaller than k — then the estimate IS exact).
    - kth_hex / kth_val: the largest retained hash (hex; first-15-chars
      integer value).
    - est_distinct: (k−1)·2⁶⁰ / kth_val, or exactly k_used when k_used < k.
    """
    hashes = df.select(F.md5(col.cast("string")).alias("h")).filter(F.col("h").isNotNull())
    partial = hashes.mapInPandas(_partial_min_k(k), schema="h string")
    topk = partial.distinct().orderBy("h").limit(k)
    kth = topk.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.max("h").alias("kth_hex"),
    )
    kth = kth.withColumn(
        "kth_val", F.conv(F.substring("kth_hex", 1, 15), 16, 10).cast("long")
    )
    return kth.select(
        "k_used",
        "kth_hex",
        "kth_val",
        F.when(F.col("k_used") < k, F.col("k_used").cast("double"))
        .otherwise(
            (F.col("k_used") - 1).cast("double") * F.lit(TWO_60) / F.col("kth_val").cast("double")
        )
        .alias(alias),
    )


def heavy_hitters(
    df: DataFrame,
    key: Column,
    k: int = 20,
    capacity: int = 1024,
) -> DataFrame:
    """Misra-Gries heavy-hitters sketch: approximate top-k keys by count
    over an UNBOUNDED key space in O(capacity) state per partition — the
    regime where the exact groupBy (vocabulary-style, map-side combine)
    stops being viable because the distinct-key set itself no longer fits
    an aggregate hash table.

    Per partition (one Arrow pass): batch value_counts merge into a
    counter dict; on overflow the (size − capacity)-th smallest count m̂
    is subtracted from EVERY counter (classic MG uniform decrement,
    vectorized with np.partition), zeros dropped, and m̂ accumulates into
    the partition's decrement total d_p. The dict is pruned both after
    each batch AND mid-merge whenever it exceeds 2·capacity, so working
    memory is a hard O(capacity) even for a single high-cardinality Arrow
    batch. Only ≤ capacity counters + one scalar leave each partition.
    Merge = groupBy key + sum (est) and D = Σ d_p.

    Guarantees (the MG invariant, partitioning-independent):
      * est ≤ true ≤ est + D for every reported key;
      * every key with true count > D is present in the merged summary —
        so with capacity ≫ N/true(k-th), the top-k is exact membership.
    Counts (not the guarantee) depend on arrival order, so this op is
    pytest-verified by its invariants rather than a bit-exact SQL twin
    (same class as the streaming-proper ops).

    Output: (key, est_count, err_bound) — top-k by (est_count DESC, key)
    with the global error bound attached to every row.
    """
    from pyspark.sql import types as T

    # NULL keys COUNT (a mostly-absent optional field may be the heaviest
    # "key"): they ride as a reserved sentinel token through the sketch —
    # the NULL slot itself is the per-partition decrement channel — and map
    # back to NULL on output. Mirrors hash_sample's NULL-sentinel rule.
    null_tok = "\x00__null_key__"
    slim = df.select(
        F.coalesce(key.cast("string"), F.lit(null_tok)).alias("_k")
    )

    out_schema = T.StructType(
        [
            T.StructField("_k", T.StringType()),
            T.StructField("est", T.LongType()),
            T.StructField("dec", T.LongType()),
        ]
    )

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        dec_total = 0

        def prune() -> None:
            # (size - capacity)-th smallest count: subtracting it from
            # every counter leaves <= capacity positive counters. Each
            # extra prune only grows D (the reported bound), never breaks
            # est <= true <= est + D.
            nonlocal counters, dec_total
            counts = np.fromiter(counters.values(), dtype=np.int64)
            m_hat = int(np.partition(counts, len(counts) - capacity - 1)[
                len(counts) - capacity - 1
            ])
            dec_total += m_hat
            counters = {
                kk: cc - m_hat for kk, cc in counters.items() if cc > m_hat
            }

        for pdf in batches:
            vc = pdf["_k"].value_counts()
            for kk, cc in zip(vc.index.to_numpy(), vc.to_numpy()):
                counters[kk] = counters.get(kk, 0) + int(cc)
                # prune INSIDE the merge loop too: a single high-cardinality
                # Arrow batch must not balloon the dict to O(batch distinct)
                # before the first decrement — hard-cap working memory at
                # 2*capacity, keeping the documented O(capacity) bound.
                if len(counters) > 2 * capacity:
                    prune()
            if len(counters) > capacity:
                prune()
        rows = [(kk, int(cc), 0) for kk, cc in counters.items()]
        rows.append((None, 0, dec_total))
        yield pd.DataFrame(rows, columns=["_k", "est", "dec"])

    # EAGER materialization: `partials` feeds two independent subtrees
    # (merged counts + the decrement total); without it the arrival-order-
    # dependent MG pass would execute twice with potentially DIFFERENT
    # decrements, breaking the est <= true <= est + D invariant that is
    # the op's whole contract (and doubling the scan)
    partials, _ = materialize(slim.mapInPandas(mg, out_schema), "heavy_hitters: summaries")
    merged = partials.filter(F.col("_k").isNotNull()).groupBy("_k").agg(
        F.sum("est").alias("est_count")
    )
    d_total = partials.agg(F.sum("dec").alias("err_bound"))
    # global top-k via orderBy+limit: Spark plans TakeOrderedAndProject
    # (per-partition top-k, k·partitions rows to the final merge) — never
    # an empty-partitionBy window over the whole summary. Its per-task
    # buffer is sized from the limit, so clamp k to what the merged summary
    # can hold (<= capacity keys per partition): k=10**9 otherwise grows
    # the JVM heap by gigabytes for a summary of a few hundred rows.
    k = min(k, capacity * partials.rdd.getNumPartitions())
    ranked = (
        merged.crossJoin(F.broadcast(d_total))
        .orderBy(F.col("est_count").desc(), F.col("_k").asc())
        .limit(k)
    )
    return ranked.select(
        F.when(F.col("_k") == null_tok, F.lit(None)).otherwise(F.col("_k")).alias("key"),
        "est_count",
        "err_bound",
    )


def histogram_quantiles(
    df: DataFrame,
    value: Column,
    probs: list[float],
    boundaries: list[float],
    group_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic mergeable histogram-quantile sketch: O(bins) state per
    group through ONE map-side-combinable aggregate — the 100 TB
    alternative to exact percentiles, whose sort-based evaluation must see
    every value. Unlike t-digest/GK (whose state depends on arrival order),
    fixed bin boundaries + integer counts + a fixed-order interpolation
    make the APPROXIMATE estimates themselves bit-deterministic, so they
    oracle-check like the rest of the engine (the KMV-over-HLL argument).

    Bins are [boundaries[k], boundaries[k+1]); values outside the range
    clamp into the first/last bin (the estimate degrades there — widen the
    boundaries, never the guarantee). NULL values are EXCLUDED before
    binning (matching Spark `percentile` / DuckDB `quantile_cont`
    semantics — a NULL would otherwise land in a NULL bin that sorts first
    under the cumulative window and inflate the group total, skewing every
    estimate). Estimate for probability p with group size n: find the bin
    where the running count first reaches t = p·n, then interpolate
    linearly inside it. Returns one row per group:
    (group_cols..., q_{int(100p)} per prob). Groups whose values are all
    NULL disappear (same as percentile-over-empty: no defined quantile).
    """
    from pyspark.sql import Window as W

    if len(boundaries) < 3:
        raise ValueError("need >= 3 boundaries (>= 2 bins)")
    if sorted(boundaries) != list(boundaries):
        raise ValueError("boundaries must be ascending")
    g = list(group_cols)
    interior = boundaries[1:-1]
    v = value.cast("double")
    bin_ix = sum(
        (v >= F.lit(float(e))).cast("int") for e in interior
    )
    counts = (
        df.filter(value.isNotNull())
        .select(*g, bin_ix.alias("_b"))
        .groupBy(*g, "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    wg = W.partitionBy(*g)
    cc = counts.withColumn("_cum", F.sum("_n").over(wg.orderBy("_b"))).withColumn(
        "_tot", F.sum("_n").over(wg)
    )
    lows = F.array(*[F.lit(float(b)) for b in boundaries[:-1]])
    highs = F.array(*[F.lit(float(b)) for b in boundaries[1:]])
    lo = F.element_at(lows, F.col("_b") + 1)
    hi = F.element_at(highs, F.col("_b") + 1)
    aggs = []
    for p in probs:
        t = F.lit(float(p)) * F.col("_tot")
        covering = (F.col("_cum") >= t) & ((F.col("_cum") - F.col("_n")) < t)
        est = lo + (hi - lo) * (t - (F.col("_cum") - F.col("_n"))) / F.col("_n")
        aggs.append(F.max(F.when(covering, est)).alias(f"q_{int(round(p * 100))}"))
    return cc.groupBy(*g).agg(*aggs)


# ---------------------------------------------------------------------------
# Register-blocked Bloom filter as a broadcastable word table (pure-JVM
# membership prefilter)


def _bloom_word_ix(value: Column, num_bits: int) -> Column:
    """Word index for ``value``: the SAME expression must be used by the
    builder and the prober, so it lives in one place. ``xxhash64`` is a
    JVM-side 64-bit hash; pmod folds it into [0, num_bits/64)."""
    return F.pmod(F.xxhash64(value, F.lit(0)), F.lit(num_bits // 64))


def _bloom_word_mask(value: Column, num_hashes: int) -> Column:
    """OR of ``num_hashes`` single-bit masks, every bit inside ONE 64-bit
    word (register-blocked / split-block Bloom layout, as in Parquet and
    Impala): seed i>0 picks bit ``xxhash64(value, i) % 64``. shiftleft via
    call_function because the PySpark ``F.shiftleft`` wrapper only accepts
    a Python-int shift amount."""
    mask = None
    for i in range(1, num_hashes + 1):
        bit = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            F.pmod(F.xxhash64(value, F.lit(i)), F.lit(64)).cast("int"),
        )
        mask = bit if mask is None else mask.bitwiseOR(bit)
    return mask


def bloom_filter_build(
    df: DataFrame,
    value: Column,
    num_bits: int = 1 << 23,
    num_hashes: int = 5,
) -> DataFrame:
    """Build a Bloom filter over ``value`` as a (word_ix, word) DataFrame —
    ``num_bits / 64`` rows of packed int64 words, at most a few MiB even
    for a billion-key filter, so the result broadcasts.

    Register-blocked layout (Parquet/Impala style): ONE hash picks the
    64-bit word, ``num_hashes`` further hashes pick bits INSIDE that word.
    Membership is then one broadcast-join lookup + one mask compare
    regardless of ``num_hashes`` — k× fewer probe joins than a flat bit
    array, for a modestly higher false-positive rate at equal bits (size
    ``num_bits`` ≈ 16× the key count for ~0.3% at ``num_hashes=5``; the
    flat layout would give ~0.05%). False positives are the only error
    mode — a key that was added is ALWAYS reported present.

    Built fully distributed: each key contributes one (word_ix, k-bit
    mask) row, collapsed by a map-side-combining ``bit_or`` aggregate
    whose output cardinality is bounded by ``num_bits / 64`` regardless
    of input size — nothing proportional to the corpus ever reaches the
    driver (contrast Scala's ``DataFrame.stat.bloomFilter``, which funnels
    per-partition byte-array filters through a driver treeAggregate and is
    not exposed to PySpark anyway). The word table is a plain DataFrame:
    persist it as parquet and reuse it across ingest batches. Probe with
    :func:`bloom_maybe_contains` using the same ``num_bits``/``num_hashes``.
    """
    if num_bits % 64 != 0 or num_bits <= 0:
        raise ValueError(f"num_bits must be a positive multiple of 64: {num_bits}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1: {num_hashes}")
    return (
        df.select(
            _bloom_word_ix(value, num_bits).alias("word_ix"),
            _bloom_word_mask(value, num_hashes).alias("_m"),
        )
        .groupBy("word_ix")
        .agg(F.bit_or("_m").alias("word"))
    )


def bloom_filter_merge(*word_tables: DataFrame) -> DataFrame:
    """OR together Bloom word tables built with the SAME num_bits /
    num_hashes — the union of their key sets, exactly as if built in one
    pass (bit_or is associative/commutative, so merge order is irrelevant).

    This is how a persisted ingest filter STAYS current: after each batch,
    ``bloom_filter_merge(words, bloom_filter_build(new_hashes, ...))`` and
    re-persist. A filter that lags history breaks
    :func:`~seraster_spark.text.new_documents`'s exactness — a doc added
    to history after the filter was built probes "definitely new" and
    skips the re-check entirely.

    Cost: one shuffle bounded by num_bits/64 rows per table, never by key
    count.
    """
    if not word_tables:
        raise ValueError("bloom_filter_merge: at least one word table required")
    out = word_tables[0]
    for w in word_tables[1:]:
        out = out.unionByName(w)
    return out.groupBy("word_ix").agg(F.bit_or("word").alias("word"))


def bloom_maybe_contains(
    df: DataFrame,
    value: Column,
    filter_words: DataFrame,
    num_bits: int,
    num_hashes: int,
    out_col: str = "bloom_maybe",
) -> DataFrame:
    """Append boolean ``out_col``: True iff ``value`` MAY be in the filter
    built by :func:`bloom_filter_build` (same ``num_bits``/``num_hashes``),
    False iff it is DEFINITELY absent.

    Pure-JVM map-side plan: ONE broadcast hash join against the word table
    (≤ num_bits/64 rows) — the register-blocked layout puts all
    ``num_hashes`` bits in that single word — then ``(word & mask) ==
    mask``. No Python, no shuffle of ``df``, whole-stage codegen
    throughout. At ingest scale this is the shape that matters: the 100 TB
    incoming scan streams through one broadcast probe and a filter; only
    rows the filter cannot rule out proceed to an exact (expensive) join.

    ``num_bits``/``num_hashes`` MUST equal the build's — a mismatch computes
    different word indices / masks and silently reports false negatives, the
    one error mode a Bloom filter must never have. The scalar preconditions
    are re-checked here; the cross-check against the build's parameters is
    the caller's contract (persist them next to the word table).
    """
    if num_bits % 64 != 0 or num_bits <= 0:
        raise ValueError(f"num_bits must be a positive multiple of 64: {num_bits}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1: {num_hashes}")
    clash = {"_bw", "_bm", out_col} & set(df.columns)
    if clash - {out_col} or out_col in df.columns:
        raise ValueError(
            f"bloom_maybe_contains: input already has column(s) {sorted(clash)}"
        )
    mask = _bloom_word_mask(value, num_hashes)
    out = df.withColumn("_bw", _bloom_word_ix(value, num_bits)).withColumn(
        "_bm", mask
    )
    w = F.broadcast(filter_words.alias("_bf"))
    out = out.join(w, F.col("_bw") == F.col("_bf.word_ix"), "left")
    maybe = (
        F.coalesce(F.col("_bf.word"), F.lit(0).cast("long")).bitwiseAND(F.col("_bm"))
        == F.col("_bm")
    )
    out = out.withColumn(out_col, maybe)
    return out.drop(F.col("_bf.word_ix")).drop(F.col("_bf.word")).drop("_bw", "_bm")
