"""Large-scale training-data text operators: dedup (exact, MinHash-LSH,
SimHash, n-gram Jaccard), language ID, quality scoring, token counting,
document fingerprinting.

Not part of the reference (SEraster is spatial-omics only) — these are the
first-class pipeline ops a 100 TB document corpus needs. Hashing stays
JVM-side (``xxhash64``/``md5``); per-row compute-dense stages (shingling,
the num_perm permutation mins) run as Arrow-batched numpy/pandas kernels —
interpreted HOF expression chains measured ~8× slower; never row-at-a-time
Python anywhere.

Scale shape:
* exact dedup — slim (id, hash) groupBy with map-side combine + unique-id
  join-back (payload never rides the skewed hash exchange);
* MinHash-LSH — signatures map-side, candidate generation is a slim
  (_id, band, bhash) self-join, exact Jaccard only on candidate pairs;
* SimHash — map-side bit votes + one groupBy; banding join for candidates;
* duplicate clustering — hash-min connected components, checkpointed rounds.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .session import materialize, release

_log = logging.getLogger("seraster_spark")

# ---------------------------------------------------------------------------
# tokenization / fingerprint primitives (all Column expressions)


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def _fan_out(df: DataFrame) -> DataFrame:
    """Repartition to defaultParallelism when the scan yields fewer
    partitions than cores (tiny files / one fat row-group) — compute-dense
    per-row ops would otherwise serialize on one core upstream of the first
    shuffle. No-op at corpus scale, where inputs have far more partitions."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception:
        # Spark Connect exposes neither sparkContext nor df.rdd — skip the
        # guard there (Connect backends size scans themselves)
        pass
    return df


def cap_buckets(
    banded: DataFrame,
    keys: list[str],
    max_bucket_size: int | None,
    op: str,
) -> DataFrame:
    """Degenerate-bucket guard for LSH-family band self-joins.

    A band bucket with m members yields m·(m-1)/2 candidate pairs, so ONE
    pathological band value (a mass of near-empty docs, constant vectors, a
    boilerplate page repeated millions of times) turns the candidate join
    quadratic. Buckets larger than ``max_bucket_size`` carry no
    discriminative signal — their members are better handled by
    :func:`exact_dedup` upstream — so they are dropped, and the dropped
    bucket count is surfaced as a warning metric. (Salting the hot bucket is
    the alternative when its pairs must be kept; dropping is the standard
    dedup-pipeline choice because a 10M-member bucket's 5·10^13 pairs are
    unusable anyway.)

    Cost: one slim aggregation over the already-slim banded rows (map-side
    combine collapses each bucket to one cell per mapper) plus an equi-join
    on the band key — the same key the self-join shuffles on. The sizes
    frame is materialized once; the dropped-bucket count is an observed
    count on that same job, so the warning costs no job of its own.
    """
    if max_bucket_size is None:
        return banded
    if max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2 (a pair needs 2 members)")
    sizes, c = materialize(
        banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bn")),
        f"{op}: bucket sizes",
        dropped=F.count_if(F.col("_bn") > max_bucket_size),
    )
    if c["dropped"]:
        _log.warning(
            "%s: dropped %d degenerate LSH bucket(s) larger than %d members",
            op,
            c["dropped"],
            max_bucket_size,
        )
    kept = sizes.filter(F.col("_bn") <= max_bucket_size).drop("_bn")
    return banded.join(kept, keys)


def token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    return df.withColumn(
        out,
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(
            F.size(tokens_expr(F.col(text_col)))
        ),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score in [0,1]:
    length band, mean word length band, alpha ratio, repetition
    (distinct/total token ratio)."""
    t = F.col(text_col)
    toks = tokens_expr(t)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    alpha_ratio = (n_chars - F.length(F.regexp_replace(t, r"[A-Za-z ]", ""))) / F.greatest(
        n_chars, F.lit(1)
    )
    distinct_ratio = F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))
    mean_wordlen = (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1))
    len_ok = F.when((n_tok >= 5) & (n_tok <= 100000), 1.0).otherwise(0.0)
    wordlen_ok = F.when((mean_wordlen >= 2.0) & (mean_wordlen <= 12.0), 1.0).otherwise(0.0)
    score = (
        F.lit(0.25) * len_ok
        + F.lit(0.25) * wordlen_ok
        + F.lit(0.25) * alpha_ratio
        + F.lit(0.25) * distinct_ratio
    )
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("alpha_ratio", alpha_ratio)
        .withColumn("distinct_token_ratio", distinct_ratio)
        .withColumn("mean_word_len", mean_wordlen)
        .withColumn("quality_score", score)
    )


_LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "to"],
    "de": ["der", "die", "und", "ist", "das"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "es"],
}


def lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_guess") -> DataFrame:
    """Stopword-marker language heuristic: count marker-token hits per
    language over the token array; argmax with 'und' (undetermined) fallback.
    Pure array built-ins — no UDF."""
    toks = tokens_expr(F.col(text_col))
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        hits = F.size(
            F.filter(toks, lambda tk: tk.isin(markers))  # noqa: B023
        )
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.withColumn(
        out, F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    )


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fp64") -> DataFrame:
    """64-bit rolling document fingerprint: xxhash64 of the normalized token
    stream (whitespace-canonical, lowercase) — robust to whitespace noise.
    Empty tokens are filtered AFTER the split (not via trim): JVM trim
    strips only the SPACE character, so a tab/newline-prefixed text would
    otherwise keep a leading empty token and change the fingerprint."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    return df.withColumn(out, F.xxhash64(F.array_join(toks, " ")))


def vocabulary(
    df: DataFrame, text_col: str = "text", min_df: int = 1, id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary: per token, collection frequency (total
    occurrences), document frequency, and the smallest doc id containing it
    (a deterministic exemplar pointer). The tokenizer-training /
    stop-list-mining primitive of a text pipeline.

    Scale shape: explode → ONE groupBy on the token with map-side combine
    (cf partials collapse per mapper; df via per-doc distinct BEFORE the
    shuffle would need a second explode, so df counts distinct doc ids in
    the same agg — Spark's count(DISTINCT) rewrites to a partial-distinct
    expand, still one logical shuffle stage under AQE). ``min_df`` prunes
    the hapax tail after aggregation.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    out = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct(id_col).cast("long").alias("df"),
        F.min(id_col).alias("first_doc"),
    )
    return out.filter(F.col("df") >= min_df) if min_df > 1 else out


def bigrams(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document word bigrams (adjacent token pairs) — the n-gram-LM /
    collocation-mining primitive. Pure Column math: two shifted slices of
    the token array zipped and exploded; no shuffle until the caller
    aggregates. Documents with < 2 tokens yield no rows."""
    toks = tokens_expr(F.col(text_col))
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"), F.slice(toks, 2, n - 1).alias("w2")
    )
    return (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col), F.explode(pairs).alias("bg"))
        .select(
            id_col,
            F.col("bg.w1").alias("w1"),
            F.col("bg.w2").alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )


# ---------------------------------------------------------------------------
# exact dedup


def content_hash_expr(text_col: str = "text") -> Column:
    """The canonical content hash used by every dedup surface (exact_dedup,
    new_documents, the streaming dedup sink, and any externally persisted
    Bloom word table): md5 of the text, NULL routed through a sentinel so
    NULL documents dedup against each other instead of vanishing via
    md5(NULL)=NULL. One definition — a persisted filter or hash snapshot
    built with this expression stays probe-compatible across releases."""
    return F.coalesce(F.md5(F.col(text_col)), F.lit("__null_text__"))


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    validate_ids: bool = False,
) -> DataFrame:
    """Exact duplicate detection by content hash. Adds ``content_hash``,
    ``dup_group_size`` and ``is_canonical`` (the min id per group survives).

    100 TB shape: the document payload NEVER rides the skewed content_hash
    exchange. Group stats come from a groupBy over a slim
    ``(content_hash, id)`` projection — map-side partial aggregation
    collapses duplicate hashes before the shuffle, so a 10M-copy viral
    document costs one combiner cell per mapper, not one 10M-row window
    partition (the previous window-based form shuffled every column,
    including ``text``, partitioned by the skewed hash). The slim annotation
    then re-attaches by an equi-join on the UNIQUE id (uniform key, AQE
    sort-merge); Catalyst prunes any payload column the consumer doesn't
    select out of that join entirely.

    Contract: ``id_col`` must be non-NULL and unique per row (a document
    id). A NULL id would silently vanish through the inner equi-joins, so it
    fails fast at execution time (a row-local ``raise_error`` branch — no
    extra job); duplicate ids would silently multiply rows, which only a
    pass over the data can detect — set ``validate_ids=True`` to spend one
    slim aggregation job asserting uniqueness before the annotation join."""
    if validate_ids:
        chk = df.agg(
            F.count(F.lit(1)).alias("_rows"),
            F.count(id_col).alias("_nonnull"),
            F.countDistinct(id_col).alias("_distinct"),
        ).first()
        if chk["_nonnull"] != chk["_rows"] or chk["_distinct"] != chk["_rows"]:
            raise ValueError(
                f"exact_dedup: {id_col} must be non-NULL and unique "
                f"(rows={chk['_rows']}, non-null={chk['_nonnull']}, "
                f"distinct={chk['_distinct']})"
            )
    # NULL texts form one dup group (the old window's partitionBy(NULL)
    # semantics); md5(NULL)=NULL would silently DROP those rows through the
    # inner equi-joins — content_hash_expr hashes through a sentinel
    h = content_hash_expr(text_col)
    # NULL ids never equi-join — fail fast row-locally instead of dropping
    id_type = df.schema[id_col].dataType.simpleString()
    safe_id = F.when(F.col(id_col).isNotNull(), F.col(id_col)).otherwise(
        F.raise_error(f"exact_dedup: NULL {id_col} (ids must be non-NULL and unique)").cast(
            id_type
        )
    )
    slim = df.select(safe_id.alias("_did"), h.alias("content_hash"))
    stats = slim.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("dup_group_size"),
        F.min("_did").alias("_min_id"),
    )
    ann = (
        slim.join(stats, "content_hash")
        .select(
            F.col("_did").alias(id_col),
            "content_hash",
            "dup_group_size",
            (F.col("_did") == F.col("_min_id")).alias("is_canonical"),
        )
    )
    return df.join(ann, id_col)


def new_documents(
    incoming: DataFrame,
    historical: DataFrame,
    text_col: str = "text",
    method: str = "antijoin",
    bloom_words: DataFrame | None = None,
    bloom_bits: int = 1 << 23,
    bloom_hashes: int = 5,
) -> DataFrame:
    """Incremental ingestion dedup: the incoming rows whose content hash
    does not appear in the historical corpus (the daily-batch counterpart
    of ``exact_dedup`` — dedup *against a snapshot* instead of within one).

    100 TB shape, ``method="antijoin"``: the historical side collapses to
    DISTINCT content hashes before the anti-join — a hash-only shuffle with
    map-side combine; no payload from either side rides the exchange (the
    anti-join output is resolved on the slim hash key, and Catalyst prunes
    incoming payload columns the consumer doesn't select). When the
    incoming batch is small relative to history, AQE broadcast-flips the
    join automatically.

    ``method="bloom"``: when HISTORY is the huge side (the steady state of
    a training-data ingest: petabytes of corpus, a daily batch of new
    docs), the plain anti-join must shuffle history's DISTINCT hashes —
    the dominant cost at scale. The bloom path never shuffles history at
    all:

    1. one SLIM pass over the incoming hashes probes a broadcastable Bloom
       word table (:func:`~seraster_spark.sketch.bloom_filter_build` —
       ≤ bloom_bits/64 int64 rows) with pure-JVM broadcast joins; hashes
       the filter rules out are DEFINITELY new and drop out here;
    2. the surviving maybe-seen hashes (DISTINCT — bounded by the batch,
       not history) broadcast into a semi-join that streams history
       MAP-ONLY, emitting only the confirmed-dup hashes (≤ the sliver);
    3. those broadcast into one anti-join over incoming — the payload
       pass, which needs no probe joins at all.

    Every join is broadcast-hash; the only exchange anywhere is the
    distinct over the sliver's hashes. Output is row-for-row IDENTICAL to
    ``antijoin`` — Bloom filters have no false negatives, and every false
    positive is re-checked exactly. Pass a persisted ``bloom_words`` table
    to skip rebuilding the filter — the production shape; when omitted it
    is built from ``historical`` in-line (one extra history pass, still
    shuffle-bounded by bloom_bits/64). Size ``bloom_bits`` ≈ 16× the
    historical distinct-hash count for a ~0.3% false-positive rate at
    ``bloom_hashes=5`` (register-blocked layout).

    HARD CONTRACTS (violations produce silently missed duplicates, not
    errors):

    - ``bloom_words`` must cover EVERY hash currently in ``historical`` —
      a doc added to history after the filter was built probes
      "definitely new" and skips the re-check. After each ingested batch,
      fold its hashes in with
      :func:`~seraster_spark.sketch.bloom_filter_merge` and re-persist;
      probe with the exact ``bloom_bits``/``bloom_hashes`` the table was
      built with (persist them alongside it).
    - ``incoming`` must be DETERMINISTIC across re-computation (a parquet
      read, not e.g. a ``F.rand()`` derivation): the probe pass and the
      payload pass scan it independently, and a hash that differs between
      scans escapes the confirmed set. Eagerly checkpoint a
      non-deterministic batch before calling.
    - the incoming BATCH (not history) must be broadcast-sized
      (daily-batch regime); for incoming ≈ history use ``antijoin``.

    NULL text hashes through the same sentinel as ``exact_dedup`` so NULL
    incoming docs dedup against NULL historical docs instead of slipping
    through md5(NULL)=NULL.
    """
    h = content_hash_expr(text_col)
    hist_hashes = historical.select(h.alias("content_hash"))
    inc = incoming.withColumn("content_hash", h)
    if method == "antijoin":
        return inc.join(hist_hashes.distinct(), "content_hash", "left_anti")
    if method != "bloom":
        raise ValueError(f"method must be 'antijoin' or 'bloom': {method!r}")
    from . import sketch as _sk

    words = (
        bloom_words
        if bloom_words is not None
        else _sk.bloom_filter_build(
            hist_hashes, F.col("content_hash"), bloom_bits, bloom_hashes
        )
    )
    flagged = _sk.bloom_maybe_contains(
        inc.select("content_hash"),
        F.col("content_hash"),
        words,
        bloom_bits,
        bloom_hashes,
        "_bloom_maybe",
    )
    maybe_hashes = (
        flagged.filter(F.col("_bloom_maybe")).select("content_hash").distinct()
    )
    confirmed = hist_hashes.join(
        F.broadcast(maybe_hashes), "content_hash", "left_semi"
    ).distinct()
    # the payload pass: plain broadcast anti against the (tiny) confirmed
    # set — incoming is scanned twice (once slim for the probe, once for
    # payload), but history never rides an exchange.
    return inc.join(F.broadcast(confirmed), "content_hash", "left_anti")


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH


def shingles_expr(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles via sequence/transform (JVM-side)."""
    toks = tokens_expr(text)
    k = F.size(toks) - F.lit(n - 1)
    # sequence(0, k-1) is DESCENDING for k<=0 — guard short/empty texts
    idx = F.when(k > 0, F.sequence(F.lit(0), k - 1)).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.array_distinct(gram)


# MinHash permutations are (a·h + b) mod p over Z_p, p = 2^31 − 1 prime:
# with h, a, b < p every intermediate stays below 2^62 + 2^31 (int64- and
# ANSI-safe), and a ∈ [1, p) makes each map a bijection of Z_p.
_P31 = (1 << 31) - 1


def _shingles_pandas_udf(n: int):
    """Arrow-batched shingling over PRE-LOWERCASED text (callers pass
    ``F.lower(col)`` so case folding happens JVM-side exactly as in
    :func:`shingles_expr` — Python ``str.lower()`` and JVM ``lower()``
    diverge on locale-sensitive code points like U+0130, which would make
    the xxhash64 and md5 variants shingle multilingual corpora differently).

    ~8× faster than the interpreted slice/array_join HOF chain (measured
    12s → 1.4s for 260k shingles on 5k docs) and result-identical to
    :func:`shingles_expr` for ANY input: re.ASCII \\s+ matches Java's
    ASCII-only \\s (same 6-char set), ``strip(' ')`` matches F.trim (which
    removes SPACES only, so a leading tab survives and yields a leading
    empty token in both engines — ``.strip()`` would NOT match), re.split
    keeps the leading/trailing empty fields Java split keeps under
    limit=-1, and dict.fromkeys preserves first-occurrence order like
    array_distinct."""
    import re

    ws = re.compile(r"\s+", re.ASCII)

    @F.pandas_udf("array<string>")
    def _shingles(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            toks = ws.split(t.strip(" "))
            if len(toks) < n:
                out.append([])
                continue
            out.append(
                list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))
            )
        return pd.Series(out)

    return _shingles


def _minhash_sig_pandas_udf(num_perm: int, seed: int = 13):
    """Arrow-batched MinHash signature over pre-hashed shingles
    (array<long> → array<long>): the 32 universal-hash permutations as one
    numpy pass per batch — bit-identical to :func:`minhash_signature`
    (int64 arithmetic, see ``_P31``; numpy ``%`` with a positive divisor is
    non-negative, matching F.pmod)."""
    params = _perm_params(num_perm, seed)
    pa = np.array([p[0] for p in params], dtype=np.int64)
    pb = np.array([p[1] for p in params], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _sig(sh: pd.Series) -> pd.Series:
        lens = np.fromiter((len(v) for v in sh), dtype=np.int64, count=len(sh))
        nonempty = lens > 0
        if not nonempty.any():
            return pd.Series([None] * len(sh))
        flat = np.concatenate([np.asarray(v, dtype=np.int64) for v in sh if len(v)])
        p31 = np.int64(_P31)
        hmod = flat % p31
        starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=starts[1:])
        out_ne = np.empty((len(starts), num_perm), dtype=np.int64)
        for p in range(num_perm):
            vals = (pa[p] * hmod + pb[p]) % p31
            out_ne[:, p] = np.minimum.reduceat(vals, starts)
        res = [None] * len(sh)
        for row, i in zip(out_ne.tolist(), np.flatnonzero(nonempty)):
            res[i] = row
        return pd.Series(res)

    return _sig


def _perm_params(num_perm: int, seed: int = 13):
    """Deterministic universal-hash family parameters a ∈ [1, p), b ∈ [0, p)
    over Z_p, p = 2^31 − 1. (A modulus far above p lets a·h + b wrap at
    most twice, so the permutations order shingles nearly alike and the
    LSH bands stop being independent.)"""
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _P31), rnd.randrange(0, _P31)) for _ in range(num_perm)]


def minhash_signature(hashed_shingles: Column, num_perm: int = 32) -> Column:
    """num_perm-wide MinHash signature over PRE-HASHED shingles (array<long>)
    as Column expressions: min_s((a_p * (h mod p) + b_p) mod p), overflow-
    safe under ANSI (see ``_P31``). array<long>. The Column reference for
    the Arrow kernel :func:`_minhash_sig_pandas_udf`, which
    :func:`minhash_lsh_candidates` runs."""
    def perm_fn(a: int, b: int):
        # NB closure factory — a default-arg lambda would change the arity
        # PySpark infers for the HOF lambda
        return lambda h: F.pmod(
            F.lit(a) * F.pmod(h, F.lit(_P31)) + F.lit(b), F.lit(_P31)
        )

    sigs = [
        F.array_min(F.transform(hashed_shingles, perm_fn(a, b)))
        for a, b in _perm_params(num_perm)
    ]
    return F.array(*sigs)


def _md5_minhash_signature(shingles: Column, num_perm: int) -> Column:
    """MinHash signature over RAW string shingles using md5 only: permutation
    p = lexicographic min of md5('<p>:' || shingle). A valid min-wise family
    (each salted md5 is an independent pseudo-random order), chosen because
    DuckDB shares md5 bit-for-bit — this is the oracle-checkable variant.
    array<string>."""
    def perm_fn(p: int):
        return lambda s: F.md5(F.concat(F.lit(f"{p}:"), s))

    return F.array(
        *[F.array_min(F.transform(shingles, perm_fn(p))) for p in range(num_perm)]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    verify_threshold: float | None = 0.5,
    hash: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs.

    shingle → minhash → band → bucket self-join, then exact Jaccard on the
    candidates only (array_intersect/union on the distinct shingle sets).
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``hash="xxhash64"`` (default): shingles pre-hashed once to int64, cheap
    universal-hash permutations — the production path. Shingling and the
    num_perm permutation mins run as Arrow-batched numpy/pandas kernels
    (the interpreted slice/array_join and array_min HOF chains measured ~8×
    slower); shingle hashing stays JVM xxhash64. ``hash="md5"``: salted md5
    permutations over raw shingles, all Column expressions — slower, but
    bit-reproducible in any engine with md5 (the DuckDB oracle runs this
    variant).

    100 TB shape: the band self-join shuffles ONLY (_id, band, bhash) — the
    shingle sets stay out of every exchange. Candidate ids are materialized
    eagerly (``materialize``), the signature cache is unpersisted before
    returning (no cache leak; checkpoint blocks are GC-cleaned), and the
    Jaccard verification re-derives shingle sets ONLY for candidate docs: a
    broadcast semi-join on the (small, checkpointed) candidate id set sits
    BELOW the shingle projection, so non-candidates never pay the Arrow
    shingle pass a second time — verify cost is candidate-cardinality, not
    another corpus scan. ``max_bucket_size`` guards the band join against
    degenerate hot buckets (see :func:`cap_buckets`) — at corpus scale
    always set it.
    """
    if hash not in ("xxhash64", "md5"):
        raise ValueError("hash must be 'xxhash64' or 'md5'")
    if bands < 1 or bands > num_perm or num_perm % bands != 0:
        # bands > num_perm would give EMPTY bands (a constant band hash puts
        # every doc in ONE bucket -> quadratic); a non-divisor silently
        # drops permutations and shifts the LSH threshold curve
        raise ValueError(
            f"bands must divide num_perm (got num_perm={num_perm}, bands={bands})"
        )
    rows = num_perm // bands
    # shingling + signatures are compute-dense per byte — ensure parallelism
    slim = _fan_out(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")))

    def shingle_sets(sl: DataFrame) -> DataFrame:
        """(_id, _sh) distinct shingle sets for ``sl`` — the one shingling
        definition shared by the signature pass and the (candidate-pruned)
        verification pass."""
        if hash == "xxhash64":
            # lower() JVM-side: exact case-fold parity with shingles_expr
            rw = sl.select(
                "_id", _shingles_pandas_udf(n)(F.lower(F.col("_text"))).alias("_s")
            ).filter(F.size("_s") > 0)
        else:
            rw = sl.select(
                "_id", shingles_expr(F.col("_text"), n).alias("_s")
            ).filter(F.size("_s") > 0)
        if hash == "xxhash64":
            # pre-hash shingles ONCE (xxhash64 per shingle); signature perms
            # and Jaccard verification both run on the hashed array
            return rw.select(
                "_id",
                F.array_distinct(F.transform("_s", lambda s: F.xxhash64(s))).alias("_sh"),
            )
        return rw.select("_id", F.col("_s").alias("_sh"))

    base = shingle_sets(slim)
    if hash == "xxhash64":
        sig_expr = _minhash_sig_pandas_udf(num_perm)(F.col("_sh"))

        def band_hash(elems):
            return F.xxhash64(F.concat_ws(",", *elems))
    else:
        sig_expr = _md5_minhash_signature(F.col("_sh"), num_perm)

        def band_hash(elems):
            return F.md5(F.concat_ws(",", *elems))
    # persist ONLY the slim (_id, _sig) projection: the banded path never
    # reads the shingle arrays again (verification re-derives them for
    # candidates only), so caching _sh would hold corpus-sized arrays in
    # memory for nothing
    sig = base.select("_id", sig_expr.alias("_sig")).persist()
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_hash(
                            [F.element_at("_sig", b * rows + r + 1) for r in range(rows)]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", F.col("_b.band").alias("band"), F.col("_b.bhash").alias("bhash"))
    try:
        banded = cap_buckets(banded, ["band", "bhash"], max_bucket_size, "minhash_lsh")
        left = banded.alias("l")
        right = banded.alias("r")
        # one slim job; cuts lineage to sig
        pairs, _ = materialize(
            left.join(
                right,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bhash") == F.col("r.bhash"))
                & (F.col("l._id") < F.col("r._id")),
            )
            .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]),
            "minhash_lsh: candidate pairs",
        )
    finally:
        sig.unpersist()
    # verification shingles ONLY candidate docs: the checkpointed pair list
    # is small, so its id set broadcasts; the semi-join sits below the
    # shingle projection (plain scan + broadcast filter, then the Arrow
    # kernel runs on the survivors) — never a second full-corpus shingle
    # pass
    cand_ids = (
        pairs.select(F.col("id_a").alias("_id"))
        .unionByName(pairs.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    sh = shingle_sets(slim.join(F.broadcast(cand_ids), "_id", "left_semi"))
    j = (
        pairs.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = j.withColumn("jaccard", inter / union).select("id_a", "id_b", "jaccard")
    if verify_threshold is not None:
        out = out.filter(F.col("jaccard") >= verify_threshold)
    return out


def ngram_jaccard(
    df_a: DataFrame,
    df_b: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard above a threshold, pruned by a shared-
    shingle inverted-index join (a pair must share ≥1 shingle — no cross
    join). For corpus-scale use minhash_lsh_candidates instead.

    ``max_df`` drops shingles whose document frequency exceeds it from the
    INVERTED INDEX only (a stop-phrase trigram shared by m docs generates
    O(m²) candidates while discriminating nothing); the exact Jaccard still
    runs on the FULL shingle sets of each surviving candidate pair. Pairs
    whose every shared shingle is hot are missed — at a sane cap such a pair
    is far below any useful threshold anyway. Set it whenever the corpus is
    not known to be boilerplate-free."""
    shing = _shingles_pandas_udf(n)
    is_self = df_b is None
    a = df_a.select(
        F.col(id_col).alias("id_a"), shing(F.lower(F.col(text_col))).alias("sh_a")
    )
    # self mode: derive the B side by RENAMING the A side so the expensive
    # shingling subtree exists once in the plan (a structurally separate
    # rebuild would shingle every document twice)
    b = (
        a.select(F.col("id_a").alias("id_b"), F.col("sh_a").alias("sh_b"))
        if is_self
        else df_b.select(
            F.col(id_col).alias("id_b"), shing(F.lower(F.col(text_col))).alias("sh_b")
        )
    )
    ia = a.select("id_a", F.explode("sh_a").alias("g")).dropDuplicates()
    ib = (
        ia.select(F.col("id_a").alias("id_b"), "g")
        if is_self
        else b.select("id_b", F.explode("sh_b").alias("g")).dropDuplicates()
    )
    if max_df is not None:
        if max_df < 2:
            raise ValueError("max_df must be >= 2 (a pair needs 2 postings)")
        # document frequency over the full posting set (one side in the
        # self-join case — ia and ib are the same postings there)
        postings = ia.select("g") if is_self else ia.select("g").unionByName(ib.select("g"))
        keep = (
            postings.groupBy("g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
        ia = ia.join(keep, "g")
        ib = ib.join(keep, "g")
    cand = ia.join(ib, "g")
    if is_self:
        # unordered unique pairs of ONE corpus; cross-corpus mode must keep
        # every (a, b) combination — an id ordering filter there silently
        # drops pairs whose A-side id happens to be >= the B-side id
        cand = cand.filter(F.col("id_a") < F.col("id_b"))
    cand = cand.select("id_a", "id_b").dropDuplicates()
    j = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        j.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# duplicate clustering (pairs → components)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-duplicate candidate pairs — the dedup
    capstone: pairwise matches are not clusters (duplicates are transitive:
    A≈B, B≈C ⇒ {A,B,C} is ONE group with one canonical doc).

    Hash-min label propagation: every node starts labeled with itself; each
    round a node takes the min label among itself and its neighbors; stop
    when a round changes nothing. Rounds = graph diameter — tiny for dup
    clusters (near-clique, typically 2-4). Each round is two slim shuffles
    (labels⋈edges groupBy-min, then a label-update join) in one materialize
    job that also observes the changed-label count ending the loop; the
    superseded round is released. For web-scale graphs with giant
    HIGH-DIAMETER components, use :func:`connected_components_star`
    (implemented below) — O(log n) rounds regardless of diameter.

    Returns (node, component) with component = min node id of the cluster;
    only nodes present in `pairs` appear (singletons are trivially their
    own component and typically not materialized at scale).
    """
    edges, _ = materialize(
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .dropDuplicates(),
        "connected_components: edges",
    )
    labels, _ = materialize(
        edges.select(F.col("s").alias("node"))
        .dropDuplicates()
        .withColumn("component", F.col("node")),
        "connected_components: labels 0",
    )
    for i in range(1, max_iter + 1):
        # min label among each node's neighbors (edges carry only ids)
        nbr_min = (
            edges.join(labels, edges["d"] == labels["node"])
            .groupBy("s")
            .agg(F.min("component").alias("_nbr"))
        )
        nbr = F.coalesce(F.col("_nbr"), F.col("component"))
        updated, c = materialize(
            labels.join(nbr_min, labels["node"] == nbr_min["s"], "left").select(
                "node",
                F.least(F.col("component"), nbr).alias("component"),
                (nbr < F.col("component")).alias("_chg"),
            ),
            f"connected_components: labels {i}",
            changed=F.count_if("_chg"),
        )
        release(labels)
        labels = updated
        if c["changed"] == 0:
            release(edges)
            return labels.drop("_chg")
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its STRICTLY LARGER
    neighbors to the minimum of its closed neighborhood. Input edges are
    undirected (any orientation); output edges point larger → smaller."""
    nbrs = edges.select("s", "d").unionByName(
        edges.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    mins = nbrs.groupBy("s").agg(F.min("d").alias("_mn")).select(
        "s", F.least(F.col("_mn"), F.col("s")).alias("m")
    )
    return (
        nbrs.join(mins, "s")
        .filter(F.col("d") > F.col("s"))
        .select(F.col("d").alias("s"), F.col("m").alias("d"))
        .dropDuplicates()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node connects its smaller neighbors (and
    itself) to the minimum among them. Input/output edges point larger →
    smaller."""
    mins = edges.groupBy("s").agg(F.min("d").alias("m"))
    to_min = (
        edges.join(mins, "s")
        .filter(F.col("d") != F.col("m"))
        .select(F.col("d").alias("s"), F.col("m").alias("d"))
    )
    self_to_min = mins.select("s", F.col("m").alias("d"))
    return to_min.unionByName(self_to_min).dropDuplicates()


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., *Connected Components in MapReduce and Beyond*, SoCC'14
    — public algorithm). Same (node, component) contract as
    :func:`connected_components`.

    Why a second variant: hash-min label propagation needs O(diameter)
    rounds — fine for near-clique dup clusters (diameter 2-4), but a
    web-scale graph with a giant threadlike component (e.g. chained
    boilerplate) makes diameter the bottleneck. Star contractions converge
    in O(log n) rounds regardless of diameter, and every round is the same
    slim shape as hash-min: two groupBy-min aggregations + equi-joins over
    (node, node) pairs, materialized with an observed edge count; the
    superseded edge set is released. The fixed point is a star forest:
    every non-root points directly at its component minimum."""
    n_rows = F.count(F.lit(1))
    edges, c = materialize(
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("s"),
            F.least(F.col(src), F.col(dst)).alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .dropDuplicates(),
        "connected_components_star: edges",
        n=n_rows,
    )
    all_nodes, _ = materialize(
        edges.select(F.col("s").alias("node"))
        .unionByName(edges.select(F.col("d").alias("node")))
        .dropDuplicates(),
        "connected_components_star: nodes",
    )
    prev_n = c["n"]
    for i in range(1, max_iter + 1):
        new, c = materialize(
            _small_star(_large_star(edges)), f"connected_components_star: round {i}", n=n_rows
        )
        # fixed point: identical edge multiset (both are deduped sets, so
        # count equality + empty difference suffices)
        fixed = c["n"] == prev_n and new.exceptAll(edges).isEmpty()
        release(edges)
        if fixed:
            # star forest: (s → d) with d = component root
            non_roots = new.select(F.col("s").alias("node"), F.col("d").alias("component"))
            roots = all_nodes.join(
                new.select(F.col("s").alias("node")), "node", "left_anti"
            ).withColumn("component", F.col("node"))
            return non_roots.unionByName(roots)
        edges, prev_n = new, c["n"]
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds"
    )


def dedup_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Cluster near-duplicate pairs and pick canonicals: (node, cluster_id =
    min id in the component, cluster_size, is_canonical)."""
    cc = connected_components(pairs, src, dst)
    # slim groupBy + equi-join, NOT a window partitioned by component: a
    # 10M-copy boilerplate cluster is one component, and a window would
    # funnel all its rows into a single task (the exact skewed shape
    # exact_dedup's docstring rules out); the groupBy map-side combines
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("node"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document, computed without any UDF:
    explode tokens → xxhash64 → per-bit ±1 votes summed in ONE groupBy
    (64 aggregate expressions, all codegen) → sign bits reassembled."""
    tok = _fan_out(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))).select(
        "_id", F.explode(tokens_expr(F.col("_text"))).alias("_t")
    )
    h = tok.withColumn("_h", F.xxhash64("_t"))
    # branch-free votes: ±1 vote sum v_b = 2·ones_b − n, so sign(v_b) > 0
    # ⟺ 2·ones_b > n — exact integer equivalence, with plain bit sums
    # instead of 64 CASE WHEN branches per row in the hot aggregate
    ones = [
        F.sum(F.shiftrightunsigned("_h", b).bitwiseAND(F.lit(1))).alias(f"_o{b}")
        for b in range(bits)
    ]
    agg = h.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"), *ones)
    sim = None
    for b in range(bits):
        bit = F.when(
            F.col(f"_o{b}") * F.lit(2) > F.col("_n"), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select(F.col("_id").alias(id_col), sim.alias("simhash"))


_HEX = "0123456789abcdef"


def simhash_md5(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash whose token hash is the first 16 hex chars of md5 —
    the oracle-checkable twin of :func:`simhash` (xxhash64 is Spark-only;
    md5 + hex-digit arithmetic is reproducible bit-for-bit in DuckDB).

    Same shape as :func:`simhash`: explode tokens → md5 → per-bit ±1 votes
    in ONE groupBy (64 codegen aggregates; bit b of the hash = bit (b mod 4)
    of hex digit (b div 4)) → sign bits reassembled into a 16-char hex string
    ``simhash_hex`` (nibble j of the output = bits 4j..4j+3)."""
    tok = _fan_out(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))).select(
        "_id", F.explode(tokens_expr(F.col("_text"))).alias("_t")
    )
    h = tok.withColumn("_m", F.md5("_t"))
    # nibble j = integer value of hex char j+1 (0..15), via position in _HEX
    nib = [
        F.expr(f"instr('{_HEX}', substr(_m, {j + 1}, 1)) - 1") for j in range(16)
    ]
    # branch-free votes (see simhash): sign(v_b) > 0 ⟺ 2·ones_b > n
    ones = [
        F.sum(F.shiftright(nib[b // 4], b % 4).bitwiseAND(F.lit(1))).alias(f"_o{b}")
        for b in range(64)
    ]
    agg = h.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"), *ones)
    bits = [
        F.when(F.col(f"_o{b}") * F.lit(2) > F.col("_n"), F.lit(1)).otherwise(F.lit(0))
        for b in range(64)
    ]
    chars = []
    for j in range(16):
        v = bits[4 * j] + bits[4 * j + 1] * 2 + bits[4 * j + 2] * 4 + bits[4 * j + 3] * 8
        chars.append(F.substr(F.lit(_HEX), v + 1, F.lit(1)))
    return agg.select(F.col("_id").alias(id_col), F.concat(*chars).alias("simhash_hex"))


def simhash_hex_candidates(
    sim_df: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash_hex",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs over :func:`simhash_md5` hex signatures —
    same pigeonhole banding as :func:`simhash_candidates` but on hex-char
    substrings (16/bands chars per band), with exact hamming distance
    computed per nibble (bit_count of XORed hex digits). Fully expressible
    in ANSI SQL, so it carries a DuckDB oracle."""
    if 16 % bands != 0:
        raise ValueError(f"bands must divide 16 (got {bands})")
    if bands < max_hamming + 1:
        # pigeonhole guarantees recall only for hamming <= bands-1; larger
        # verify thresholds are legitimate (band-limited recall) but must
        # be a visible choice, not a silent surprise
        _log.warning(
            "simhash_hex_candidates: pigeonhole recall only guaranteed for "
            "hamming <= %d (bands=%d); pairs with hamming in [%d, %d] may be missed",
            bands - 1, bands, bands, max_hamming,
        )
    width = 16 // bands
    banded = sim_df.select(
        F.col(id_col).alias("_id"),
        F.col(sim_col).alias("_sim"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring(sim_col, b * width + 1, width).alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", "_sim", F.col("_b.band").alias("band"), F.col("_b.bval").alias("bval"))
    banded = cap_buckets(banded, ["band", "bval"], max_bucket_size, "simhash_hex_candidates")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._sim").alias("sa"),
            F.col("r._sim").alias("sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    nib = lambda c, j: F.expr(f"instr('{_HEX}', substr({c}, {j + 1}, 1)) - 1")  # noqa: E731
    hamming = None
    for j in range(16):
        term = F.bit_count(nib("sa", j).bitwiseXOR(nib("sb", j)))
        hamming = term if hamming is None else hamming + term
    return (
        pairs.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_candidates(
    sim_df: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidates from SimHash by band-join (pigeonhole: hamming ≤
    bands-1 guarantees one identical band), verified with exact
    popcount hamming distance."""
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64 (got {bands})")
    if bands < max_hamming + 1:
        _log.warning(
            "simhash_candidates: pigeonhole recall only guaranteed for "
            "hamming <= %d (bands=%d); pairs with hamming in [%d, %d] may be missed",
            bands - 1, bands, bands, max_hamming,
        )
    width = 64 // bands
    mask = (1 << width) - 1
    banded = sim_df.select(
        F.col(id_col).alias("_id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", "simhash", F.col("_b.band").alias("band"), F.col("_b.bval").alias("bval"))
    banded = cap_buckets(banded, ["band", "bval"], max_bucket_size, "simhash_candidates")
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bval") == F.col("r.bval"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l.simhash").alias("sa"),
            F.col("r.simhash").alias("sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
