"""Seeded, distributed input generators for the benchmark.

Every table is built from ``spark.range`` and column expressions (no
driver-side data), and every random draw is ``xxhash64(seed, row, salt)``,
so the same seed gives byte-identical inputs on any host. The program under
test only ever sees these generated tables, staged to Parquet.

The interleaved corpus follows the ``input_hint`` schema::

    doc_id: string
    spans:  array<struct<kind: string, text: string, media_ref: string,
                         offset: int>>
    x, y:   double        kind: string
    values: array<struct<feature: string, value: double>>

Spans alternate text / image / text. Text spans are ``words_per_span``
words from a 4096-word vocabulary; image spans carry a ``media_ref`` and no
text. A ``hot_share`` of the documents sits in one 80 x 80 square inside
the res-100 tile ``HOT_TILE``. The last ``exact_dup_share`` + ``near_dup_share``
of the rows are planted duplicates of a seeded source document among the
originals: an exact duplicate repeats the source's span text, a near
duplicate repeats it with the final word replaced by a word no other
document uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

EXTENT_X, EXTENT_Y = 3000.0, 2000.0
#: res-100 tile (xmin, ymin, xmax, ymax) that receives the hot share
HOT_TILE = (1500.0, 1000.0, 1600.0, 1100.0)
VOCAB = 4096
N_FEATURES = 6
SPAN_KINDS = ("text", "image", "text")
EMBED_DIM = 64


def _h(seed: int, *parts) -> Column:
    """Deterministic 64-bit draw for (seed, parts...)."""
    return F.xxhash64(F.lit(seed), *[p if isinstance(p, Column) else F.lit(p) for p in parts])


def _unit(seed: int, *parts, scale: int = 1_000_000) -> Column:
    """Uniform draw in [0, 1) on a 1/scale lattice (exact decimals)."""
    return F.pmod(_h(seed, *parts), F.lit(scale)) / float(scale)


def _coords(seed: int, i: Column, hot_share: float) -> tuple[Column, Column]:
    hot = _unit(seed, i, "hot", scale=10_000) < F.lit(hot_share)
    hx0, hy0 = HOT_TILE[0] + 10.0, HOT_TILE[1] + 10.0
    x = F.when(hot, hx0 + 80.0 * _unit(seed, i, "hx")).otherwise(
        EXTENT_X * _unit(seed, i, "x")
    )
    y = F.when(hot, hy0 + 80.0 * _unit(seed, i, "hy")).otherwise(
        EXTENT_Y * _unit(seed, i, "y")
    )
    return x, y


def _word(seed: int, key: Column, pos: int, j: int) -> Column:
    return F.concat(F.lit("w"), F.hex(F.pmod(_h(seed, key, pos, j), F.lit(VOCAB))))


def span_texts(seed: int, key: Column, words: int, last_word: Column | None = None) -> list:
    """Text of each span position (None for image spans). The text is a
    function of ``key`` alone, so rows sharing a key share their text;
    where ``last_word`` is not NULL it replaces the final word of the final
    text span."""
    last_text = max(p for p, k in enumerate(SPAN_KINDS) if k == "text")
    out = []
    for p, kind in enumerate(SPAN_KINDS):
        if kind != "text":
            out.append(None)
            continue
        ws = [_word(seed, key, p, j) for j in range(words)]
        if p == last_text and last_word is not None:
            ws[-1] = F.coalesce(last_word, ws[-1])
        out.append(F.concat_ws(" ", *ws))
    return out


def _spans(seed: int, key: Column, words: int, last_word: Column | None) -> Column:
    texts = span_texts(seed, key, words, last_word)
    return F.array(
        *[
            F.struct(
                F.lit(kind).alias("kind"),
                (texts[p] if kind == "text" else F.lit(None).cast("string")).alias("text"),
                (
                    F.concat(F.lit("img/"), F.hex(_h(seed, key, p, "img")), F.lit(".png"))
                    if kind == "image"
                    else F.lit(None).cast("string")
                ).alias("media_ref"),
                F.lit(p).cast("int").alias("offset"),
            )
            for p, kind in enumerate(SPAN_KINDS)
        ]
    )


def doc_id(i: Column) -> Column:
    return F.format_string("doc-%07d", i)


def planted_counts(n: int, exact_share: float, near_share: float) -> tuple[int, int, int]:
    """(originals, exact duplicates, near duplicates) for a corpus of n."""
    n_exact = int(round(n * exact_share))
    n_near = int(round(n * near_share))
    return n - n_exact - n_near, n_exact, n_near


def source_expr(seed: int, i: Column, n_orig: int) -> Column:
    """Row number whose text row ``i`` carries (itself for originals)."""
    return F.when(i >= n_orig, F.pmod(_h(seed, i, "src"), F.lit(n_orig))).otherwise(i)


def corpus(
    spark: SparkSession,
    n: int,
    seed: int,
    words_per_span: int,
    hot_share: float,
    exact_dup_share: float = 0.0,
    near_dup_share: float = 0.0,
    partitions: int = 4,
) -> DataFrame:
    """The interleaved-document corpus, plus a ``src`` column naming the
    document each planted duplicate copies (None for originals) and an
    ``is_near`` flag; drop both before handing the corpus to the program."""
    n_orig, n_exact, _ = planted_counts(n, exact_dup_share, near_dup_share)
    i = F.col("id")
    src = source_expr(seed, i, n_orig)
    is_near = i >= n_orig + n_exact
    last = F.when(is_near, F.concat(F.lit("z"), i.cast("string")))
    x, y = _coords(seed, i, hot_share)
    values = F.array(
        *[
            F.struct(
                F.lit(f"g{j}").alias("feature"),
                (F.pmod(_h(seed, i, "v", j), F.lit(1000)) / 100.0).alias("value"),
            )
            for j in range(N_FEATURES)
        ]
    )
    return spark.range(0, n, numPartitions=partitions).select(
        doc_id(i).alias("doc_id"),
        _spans(seed, src, words_per_span, last).alias("spans"),
        x.alias("x"),
        y.alias("y"),
        F.concat(F.lit("ct"), F.pmod(_h(seed, i, "kind"), F.lit(16)).cast("string")).alias(
            "kind"
        ),
        values.alias("values"),
        F.when(i >= n_orig, doc_id(src)).alias("src"),
        is_near.alias("is_near"),
    )


def doc_text(spans: Column) -> Column:
    """Document text: its text spans joined in span order."""
    return F.concat_ws(" ", spans.getField("text"))


def points(spark: SparkSession, n: int, seed: int, hot_share: float, partitions: int = 4) -> DataFrame:
    """Slim point table (doc_id, x, y, val) with the corpus's hot tile."""
    i = F.col("id")
    x, y = _coords(seed, i, hot_share)
    return spark.range(0, n, numPartitions=partitions).select(
        doc_id(i).alias("doc_id"),
        x.alias("x"),
        y.alias("y"),
        F.pmod(_h(seed, i, "val"), F.lit(100)).alias("val"),
    )


def parcels(spark: SparkSession, n: int, seed: int, min_side: float, max_side: float) -> DataFrame:
    """Axis-aligned parcel rectangles as closed 5-vertex rings."""
    i = F.col("id")
    w = min_side + (max_side - min_side) * _unit(seed, i, "pw", scale=1000)
    hgt = min_side + (max_side - min_side) * _unit(seed, i, "ph", scale=1000)
    x0 = (EXTENT_X - w) * _unit(seed, i, "px", scale=1000)
    y0 = (EXTENT_Y - hgt) * _unit(seed, i, "py", scale=1000)
    x1, y1 = x0 + w, y0 + hgt
    return spark.range(0, n, numPartitions=1).select(
        i.alias("poly_id"),
        F.array(x0, x1, x1, x0, x0).alias("xs"),
        F.array(y0, y0, y1, y1, y0).alias("ys"),
    )


def queries(spark: SparkSession, n: int, seed: int) -> DataFrame:
    i = F.col("id")
    return spark.range(0, n, numPartitions=1).select(
        i.alias("query_id"),
        (EXTENT_X * _unit(seed, i, "qx")).alias("x"),
        (EXTENT_Y * _unit(seed, i, "qy")).alias("y"),
    )


def embeddings(spark: SparkSession, n: int, seed: int, n_orig: int, partitions: int = 4) -> DataFrame:
    """One vector per corpus document. A planted duplicate's vector is its
    source's vector scaled by a factor in [1, 1.01): the same direction, so
    cosine 1 and the same sign against every LSH hyperplane."""
    i = F.col("id")
    src = source_expr(seed, i, n_orig)
    scale = F.when(i >= n_orig, 1.0 + 0.01 * _unit(seed, i, "scale")).otherwise(F.lit(1.0))
    vec = F.array(
        *[(2.0 * _unit(seed, src, "e", j) - 1.0) * scale for j in range(EMBED_DIM)]
    )
    return spark.range(0, n, numPartitions=partitions).select(
        doc_id(i).alias("doc_id"), vec.alias("embedding")
    )


def incoming(spark: SparkSession, n: int, seed: int, n_corpus: int, n_orig: int, words: int) -> DataFrame:
    """A daily batch for incremental dedup: the first half repeats the text
    of seeded corpus originals, the second half is fresh text. ``is_new``
    marks the rows the dedup must keep."""
    i = F.col("id")
    seen = i < n // 2
    key = F.when(seen, F.pmod(_h(seed, i, "inc"), F.lit(n_orig))).otherwise(n_corpus + i)
    return spark.range(0, n, numPartitions=1).select(
        F.format_string("inc-%07d", i).alias("doc_id"),
        F.concat_ws(" ", *[t for t in span_texts(seed, key, words) if t is not None]).alias(
            "text"
        ),
        (~seen).alias("is_new"),
    )
