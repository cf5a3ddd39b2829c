"""Property-based parity fuzz: the Arrow shingling kernel must equal the
Column-expression path on arbitrary texts — whitespace structure is the
seam where they can drift (F.trim strips SPACES only; Java split keeps
leading empties; re.ASCII vs Java \\s). A code-review round caught a real
strip()/trim divergence here; this fuzz pins the contract. Case folding
happens JVM-side on BOTH paths (callers pass F.lower), so the alphabet
includes locale-sensitive code points (U+0130 İ, ß, Σ, final sigma) that
would diverge under Python str.lower()."""

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from seraster_spark import text as X

# printable ASCII + every ASCII whitespace Java \s matches (\t\n\x0b\x0c\r ' ')
# + locale-sensitive case-fold traps (lowercasing is JVM-side on both paths)
_ALPHABET = (
    st.characters(
        codec="ascii", min_codepoint=0x09, max_codepoint=0x7E, exclude_categories=["Cc"]
    )
    | st.sampled_from("\t\n\x0b\x0c\r ")
    | st.sampled_from("İıßΣσςÉé ")  # NBSP: non-ASCII whitespace, must NOT split
)

_texts = st.lists(
    st.one_of(st.none(), st.text(alphabet=_ALPHABET, max_size=60)),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=_texts)
# whitespace-edged texts: F.trim strips SPACES only, so a leading tab yields
# a leading empty token in shingles_expr, which the kernel must replicate
@example(
    texts=[
        "\thello world foo bar",
        "hello world foo bar",
        "hello world foo bar\n",
        " hello world foo bar ",
        None,
    ]
)
def test_arrow_shingles_equal_expr_shingles(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    arrow = {
        r["doc_id"]: list(r["s"])
        for r in df.select(
            "doc_id", X._shingles_pandas_udf(3)(F.lower(F.col("text"))).alias("s")
        ).collect()
    }
    expr = {
        r["doc_id"]: (list(r["s"]) if r["s"] is not None else [])
        for r in df.select(
            "doc_id", X.shingles_expr(F.col("text"), 3).alias("s")
        ).collect()
    }
    # expr path yields NULL for NULL text (filtered identically downstream);
    # arrow yields [] — normalize both to [] and require exact equality,
    # including element ORDER (first-occurrence dedup) and empty tokens
    for k in arrow:
        e = expr[k]
        e = e if len(e) >= 1 else []
        assert arrow[k] == e, (k, texts[k], arrow[k], e)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(st.text(alphabet=_ALPHABET, max_size=40), min_size=2, max_size=12))
def test_minhash_sig_kernel_equals_expr(spark, texts):
    """The numpy permutation-min kernel is bit-identical to the Column
    universal-hash chain on the same pre-hashed shingles."""
    texts = [*texts, "alpha beta gamma delta epsilon"]  # ≥1 shingled doc always
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    base = df.select(
        "doc_id",
        F.array_distinct(
            F.transform(X.shingles_expr(F.col("text"), 3), lambda s: F.xxhash64(s))
        ).alias("sh"),
    ).filter(F.size("sh") > 0)
    a = {
        r["doc_id"]: list(r["sig"])
        for r in base.select(
            "doc_id", X._minhash_sig_pandas_udf(16)(F.col("sh")).alias("sig")
        ).collect()
    }
    e = {
        r["doc_id"]: list(r["sig"])
        for r in base.select(
            "doc_id", X.minhash_signature(F.col("sh"), 16).alias("sig")
        ).collect()
    }
    assert a == e and len(a) >= 1
