"""Text-pipeline operator tests with independent python oracles."""

import hashlib

import pytest
from pyspark.sql import functions as F

from seraster_spark import text as X


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        ("d00", "the quick brown fox jumps over the lazy dog"),
        ("d01", "the quick brown fox jumps over the lazy cat"),  # near-dup of d00
        ("d02", "der schnelle braune fuchs springt und ist da"),
        ("d03", "completely different words about spark shuffles"),
        ("d04", "the quick brown fox jumps over the lazy dog"),  # exact dup of d00
        ("d05", ""),
        ("d06", "le chat est sur la table et le chien est la"),
        ("d07", "aaa aaa aaa aaa aaa aaa aaa aaa"),
        ("d08", "completely different words about spark shuffle"),  # near-dup of d03
    ]
    return spark.createDataFrame(rows, "doc_id string, text string").cache()


def test_token_count(spark, corpus):
    got = {r["doc_id"]: r["n_tokens"] for r in X.token_count(corpus).collect()}
    exp = {
        "d00": 9, "d01": 9, "d02": 8, "d03": 6, "d04": 9,
        "d05": 0, "d06": 11, "d07": 8, "d08": 6,
    }
    assert got == exp


def test_exact_dedup(spark, corpus):
    got = X.exact_dedup(corpus).collect()
    by_id = {r["doc_id"]: r for r in got}
    assert by_id["d00"]["dup_group_size"] == 2
    assert by_id["d04"]["dup_group_size"] == 2
    assert by_id["d00"]["is_canonical"] and not by_id["d04"]["is_canonical"]
    assert by_id["d01"]["dup_group_size"] == 1
    # md5 matches hashlib
    assert by_id["d03"]["content_hash"] == hashlib.md5(
        b"completely different words about spark shuffles"
    ).hexdigest()


def test_exact_dedup_null_text_not_dropped(spark):
    """Regression: md5(NULL)=NULL would silently drop NULL-text rows through
    the inner annotation joins; they must survive as ONE dup group (the old
    window's partitionBy(NULL) semantics)."""
    rows = [(1, "a"), (2, None), (3, None), (4, "b"), (5, "a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in X.exact_dedup(df).collect()}
    assert set(got) == {1, 2, 3, 4, 5}  # no row lost
    assert got[2]["dup_group_size"] == 2 and got[3]["dup_group_size"] == 2
    assert got[2]["is_canonical"] and not got[3]["is_canonical"]
    assert got[1]["dup_group_size"] == 2 and got[1]["is_canonical"]


def test_shingles(spark, corpus):
    row = corpus.filter(F.col("doc_id") == "d03").select(
        X.shingles_expr(F.col("text"), 3).alias("sh")
    ).collect()[0]
    toks = "completely different words about spark shuffles".split()
    exp = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    assert set(row["sh"]) == exp


def test_minhash_lsh_finds_near_dups(spark, corpus):
    pairs = X.minhash_lsh_candidates(corpus, verify_threshold=0.3).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert ("d00", "d04") in found  # exact dup always collides
    assert ("d00", "d01") in found or ("d01", "d04") in found  # near dup
    # jaccard of exact dup is 1.0
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert j[("d00", "d04")] == 1.0
    # no false accepts below threshold survive verification
    assert all(r["jaccard"] >= 0.3 for r in pairs)


def test_minhash_lsh_recalls_planted_near_duplicates(spark):
    """200 planted pairs at Jaccard 45/47 (a 48-word doc and a copy with only
    its last word changed) must ALL be candidates: with 8 independent bands
    of 4 rows the miss rate is (1 - J^4)^8 ~ 4e-7 per pair. A correlated
    permutation family (modulus far above the hash range) missed ~3.5%."""
    import random

    rnd = random.Random(5)

    def doc():
        return [f"w{rnd.randrange(10**6)}" for _ in range(48)]

    rows = []
    for i in range(200):
        words = doc()
        rows.append((2 * i, " ".join(words)))
        rows.append((2 * i + 1, " ".join(words[:-1] + [f"z{i}"])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in X.minhash_lsh_candidates(df, verify_threshold=None).collect()
    }
    missed = [i for i in range(200) if (2 * i, 2 * i + 1) not in got]
    assert not missed, f"{len(missed)} of 200 planted pairs missed"


def test_ngram_jaccard_oracle(spark, corpus):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in X.ngram_jaccard(corpus, n=3, threshold=0.1).collect()
    }

    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    import itertools

    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = sh(texts[a]), sh(texts[b])
        if not sa or not sb:
            assert (a, b) not in got
            continue
        jac = len(sa & sb) / len(sa | sb)
        if jac >= 0.1:
            assert got[(a, b)] == pytest.approx(jac)
        else:
            assert (a, b) not in got


def test_simhash_properties(spark, corpus):
    sim = {r["doc_id"]: r["simhash"] for r in X.simhash(corpus.filter(F.col("text") != "")).collect()}
    # identical text -> identical simhash
    assert sim["d00"] == sim["d04"]
    # near-dup pairs closer than unrelated pairs
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sim["d00"], sim["d01"]) < ham(sim["d00"], sim["d03"])
    cands = X.simhash_candidates(
        spark.createDataFrame(
            [(k, v) for k, v in sim.items()], "doc_id string, simhash long"
        ),
        max_hamming=10,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in cands}
    assert ("d00", "d04") in found


def test_minhash_md5_variant_oracle(spark, corpus):
    """The md5 permutation family (oracle-checkable variant) against a pure
    python replay of the exact same construction."""
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in X.minhash_lsh_candidates(corpus, verify_threshold=0.3, hash="md5").collect()
    }
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}

    def sh(t):
        toks = t.strip().lower().split()
        seen, out = set(), []
        for i in range(max(len(toks) - 2, 0)):
            g = " ".join(toks[i : i + 3])
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    sigs, bandmap = {}, {}
    for d, t in texts.items():
        s = sh(t)
        if not s:
            continue
        sig = [
            min(hashlib.md5(f"{p}:{g}".encode()).hexdigest() for g in s)
            for p in range(32)
        ]
        sigs[d] = set(s)
        for b in range(8):
            key = (b, hashlib.md5(",".join(sig[4 * b : 4 * b + 4]).encode()).hexdigest())
            bandmap.setdefault(key, []).append(d)
    exp = {}
    for ids in bandmap.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                lo, hi = min(a, b), max(a, b)
                jac = len(sigs[lo] & sigs[hi]) / len(sigs[lo] | sigs[hi])
                if jac >= 0.3:
                    exp[(lo, hi)] = jac
    assert pairs == {k: pytest.approx(v) for k, v in exp.items()}


def test_simhash_md5_oracle(spark, corpus):
    """simhash_md5 bit-for-bit against a python replay (md5 hex digits →
    per-bit ±1 votes → sign nibbles)."""
    got = {r["doc_id"]: r["simhash_hex"] for r in X.simhash_md5(corpus).collect()}
    hexs = "0123456789abcdef"
    for d, t in [(r["doc_id"], r["text"]) for r in corpus.collect()]:
        toks = t.strip().lower().split() or [""]
        votes = [0] * 64
        for tok in toks:
            m = hashlib.md5(tok.encode()).hexdigest()
            for b in range(64):
                bit = (int(m[b // 4], 16) >> (b % 4)) & 1
                votes[b] += 1 if bit == 1 else -1
        nibbles = []
        for j in range(16):
            v = sum((1 << i) for i in range(4) if votes[4 * j + i] > 0)
            nibbles.append(hexs[v])
        assert got[d] == "".join(nibbles), d
    assert got["d00"] == got["d04"]


def test_arrow_expr_shingle_parity_edge_whitespace(spark):
    """Regression: F.trim removes SPACES only, so a leading tab yields a
    leading empty token in shingles_expr — the Arrow shingler behind
    minhash_lsh_candidates must replicate that (str.strip(' ') not
    str.strip()), or dedup results silently change on whitespace-edged
    texts. Every verified Jaccard must equal the one over the expression
    shingles."""
    rows = [
        (1, "\thello world foo bar"),
        (2, "hello world foo bar"),
        (3, "hello world foo bar\n"),
        (4, " hello world foo bar "),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {
        r["doc_id"]: set(r["s"] or [])
        for r in df.select(
            "doc_id", X.shingles_expr(F.lower(F.col("text")), 3).alias("s")
        ).collect()
    }
    assert " hello world" in sh[1]  # the leading empty token survives trim
    got = X.minhash_lsh_candidates(df, verify_threshold=0.0).collect()
    assert len(got) > 0
    assert (2, 4) in {(r["id_a"], r["id_b"]) for r in got}
    for r in got:
        a, b = sh[r["id_a"]], sh[r["id_b"]]
        assert r["jaccard"] == pytest.approx(len(a & b) / len(a | b)), r


def test_simhash_hex_candidates(spark, corpus):
    """Hex-band candidates over simhash_md5: exact dup pair at hamming 0;
    hamming equals the python popcount over the hex signatures."""
    sim = X.simhash_md5(corpus)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in X.simhash_hex_candidates(sim, max_hamming=16).collect()
    }
    assert got[("d00", "d04")] == 0
    hexes = {r["doc_id"]: r["simhash_hex"] for r in sim.collect()}
    for (a, b), h in got.items():
        exp = bin(int(hexes[a], 16) ^ int(hexes[b], 16)).count("1")
        assert h == exp, (a, b)


def test_connected_components_union_find_oracle(spark):
    """Hash-min label propagation vs a python union-find over random-ish
    edge sets, including chains (diameter > 1 → multi-round convergence)."""
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),          # chain of 5 (diameter 4)
        (10, 11), (11, 12), (10, 12),            # triangle
        (20, 21),                                 # pair
        (30, 31), (32, 33), (31, 32),             # chain via two pairs
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in X.connected_components(pairs).collect()
    }
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp = {n: find(n) for n in parent}
    assert got == exp
    clusters = X.dedup_clusters(pairs).collect()
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert {c: len(v) for c, v in by_cluster.items()} == {1: 5, 10: 3, 20: 2, 30: 4}
    for c, rows in by_cluster.items():
        canon = [r["node"] for r in rows if r["is_canonical"]]
        assert canon == [c]
        assert all(r["cluster_size"] == len(rows) for r in rows)


def test_quality_score(spark, corpus):
    got = {r["doc_id"]: r for r in X.quality_score(corpus).collect()}
    assert got["d07"]["distinct_token_ratio"] == pytest.approx(1 / 8)
    assert got["d00"]["quality_score"] > got["d07"]["quality_score"]
    assert 0.0 <= got["d05"]["quality_score"] <= 1.0


def test_lang_id(spark, corpus):
    got = {r["doc_id"]: r["lang_guess"] for r in X.lang_id(corpus).collect()}
    assert got["d00"] == "en"
    assert got["d02"] == "de"
    assert got["d06"] == "fr"
    assert got["d07"] == "und"


def test_fingerprint_whitespace_robust(spark):
    df = spark.createDataFrame(
        [("a", "hello  world"), ("b", "hello world"), ("c", "HELLO WORLD "), ("d", "goodbye world")],
        "doc_id string, text string",
    )
    fp = {r["doc_id"]: r["fp64"] for r in X.fingerprint(df).collect()}
    assert fp["a"] == fp["b"] == fp["c"]
    assert fp["d"] != fp["a"]


# ---------------------------------------------------------------------------
# degenerate-bucket caps + id-contract guards (round-3 hardening)


def test_minhash_bucket_cap_drops_degenerate_bucket(spark, caplog):
    """A 200-member identical-text block is one hot bucket in EVERY band
    (200·199/2 = 19900 quadratic pairs); with the cap it is dropped in
    bounded work, the drop is logged, and genuine near-dups still surface."""
    import logging

    rows = [(i, "spam spam spam spam wonderful spam") for i in range(200)]
    # signature-identical pair (collides in EVERY band, bucket size 2 < cap)
    rows += [
        (1000, "alpha beta gamma delta epsilon zeta eta theta"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with caplog.at_level(logging.WARNING, logger="seraster_spark"):
        capped = X.minhash_lsh_candidates(
            df, verify_threshold=0.3, max_bucket_size=50
        ).collect()
    found = {(r["id_a"], r["id_b"]) for r in capped}
    assert (1000, 1001) in found  # genuine near-dup pair survives the cap
    assert all(a >= 1000 for a, _ in found)  # no pair from the hot block
    assert any("dropped" in rec.message for rec in caplog.records)
    # sanity: uncapped DOES produce the quadratic block
    n_uncapped = X.minhash_lsh_candidates(df, verify_threshold=0.3).count()
    assert n_uncapped >= 200 * 199 // 2


def test_simhash_bucket_cap(spark):
    """Identical docs share every simhash band value; the cap drops those
    buckets, leaving zero pairs from the degenerate block."""
    rows = [(i, "buy cheap pills online now fast") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sim = X.simhash(df)
    assert X.simhash_candidates(sim, max_hamming=3, max_bucket_size=20).count() == 0
    assert X.simhash_candidates(sim, max_hamming=3).count() == 100 * 99 // 2


def test_ngram_max_df_keeps_exact_jaccard(spark):
    """Hot stop-shingles leave the inverted index under max_df, but Jaccard
    still runs on FULL shingle sets: above-threshold pairs are unchanged."""
    rows = [(i, f"click here now unique{i} token{i} word{i}") for i in range(100)]
    rows += [
        (1000, "alpha beta gamma delta epsilon"),
        (1001, "alpha beta gamma delta zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in X.ngram_jaccard(df, threshold=0.4, max_df=10).collect()
    }
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in X.ngram_jaccard(df, threshold=0.4).collect()
    }
    assert capped == uncapped  # 'click here now' (df=100) only prunes candidates
    assert capped[(1000, 1001)] == pytest.approx(2 / 4)  # shares 2 of 4 shingles


def test_exact_dedup_null_id_fails_fast(spark):
    """A NULL id would silently vanish through the annotation equi-joins —
    the row-local raise_error guard turns that into a loud failure."""
    df = spark.createDataFrame([(1, "a"), (None, "b")], "doc_id long, text string")
    with pytest.raises(Exception, match="NULL doc_id"):
        X.exact_dedup(df).collect()


def test_exact_dedup_validate_ids_rejects_duplicates(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unique"):
        X.exact_dedup(df, validate_ids=True)
    # clean ids pass validation and annotate normally
    ok = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in X.exact_dedup(ok, validate_ids=True).collect()}
    assert got[1]["dup_group_size"] == 2 and got[1]["is_canonical"]


def test_star_components_equal_hashmin_on_random_graphs(spark):
    """large-star/small-star must produce the identical (node, component)
    labeling as hash-min on random graphs (both label by component min)."""
    import random

    rnd = random.Random(23)
    for trial in range(3):
        n = 60
        edges = {
            tuple(sorted(rnd.sample(range(n), 2)))
            for _ in range(rnd.randint(20, 80))
        }
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a long, id_b long"
        )
        hashmin = {
            r["node"]: r["component"] for r in X.connected_components(pairs).collect()
        }
        star = {
            r["node"]: r["component"]
            for r in X.connected_components_star(pairs).collect()
        }
        assert star == hashmin, f"trial {trial}"


def test_star_components_long_path(spark):
    """A 200-node path (diameter 199 — hash-min's worst case) collapses to
    one component labeled by its minimum in O(log n) star rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    got = X.connected_components_star(pairs, max_iter=12).collect()
    assert len(got) == 200
    assert all(r["component"] == 0 for r in got)


def test_new_documents_anti_join(spark):
    hist = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, None)], "doc_id long, text string"
    )
    inc = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, None), (13, "beta"), (14, "delta")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in X.new_documents(inc, hist).collect()}
    # alpha/beta verbatim re-ingests and the NULL doc dedup away
    assert got == {11, 14}


def test_new_documents_slim_shuffle(spark):
    """The text payload must not ride the anti-join exchange — only the
    content hash does."""
    hist = spark.createDataFrame([(1, "a" * 1000)], "doc_id long, text string")
    inc = spark.createDataFrame([(2, "b" * 1000)], "doc_id long, text string")
    out = X.new_documents(inc, hist).select("doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), plan


def test_vocabulary_counts(spark):
    d = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, ""), (4, None), (5, "  b  ")],
        "doc_id long, text string",
    )
    got = {r["tok"]: (r["cf"], r["df"], r["first_doc"])
           for r in X.vocabulary(d).collect()}
    assert got == {"a": (3, 2, 1), "b": (2, 2, 1), "c": (1, 1, 2)}
    pruned = {r["tok"] for r in X.vocabulary(d, min_df=2).collect()}
    assert pruned == {"a", "b"}


def test_bigrams_adjacency_and_edges(spark):
    d = spark.createDataFrame(
        [(1, "x y z"), (2, "solo"), (3, ""), (4, "p  q")],
        "doc_id long, text string",
    )
    got = {(r["doc_id"], r["w1"], r["w2"]) for r in X.bigrams(d).collect()}
    # multi-space collapses (tokens_expr splits on \s+); 1-token/empty docs drop
    assert got == {(1, "x", "y"), (1, "y", "z"), (4, "p", "q")}


def test_ngram_jaccard_cross_corpus_keeps_all_id_orderings(spark):
    a = spark.createDataFrame(
        [(5, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta"),
         (9, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]) for r in X.ngram_jaccard(a, b, threshold=0.9).collect()}
    # id_a=5 >= id_b=3 must NOT be dropped in cross-corpus mode
    assert got == {(5, 3), (5, 9)}


def test_minhash_band_params_fail_fast(spark):
    d = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        X.minhash_lsh_candidates(d, num_perm=32, bands=64)
    with pytest.raises(ValueError, match="bands"):
        X.minhash_lsh_candidates(d, num_perm=32, bands=10)


def test_simhash_band_params_fail_fast(spark, caplog):
    import logging

    d = spark.createDataFrame([(1, 123)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="divide 64"):
        X.simhash_candidates(d, max_hamming=3, bands=5)
    h = spark.createDataFrame([(1, "ab" * 8)], "doc_id long, simhash_hex string")
    with pytest.raises(ValueError, match="divide 16"):
        X.simhash_hex_candidates(h, max_hamming=3, bands=5)
    # band-limited recall is allowed but must be logged, not silent
    with caplog.at_level(logging.WARNING, logger="seraster_spark"):
        X.simhash_candidates(d, max_hamming=6, bands=4)
    assert any("pigeonhole" in r.message for r in caplog.records)


def test_fingerprint_robust_to_nonspace_whitespace(spark):
    d = spark.createDataFrame(
        [(1, "foo bar"), (2, "\nfoo bar"), (3, "\tfoo  bar \n")],
        "doc_id long, text string",
    )
    fps = {r["fp64"] for r in X.fingerprint(d).collect()}
    assert len(fps) == 1


def test_dedup_clusters_no_component_window(spark):
    """cluster_size must come from a groupBy+join, not a window partitioned
    by the (skewable) component key."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = X.dedup_clusters(pairs)
    rows = {r["node"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
            for r in out.collect()}
    assert rows == {1: (1, 3, True), 2: (1, 3, False), 3: (1, 3, False)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_new_documents_bloom_parity(spark):
    """The bloom-prefiltered path must be row-for-row identical to the
    exact anti-join — no false negatives by construction, false positives
    re-checked exactly."""
    hist = spark.createDataFrame(
        [(i, f"doc {i % 40}") for i in range(100)] + [(900, None)],
        "doc_id long, text string",
    )
    inc = spark.createDataFrame(
        [(1000 + i, f"doc {i}") for i in range(80)]  # i>=40 genuinely new
        + [(2000, None), (2001, "fresh content")],
        "doc_id long, text string",
    )
    a = sorted(
        (r["doc_id"], r["content_hash"])
        for r in X.new_documents(inc, hist).collect()
    )
    b = sorted(
        (r["doc_id"], r["content_hash"])
        for r in X.new_documents(
            inc, hist, method="bloom", bloom_bits=1 << 12, bloom_hashes=4
        ).collect()
    )
    assert a == b
    assert {d for d, _ in a} == {1000 + i for i in range(40, 80)} | {2001}


def test_new_documents_bloom_tiny_filter_still_exact(spark):
    """Deliberately undersized filter (64 bits for 200 keys -> ~every probe
    a false positive): output must STILL equal the exact anti-join, just
    with no prefilter savings."""
    hist = spark.createDataFrame(
        [(i, f"h{i}") for i in range(200)], "doc_id long, text string"
    )
    inc = spark.createDataFrame(
        [(1000 + i, f"h{i}") for i in range(150, 250)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]
        for r in X.new_documents(
            inc, hist, method="bloom", bloom_bits=64, bloom_hashes=2
        ).collect()
    }
    assert got == {1000 + i for i in range(200, 250)}


def test_new_documents_bloom_prebuilt_words_reused(spark):
    """Production shape: build the filter once, pass it to every batch."""
    from seraster_spark.sketch import bloom_filter_build
    from pyspark.sql import functions as F

    hist = spark.createDataFrame(
        [(i, f"h{i}") for i in range(50)], "doc_id long, text string"
    )
    h = F.coalesce(F.md5(F.col("text")), F.lit("__null_text__"))
    words = bloom_filter_build(
        hist.select(h.alias("content_hash")).distinct(),
        F.col("content_hash"),
        num_bits=1 << 12,
        num_hashes=4,
    )
    inc = spark.createDataFrame(
        [(100, "h1"), (101, "brand new")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]
        for r in X.new_documents(
            inc,
            hist,
            method="bloom",
            bloom_words=words,
            bloom_bits=1 << 12,
            bloom_hashes=4,
        ).collect()
    }
    assert got == {101}


def test_new_documents_bloom_never_shuffle_joins_history(spark):
    """The bloom path's 100 TB contract: with a prebuilt word table, every
    join in the plan is BroadcastHashJoin (word probes + history semi +
    confirmed anti) — history never rides a SortMergeJoin/shuffled-hash
    exchange."""
    from seraster_spark.sketch import bloom_filter_build
    from pyspark.sql import functions as F

    hist = spark.createDataFrame(
        [(i, f"h{i}") for i in range(300)], "doc_id long, text string"
    )
    h = F.coalesce(F.md5(F.col("text")), F.lit("__null_text__"))
    words = bloom_filter_build(
        hist.select(h.alias("content_hash")).distinct(),
        F.col("content_hash"), num_bits=1 << 12, num_hashes=4,
    )
    inc = spark.createDataFrame(
        [(1000 + i, f"h{i}") for i in range(250, 350)],
        "doc_id long, text string",
    )
    out = X.new_documents(
        inc, hist, method="bloom", bloom_words=words,
        bloom_bits=1 << 12, bloom_hashes=4,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # 1 word probe (register-blocked: one join regardless of num_hashes) +
    # history semi-join + confirmed anti-join; every one of them broadcast
    assert plan.count("BroadcastHashJoin") == 1 + 2, plan


def test_new_documents_bad_method_raises(spark):
    hist = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        X.new_documents(hist, hist, method="nope")
