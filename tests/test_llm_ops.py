"""LLM-operator semantics: planted-duplicate recall for MinHash LSH
(the rows-only contract query l02 can't be oracle-checked, so its
correctness is pinned here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_release_spark.operators.dedup import lsh_candidate_pairs, word_shingles


@pytest.fixture(scope="module")
def corpus(spark):
    base = [
        (i, f"token{i}a token{i}b " + " ".join(f"word{i}_{j}" for j in range(20)))
        for i in range(50)
    ]
    # Planted near-duplicates: copy docs 0-4 with one word changed.
    near = [
        (100 + i, base[i][1].replace(f"word{i}_10", "CHANGED"))
        for i in range(5)
    ]
    # Planted exact duplicate of doc 7.
    exact = [(200, base[7][1])]
    return spark.createDataFrame(base + near + exact, "doc_id long, text string")


def test_lsh_finds_planted_near_duplicates(corpus):
    pairs = lsh_candidate_pairs(corpus, "doc_id", "text", jaccard_threshold=0.5)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    for i in range(5):
        assert (i, 100 + i) in found, f"missed planted near-dup pair ({i}, {100+i})"
    assert (7, 200) in found, "missed planted exact dup"


def test_lsh_no_false_positives_above_threshold(corpus):
    # Unrelated docs share no vocabulary → no pair between two base
    # docs should survive the Jaccard filter.
    pairs = lsh_candidate_pairs(corpus, "doc_id", "text", jaccard_threshold=0.5)
    for r in pairs.collect():
        assert r.id_b >= 100, f"false positive pair ({r.id_a}, {r.id_b}) j={r.jaccard}"
        assert r.jaccard >= 0.5


def test_exact_dup_jaccard_is_one(corpus):
    pairs = lsh_candidate_pairs(corpus, "doc_id", "text", jaccard_threshold=0.5)
    row = pairs.filter((F.col("id_a") == 7) & (F.col("id_b") == 200)).collect()[0]
    assert row.jaccard == 1.0


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    out = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()[0]
    assert out.s == ["only two"]


def test_connected_components_chain_transitivity(spark):
    # a~b and b~c (but no a~c pair) must land in ONE component.
    from hadoop_release_spark.operators.dedup import connected_components_min_label

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 9]], "__id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    comps = {
        r["__id"]: r.component
        for r in connected_components_min_label(nodes, pairs).collect()
    }
    assert comps[1] == comps[2] == comps[3] == 1
    assert comps[4] == comps[5] == 4
    assert comps[9] == 9  # isolated node is its own survivor


def test_connected_components_long_chain_converges(spark):
    """Pointer-jump convergence: a 500-node path graph (diameter
    499) must fully label to component 0 within the default
    max_iters=10 — pure min-label propagation would need 499
    rounds; the per-round label[label] jump makes it O(log d).
    Also exercises the per-round localCheckpoint path (the lineage
    truncation that keeps iteration plans from embedding the
    upstream pipeline)."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.operators.dedup import (
        connected_components_min_label,
    )

    nodes = spark.range(500).select(F.col("id").alias("__id"))
    pairs = spark.range(499).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = connected_components_min_label(nodes, pairs, id_col="__id")
    rows = out.collect()
    assert len(rows) == 500
    assert all(r.component == 0 for r in rows)


def test_l73_tiers_match_python_tercile_rule(spark, sf_dir):
    """l73's head/middle/tail assignment vs a pure-Python replay of
    the lower-tercile rule over l43's own scores: bounds are SELECTED
    score elements (min v with 3*cumw >= k*total per language), tiers
    partition each language roughly in thirds."""
    from collections import Counter, defaultdict

    from hadoop_release_spark.catalog import table
    from hadoop_release_spark.plans.l_llm_ext import (
        l43_lm_score,
        l73_perplexity_buckets,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    lang = {r.doc_id: r.lang for r in d.collect()}
    nll = {r.doc_id: r.avg_nll for r in l43_lm_score(spark, sf_dir).collect()}
    out = {r.doc_id: r for r in l73_perplexity_buckets(spark, sf_dir).collect()}
    assert set(out) == set(nll)

    per_lang = defaultdict(list)
    for doc, v in nll.items():
        per_lang[lang[doc]].append(v)

    def lower_quantile(xs, k):
        # min v with 3*cumw >= k*total over the weighted distinct grid
        xs = sorted(xs)
        total = len(xs)
        cum = 0
        for v in xs:
            cum += 1
            if 3 * cum >= k * total:
                return v
        return xs[-1]

    bounds = {
        lg: (lower_quantile(vs, 1), lower_quantile(vs, 2))
        for lg, vs in per_lang.items()
    }
    for doc, r in out.items():
        t1, t2 = bounds[lang[doc]]
        want = "head" if nll[doc] <= t1 else ("middle" if nll[doc] <= t2 else "tail")
        assert r.tier == want, (doc, r.tier, want, nll[doc], t1, t2)
        assert r.lang == lang[doc] and r.avg_nll == nll[doc]
    # every language with >= 3 docs has all three tiers inhabited
    for lg, vs in per_lang.items():
        if len(set(vs)) >= 3:
            tiers = Counter(out[d2].tier for d2 in out if lang[d2] == lg)
            assert set(tiers) == {"head", "middle", "tail"}, (lg, tiers)


def test_shingles3_sub3_token_docs_yield_empty_not_crash(spark):
    """Round-14 ADVICE regression: _shingles3 on docs under 3 tokens
    used to build a DESCENDING sequence(1, n-2) whose element_at(0)
    threw INVALID_ARRAY_INDEX_IN_ELEMENT_AT at runtime. The guard
    must yield an EMPTY gram set (the oracle's empty-range behavior)
    and leave ≥3-token docs byte-identical."""
    from hadoop_release_spark.plans.l_llm_ext import _shingles3

    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (3, ""), (4, "a b c d")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.s
        for r in df.select("doc_id", _shingles3().alias("s")).collect()
    }
    assert out[1] == [] and out[2] == [] and out[3] == []
    assert out[4] == ["a b c", "b c d"]


def _sketch_vs_expr(df):
    """Rows of (doc_id, ka, ke): the fused kernel shingle_sketch_sig
    next to its expression chain word_shingles → shingle_hashes →
    minhash_from_hashes_expr (tests/_dedup_reference.py)."""
    from hadoop_release_spark.operators.dedup import shingle_sketch_sig
    from tests._dedup_reference import shingle_sketch_sig_expr

    return df.select(
        "doc_id",
        shingle_sketch_sig(F.col("text")).alias("ka"),
        shingle_sketch_sig_expr(F.col("text")).alias("ke"),
    ).collect()


def test_minhash_arrow_kernel_equals_expression(spark, sf_dir):
    """The Arrow MinHash kernel (now fused into shingle_sketch_sig)
    must produce BIT-IDENTICAL signatures to the JVM expression form
    on the real corpus — exact int64 arithmetic both sides; a drift
    here would silently change every LSH candidate set and l68's
    oracle-replayed n_match."""
    from hadoop_release_spark.catalog import table

    rows = _sketch_vs_expr(table(spark, sf_dir, "documents"))
    assert rows
    for r in rows:
        assert r["ka"]["sig"] == r["ke"]["sig"], r["doc_id"]


def test_shingle_sketch_equals_expression(spark, sf_dir):
    """shingle_sketch_sig's shingle array must equal word_shingles on
    the real corpus, order included (first-occurrence distinct): the
    shingles feed exact-Jaccard verification, so a bijection is not
    enough."""
    from hadoop_release_spark.catalog import table

    rows = _sketch_vs_expr(table(spark, sf_dir, "documents"))
    assert rows
    for r in rows:
        assert r["ka"]["shingles"] == r["ke"]["shingles"], r["doc_id"]


def test_shingle_sketch_degenerate_shapes(spark):
    """Planted shapes of shingle_sketch_sig at k=3: whole-text
    fallback under k tokens, repeated shingles collapse in
    first-occurrence order, empty and null text, non-ASCII tokens
    pass through as-is."""
    from hadoop_release_spark.operators.dedup import (
        LSH_NUM_HASHES,
        shingle_sketch_sig,
    )

    rows = [
        (1, "a b c d"),
        (2, "a b"),  # < k: whole-text fallback
        (3, ""),  # one empty token
        (4, None),  # null text
        (5, "a b c a b c a b c"),  # repeats: distinct, first-occurrence
        (6, "é 日本 é 日本 é"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["sk"]["shingles"], r["sk"]["sig"])
        for r in df.select(
            "doc_id", shingle_sketch_sig(F.col("text"), 3).alias("sk")
        ).collect()
    }
    assert out[1][0] == ["a b c", "b c d"]
    assert out[2][0] == ["a b"]
    assert out[3][0] == [""]
    assert out[4] == ([None], [None] * LSH_NUM_HASHES)
    # 7 windows over "a b c a b c a b c" collapse to 3 distinct, in
    # first-occurrence order
    assert out[5][0] == ["a b c", "b c a", "c a b"]
    assert out[6][0] == ["é 日本 é", "日本 é 日本"]
    for doc in (1, 2, 3, 5, 6):
        sig = out[doc][1]
        assert len(sig) == LSH_NUM_HASHES and None not in sig, doc


def test_shingle_sketch_sig_equals_staged(spark):
    """The fused kernel shingle_sketch_sig must produce BIT-IDENTICAL
    (shingles, signature) to the staged expression chain on the
    degenerate rows too: null text → [NULL] shingles + all-null
    signature; "" → one empty gram; under-k docs → the whole-text
    gram's signature; repeats and non-ASCII tokens. (The corpus
    legs are the two *_equals_expression tests above.)"""
    from hadoop_release_spark.operators.dedup import LSH_NUM_HASHES

    planted = {
        90001: None,
        90002: "one two",  # < k: whole-text fallback
        90003: "",  # one empty token
        90004: "a b c d",
        90005: "a b c a b c a b c",
        90006: "é 日本 é 日本 é",
    }
    df = spark.createDataFrame(
        list(planted.items()), "doc_id long, text string"
    )
    rows = _sketch_vs_expr(df)
    assert len(rows) == len(planted)
    for r in rows:
        assert r["ka"]["shingles"] == r["ke"]["shingles"], r
        assert r["ka"]["sig"] == r["ke"]["sig"], r
    out = {r["doc_id"]: r["ka"] for r in rows}
    assert out[90001]["shingles"] == [None]
    assert out[90001]["sig"] == [None] * LSH_NUM_HASHES
    assert out[90002]["shingles"] == ["one two"]
    assert out[90003]["shingles"] == [""]
