"""Semantic tests for the round-3 training-pipeline operators
(l27 sequence packing, l28 decontamination, c19 salted join) beyond
the oracle-parity gate in test_contract.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_release_spark.catalog import table
from hadoop_release_spark.operators.rank import global_prefix_sum
from hadoop_release_spark.plans.l_pipeline import (
    PACK_CAPACITY,
    l27_sequence_pack,
    l28_decontaminate,
)
from hadoop_release_spark.plans.registry import specs


def test_global_prefix_sum_matches_sequential(spark):
    """Exclusive prefix sum over a multi-partition input equals the
    sequential definition, regardless of where range boundaries
    fall."""
    rows = [(i, (i * 7) % 13 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(8)
    out = {
        r["k"]: r["cum"]
        for r in global_prefix_sum(df, ["k"], "v", out_name="cum").collect()
    }
    acc = 0
    for k, v in rows:  # rows are already in k order
        assert out[k] == acc, f"k={k}: {out[k]} != {acc}"
        acc += v


def _prefix_replay(rows, n_values):
    """Sequential exclusive prefix sums of each value column over rows
    sorted by their first field: None where the value is None, and a
    None adds nothing to later rows."""
    out, acc = {}, [0] * n_values
    for k, *vals in sorted(rows):
        out[k] = tuple(None if v is None else a for v, a in zip(vals, acc))
        acc = [a + (v or 0) for v, a in zip(vals, acc)]
    return out


def test_global_prefix_sums_matches_replay_and_builds_without_jobs(spark):
    """global_prefix_sums over two value columns equals the sequential
    replay, with nulls, with range partitions whose values are all
    null, and with more range partitions than rows; building it fires
    no job, since the offsets come from a window inside the plan."""
    from hadoop_release_spark.functions.materialize import release
    from hadoop_release_spark.operators.rank import global_prefix_sums
    from tests._harness import build_plan

    n_part = max(spark.sparkContext.defaultParallelism, 2)
    # b is null on the first 3/4 of the keys: of n_part range
    # partitions of ~200/n_part rows each, several hold only nulls.
    many = [
        (k, None if k % 7 == 3 else k % 11 - 5, None if k < 150 else k % 13)
        for k in range(200)
    ]
    few = [(2, 5, None), (0, None, None), (1, 4, 6)]
    assert len(few) < n_part
    for rows in (many, few):
        df = spark.createDataFrame(rows, "k long, a long, b int").repartition(3)
        out, jobs = build_plan(
            spark,
            "global_prefix_sums",
            lambda s, _: global_prefix_sums(df, ["k"], ["a", "b"], ["ca", "cb"]),
            None,
        )
        assert jobs == 0
        got = {r["k"]: (r["ca"], r["cb"]) for r in out.collect()}
        assert got == _prefix_replay(rows, 2)
    release()


def test_sequence_pack_reconstructs_token_stream(spark, sf_dir):
    """(pack_id, offset_in_pack) must encode exactly the document's
    start position in the concatenated doc_id-ordered token stream:
    start = pack_id*CAPACITY + offset, consecutive starts differ by
    the previous doc's n_tokens, and offsets stay inside a pack."""
    rows = sorted(
        l27_sequence_pack(spark, sf_dir).collect(), key=lambda r: r["doc_id"]
    )
    assert len(rows) > 0
    pos = 0
    for r in rows:
        start = r["pack_id"] * PACK_CAPACITY + r["offset_in_pack"]
        assert start == pos, f"doc {r['doc_id']}: start {start} != {pos}"
        assert 0 <= r["offset_in_pack"] < PACK_CAPACITY
        assert r["n_tokens"] > 0
        pos += r["n_tokens"]


def test_decontaminate_flags_planted_overlap(spark):
    """The fixture corpus contains a planted near-duplicate of an
    eval-set doc (sf0.01: train doc 92 vs eval doc 450 share 18
    distinct 8-grams); the report must flag it and zero-fill clean
    eval docs."""
    sf_dir = "/root/testdata/sf0.01"
    rows = {r["eval_doc_id"]: r for r in l28_decontaminate(spark, sf_dir).collect()}
    n_eval = len(rows)
    assert n_eval == 10  # one row per eval doc, zero-filled — never vacuous
    flagged = {k: r for k, r in rows.items() if r["n_contaminated_train_docs"] > 0}
    assert flagged, "planted contamination not detected"
    assert 450 in flagged
    assert flagged[450]["max_shared_ngrams"] == 18
    clean = [r for k, r in rows.items() if k not in flagged]
    assert all(r["max_shared_ngrams"] == 0 for r in clean)


def test_salted_join_equals_plain_join(spark, sf_dir):
    """The salted (key, salt) join must produce byte-identical
    aggregates to the plain join — salting redistributes rows, never
    changes matches."""
    salted = {
        r["o_orderpriority"]: (r["n_items"], float(r["revenue"]))
        for r in specs()["c19_join_skew_salted"].fn(spark, sf_dir).collect()
    }
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    plain = {
        r["o_orderpriority"]: (r["n"], float(r["rev"]))
        for r in (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(25,8)"
                    )
                ).alias("rev"),
            )
            .collect()
        )
    }
    assert set(salted) == set(plain)
    for k, (n, rev) in plain.items():
        assert salted[k][0] == n
        assert abs(salted[k][1] - rev) < 1e-6


def test_salted_join_spreads_hot_key(spark, sf_dir):
    """The salt column must actually partition a hot key's rows: the
    fact side's salt values for one order key cover >1 bucket
    whenever the key has >1 lineitem with distinct line numbers."""
    li = table(spark, sf_dir, "lineitem").withColumn(
        "__salt", F.pmod(F.col("l_linenumber"), F.lit(8))
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_linenumber").alias("n_lines"),
            F.countDistinct("__salt").alias("n_salts"),
        )
        .filter((F.col("n_lines") > 1) & (F.col("n_salts") < 2))
        .count()
    )
    assert multi == 0


def test_domain_mix_deterministic_and_balanced(spark):
    """l29 must keep ~MIX_RATE_BP/10000 of each (uniform-count)
    source, identically across runs."""
    from hadoop_release_spark.plans.l_pipeline import l29_domain_mix

    sf_dir = "/root/testdata/sf0.01"
    a = sorted(map(tuple, l29_domain_mix(spark, sf_dir).collect()))
    b = sorted(map(tuple, l29_domain_mix(spark, sf_dir).collect()))
    assert a == b
    per_source: dict[str, int] = {}
    for _, src in a:
        per_source[src] = per_source.get(src, 0) + 1
    # fixture sources are uniform (25 docs each at sf0.01); the 60%
    # md5-bucket rule keeps a binomial-ish share of each
    assert len(per_source) == 20
    assert all(5 <= n <= 25 for n in per_source.values()), per_source
    total = sum(per_source.values())
    assert 0.4 * 500 < total < 0.8 * 500, total


def test_incremental_dedup_verdicts_consistent(spark):
    """l30: one row per new-batch doc; every 'exact' verdict must be
    independently reproducible from raw text equality, and every
    matched_id must point outside the new batch."""
    from hadoop_release_spark.plans.l_pipeline import (
        NEW_MOD,
        NEW_REM,
        l30_dedup_incremental,
    )

    sf_dir = "/root/testdata/sf0.01"
    rows = l30_dedup_incremental(spark, sf_dir).collect()
    d = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    text_by_id = {r["doc_id"]: r["text"] for r in d}
    new_ids = {i for i in text_by_id if i % NEW_MOD == NEW_REM}
    assert {r["doc_id"] for r in rows} == new_ids
    corpus_texts = {
        t for i, t in text_by_id.items() if i % NEW_MOD != NEW_REM
    }
    for r in rows:
        expected_exact = text_by_id[r["doc_id"]] in corpus_texts
        assert (r["verdict"] == "exact") == expected_exact, r
        if r["verdict"] == "unique":
            assert r["matched_id"] == -1
        else:
            assert r["matched_id"] % NEW_MOD != NEW_REM  # points at corpus


def test_chunking_reconstructs_document(spark, sf_dir):
    """Dropping each chunk's CHUNK_OVERLAP-token head (except chunk 0)
    and concatenating in chunk order must reproduce the document
    exactly — the defining property of overlapped chunking."""
    from hadoop_release_spark.plans.l_pipeline import (
        CHUNK_OVERLAP,
        CHUNK_TOKENS,
        l31_chunk_documents,
    )

    step = CHUNK_TOKENS - CHUNK_OVERLAP
    rows = l31_chunk_documents(spark, sf_dir).collect()
    texts = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(texts)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        rebuilt: list[str] = []
        for c in chunks:
            toks = c["chunk_text"].split(" ")
            assert len(toks) == c["n_chunk_tokens"]
            assert c["n_chunk_tokens"] <= CHUNK_TOKENS
            rebuilt.extend(toks if c["chunk_id"] == 0 else toks[CHUNK_OVERLAP:])
        # overlap consistency: chunk k repeats the previous chunk's
        # last CHUNK_OVERLAP tokens (when the previous chunk was full)
        for prev, cur in zip(chunks, chunks[1:]):
            ptoks = prev["chunk_text"].split(" ")
            ctoks = cur["chunk_text"].split(" ")
            if prev["n_chunk_tokens"] == CHUNK_TOKENS:
                assert ptoks[step:] == ctoks[: CHUNK_OVERLAP]
        assert " ".join(rebuilt) == texts[doc_id]


def test_corpus_diff_statuses_match_derivation(spark, sf_dir):
    """l32: every doc's status must follow from the snapshot
    derivation rule — %20==3 added, %20==5 changed, phantom ids
    removed, everything else unchanged."""
    from hadoop_release_spark.plans.l_pipeline import (
        _DIFF_PHANTOM_BASE,
        DIFF_ADDED_REM,
        DIFF_CHANGED_REM,
        DIFF_MOD,
        DIFF_REMOVED_REM,
        l32_corpus_diff,
    )

    rows = {r["doc_id"]: r["status"] for r in l32_corpus_diff(spark, sf_dir).collect()}
    doc_ids = {
        r["doc_id"]
        for r in table(spark, sf_dir, "documents").select("doc_id").collect()
    }
    assert set(rows) == doc_ids | {
        i + _DIFF_PHANTOM_BASE for i in doc_ids if i % DIFF_MOD == DIFF_REMOVED_REM
    }
    for doc_id, status in rows.items():
        if doc_id >= _DIFF_PHANTOM_BASE:
            assert status == "removed", (doc_id, status)
        elif doc_id % DIFF_MOD == DIFF_ADDED_REM:
            assert status == "added", (doc_id, status)
        elif doc_id % DIFF_MOD == DIFF_CHANGED_REM:
            assert status == "changed", (doc_id, status)
        else:
            assert status == "unchanged", (doc_id, status)
    assert len({s for s in rows.values()}) == 4  # all four statuses occur


def test_l70_ledger_stage_invariants(spark, sf_dir):
    """l70 structural contract: the ledger PARTITIONS the corpus (one
    row per doc, statuses disjoint), every drop points at a strictly
    lower-id shadow that itself survived the EARLIER stages, and
    split/shard are populated exactly on kept rows."""
    d = table(spark, sf_dir, "documents")
    out = specs()["l70_corpus_pipeline_v2"].fn(spark, sf_dir).toPandas()
    n_docs = d.count()
    assert len(out) == n_docs
    assert out["doc_id"].nunique() == n_docs
    statuses = set(out["status"])
    assert statuses <= {
        "url_refetch_dup", "exact_dup", "near_dup", "semantic_dup", "kept"
    }
    kept = out[out["status"] == "kept"]
    dropped = out[out["status"] != "kept"]
    # drops carry a lower-id shadow and no placement; kept the reverse
    assert (dropped["dup_of"] < dropped["doc_id"]).all()
    assert dropped["split"].isna().all() and dropped["shard"].isna().all()
    assert kept["dup_of"].isna().all()
    assert kept["split"].isin(["train", "val", "test"]).all()
    assert kept["shard"].between(0, 7).all()
    # semantic_examined is non-null on EVERY row: stage-1/2/3 drops
    # never reached the semantic stage (False), a semantic_dup was
    # by construction examined (True), and a kept row is True
    # exactly where an embedding row existed (the fixture embeds a
    # prefix of the corpus, so both kept values occur at sf>=0.001)
    assert out["semantic_examined"].notna().all()
    assert (
        dropped.loc[dropped["status"] != "semantic_dup", "semantic_examined"]
        == False  # noqa: E712 - pandas elementwise
    ).all()
    assert (
        dropped.loc[dropped["status"] == "semantic_dup", "semantic_examined"]
        == True  # noqa: E712
    ).all()
    emb_ids = set(
        r.vec_id
        for r in table(spark, sf_dir, "embeddings").select("vec_id").collect()
    )
    for _, r in kept.iterrows():
        assert bool(r["semantic_examined"]) == (int(r["doc_id"]) in emb_ids)
    # a near/semantic shadow must itself have survived every EARLIER
    # stage (it may be dropped by its own or a later stage, but a doc
    # already removed by an earlier stage can never shadow anyone)
    order = {
        "url_refetch_dup": 0, "exact_dup": 1, "near_dup": 2,
        "semantic_dup": 3, "kept": 4,
    }
    stage_of = dict(zip(out["doc_id"], out["status"].map(order)))
    for _, r in dropped.iterrows():
        assert stage_of[int(r["dup_of"])] >= order[r["status"]], r.to_dict()


def test_l72_bloom_gate_invariants_vs_python_replay(spark, sf_dir):
    """l72 structural contract + oracle-independent replay: a Bloom
    filter has NO false negatives (every corpus-present gram must
    pass the bloom: n_shared ≤ n_bloom_pass, n_false_pos ≥ 0), and
    n_grams / n_shared / the contamination verdict must equal a pure
    pandas recomputation of the 8-gram set intersection."""
    from hadoop_release_spark.plans.l_pipeline import (
        DECON_MIN_SHARED,
        DECON_NGRAM_K,
        NEW_MOD,
        NEW_REM,
        l72_bloom_gram_gate,
    )

    docs = {
        r.doc_id: r.text
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }

    def grams(text):
        ws = text.split(" ")
        if len(ws) >= DECON_NGRAM_K:
            return {
                " ".join(ws[i : i + DECON_NGRAM_K])
                for i in range(len(ws) - DECON_NGRAM_K + 1)
            }
        return {" ".join(ws)}

    corpus_grams = set()
    for d, t in docs.items():
        if d % NEW_MOD != NEW_REM:
            corpus_grams |= grams(t)

    out = {r.doc_id: r for r in l72_bloom_gram_gate(spark, sf_dir).collect()}
    incoming = {d for d in docs if d % NEW_MOD == NEW_REM}
    assert set(out) == incoming
    for d in incoming:
        g = grams(docs[d])
        r = out[d]
        assert r.n_grams == len(g)
        assert r.n_shared == len(g & corpus_grams)
        assert r.contaminated == (r.n_shared >= DECON_MIN_SHARED)
        # Bloom soundness: no false negatives, bounded pass count
        assert r.n_shared <= r.n_bloom_pass <= r.n_grams
        assert r.n_false_pos == r.n_bloom_pass - r.n_shared >= 0
    # The filter must actually FILTER: at this corpus load the bloom
    # rejects most non-shared grams, so a bit-test bug that silently
    # degrades to pass-everything (n_bloom_pass = n_grams on docs
    # with unshared grams) fails here, not just in the oracle hash.
    total_pass = sum(out[d].n_bloom_pass for d in incoming)
    total_grams = sum(out[d].n_grams for d in incoming)
    total_shared = sum(out[d].n_shared for d in incoming)
    assert total_shared < total_grams, "fixture degenerate: all shared"
    assert total_pass < total_grams


def test_l75_gated_ingest_equals_l72_and_shrinks_verify_input(spark, sf_dir):
    """l75 composition contract: because a Bloom filter has no false
    negatives, gating the exact-verify join on bloom-pass loses no
    shared gram — n_grams / n_bloom_pass / n_shared / contaminated
    must equal l72's ungated values doc-for-doc. And the gate must
    actually BUY something: the verify-join input (n_bloom_pass) is
    well under the ungated input (n_grams) on a corpus where shards
    carry unshared grams."""
    from hadoop_release_spark.plans.l_pipeline import (
        l72_bloom_gram_gate,
        l75_bloom_gated_ingest,
    )

    ungated = {r.doc_id: r for r in l72_bloom_gram_gate(spark, sf_dir).collect()}
    gated = {r.doc_id: r for r in l75_bloom_gated_ingest(spark, sf_dir).collect()}
    assert set(gated) == set(ungated)
    for d, g in gated.items():
        u = ungated[d]
        assert (g.n_grams, g.n_bloom_pass, g.n_shared, g.contaminated) == (
            u.n_grams,
            u.n_bloom_pass,
            u.n_shared,
            u.contaminated,
        ), d
    total_pass = sum(g.n_bloom_pass for g in gated.values())
    total_grams = sum(g.n_grams for g in gated.values())
    # the measured shrink: the bloom rejects most non-shared grams,
    # so the corpus-sized verify join probes far fewer rows than the
    # ungated l28-style check would
    assert total_pass < total_grams
    assert total_pass <= 0.9 * total_grams, (total_pass, total_grams)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_GK_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
_GK_GIVEN = given(
    docs=st.lists(
        st.none()
        | st.lists(
            st.sampled_from(["a", "b", "ab", "x", "", "é", "日本"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=10,
    )
)


def _doc_set_profile(pairs):
    """Multiset of per-gram doc-sets: [(sorted doc ids...), ...] sorted.
    Invariant under any INJECTIVE re-keying of the grams; any key
    collision merges two doc-sets and breaks it."""
    by_gram: dict = {}
    for doc_id, g in pairs:
        by_gram.setdefault(g, set()).add(doc_id)
    return sorted(tuple(sorted(s)) for s in by_gram.values())


def test_gram_keys_bijects_with_word_shingles(spark, sf_dir):
    """gram_keys (the l28 Arrow kernel) must induce EXACTLY the
    equality classes of explode(word_shingles): per doc the distinct
    counts match, and globally the multiset of per-gram doc-sets
    matches — a bijection gram-text ↔ key over the fixture corpus.
    Key VALUES are untestable by design (different hash family);
    equality classes are the whole contract l28 consumes."""
    from hadoop_release_spark.operators.dedup import gram_keys, word_shingles
    from hadoop_release_spark.plans.l_pipeline import DECON_NGRAM_K

    d = table(spark, sf_dir, "documents")
    expr = [
        (r["doc_id"], r["g"])
        for r in d.select(
            "doc_id",
            F.explode(word_shingles(F.col("text"), DECON_NGRAM_K)).alias("g"),
        ).collect()
    ]
    kern = [
        (r["doc_id"], r["g"])
        for r in d.select(
            "doc_id",
            F.explode(gram_keys(F.col("text"), DECON_NGRAM_K)).alias("g"),
        ).collect()
    ]
    # per-doc distinct counts
    from collections import Counter

    assert Counter(x[0] for x in expr) == Counter(x[0] for x in kern)
    # global equality-class structure
    assert _doc_set_profile(expr) == _doc_set_profile(kern)


def test_gram_keys_planted_shapes(spark):
    """Structural cases the bijection test can't isolate: cross-doc
    gram equality (the join property l28 lives on), the short-doc
    whole-text fallback, per-doc distinctness, and null/empty text."""
    from hadoop_release_spark.operators.dedup import gram_keys

    rows = [
        (1, "a b c d e f g h i"),   # two 8-gram windows
        (2, "a b c d e f g h"),     # exactly k: one gram == doc 1's first
        (3, "b c d e f g h i"),     # == doc 1's second window
        (4, "a b c d e f g"),       # k-1 tokens: whole-text fallback
        (5, "a b c d e f g h a b c d e f g h"),  # windows incl. repeats
        (6, ""),                    # one empty-string token
        (7, None),                  # null text -> [null] gram
        (8, "a b c d e f g h i"),   # identical to doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in df.select(
        "doc_id", gram_keys(F.col("text"), 8).alias("ks")
    ).collect():
        out[r["doc_id"]] = r["ks"]
    assert len(out[1]) == 2 and len(set(out[1])) == 2
    assert len(out[2]) == 1 and out[2][0] in out[1]
    assert len(out[3]) == 1 and out[3][0] in out[1]
    assert set(out[2]) | set(out[3]) == set(out[1])
    assert len(out[4]) == 1 and out[4][0] not in out[1]
    # doc 5: 9 windows over 16 tokens, many duplicates; every window
    # that equals "a..h" collapses — distinctness per doc
    assert len(out[5]) == len(set(out[5]))
    # doc 5's windows at offsets 0 and 8 are both "a..h" == doc 2's gram
    assert out[2][0] in out[5]
    assert len(out[6]) == 1
    assert out[7] == [None]
    assert sorted(out[8]) == sorted(out[1])


@_GK_SETTINGS
@_GK_GIVEN
def test_gram_keys_property_matches_word_shingles(spark, docs):
    """Hypothesis: for ANY token soup (tiny alphabet with non-ASCII
    tokens, heavy repeats, lengths straddling k, null docs) every
    gram kernel keeps the one shared edge-input semantics of its
    expression form: gram_keys induces word_shingles' equality
    classes (per-doc counts and the global doc-set profile), and
    shingle_sketch_sig, word_gram_digests and positional_gram_md5
    equal their expression forms value for value."""
    from collections import Counter

    from hadoop_release_spark.operators.dedup import (
        gram_keys,
        positional_gram_md5,
        shingle_sketch_sig,
        word_gram_digests,
        word_shingles,
    )
    from tests._dedup_reference import (
        positional_gram_md5_expr,
        shingle_sketch_sig_expr,
        word_gram_digests_expr,
    )

    k = 3
    rows = [
        (i, None if toks is None else " ".join(toks))
        for i, toks in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = [
        (r["doc_id"], r["g"])
        for r in df.select(
            "doc_id",
            F.explode(word_shingles(F.col("text"), k)).alias("g"),
        ).collect()
    ]
    kern = [
        (r["doc_id"], r["g"])
        for r in df.select(
            "doc_id", F.explode(gram_keys(F.col("text"), k)).alias("g")
        ).collect()
    ]
    assert Counter(x[0] for x in expr) == Counter(x[0] for x in kern)
    assert _doc_set_profile(expr) == _doc_set_profile(kern)

    text = F.col("text")
    pairs = {
        "sig": (shingle_sketch_sig(text, k), shingle_sketch_sig_expr(text, k)),
        "wgd": (word_gram_digests(text, k), word_gram_digests_expr(text, k)),
        "pos": (positional_gram_md5(text, k), positional_gram_md5_expr(text, k)),
    }
    cols = ["doc_id"]
    for name, (ka, ke) in pairs.items():
        cols += [ka.alias(name + "_ka"), ke.alias(name + "_ke")]
    for r in df.select(*cols).collect():
        for name in pairs:
            assert r[name + "_ka"] == r[name + "_ke"], (name, rows[r["doc_id"]])


def test_gram_keys_empty_mode_short_docs(spark):
    """short_doc="empty" (the l66/_O_SHINGLES3 branch): docs under k
    tokens yield ZERO grams — matching the oracle's range() — while
    k-or-longer docs key identically to the whole_text mode."""
    from hadoop_release_spark.operators.dedup import gram_keys

    rows = [
        (1, "a b c d"),  # two 3-gram windows
        (2, "a b"),      # < k: empty
        (3, "a"),        # < k: empty
        (4, ""),         # one empty token: empty
        (5, None),       # null text: [null] (both modes)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emp = {
        r["doc_id"]: r["ks"]
        for r in df.select(
            "doc_id", gram_keys(F.col("text"), 3, short_doc="empty").alias("ks")
        ).collect()
    }
    whole = {
        r["doc_id"]: r["ks"]
        for r in df.select(
            "doc_id", gram_keys(F.col("text"), 3).alias("ks")
        ).collect()
    }
    assert len(emp[1]) == 2 and sorted(emp[1]) == sorted(whole[1])
    assert emp[2] == [] and emp[3] == [] and emp[4] == []
    assert len(whole[2]) == 1  # whole_text mode keeps the fallback gram
    assert emp[5] == [None] and whole[5] == [None]

    import pytest

    with pytest.raises(ValueError, match="short_doc"):
        gram_keys(F.col("text"), 3, short_doc="nope")


def test_positional_gram_md5_equals_expression(spark, sf_dir):
    """Round-13 hot-path pin: the positional gram kernel must emit
    the EXACT md5 bytes of the expression form l74 shipped through
    round 12, position for position (these 16-byte values gate a
    removal plan — value parity, not just equality classes)."""
    from hadoop_release_spark.operators.dedup import positional_gram_md5
    from hadoop_release_spark.plans.l_pipeline import L74_GRAM_K
    from tests._dedup_reference import positional_gram_md5_expr

    k = L74_GRAM_K
    d = table(spark, sf_dir, "documents")
    mism = (
        d.select(
            "doc_id",
            positional_gram_md5(F.col("text"), k).alias("ka"),
            positional_gram_md5_expr(F.col("text"), k).alias("ke"),
        )
        .filter(F.col("ka") != F.col("ke"))
        .count()
    )
    assert mism == 0
    # short/null shapes
    df = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["ks"]
        for r in df.select(
            "doc_id", positional_gram_md5(F.col("text"), 8).alias("ks")
        ).collect()
    }
    assert out[1] == [] and out[2] is None and out[3] == []


def test_word_gram_digests_equals_expression(spark, sf_dir):
    """Round-13 hot-path pin: word_gram_digests must emit the EXACT
    md5 digest bytes of transform(word_shingles, unhex(md5)) — the
    l72/l75 gram form whose digest bytes are value-bearing (bloom
    bit positions), order included."""
    from hadoop_release_spark.operators.dedup import word_gram_digests
    from hadoop_release_spark.plans.l_pipeline import DECON_NGRAM_K
    from tests._dedup_reference import word_gram_digests_expr

    d = table(spark, sf_dir, "documents")
    mism = (
        d.select(
            "doc_id",
            word_gram_digests(F.col("text"), DECON_NGRAM_K).alias("ka"),
            word_gram_digests_expr(F.col("text"), DECON_NGRAM_K).alias("ke"),
        )
        .filter(F.col("ka") != F.col("ke"))
        .count()
    )
    assert mism == 0
    df = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["ks"]
        for r in df.select(
            "doc_id", word_gram_digests(F.col("text"), 8).alias("ks")
        ).collect()
    }
    assert len(out[1]) == 1  # whole-text fallback
    assert out[2] == [None]
    assert len(out[3]) == 1
