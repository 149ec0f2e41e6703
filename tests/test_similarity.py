"""IVF approximate kNN: recall against the exact brute-force ranking
and structural invariants (rows-only contract l19 is pinned here)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_release_spark.catalog import table
from hadoop_release_spark.functions.vectors import cosine
from hadoop_release_spark.operators.similarity import (
    embedding_near_dup_pairs,
    ivf_topk,
)
from tests._similarity_reference import assign_clusters


def _setup(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    return e, centroids, queries


def test_every_vector_assigned_exactly_one_cluster(spark, sf_dir):
    e, centroids, _ = _setup(spark, sf_dir)
    assigned = assign_clusters(e, centroids)
    assert assigned.count() == e.count()
    assert assigned.select("vec_id").distinct().count() == e.count()


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    e, centroids, queries = _setup(spark, sf_dir)
    assigned = assign_clusters(e, centroids)
    approx = ivf_topk(assigned, centroids, queries, k=10, nprobe=4).toPandas()

    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    exact = (
        e.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cosine(F.col("embedding"), F.col("qe")), 3).alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .toPandas()
    )
    recalls = []
    for qid in exact.query_id.unique():
        truth = set(exact[exact.query_id == qid].vec_id)
        got = set(approx[approx.query_id == qid].vec_id)
        assert len(got) == 10
        recalls.append(len(truth & got) / 10)
    # nprobe=4 of ~10 clusters over random vectors: recall well above
    # the ~nprobe/K floor; assert a conservative bound so the test is
    # stable while still catching a broken candidate generator.
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_near_dup_pairs_recall_planted_pair(spark, sf_dir):
    """l14's LSH candidate generator must recover a planted
    near-identical pair: clone a fixture vector with a tiny
    perturbation (cosine ≈ 0.9999) under a fresh id and assert the
    pair (orig, clone) survives banding + exact-cosine verify at a
    high threshold. This is the recall property the all-pairs demo
    bound used to hide."""
    e = table(spark, sf_dir, "embeddings")
    base = e.orderBy("vec_id").limit(1).toPandas()
    orig_id = int(base.vec_id[0])
    vec = [float(v) for v in base.embedding[0]]
    clone = [v + 0.001 for v in vec]
    clone_id = 10_000_000
    planted = spark.createDataFrame(
        [(clone_id, clone, 0)], "vec_id long, embedding array<float>, label int"
    )
    full = e.unionByName(planted)
    pairs = embedding_near_dup_pairs(full, threshold=0.9).toPandas()
    hit = pairs[(pairs.id_a == orig_id) & (pairs.id_b == clone_id)]
    assert len(hit) == 1, pairs.head(20)
    assert hit.cos_sim.iloc[0] >= 0.99


def test_near_dup_pairs_no_all_pairs_without_collision(spark, sf_dir):
    """Structural: every emitted pair must share at least one LSH
    band — the operator never compares non-colliding vectors. Verify
    by recomputing band ids for the emitted pairs."""
    from hadoop_release_spark.operators.similarity import sign_lsh_bands

    e = table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(e, threshold=-1.0)  # keep all candidates
    bands = e.select("vec_id", *sign_lsh_bands(F.col("embedding"), 8, 8))
    a = bands.select(
        F.col("vec_id").alias("id_a"), *[F.col(f"band{j}").alias(f"a{j}") for j in range(8)]
    )
    b = bands.select(
        F.col("vec_id").alias("id_b"), *[F.col(f"band{j}").alias(f"b{j}") for j in range(8)]
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    collides = None
    for j in range(8):
        c = F.col(f"a{j}") == F.col(f"b{j}")
        collides = c if collides is None else collides | c
    assert joined.filter(~collides).count() == 0


def test_ivf_scores_descending_per_query(spark, sf_dir):
    e, centroids, queries = _setup(spark, sf_dir)
    assigned = assign_clusters(e, centroids)
    pdf = ivf_topk(assigned, centroids, queries, k=10, nprobe=4).toPandas()
    for qid, grp in pdf.groupby("query_id"):
        scores = list(grp.sort_values(["score", "vec_id"], ascending=[False, True]).score)
        assert scores == sorted(scores, reverse=True)


def test_l09_knn_join_guards_broadcast_query_set(spark, sf_dir, monkeypatch):
    """l09's broadcast-cross plan is linear in |queries| per corpus
    row; the guard must refuse query sets beyond broadcast scale and
    point at l19_knn_ivf instead of silently going all-pairs."""
    from hadoop_release_spark.plans import l_llm

    monkeypatch.setattr(l_llm, "_KNN_JOIN_MAX_QUERIES", 5)
    with pytest.raises(ValueError, match="l19_knn_ivf"):
        l_llm.l09_knn_join(spark, sf_dir)


def test_pq_adc_recall_vs_exact_l2(spark, sf_dir):
    """l47's compression must preserve neighborhood structure: the
    ADC top-10 (distances over m=4 one-byte codes — a 64× lossy
    compression of the float vectors) must recover a meaningful
    share of the EXACT squared-L2 top-10. The floor is deliberately
    modest — PQ at 4 subspaces over isotropic random vectors is the
    hardest case (no cluster structure to exploit) — but a broken
    encode (wrong slice offsets, argmin on the wrong key) sends
    recall to ~k/N ≈ 0, which this catches. Encode invariants are
    pinned exactly: every non-query vector gets exactly m codes."""
    from hadoop_release_spark.functions.vectors import sq_dist
    from hadoop_release_spark.operators.similarity import pq_adc_topk, pq_encode
    from hadoop_release_spark.plans.l_llm_ext import (
        _PQ_CODES,
        _PQ_M,
        _PQ_STRIDE,
        _PQ_SUBDIM,
    )

    e = table(spark, sf_dir, "embeddings")
    codebook = e.filter(
        (F.col("vec_id") % _PQ_STRIDE == 0)
        & (F.col("vec_id") < _PQ_STRIDE * _PQ_CODES)
    ).select(
        (F.col("vec_id") / _PQ_STRIDE).cast("int").alias("code_id"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") != 0)
    encoded = pq_encode(corpus, codebook, _PQ_M, _PQ_SUBDIM)

    n = corpus.count()
    assert encoded.count() == n * _PQ_M
    assert (
        encoded.groupBy("vec_id").count().filter(F.col("count") != _PQ_M).count()
        == 0
    )

    query = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    approx = {
        r.vec_id
        for r in pq_adc_topk(
            encoded, codebook, query, _PQ_M, _PQ_SUBDIM, k=10
        ).collect()
    }
    exact = {
        r.vec_id
        for r in (
            corpus.crossJoin(F.broadcast(query))
            .select(
                "vec_id", sq_dist(F.col("embedding"), F.col("qe")).alias("d2")
            )
            .orderBy(F.col("d2").asc(), F.col("vec_id"))
            .limit(10)
            .collect()
        )
    }
    recall = len(approx & exact) / 10
    assert recall >= 0.2, (recall, sorted(approx), sorted(exact))


def test_pq_encode_maps_codebook_vectors_to_their_own_codes(spark, sf_dir):
    """PQ encode identity invariant: encoding the codebook vectors
    themselves must assign every subspace to the vector's OWN code
    (distance exactly 0; the (d2, code_id) struct-min tie-break
    cannot prefer another code unless two codebook entries share a
    subvector, which distinct random vectors don't). Catches slice
    misalignment between pq_subvectors calls — the one bug class the
    recall floor could survive."""
    from hadoop_release_spark.operators.similarity import pq_encode
    from hadoop_release_spark.plans.l_llm_ext import (
        _PQ_CODES,
        _PQ_M,
        _PQ_STRIDE,
        _PQ_SUBDIM,
    )

    e = table(spark, sf_dir, "embeddings")
    codebook = e.filter(
        (F.col("vec_id") % _PQ_STRIDE == 0)
        & (F.col("vec_id") < _PQ_STRIDE * _PQ_CODES)
    ).select(
        (F.col("vec_id") / _PQ_STRIDE).cast("int").alias("code_id"), "embedding"
    )
    as_corpus = codebook.select(
        F.col("code_id").cast("long").alias("vec_id"), "embedding"
    )
    rows = pq_encode(as_corpus, codebook, _PQ_M, _PQ_SUBDIM).collect()
    assert len(rows) == _PQ_CODES * _PQ_M
    assert all(r.code_id == r.vec_id for r in rows), [
        (r.vec_id, r.u, r.code_id) for r in rows if r.code_id != r.vec_id
    ]


def test_semantic_decontaminate_flags_planted_paraphrase(spark):
    """l48 semantics on a planted scenario the fixture can't produce
    (its random embeddings top out at cosine ≈0.49): a corpus vector
    that is a tiny perturbation of an eval vector must be flagged
    with that eval id; an orthogonal corpus vector must not be."""
    from hadoop_release_spark.operators.similarity import pq_subvectors  # noqa: F401  (import proximity)
    from hadoop_release_spark.plans.l_llm_ext import (
        _L48_EVAL_BOUND,
        l48_semantic_decontaminate,
    )
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq_

    dim = 64
    eval_vec = [1.0] + [0.0] * (dim - 1)
    near_copy = [0.999] + [0.02] + [0.0] * (dim - 2)   # cos ≈ 0.9998
    orthogonal = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)   # cos = 0
    rows = {
        "vec_id": [5, _L48_EVAL_BOUND + 1, _L48_EVAL_BOUND + 2],
        "embedding": [eval_vec, near_copy, orthogonal],
        "label": [0, 1, 2],
    }
    tmp = tempfile.mkdtemp(prefix="l48_planted_")
    tbl = pa.table(
        {
            "vec_id": pa.array(rows["vec_id"], pa.int64()),
            "embedding": pa.array(rows["embedding"], pa.list_(pa.float32())),
            "label": pa.array(rows["label"], pa.int32()),
        }
    )
    pq_.write_table(tbl, f"{tmp}/embeddings.parquet")
    out = {r.vec_id: r for r in l48_semantic_decontaminate(spark, tmp).collect()}
    assert out[_L48_EVAL_BOUND + 1].contaminated is True
    assert out[_L48_EVAL_BOUND + 1].nearest_eval_id == 5
    assert out[_L48_EVAL_BOUND + 2].contaminated is False


def test_hard_negative_mining_excludes_same_label(spark):
    """l49 semantics on a planted scenario: the single most-similar
    vector to the anchor shares its label and must be EXCLUDED; the
    returned negatives are the nearest different-label vectors in
    similarity order."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from hadoop_release_spark.plans.l_llm_ext import l49_hard_negative_mining

    dim = 64
    base = [1.0] + [0.0] * (dim - 1)

    def tilt(eps, axis=1):
        v = list(base)
        v[axis] = eps
        return v

    tbl = pa.table(
        {
            # anchor 0 (label 0); same-label near-copy 100; three
            # different-label vectors at decreasing similarity.
            "vec_id": pa.array([0, 100, 101, 102, 103], pa.int64()),
            "embedding": pa.array(
                [base, tilt(0.01), tilt(0.2), tilt(0.6), [0.0, 1.0] + [0.0] * 62],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 0, 1, 2, 3], pa.int32()),
        }
    )
    tmp = tempfile.mkdtemp(prefix="l49_planted_")
    pq_.write_table(tbl, f"{tmp}/embeddings.parquet")
    got = [
        (r.negative_id, r.negative_label)
        for r in l49_hard_negative_mining(spark, tmp)
        .filter(F.col("anchor_id") == 0)
        .orderBy(F.col("sim").desc(), "negative_id")
        .collect()
    ]
    # 100 (same label) excluded despite being nearest; order by sim.
    assert got == [(101, 1), (102, 2), (103, 3)], got


@pytest.mark.parametrize("op", ["l58", "l76"])
def test_l58_self_knn_recall_vs_brute_force(spark, sf_dir, op):
    """Corpus-wide self-kNN recall against exact brute force —
    the same conservative bound as the bounded-query IVF test; a
    broken probe or candidate stage collapses recall toward 0.
    Parametrized over l58 AND its cluster-bucketed staging variant
    l76 (round 12): the bucketed index must not change what the
    search finds."""
    from hadoop_release_spark.plans.l_llm_ext import (
        _L58_K,
        l58_knn_self_join,
        l76_knn_self_bucketed,
    )

    fn = l58_knn_self_join if op == "l58" else l76_knn_self_bucketed
    approx = fn(spark, sf_dir).toPandas()
    e = table(spark, sf_dir, "embeddings")
    q = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qe")), 3).alias("score"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _L58_K)
        .toPandas()
    )
    recalls = []
    for qid in exact.query_id.unique():
        truth = set(exact[exact.query_id == qid].vec_id)
        got = set(approx[approx.query_id == qid].vec_id)
        # IVF with nprobe=4 gives no structural guarantee each query
        # reaches >= K candidates — pin recall, not fixture-dependent
        # candidate coverage.
        assert len(got) <= _L58_K
        recalls.append(len(truth & got) / min(_L58_K, len(truth)))
    assert sum(recalls) / len(recalls) >= 0.2, sum(recalls) / len(recalls)


def test_score_candidates_vectorized_equals_reference(spark, sf_dir):
    """Round-12 kernel-rewrite pin: the whole-matrix top-k-with-
    margin selection in score_candidates_arrow must emit the
    IDENTICAL (query_id, vec_id, raw) set as the per-probe-column
    reference form it replaced (the round-9 loop, replayed here in
    pure numpy on the same inputs) — including the self-exclusion
    rule, the len(valid) > k branch, and bit-identical raw cosines."""
    import numpy as np

    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
        score_candidates_arrow,
        systematic_centroids,
    )

    k, dim = 5, 64
    e = table(spark, sf_dir, "embeddings")
    centroids = systematic_centroids(e)
    ranked = rank_clusters_arrow(e, centroids, 4, dim)
    assigned = ranked.filter(F.col("__rn") == 1).select(
        "cluster", "vec_id", "embedding", "__nrm"
    )
    probes = ranked.select(
        "cluster",
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("__nrm").alias("__qnrm"),
    )
    got = {
        (r["query_id"], r["vec_id"], r["__raw"])
        for r in score_candidates_arrow(assigned, probes, k, dim).collect()
    }

    # Reference: the per-column loop, cluster by cluster.
    margin = 0.002
    adf = assigned.toPandas()
    pdf = probes.toPandas()
    want = set()
    for cluster in set(adf.cluster):
        left = adf[adf.cluster == cluster]
        right = pdf[pdf.cluster == cluster]
        if not len(left) or not len(right):
            continue
        M = np.stack(
            [np.asarray(v, dtype=np.float32) for v in left["embedding"]]
        ).astype(np.float64)
        Q = np.stack(
            [np.asarray(v, dtype=np.float32) for v in right["qe"]]
        ).astype(np.float64)
        mids = left["vec_id"].to_numpy()
        qids = right["query_id"].to_numpy()
        S = np.zeros((len(mids), len(qids)))
        for i in range(dim):
            S += M[:, i][:, None] * Q[:, i][None, :]
        S /= left["__nrm"].to_numpy()[:, None] * right["__qnrm"].to_numpy()[None, :]
        for j in range(len(qids)):
            col, keep = S[:, j], mids != qids[j]
            vals, vids = col[keep], mids[keep]
            if len(vals) > k:
                kth = np.partition(vals, len(vals) - k)[len(vals) - k]
                sel = vals >= kth - margin
                vals, vids = vals[sel], vids[sel]
            want.update(zip([qids[j]] * len(vids), vids, vals))
    assert got == want


def test_semdedup_pairs_arrow_equals_join_form(spark, sf_dir):
    """Round-12 l56 pair-stage rewrite pin: the per-cluster Arrow
    pair kernel, after Spark applies the SAME round(·,3) ≥ τ cut the
    join form applied, must yield the IDENTICAL (id_a, id_b, sim)
    survivor set as the declarative cluster self-join it replaced —
    including the id_a < id_b rule and bit-identical rounded sims
    (the kernel's 6e-4 over-selection guard must add nothing and
    drop nothing after the Spark-side cut)."""
    from hadoop_release_spark.functions.vectors import dot
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
        semdedup_pairs_arrow,
        systematic_centroids,
    )

    tau = 0.3
    e = table(spark, sf_dir, "embeddings")
    centroids = systematic_centroids(e)
    assigned = (
        rank_clusters_arrow(e, centroids, 1, 64)
        .select("cluster", "vec_id", "embedding", "__nrm")
        .persist()
    )
    try:
        got = {
            (r.id_a, r.id_b, r.sim)
            for r in semdedup_pairs_arrow(assigned, tau, 64)
            .select("id_a", "id_b", F.round(F.col("__raw"), 3).alias("sim"))
            .filter(F.col("sim") >= tau)
            .collect()
        }
        a = assigned.select(
            "cluster",
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("va"),
            F.col("__nrm").alias("__na"),
        )
        b = assigned.select(
            "cluster",
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("vb"),
            F.col("__nrm").alias("__nb"),
        )
        want = {
            (r.id_a, r.id_b, r.sim)
            for r in a.join(b.hint("shuffle_hash"), "cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.round(
                    dot(F.col("va"), F.col("vb"))
                    / (F.col("__na") * F.col("__nb")),
                    3,
                ).alias("sim"),
            )
            .filter(F.col("sim") >= tau)
            .collect()
        }
        assert got == want
        assert got, "fixture yields no threshold pairs — test is vacuous"
    finally:
        assigned.unpersist()


def test_l76_bucketed_variant_equals_l58(spark, sf_dir):
    """Round-12 pin: l76 (cluster-bucketed staging) must be
    row-for-row identical to l58 — same centroids, same kernels,
    same rounding; the parquet round-trip through the bucketed index
    is exact for float32 arrays and float64 norms. A drift here
    means the staging changed the search, which it must never do."""
    from hadoop_release_spark.plans.l_llm_ext import (
        l58_knn_self_join,
        l76_knn_self_bucketed,
    )

    a = l58_knn_self_join(spark, sf_dir).toPandas()
    b = l76_knn_self_bucketed(spark, sf_dir).toPandas()
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df[["query_id", "vec_id", "score"]].itertuples(index=False))
    )
    assert key(a) == key(b)


def test_l48_kernel_equals_declarative_window_form(spark, sf_dir):
    """Round-13 l48 rewrite pin: the emit_sim_3dp kernel path must
    equal the declarative form it replaced — crossJoin(broadcast) +
    r3(cosine) + (sim DESC, eval_id ASC) rank window — row for row
    on the fixture, every column. Guards BOTH the IEEE accumulation
    parity (the standing rank_clusters_arrow argument) and the
    round-THEN-rank rule (np.round(S,3) before argsort); a
    rounding-boundary value or a raw-sim ranking regression shows
    up here as a max_sim or nearest_eval_id drift."""
    from hadoop_release_spark.plans.l_llm_ext import (
        _L48_EVAL_BOUND,
        _L48_THRESHOLD,
        l48_semantic_decontaminate,
    )

    got = l48_semantic_decontaminate(spark, sf_dir).toPandas()

    e = table(spark, sf_dir, "embeddings")
    ev = e.filter(F.col("vec_id") < _L48_EVAL_BOUND).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("ee")
    )
    sims = (
        e.filter(F.col("vec_id") >= _L48_EVAL_BOUND)
        .crossJoin(F.broadcast(ev))
        .select(
            "vec_id",
            "eval_id",
            F.round(cosine(F.col("embedding"), F.col("ee")), 3).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("eval_id")
    )
    ref = (
        sims.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "vec_id",
            F.col("sim").alias("max_sim"),
            F.col("eval_id").alias("nearest_eval_id"),
            (F.col("sim") >= _L48_THRESHOLD).alias("contaminated"),
        )
        .toPandas()
    )
    cols = ["vec_id", "max_sim", "nearest_eval_id", "contaminated"]
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df[cols].itertuples(index=False, name=None))
    )
    assert key(got) == key(ref)


def test_rank_clusters_rounded_tie_breaks_to_lower_centroid_id():
    """emit_sim_3dp's reason to round BEFORE ranking, pinned on a
    planted tie the fixture can't produce: two eval vectors whose
    raw cosines to the probe DIFFER (0.70004 vs 0.70046) but round
    to the same 3dp value (0.700) — the declarative form (and the
    SQL oracle) rank on the ROUNDED sim and break the tie to the
    LOWER eval id, so the kernel must pick eval 3 even though eval
    7 has the larger raw sim. Raw-sim ranking would return 7 and
    silently diverge from the oracle on nearest-id."""
    import math

    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
    )
    from hadoop_release_spark.session import get_session

    spark = get_session("hadoop-release-spark-tests", cpus=8,
                        shuffle_partitions=8)
    dim = 2
    lo, hi = 0.70004, 0.70046
    ev_rows = [
        (7, [hi, math.sqrt(1 - hi * hi)]),   # larger RAW sim
        (3, [lo, math.sqrt(1 - lo * lo)]),   # lower id, same 3dp sim
    ]
    probe = [(100, [1.0, 0.0])]
    ev = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in ev_rows],
        "centroid_id long, centroid array<float>",
    )
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in probe],
        "vec_id long, embedding array<float>",
    )
    out = rank_clusters_arrow(
        e, ev, nprobe=1, dim=dim, emit_sim_3dp=True
    ).collect()
    assert len(out) == 1
    assert out[0]["cluster"] == 3, out
    assert out[0]["__sim"] == 0.7, out
    # Control: WITHOUT the flag, ranking is raw-sim (default path
    # unchanged) — the raw-larger eval 7 wins.
    raw = rank_clusters_arrow(e, ev, nprobe=1, dim=dim).collect()
    assert raw[0]["cluster"] == 7, raw


def test_rank_clusters_null_vector_raises_loudly():
    """Round-13 review find: a NULL embedding reaching the kernel
    used to die as an anonymous TypeError inside np.stack in the
    Python worker; the contract is a loud ValueError naming the
    offending id (vectors are NOT NULL by kernel contract — a
    missing embedding is an upstream data-quality fault, and the
    job must say so rather than emit junk or a cryptic stack)."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import PythonException

    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
    )
    from hadoop_release_spark.session import get_session

    spark = get_session("hadoop-release-spark-tests", cpus=8,
                        shuffle_partitions=8)
    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)],
        "vec_id long, embedding array<float>",
    )
    ev = spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id long, centroid array<float>"
    )
    with _pytest.raises(PythonException) as exc:
        rank_clusters_arrow(e, ev, nprobe=1, dim=2).collect()
    assert "NULL vector at vec_id=2" in str(exc.value)


def test_l76_append_to_bucketed_index_equals_full_ingest(spark, sf_dir):
    """Round-13 pin for the l76 docstring promise: incremental-append
    ingest. On a planted split (vec_id % 10 carves a ~10% delta),
    base-ingest + delta-append against the SAME frozen centroids must
    produce the identical index table, row for row, as one-shot full
    ingest — the quantizer is immutable between rebuilds, so
    delta-assignment ≡ full re-assignment by construction, and the
    append must land in matching buckets (Spark validates the bucket
    spec; the table stays 32-bucketed after the append). Also pins
    the no-standing-index guard: append without a prior ingest raises
    instead of silently creating an unbucketed table."""
    import pytest as _pytest

    from hadoop_release_spark.plans.l_llm_ext import (
        _L76_BUCKETS,
        _l76_index_table,
        append_to_bucketed_index,
        ingest_bucketed_index,
    )
    from hadoop_release_spark.operators.similarity import (
        systematic_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    # Frozen quantizer shared by BOTH paths — the standing-index
    # contract (rebuilds refresh centroids; appends never do).
    centroids = systematic_centroids(e)
    base = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)

    full = ingest_bucketed_index(
        spark, e, centroids, f"{sf_dir}#l76-append-full"
    ).toPandas()
    ingest_bucketed_index(spark, base, centroids, f"{sf_dir}#l76-append-incr")
    grown = append_to_bucketed_index(
        spark, delta, centroids, f"{sf_dir}#l76-append-incr"
    ).toPandas()

    cols = ["vec_id", "embedding", "__nrm", "cluster", "__rn"]
    key = lambda df: sorted(  # noqa: E731
        (int(v), bytes(emb), float(nrm), int(c), int(rn))
        for v, emb, nrm, c, rn in zip(*(df[c] for c in cols))
    )
    assert key(grown) == key(full)

    # The append must not have degraded the physical layout — the
    # catalog still reports the 32-bucket cluster spec, so probe
    # plans stay Exchange-free on the grown table.
    name = _l76_index_table(f"{sf_dir}#l76-append-incr")
    desc = spark.sql(f"DESCRIBE EXTENDED {name}").toPandas()
    info = dict(zip(desc["col_name"], desc["data_type"]))
    assert info.get("Num Buckets") == str(_L76_BUCKETS), info
    assert "cluster" in info.get("Bucket Columns", ""), info

    with _pytest.raises(RuntimeError, match="no standing index"):
        append_to_bucketed_index(
            spark, delta, centroids, f"{sf_dir}#l76-append-missing"
        )

    # Tripwire 2 (round-13 review find): the quantizer is FROZEN —
    # appending under recomputed/drifted centroids must raise, not
    # silently corrupt the index.
    drifted = systematic_centroids(base)
    with _pytest.raises(RuntimeError, match="quantizer digest mismatch"):
        append_to_bucketed_index(
            spark, delta, drifted, f"{sf_dir}#l76-append-incr"
        )

    # Cross-session append (round-13 review find): saveAsTable
    # metadata is session-scoped, but the bucketed parquet + sidecar
    # persist. Simulate a fresh session by dropping the catalog
    # entry (external table — files stay): append must re-register
    # from the sidecar and produce the same grown index.
    key2 = f"{sf_dir}#l76-append-xsession"
    ingest_bucketed_index(spark, base, centroids, key2)
    name2 = _l76_index_table(key2)
    spark.sql(f"DROP TABLE {name2}")
    assert not spark.catalog.tableExists(name2)
    regrown = append_to_bucketed_index(
        spark, delta, centroids, key2
    ).toPandas()
    assert key(regrown) == key(full)
    desc2 = spark.sql(f"DESCRIBE EXTENDED {name2}").toPandas()
    info2 = dict(zip(desc2["col_name"], desc2["data_type"]))
    assert info2.get("Num Buckets") == str(_L76_BUCKETS), info2


def test_rank_clusters_arrow_bitwise_equals_declarative(spark, sf_dir):
    """The Arrow assignment kernel (rank_clusters_arrow) must be
    BIT-identical to the declarative crossJoin + cosine-fold +
    rank-window form it replaced in l56/l58 — same IEEE addition
    order over dimensions, same float32→double widening, same
    (sim DESC, centroid_id ASC) tie rule, same norms. This is the
    pin that lets the DuckDB oracles stay unchanged: if numpy or a
    refactor ever reorders the accumulation (e.g. np.dot's pairwise
    summation), clusters or norms drift and this fails."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_release_spark.catalog import table
    from hadoop_release_spark.functions.vectors import dot, norm2
    from hadoop_release_spark.operators.similarity import rank_clusters_arrow

    e = table(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    en = e.select(
        "vec_id", "embedding", norm2(F.col("embedding")).alias("__nrm")
    )
    cn = cent.withColumn("__cnrm", norm2(F.col("centroid")))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("__csim").desc(), F.col("centroid_id")
    )
    ref = (
        en.crossJoin(F.broadcast(cn))
        .withColumn(
            "__csim",
            dot(F.col("embedding"), F.col("centroid"))
            / (F.col("__nrm") * F.col("__cnrm")),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select("vec_id", "__nrm", F.col("centroid_id").alias("cluster"), "__rn")
        .toPandas()
        .sort_values(["vec_id", "__rn"])
        .reset_index(drop=True)
    )
    got = (
        rank_clusters_arrow(e, cent, 3, 64)
        .select("vec_id", "__nrm", "cluster", "__rn")
        .toPandas()
        .sort_values(["vec_id", "__rn"])
        .reset_index(drop=True)
    )
    assert len(ref) == len(got)
    assert (ref["vec_id"].to_numpy() == got["vec_id"].to_numpy()).all()
    assert (ref["cluster"].to_numpy() == got["cluster"].to_numpy()).all()
    assert (
        ref["__nrm"].to_numpy().tobytes() == got["__nrm"].to_numpy().tobytes()
    ), "norms must be IEEE bit-identical"
    # Rank 1 is the declarative nearest-centroid assignment.
    nearest = sorted(
        map(tuple, assign_clusters(e, cent).select("vec_id", "cluster").collect())
    )
    first = got[got["__rn"] == 1]
    assert nearest == list(zip(first["vec_id"], first["cluster"]))


def test_adaptive_band_layout_big_branch(spark, tmp_path_factory):
    """Coverage for the 4×16 sign-LSH branch (review finding: every
    fixture sits below LSH_ADAPT_N, so only the 8×8 path ran). A
    5 100-vector corpus exercises: (a) the adaptive layout actually
    selects (4,16) — output equals the explicitly pinned (4,16)
    run and the planted exact duplicates are found; (b) the SQL
    oracle's count(*) gate agrees — DuckDB's adaptive SQL on the
    same parquet returns the identical pair set."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_release_spark.operators.similarity import (
        LSH_ADAPT_N,
        embedding_near_dup_pairs,
        o_embedding_near_dup_pairs,
    )

    n = LSH_ADAPT_N + 100
    rng = np.random.default_rng(7)
    vecs = rng.normal(0.0, 1.0, (n, 64)).astype(np.float32)
    # planted exact duplicates: pairs (0,1) and (2,3)
    vecs[1] = vecs[0]
    vecs[3] = vecs[2]
    tmp = tmp_path_factory.mktemp("adaptive_lsh")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        f"{tmp}/embeddings.parquet",
    )
    e = spark.read.parquet(f"{tmp}/embeddings.parquet")

    adaptive = embedding_near_dup_pairs(e, threshold=0.9).toPandas()
    pinned = embedding_near_dup_pairs(
        e, threshold=0.9, bands=4, rows_per_band=16
    ).toPandas()
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df[["id_a", "id_b", "cos_sim"]].itertuples(index=False, name=None))
    )
    assert key(adaptive) == key(pinned), "adaptive must pick (4,16) above the threshold"
    got_pairs = {(r[0], r[1]) for r in key(adaptive)}
    assert {(0, 1), (2, 3)} <= got_pairs, got_pairs

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp}/embeddings.parquet')"
    )
    oracle = con.execute(o_embedding_near_dup_pairs(64, threshold=0.9)).df()
    assert key(adaptive) == key(oracle), "oracle count(*) gate must agree"


def test_embedding_near_dup_pairs_rejects_half_pinned_layout(spark, sf_dir):
    """Passing only one of bands/rows_per_band must raise, never
    silently substitute the adaptive layout (review finding)."""
    import pytest as _pytest

    from hadoop_release_spark.catalog import table
    from hadoop_release_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    e = table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="BOTH bands and rows_per_band"):
        embedding_near_dup_pairs(e, bands=16)


def test_rank_clusters_arrow_empty_centroids_yields_empty(spark, sf_dir):
    """An empty centroid table must produce an EMPTY ranking frame —
    the graceful behavior of the declarative form it replaced — not
    a plan-build crash (review finding: np.stack([]) raised)."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.catalog import table
    from hadoop_release_spark.operators.similarity import rank_clusters_arrow

    e = table(spark, sf_dir, "embeddings")
    none = e.filter(F.lit(False)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    out = rank_clusters_arrow(e, none, 3, 64)
    assert out.count() == 0
    assert out.columns == ["vec_id", "embedding", "__nrm", "cluster", "__rn"]


def test_rank_clusters_arrow_enforces_centroid_ceiling(
    spark, sf_dir, monkeypatch
):
    """Round-8 verdict item 6: the kernel's driver collect documented
    its exit condition (hierarchical quantization beyond driver-sized
    K) but did not ENFORCE it. A centroid table above
    ARROW_KERNEL_MAX_CENTROIDS must raise loudly BEFORE materializing
    the whole table — planted here with a tiny ceiling so the
    tripwire itself is exercised. The l76 quantizer digest shares the
    same bounded collect, so it must raise too."""
    from hadoop_release_spark.catalog import table
    from hadoop_release_spark.operators import similarity
    from hadoop_release_spark.plans.l_llm_ext import _quantizer_digest

    monkeypatch.setattr(similarity, "ARROW_KERNEL_MAX_CENTROIDS", 5)
    e = table(spark, sf_dir, "embeddings")
    cent = e.select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    with pytest.raises(RuntimeError, match="ARROW_KERNEL_MAX_CENTROIDS=5"):
        similarity.rank_clusters_arrow(e, cent, 3, 64)
    with pytest.raises(RuntimeError, match="ARROW_KERNEL_MAX_CENTROIDS=5"):
        _quantizer_digest(cent)
    # At-or-under the ceiling still runs (boundary is inclusive).
    ok = similarity.rank_clusters_arrow(e, cent.limit(5), 3, 64)
    assert ok.count() > 0
    assert _quantizer_digest(cent.limit(5))


def test_ivf_pq_recall_vs_exact_l2(spark, sf_dir):
    """l71's doubly-approximate search (IVF pruning × PQ compression)
    must still recover a meaningful share of the EXACT squared-L2
    top-10 per query. The floor is modest (isotropic fixture vectors
    are PQ's hardest case, and IVF pruning can drop true neighbors
    in unprobed lists), but a broken composition — codes joined to
    the wrong clusters, a per-query LUT keyed wrong — sends recall
    to ~0, which this catches. Also pins that results never contain
    the query itself and respect k per query."""
    from hadoop_release_spark.functions.vectors import sq_dist
    from hadoop_release_spark.plans.l_llm_ext import (
        _L71_K,
        _L71_QUERIES,
        l71_ivf_pq,
    )

    e = table(spark, sf_dir, "embeddings")
    out = l71_ivf_pq(spark, sf_dir).toPandas()
    assert set(out["query_id"]) == set(range(_L71_QUERIES))
    assert (out.groupby("query_id").size() <= _L71_K).all()
    assert (out["query_id"] != out["vec_id"]).all()

    recalls = []
    for qid in range(_L71_QUERIES):
        q = e.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qe")
        )
        exact = {
            r.vec_id
            for r in (
                e.filter(F.col("vec_id") != qid)
                .crossJoin(F.broadcast(q))
                .select(
                    "vec_id",
                    sq_dist(F.col("embedding"), F.col("qe")).alias("d2"),
                )
                .orderBy(F.col("d2").asc(), F.col("vec_id"))
                .limit(_L71_K)
                .collect()
            )
        }
        approx = set(out[out["query_id"] == qid]["vec_id"])
        recalls.append(len(approx & exact) / _L71_K)
    # Floor calibration (measured on the fixture): the IVF stage's
    # coverage ceiling is ~0.6 (nprobe=4 of 10 lists) and the 16-code
    # ×4-subspace PQ over ISOTROPIC vectors — its hardest case, no
    # cluster structure to exploit — realizes ~0.12 mean recall,
    # i.e. 6× the random baseline k/N = 0.02. The floor is set at 3×
    # random: it tolerates the quantization noise but any structural
    # break (codes joined to wrong clusters, per-query LUT keyed
    # wrong, probe metric flipped) lands at ≈ random and fails.
    assert sum(recalls) / len(recalls) >= 0.06, recalls


# ---------------------------------------------------------------------------
# Round-14: two-level (IMI-style) quantizer — the O(N^1.5) exit
# ---------------------------------------------------------------------------


def test_two_level_probe_all_equals_flat_assignment(spark, sf_dir):
    """Degenerate-equality pin for the two-level assignment
    (rank_clusters_two_level with k=1): with EVERY coarse cell
    probed, the candidate multiset is exactly the fine set, so the
    two-hop argmax must reproduce the flat rank_clusters_arrow
    assignment row-for-row — including __nrm bitwise (same kernel)
    and the tie rule (max raw sim, then min fine id). stride=4 keeps
    the cell structure NON-trivial (coarse_stride > 1) so the
    equality actually exercises the per-cell top-1 + cross-cell
    merge composition."""
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
        rank_clusters_two_level,
        two_level_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    fine, coarse, cs = two_level_centroids(e, 4, 2)
    assert cs > 1, "fixture too small for a non-trivial cell layout"
    flat = rank_clusters_arrow(e, fine, 1, 64).select(
        "vec_id", "__nrm", "cluster"
    )
    two = rank_clusters_two_level(
        e, 64, k=1, stride=4, nprobe_coarse=2, probe_all=True
    ).select("vec_id", "__nrm", "cluster")
    a = sorted(map(tuple, flat.collect()))
    b = sorted(map(tuple, two.collect()))
    assert a == b


def test_two_level_imi_mode_total_assignment(spark, sf_dir):
    """IMI (bounded-probe) mode structural invariants: every vector
    assigned exactly once, every cluster id is a fine-centroid id
    (a stride multiple), and the probe bound held (assignment still
    total — the self-cell override guarantees every probed cell has
    at least one candidate)."""
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_two_level,
    )

    e = table(spark, sf_dir, "embeddings")
    n = e.count()
    out = rank_clusters_two_level(
        e, 64, k=1, stride=4, nprobe_coarse=2
    ).persist()
    assert out.count() == n
    assert out.select("vec_id").distinct().count() == n
    assert out.filter(F.col("cluster") % 4 != 0).count() == 0
    out.unpersist()


def test_two_level_internal_persists_released(spark, sf_dir):
    """r15 (r14 advisor): the IMI functions persist their slim
    coarse-ranking frame internally, and they are NOT registry rows —
    a direct library caller must still be able to free those blocks.
    Pin it: the persist is recorded in functions/materialize.py's
    owned list, and release() leaves the session with no persisted
    RDDs."""
    from hadoop_release_spark.functions import materialize
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_two_level,
    )

    materialize.release()  # clean slate from earlier tests
    spark.catalog.clearCache()
    e = table(spark, sf_dir, "embeddings")
    out = rank_clusters_two_level(e, 64, k=1, stride=4, nprobe_coarse=2)
    out.count()  # materialize → the internal persist is live
    assert materialize._OWNED, "IMI persist was not recorded"
    materialize.release()
    assert not materialize._OWNED
    # the operator-internal block is gone (the caller's own frames
    # were never persisted here, so the session cache must be empty)
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().isEmpty()


def test_l56_imi_degenerate_survivors_pair_for_pair(spark, sf_dir):
    """The round-13 verdict item-3 pin: l56 on the two-level path in
    its degenerate config (contract ⌊√N⌋ sizing, all cells probed)
    yields the registered l56 output PAIR-FOR-PAIR — same survivors,
    same dup_of attributions, same max_sim values."""
    from hadoop_release_spark.plans.l_llm_ext import (
        l56_semdedup,
        l56_semdedup_imi,
    )

    base = sorted(map(tuple, l56_semdedup(spark, sf_dir).collect()))
    imi = sorted(
        map(
            tuple,
            l56_semdedup_imi(
                spark, sf_dir, stride=None, nprobe=4, probe_all=True
            ).collect(),
        )
    )
    assert base == imi
    assert any(r[2] == 0 for r in base), (
        "fixture yields no semantic dups — the pair-for-pair pin is"
        " vacuous"
    )


def test_l70_imi_degenerate_ledger_row_identical(spark, sf_dir):
    """Round-13 verdict item 4: l70 stage 4 routed onto the two-level
    path (degenerate config) emits a ledger row-identical to the
    registered l70 — the routing changed plumbing, not semantics."""
    from hadoop_release_spark.plans.l_pipeline import (
        l70_corpus_pipeline_v2,
        l70_corpus_pipeline_v2_imi,
    )

    base = sorted(
        map(tuple, l70_corpus_pipeline_v2(spark, sf_dir).collect())
    )
    imi = sorted(
        map(
            tuple,
            l70_corpus_pipeline_v2_imi(
                spark, sf_dir, stride=None, nprobe=4, probe_all=True
            ).collect(),
        )
    )
    assert base == imi


def test_l56_imi_bounded_probe_sane_semdedup(spark, sf_dir):
    """IMI sizing (fixed stride, bounded probes) is a DIFFERENT
    quantizer, so survivors legitimately differ from l56 — pin the
    semantics that must hold under ANY quantizer: one row per
    vector, killers only point to LOWER ids in the SAME cluster
    (spot-checked via join), and every planted near-identical pair
    that lands in one cluster is caught."""
    from hadoop_release_spark.plans.l_llm_ext import l56_semdedup_imi

    out = l56_semdedup_imi(spark, sf_dir, stride=8, nprobe=2).persist()
    n = out.count()
    assert out.select("vec_id").distinct().count() == n
    bad = (
        out.filter(F.col("is_kept") == 0)
        .filter(
            (F.col("dup_of").isNull()) | (F.col("dup_of") >= F.col("vec_id"))
        )
        .count()
    )
    assert bad == 0
    joined = (
        out.filter(F.col("is_kept") == 0)
        .select("vec_id", "dup_of")
        .join(
            out.select(
                F.col("vec_id").alias("dup_of"),
                F.col("cluster").alias("k_cluster"),
            ),
            "dup_of",
        )
        .join(out.select("vec_id", "cluster"), "vec_id")
        .filter(F.col("cluster") != F.col("k_cluster"))
        .count()
    )
    assert joined == 0
    out.unpersist()


def test_rank_two_level_probe_all_equals_flat_topk(spark, sf_dir):
    """Degenerate-equality pin for rank_clusters_two_level (the
    top-k probe-ranking form): probing every coarse cell makes the
    candidate multiset exactly the fine set, so the merged top-k
    must equal rank_clusters_arrow's flat ranking row-for-row —
    same (cluster, __rn) per vector, same bitwise __nrm."""
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
        rank_clusters_two_level,
        two_level_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    fine, _, cs = two_level_centroids(e, 4, 2)
    assert cs > 1
    flat = rank_clusters_arrow(e, fine, 3, 64).select(
        "vec_id", "__nrm", "cluster", "__rn"
    )
    two = rank_clusters_two_level(
        e, 64, 3, stride=4, nprobe_coarse=2, probe_all=True
    ).select("vec_id", "__nrm", "cluster", "__rn")
    a = sorted(map(tuple, flat.collect()))
    b = sorted(map(tuple, two.collect()))
    assert a == b


def test_l58_imi_degenerate_equals_l58(spark, sf_dir):
    """l58 with both quantizer stages on the two-level path in its
    degenerate config must reproduce registered l58 row-for-row."""
    from hadoop_release_spark.plans.l_llm_ext import (
        l58_knn_self_imi,
        l58_knn_self_join,
    )

    base = sorted(map(tuple, l58_knn_self_join(spark, sf_dir).collect()))
    imi = sorted(
        map(
            tuple,
            l58_knn_self_imi(
                spark, sf_dir, stride=None, nprobe_coarse=4, probe_all=True
            ).collect(),
        )
    )
    assert base == imi
    assert base


def test_l58_imi_bounded_probe_recall(spark, sf_dir):
    """IMI sizing is a different quantizer, so neighbors may differ
    from flat l58 — pin the semantics that must hold: every vector
    gets ≤ K neighbors, scores descend per query, and self-recall
    against exact brute force stays above the l58 recall floor's
    neighborhood (the fixture's 10-label cluster structure makes
    near neighbors land in the same fine lists)."""
    from hadoop_release_spark.plans.l_llm_ext import (
        _L58_K,
        l58_knn_self_imi,
    )

    out = l58_knn_self_imi(
        spark, sf_dir, stride=8, nprobe_coarse=8, nprobe_fine=12
    )
    pdf = out.toPandas()
    per = pdf.groupby("query_id").size()
    assert per.max() <= _L58_K
    # exact top-k for 10 probe queries via brute force
    e = table(spark, sf_dir, "embeddings")
    recalls = []
    for qid in range(10):
        q = e.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qe")
        )
        exact = {
            r.vec_id
            for r in (
                e.filter(F.col("vec_id") != qid)
                .crossJoin(F.broadcast(q))
                .select(
                    "vec_id",
                    F.round(cosine(F.col("embedding"), F.col("qe")), 3).alias(
                        "s"
                    ),
                )
                .orderBy(F.col("s").desc(), F.col("vec_id"))
                .limit(_L58_K)
                .collect()
            )
        }
        approx = set(pdf[pdf["query_id"] == qid]["vec_id"])
        recalls.append(len(approx & exact) / _L58_K)
    # Floor calibration (measured, this fixture): flat l58 realizes
    # 0.52 mean recall here; the IMI config (stride 8, 8 coarse
    # probes, 12 fine lists) measures 0.48, and nprobe_fine=20
    # restores 0.52 exactly — the finer quantizer trades probes for
    # recall on a smooth knob. Floor 0.4 tolerates the quantization
    # noise; a structural break (wrong cells joined, probe metric
    # flipped) lands near random (k/N = 0.01) and fails.
    assert sum(recalls) / len(recalls) >= 0.4, recalls
