"""Approximate nearest-neighbor search: the IVF scale path.

Brute-force cosine top-k (plans/l_llm.py l08/l09) is exact and fine
when either side is bounded. When both the corpus AND the query set
scale, IVF (inverted-file) coarse quantization bounds the work:

  build:  pick K centroids (k-means; here a deterministic stand-in),
          assign every vector to its nearest centroid → cluster id.
          One broadcast-join + rank-1 window whose exchange is
          WindowGroupLimit-compressed to ≤1 row per vector per map
          task; assignment is incremental for appended data.
          (A zero-shuffle per-row expression over K literal
          centroids was measured SLOWER — literal-array folds run
          interpreted, outside whole-stage codegen — so the join
          form is deliberate.)
  query:  for each query, rank centroids, keep the nprobe nearest,
          search ONLY vectors in those clusters: a broadcast
          semi-join on cluster id replaces the full scan. Work drops
          by ~K/nprobe at the cost of recall (tunable).

At 100 TB the assigned table is written partitioned/bucketed BY
cluster id, so a probe reads only nprobe partitions — partition
pruning does the candidate selection before any compute.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_release_spark.functions.materialize import persist
from hadoop_release_spark.functions.vectors import cosine, dot, norm2

#: Hard ceiling on the number of centroids rank_clusters_arrow will
#: collect to the driver (round-8 verdict item 6: the collect
#: documented its exit condition but did not ENFORCE it). 2^17 lists
#: covers the √N IVF sizing rule past N = 10^10 vectors while keeping
#: the driver-side table ≤ ~70 MB at dim 64; beyond it the right
#: design is hierarchical (IMI-style) coarse quantization or
#: cluster-bucketed ingest, not a bigger collect — so raise loudly
#: instead of degrading. Overridable per call for tests / odd shapes.
ARROW_KERNEL_MAX_CENTROIDS = 131_072


def systematic_stride(n: int) -> int:
    """Centroid-sampling stride for the deterministic systematic
    coarse quantizer: ⌊√n⌋, so K = n/stride ≈ √n lists — the
    FAISS/SemDeDup sizing rule. A FIXED stride scales K linearly
    with the corpus and turns the N×K assignment stage quadratic:
    measured on the round-9 sf1→sf10 rehearsal, the old ``% 50``
    rule sent l58's decade ratio to 53× (4 000 centroids at 200k
    vectors — N²/50 assignment flops), while √N keeps assignment
    AND the nprobe×stride candidate work at O(N^1.5). Exact-integer
    isqrt; the oracle's floor(sqrt(double)) agrees for every
    n < 2^52 (sqrt is correctly rounded and the nearest-double gap
    exceeds 1/(2√n) only past 2^52)."""
    return max(1, math.isqrt(n))


def systematic_centroids(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(centroid_id, centroid) via the adaptive √N stride — the
    shared quantizer-construction for l19/l56/l58/l70/l71 (l21
    k-means is the production trainer; the dataflow is identical).
    Costs one count() job to size the stride."""
    stride = systematic_stride(embeddings.count())
    return embeddings.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("centroid"),
    )


def o_systematic_centroids(table: str = "embeddings") -> str:
    """DuckDB twin of :func:`systematic_centroids`: the centroid CTE
    body with the stride computed from the same corpus count."""
    return (
        f"SELECT vec_id AS centroid_id, embedding AS centroid\n"
        f"      FROM {table}\n"
        f"      WHERE vec_id % (SELECT greatest(CAST(floor(sqrt(\n"
        f"        CAST(count(*) AS DOUBLE))) AS BIGINT), 1)\n"
        f"        FROM {table}) = 0"
    )


def assign_clusters(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Add a ``cluster`` column: id of the nearest centroid.

    ``centroids``: (centroid_id, centroid) — small, broadcast.
    Deterministic tie-break on centroid_id.
    """
    # Norms are computed once per VECTOR (before the crossJoin fans
    # out to |centroids| rows) and reused as scalars — a pair-row
    # cosine would re-fold both norms per pair, and higher-order
    # array folds don't enter codegen. Same IEEE ops, same values.
    w = Window.partitionBy("vec_id").orderBy(F.col("__sim").desc(), F.col("centroid_id"))
    return (
        embeddings.withColumn("__enrm", norm2(F.col("embedding")))
        .crossJoin(
            F.broadcast(
                centroids.withColumn("__cnrm", norm2(F.col("centroid")))
            )
        )
        .withColumn(
            "__sim",
            dot(F.col("embedding"), F.col("centroid"))
            / (F.col("__enrm") * F.col("__cnrm")),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__sim", "__rn", "centroid", "__enrm", "__cnrm")
        .withColumnRenamed("centroid_id", "cluster")
    )


def sign_lsh_bands(
    vec: Column, bands: int, rows_per_band: int
) -> list[Column]:
    """Random-hyperplane LSH bucket ids from component sign bits.

    Band ``j`` packs the sign bits of components
    ``j*rows_per_band .. (j+1)*rows_per_band - 1`` (0-based) into an
    integer bucket id. For isotropic embeddings the coordinate axes
    ARE random hyperplanes, so ``P[sign agree] = 1 - θ/π`` per bit —
    the Charikar bound — and two vectors collide in band j with
    probability ``p^rows_per_band``. Deterministic (no RNG), hence
    reproducible in any engine: the oracle mirrors it bit-for-bit.
    """
    out = []
    for j in range(bands):
        bucket = None
        for i in range(rows_per_band):
            bit = F.when(
                F.element_at(vec, j * rows_per_band + i + 1) > 0, F.lit(2**i)
            ).otherwise(F.lit(0))
            bucket = bit if bucket is None else bucket + bit
        out.append(bucket.cast("int").alias(f"band{j}"))
    return out


#: Corpus size above which the sign-LSH layout switches from
#: 8 bands × 8 bits to 4 bands × 16 bits (same 64 sign bits).
#: Clustered embeddings share sign patterns, so same-cluster
#: collision probability per band is p^R with p ≈ 0.85-0.9 — at
#: R=8 a quarter of every cluster's pairs collide somewhere and
#: candidates grow ~N²/|clusters| (measured: l14 was the one
#: >-linear query of the 24-query 10× rehearsal, 11.1×); R=16
#: cuts the same-cluster collision rate ~7× while an exact copy
#: still collides in EVERY band (recall-1 for true dups). All
#: driver fixtures are below the threshold, so their results are
#: unchanged; the rule is mirrored in the oracle via count(*).
LSH_ADAPT_N = 5000


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    bands: int | None = None,
    rows_per_band: int | None = None,
) -> DataFrame:
    """Semantic (embedding-cosine) near-duplicate pairs WITHOUT the
    all-pairs join: sign-LSH banding generates candidates, exact
    cosine verifies them.

    Band layout is ADAPTIVE unless pinned by the caller: 8 bands ×
    8 sign bits below ``LSH_ADAPT_N`` corpus rows, 4 × 16 above
    (see LSH_ADAPT_N — the round-8 rehearsal fix for clustered-
    corpus bucket skew). The decision needs one count() — parquet
    metadata-cheap — and is replayed identically by the SQL oracle.

    Scale shape (the part that must survive 100×): only slim
    ``(id, band_j)`` rows go through the ``bands`` candidate
    self-joins; full vectors are re-attached ONLY for the candidate
    pairs in the verify stage — exactly the l02 MinHash-LSH layout.
    The pruning factor is 2^rows_per_band buckets per band — 8×8
    uses all 64 sign bits (256 buckets/band; measured at sf0.1 it
    cuts candidates ~13× vs R=4, which pruned almost nothing);
    16-bit bands (65k buckets) take over as the corpus grows.
    Recall for truly near-identical vectors stays ≈1 — an exact
    copy collides in EVERY band — pinned by the planted-pair test
    in tests/test_similarity.py.
    """
    if (bands is None) != (rows_per_band is None):
        # Half-pinned layouts silently losing the caller's value was
        # a review finding — the pair is one decision, pass both.
        raise ValueError(
            "embedding_near_dup_pairs: pass BOTH bands and rows_per_band "
            "to pin the layout, or neither for the adaptive rule"
        )
    if bands is None:
        n = embeddings.count()
        bands, rows_per_band = (4, 16) if n > LSH_ADAPT_N else (8, 8)
    band_cols = sign_lsh_bands(F.col(vec_col), bands, rows_per_band)
    # posexplode the per-band bucket ids into slim (id, band, bucket)
    # rows and self-join ONCE on (band, bucket) — the same single
    # candidate shuffle as the MinHash-LSH operator (dedup.py),
    # instead of one join per band.
    banded = embeddings.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.array(*band_cols)).alias("__band", "__bucket"),
    )
    a = banded.select(F.col("__id").alias("id_a"), "__band", "__bucket")
    b = banded.select(F.col("__id").alias("id_b"), "__band", "__bucket")
    cand = (
        a.join(b, ["__band", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Per-vector norms computed once (N rows), not per candidate
    # pair — same IEEE values, one dot fold per pair instead of
    # three array folds.
    ea = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm2(F.col(vec_col)).alias("__na"),
    )
    eb = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm2(F.col(vec_col)).alias("__nb"),
    )
    sim = F.round(
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 3
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _o_band_cols(bands: int, rows_per_band: int) -> str:
    return ", ".join(
        "("
        + " + ".join(
            f"(CASE WHEN embedding[{j * rows_per_band + i + 1}] > 0 "
            f"THEN {2**i} ELSE 0 END)"
            for i in range(rows_per_band)
        )
        + f") AS band{j}"
        for j in range(bands)
    )


def o_embedding_near_dup_pairs(dim: int, threshold: float = 0.3) -> str:
    """DuckDB mirror of :func:`embedding_near_dup_pairs` over the
    ``embeddings`` view (vec_id, embedding), including the ADAPTIVE
    band layout: each candidate branch is gated on the same
    ``count(*) > LSH_ADAPT_N`` rule the Spark side applies, so the
    8×8 branches are active exactly when the 4×16 ones are not."""
    from hadoop_release_spark.functions.vectors import o_cosine

    small = f"(SELECT c FROM nn) <= {LSH_ADAPT_N}"
    big = f"(SELECT c FROM nn) > {LSH_ADAPT_N}"
    branches = [
        f"      SELECT a.vec_id AS id_a, b2.vec_id AS id_b FROM b8 a "
        f"JOIN b8 b2 ON a.band{j} = b2.band{j} AND a.vec_id < b2.vec_id "
        f"WHERE {small}"
        for j in range(8)
    ] + [
        f"      SELECT a.vec_id AS id_a, b2.vec_id AS id_b FROM b16 a "
        f"JOIN b16 b2 ON a.band{j} = b2.band{j} AND a.vec_id < b2.vec_id "
        f"WHERE {big}"
        for j in range(4)
    ]
    cand_union = "\n      UNION\n".join(branches)
    cos = o_cosine("ea.embedding", "eb.embedding", dim)
    return f"""
    WITH nn AS (
      SELECT count(*) AS c FROM embeddings
    ), b8 AS (
      SELECT vec_id, {_o_band_cols(8, 8)} FROM embeddings
    ), b16 AS (
      SELECT vec_id, {_o_band_cols(4, 16)} FROM embeddings
    ), cand AS (
{cand_union}
    )
    SELECT c.id_a, c.id_b, round({cos}, 3) AS cos_sim
    FROM cand c
    JOIN embeddings ea ON c.id_a = ea.vec_id
    JOIN embeddings eb ON c.id_b = eb.vec_id
    WHERE round({cos}, 3) >= {threshold}
    """


def pq_subvectors(
    df: DataFrame, id_col: str, id_out: str, vec_col: str, m: int, subdim: int
) -> DataFrame:
    """Explode each vector into its ``m`` subvectors of ``subdim``
    dims: (id_out, u, sub) — the product-quantization decomposition.
    One narrow projection, no shuffle; ``u`` is the subspace index."""
    return df.select(
        F.col(id_col).alias(id_out),
        F.posexplode(
            F.array(
                *[F.slice(vec_col, u * subdim + 1, subdim) for u in range(m)]
            )
        ).alias("u", "sub"),
    )


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    m: int,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding: (id, u, code_id) — each vector
    compressed to ``m`` one-byte codes (nearest codebook entry per
    subspace, squared-L2, code_id tie-break).

    ``codebook``: (code_id, embedding) with K rows — K×m subvectors
    broadcast everywhere. The encode pass is corpus × (m·K) narrow
    rows through ONE broadcast hash join on ``u`` (never a corpus
    shuffle); the argmin reduction brings it back to corpus × m.
    This O(N·K·m) work is the definition of PQ training-free encode —
    at 100 TB it is embarrassingly parallel and the output (m bytes
    per vector vs 4·dim) is what makes the ADC index RAM-resident."""
    from hadoop_release_spark.functions.vectors import sq_dist

    corpus_subs = pq_subvectors(embeddings, id_col, "__pq_id", vec_col, m, subdim)
    code_subs = pq_subvectors(
        codebook, "code_id", "code_id", "embedding", m, subdim
    ).withColumnRenamed("sub", "csub")
    d2 = sq_dist(F.col("sub"), F.col("csub"))
    return (
        corpus_subs.join(F.broadcast(code_subs), "u")
        .select("__pq_id", "u", "code_id", d2.alias("__d2"))
        .groupBy("__pq_id", "u")
        .agg(F.min(F.struct(F.col("__d2"), F.col("code_id"))).alias("__best"))
        .select(
            F.col("__pq_id").alias(id_col),
            "u",
            F.col("__best.code_id").alias("code_id"),
        )
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebook: DataFrame,
    query: DataFrame,
    m: int,
    subdim: int,
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays
    full-precision, each corpus vector is approximated by its codes.

    Builds the m×K lookup table (query-subvector ↔ code squared
    distances) driver-free as a tiny broadcast, joins it to the code
    table on (u, code_id) — hash join, no corpus vectors touched —
    and sums per vector. The per-subspace distances are rounded to
    6dp and accumulated in DECIMAL(18,6), so the ADC total is EXACT
    and the top-k cut is deterministic regardless of aggregation
    order (float Σ over subspaces would be order-sensitive in the
    last bits). Returns (vec_id, adc_d2) rounded 3dp, ascending."""
    from hadoop_release_spark.functions.vectors import sq_dist

    q_subs = pq_subvectors(query, "query_id", "query_id", "qe", m, subdim)
    code_subs = pq_subvectors(
        codebook, "code_id", "code_id", "embedding", m, subdim
    ).withColumnRenamed("sub", "csub")
    lut = (
        q_subs.join(code_subs, "u")
        .select(
            "u",
            "code_id",
            F.round(sq_dist(F.col("sub"), F.col("csub")), 6)
            .cast("decimal(18,6)")
            .alias("qd2"),
        )
    )
    return (
        encoded.join(F.broadcast(lut), ["u", "code_id"])
        .groupBy("vec_id")
        .agg(F.sum("qd2").alias("__adc"))
        .orderBy(F.col("__adc").asc(), F.col("vec_id"))
        .limit(k)
        .select(
            "vec_id",
            F.round(F.col("__adc").cast("double"), 3).alias("adc_d2"),
        )
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k neighbors of each query vector.

    ``assigned``: (vec_id, embedding, cluster); ``query``:
    (query_id, qe). Returns (query_id, vec_id, score) with score =
    cosine rounded 3dp, deterministically tie-broken.
    """
    # Rank centroids per query; keep the nprobe nearest clusters.
    # Norms once per query/centroid/corpus vector, not per pair —
    # the assign_clusters rule; identical IEEE values.
    qn = query.withColumn("__qnrm", norm2(F.col("qe")))
    csim = dot(F.col("qe"), F.col("centroid")) / (
        F.col("__qnrm") * F.col("__cnrm")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("__csim").desc(), F.col("centroid_id"))
    probes = (
        qn.crossJoin(
            F.broadcast(
                centroids.withColumn("__cnrm", norm2(F.col("centroid")))
            )
        )
        .withColumn("__csim", csim)
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select(
            "query_id", "qe", "__qnrm", F.col("centroid_id").alias("cluster")
        )
    )
    # Candidate generation: corpus ⋈ probes on cluster id — the IVF
    # pruning step (partition pruning at scale, a hash join here).
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        assigned.withColumn("__enrm", norm2(F.col("embedding")))
        .join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("embedding"), F.col("qe"))
                / (F.col("__enrm") * F.col("__qnrm")),
                3,
            ).alias("score"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_pq_topk(
    codes: DataFrame,
    codebook: DataFrame,
    query: DataFrame,
    centroids: DataFrame,
    m: int,
    subdim: int,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF+PQ search — the production FAISS IVFPQ layout the l47
    docstring names: the coarse quantizer (IVF) prunes WHICH
    inverted lists each query reads, and the product quantizer (PQ)
    shrinks WHAT a list costs to read — search touches only the
    m-byte codes of the nprobe probed clusters, never a corpus
    vector. (FAISS's ``by_residual=False`` variant: codes encode the
    raw vectors, not centroid residuals, so the code table is the
    SAME artifact l47 builds — one codebook serves both the flat-PQ
    and the IVF-PQ index.)

    ``codes``: (vec_id, cluster, u, code_id) — the cluster-tagged
    code table; ``codebook``: (code_id, embedding); ``query``:
    (query_id, qe); ``centroids``: (centroid_id, centroid). Returns
    (query_id, vec_id, adc_d2) — top-k ascending approximate squared
    L2 per query, deterministically tie-broken.

    METRIC_L2 throughout (the FAISS IndexIVFPQ default): list
    probing ranks centroids by ascending squared L2 — the SAME
    metric the ADC scores approximate. A cosine probe over L2 codes
    was measured to halve recall on the isotropic fixture (the
    query's L2 neighbors live in lists a cosine ranking skips);
    l19 remains the cosine IVF-Flat twin.

    Determinism: per-subspace LUT distances round to 6dp and
    accumulate in DECIMAL(18,6) (exact, order-insensitive — the l47
    rule), rankings tie-break on vec_id, probe ranking on
    centroid_id.

    Scale shape: probes = query × broadcast centroid table with a
    per-query rank (queries are the bounded side — the l09/l48
    tripwire applies); the LUT is |queries|·m·K rows, broadcast;
    candidate generation joins the code table against the broadcast
    probe list on cluster — at 100 TB the code table is WRITTEN
    partitioned by cluster, so this join is partition pruning (read
    nprobe/K of the index) before any compute; the ADC agg partial-
    aggregates (query, vec) groups map-side. No corpus vectors move."""
    from hadoop_release_spark.functions.vectors import sq_dist

    wq = Window.partitionBy("query_id").orderBy(
        F.col("__cd2").asc(), F.col("centroid_id")
    )
    probes = (
        query.crossJoin(F.broadcast(centroids))
        .withColumn("__cd2", sq_dist(F.col("qe"), F.col("centroid")))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", F.col("centroid_id").alias("cluster"))
    )
    q_subs = pq_subvectors(query, "query_id", "query_id", "qe", m, subdim)
    code_subs = pq_subvectors(
        codebook, "code_id", "code_id", "embedding", m, subdim
    ).withColumnRenamed("sub", "csub")
    lut = q_subs.join(code_subs, "u").select(
        "query_id",
        "u",
        "code_id",
        F.round(sq_dist(F.col("sub"), F.col("csub")), 6)
        .cast("decimal(18,6)")
        .alias("qd2"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col("vec_id")
    )
    return (
        codes.join(F.broadcast(probes), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "u", "code_id"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd2").alias("__adc"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("__adc").cast("double"), 3).alias("adc_d2"),
        )
    )


def score_candidates_arrow(
    assigned: DataFrame,
    probes: DataFrame,
    k: int,
    dim: int,
    margin: float = 0.002,
    packed: bool = False,
) -> DataFrame:
    """Vectorized IVF candidate scoring: per CLUSTER, the members ×
    probes cosine block runs as ONE numpy kernel inside an Arrow
    cogroup, and only each probe's top-k-with-margin survivors are
    emitted — the round-9 fix for l58's real bottleneck. The sf1→sf10
    rehearsal showed the per-candidate JVM fold (~µs each, no codegen
    for array folds) dominates regardless of quantizer sizing: the
    fixed-stride rule measured 53×/decade (N²/50 assignment), and
    re-sizing to K=√N made the WALL worse (42.8×, 810→1 070 s at
    sf10) because candidates grew to N·nprobe·√N interpreted folds.
    Moving the same flops into the SIMD kernel and pre-selecting
    per-cluster cuts the emitted rows from N·nprobe·√N to
    ≈ N·nprobe·k.

    Correctness argument (oracle unchanged, results bit-identical):
    * sims accumulate with the explicit per-dimension loop —
      identical IEEE addition order to the declarative fold (the
      rank_clusters_arrow argument); one division by the carried
      norm product. The emitted __raw is the same double the JVM
      fold would produce; the CONTRACT value round(__raw, 3) is
      computed by Spark afterwards, so no rounding is re-implemented
      in Python.
    * per-(probe, cluster) selection keeps every member with
      raw ≥ (k-th best raw) − margin. The global rank orders by
      (HALF_UP-3dp score DESC, vec_id ASC); rounding moves each
      value < 0.0005, so any candidate that can round into the
      top-k's buckets (and then win a tie on vec_id) lies within
      0.001 of the k-th raw — margin 0.002 over-covers it. Global
      top-k over per-cluster top-k is exact because every global
      winner is a within-cluster winner for its probe.

    Scale shape: the cogroup IS the cluster-keyed shuffle the join
    version paid (both sides slim + vectors, same exchange), but the
    post-kernel stream is ≈ k+overselect rows per (probe, cluster)
    instead of the full member×probe product; the final global
    window ranks ~N·nprobe·k slim rows. Degenerate corpora (all
    vectors within margin of each other) fall back to emitting the
    full cluster — the join version's volume, never more.

    ``packed=True`` (round 12, the l76 transport): the member
    ``embedding`` / probe ``qe`` columns are float32 LITTLE-ENDIAN
    BINARY (dim·4 bytes) instead of array<float> — one Arrow buffer
    per row instead of a per-element list, decoded with ONE
    frombuffer+reshape per batch. Identical float32 bits → identical
    float64 widening → identical scores (the l76==l58 pin covers it
    end-to-end); only the serialization cost changes."""
    import numpy as np
    import pandas as pd

    schema = "query_id long, vec_id long, __raw double"

    def _stack(col: pd.Series) -> "np.ndarray":
        if packed:
            return np.frombuffer(
                b"".join(col), dtype=np.float32
            ).reshape(-1, dim).astype(np.float64)
        return np.stack(
            [np.asarray(v, dtype=np.float32) for v in col]
        ).astype(np.float64)

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {"query_id": pd.Series([], dtype="int64"),
                 "vec_id": pd.Series([], dtype="int64"),
                 "__raw": pd.Series([], dtype="float64")}
            )
        M = _stack(left["embedding"])
        Q = _stack(right["qe"])
        mids = left["vec_id"].to_numpy()
        qids = right["query_id"].to_numpy()
        mn = left["__nrm"].to_numpy()
        qn = right["__qnrm"].to_numpy()
        m, q = len(mids), len(qids)
        # Probe axis processed in CHUNKS so per-group working memory
        # is bounded at ~4M cells (two ≤32 MB float64 blocks) for any
        # cluster up to m ≈ 62.5k members; past that the 64-column
        # chunk floor makes the two blocks scale as 64·m cells —
        # comparable to the m×dim member matrix itself, so never an
        # INDEPENDENT OOM risk, but not a fixed bound. The sf10
        # profile found one
        # cluster at 6 116 members × 13 317 probes (81M cells): the
        # whole-matrix form allocated ~2 GB of temporaries for that
        # single group and its straggler task WAS the cogroup wall
        # (75 s → 24 s measured on the hot shape, identical output —
        # columns are selected independently, so chunking the probe
        # axis changes no value and no per-probe decision; at a
        # sufficiently hot 100 TB cluster the unchunked form would
        # OOM the executor, not just straggle).
        chunk = max(64, 4_000_000 // max(m, 1))
        tmp = np.empty((m, min(q, chunk)))
        out_frames = []
        for s in range(0, q, chunk):
            e = min(q, s + chunk)
            Qc, qc, qnc, w = Q[s:e], qids[s:e], qn[s:e], e - s
            S = np.zeros((m, w))
            t = tmp[:, :w]
            # Rank-1 updates into one preallocated temporary — same
            # per-cell elementwise ops in the same left-to-right
            # dimension order as the reference per-column form →
            # identical IEEE values.
            for i in range(dim):
                np.multiply(M[:, i][:, None], Qc[:, i][None, :], out=t)
                S += t
            S /= mn[:, None] * qnc[None, :]
            # Per-probe top-k-with-margin selection, whole-block form
            # (round 12 — the per-column Python loop was ~q numpy-call
            # overheads per cluster). Semantics identical to the
            # per-column form, pinned by
            # test_score_candidates_vectorized_equals_reference:
            #   * self rows (member == probe) are masked to -inf so
            #     they neither rank nor emit;
            #   * the k-th best VALID value per column sits at
            #     ascending index m-k of the masked column regardless
            #     of whether a -inf self entry is present (it sorts
            #     below every valid value);
            #   * columns with ≤ k valid members keep everything
            #     (kth = -inf), the per-column len(vals) > k rule.
            self_mask = mids[:, None] == qc[None, :]
            S2 = np.where(self_mask, -np.inf, S)
            if m > k:
                kth = np.partition(S2, m - k, axis=0)[m - k, :]
                valid = m - self_mask.sum(axis=0)
                kth = np.where(valid > k, kth, -np.inf)
                keep = (S2 >= kth[None, :] - margin) & ~self_mask
            else:
                keep = ~self_mask
            rows, cols = np.nonzero(keep)
            if len(rows):
                out_frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qc[cols].astype(np.int64),
                            "vec_id": mids[rows].astype(np.int64),
                            "__raw": S[rows, cols],
                        }
                    )
                )
        if not out_frames:
            return pd.DataFrame(
                {"query_id": pd.Series([], dtype="int64"),
                 "vec_id": pd.Series([], dtype="int64"),
                 "__raw": pd.Series([], dtype="float64")}
            )
        return pd.concat(out_frames, ignore_index=True)

    return (
        assigned.select("cluster", "vec_id", "embedding", "__nrm")
        .groupBy("cluster")
        .cogroup(
            probes.select("cluster", "query_id", "qe", "__qnrm").groupBy(
                "cluster"
            )
        )
        .applyInPandas(kernel, schema)
    )


def semdedup_pairs_arrow(
    assigned: DataFrame,
    tau: float,
    dim: int,
    guard: float = 0.0006,
) -> DataFrame:
    """Within-cluster CANDIDATE pair generation for SemDeDup (l56),
    vectorized: per cluster, the lower-triangle pairwise cosine block
    runs as one chunked numpy kernel inside an Arrow group, emitting
    only pairs whose RAW cosine is ≥ tau − guard — the round-12 fix
    for l56's pair stage, which was the one corpus-scale stage still
    paying interpreted JVM array folds per pair (~7 µs each;
    Σ|cluster|² pairs ≈ 185M at gen_sf sf10, >570 s wall — the same
    constraint score_candidates_arrow removed from l58 in round 9).

    ``assigned``: (cluster, vec_id, embedding, __nrm). Returns
    (id_a, id_b, __raw) with id_a < id_b, both in the same cluster.

    Correctness argument (oracle unchanged, results bit-identical):
    * __raw accumulates with the explicit per-dimension loop —
      identical IEEE addition order to the JVM ``dot`` fold the join
      form evaluated — over the same float32→float64 widened values,
      divided once by the carried norm product. The CONTRACT value
      round(__raw, 3) and the ≥ τ filter are computed by Spark on
      the emitted raws, so no rounding/threshold is re-implemented
      in Python.
    * guard = 6e-4 over-covers the HALF_UP boundary: round(x,3) ≥ τ
      requires x ≥ τ − 5e-4 exactly, so every pair the join form
      kept is emitted; the few over-selected pairs in
      [τ−6e-4, τ−5e-4) are dropped by the same Spark filter the
      join form used. No false negatives, bit-identical survivors
      (pinned by test_semdedup_pairs_arrow_equals_join_form).

    Scale shape: the groupBy IS the cluster-keyed shuffle the hinted
    pair join paid (same exchange class, corpus-sized, never
    broadcast), but each cluster's m×m block runs SIMD and only
    threshold-passing pairs reach the JVM (≈ the true duplicate
    count, not Σ|cluster|²). The column axis is chunked at ~4M cells
    so per-group memory is bounded (~two ≤32 MB blocks) for clusters
    up to m ≈ 62.5k members — past that the 64-column chunk floor
    scales the blocks as 64·m cells, comparable to the member matrix
    itself (no independent OOM risk, but not a fixed bound) — the
    score_candidates_arrow rule; the measured sf10 hot cluster
    (6 116 members → 18.7M pairs) can neither straggle unboundedly
    nor OOM a task."""
    import numpy as np
    import pandas as pd

    schema = "id_a long, id_b long, __raw double"
    bound = tau - guard

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"id_a": pd.Series([], dtype="int64"),
                 "id_b": pd.Series([], dtype="int64"),
                 "__raw": pd.Series([], dtype="float64")}
            )
        M = np.stack(
            [np.asarray(v, dtype=np.float32) for v in pdf["embedding"]]
        ).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        nrm = pdf["__nrm"].to_numpy()
        chunk = max(64, 4_000_000 // m)
        tmp = np.empty((m, min(m, chunk)))
        out = []
        for s in range(0, m, chunk):
            e = min(m, s + chunk)
            w = e - s
            S = np.zeros((m, w))
            t = tmp[:, :w]
            for i in range(dim):
                np.multiply(M[:, i][:, None], M[s:e, i][None, :], out=t)
                S += t
            S /= nrm[:, None] * nrm[s:e][None, :]
            keep = (ids[:, None] < ids[s:e][None, :]) & (S >= bound)
            rows, cols = np.nonzero(keep)
            if len(rows):
                out.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[rows].astype(np.int64),
                            "id_b": ids[s:e][cols].astype(np.int64),
                            "__raw": S[rows, cols],
                        }
                    )
                )
        if not out:
            return pd.DataFrame(
                {"id_a": pd.Series([], dtype="int64"),
                 "id_b": pd.Series([], dtype="int64"),
                 "__raw": pd.Series([], dtype="float64")}
            )
        return pd.concat(out, ignore_index=True)

    return (
        assigned.select("cluster", "vec_id", "embedding", "__nrm")
        .groupBy("cluster")
        .applyInPandas(kernel, schema)
    )


def rank_clusters_arrow(
    embeddings: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_centroids: int = ARROW_KERNEL_MAX_CENTROIDS,
    pack_vectors: bool = False,
    emit_sim_3dp: bool = False,
    emit_vectors: bool = True,
) -> DataFrame:
    """Rank the ``nprobe`` nearest centroids per vector in ONE Arrow
    pass — the centroid-assignment kernel for corpus-scale IVF
    (l56/l58). Returns (id, vec, __nrm, cluster, __rn ≤ nprobe),
    bit-identical to the declarative form (crossJoin + cosine fold +
    rank window) it replaces.

    Why Python here, when the house rule is "stay JVM-side": the
    N×K similarity stage has no codegen path — Spark evaluates
    higher-order array folds INTERPRETED (~7 µs per 64-d cosine;
    59 s for the sf1 assignment, measured), and the two JVM
    alternatives both measured WORSE (literal-centroid argmin
    2-7× slower, round-6 BENCH note; a 64-term unrolled GetArrayItem
    expression 2.8× slower — the generated method blows the JIT
    size limit, round-8 BENCH note). An Arrow batch × SIMD numpy
    accumulation runs the same flops ~50× faster, and only N rows
    ever cross the Python boundary (the N×K similarity matrix lives
    inside one batch kernel, never materialized as rows).

    Bit-parity argument (this is why the DuckDB oracles need no
    change): sims accumulate with an explicit loop over DIMENSIONS —
    ``S += V[:,i] · C[:,i]`` — so each (vector, centroid) cell sees
    the identical left-to-right IEEE addition order as the
    ``aggregate`` fold; float32→float64 widening is exact; the
    division by the norm product happens once per cell in the same
    shape; ranking sorts stably on -sim with centroids pre-sorted by
    id, reproducing ORDER BY sim DESC, centroid_id ASC.
    tests/test_similarity.py pins kernel == declarative on fixture
    data, row for row.

    The centroid table is collected to the driver — the SAME
    K-bounded table the declarative form broadcasts (an explicit
    broadcast, just landing in a numpy closure instead of a JVM
    hash relation). At 100 TB K is the IVF list count (√N-ish by
    the SemDeDup/FAISS sizing rule), far under driver memory; the
    exit condition for K beyond driver/executor memory is the same
    as for the broadcast form: hierarchical (IMI-style) coarse
    quantization, or the bucketed-by-cluster ingest that removes
    assignment from the query path entirely. That exit is ENFORCED:
    the collect itself is LIMIT-bounded to ``max_centroids`` + 1
    rows (one job, driver memory capped at the provisioned ceiling
    regardless of K — a separate count() would recompute the
    uncached derived centroid frame twice), and an overflow raises
    loudly instead of degrading — the same tripwire discipline as
    the rank primitives' stale-cache guards.

    ``pack_vectors=True`` (round 12, the l76 index transport): the
    emitted vec column is float32 LITTLE-ENDIAN BINARY (dim·4 bytes
    per row) instead of array<float> — the rank fan-out duplicates
    every vector nprobe×, and a per-row BUFFER crosses the Arrow
    boundary (and parquet) far cheaper than a per-element list. The
    packed bytes are the IDENTICAL float32 values the array form
    carries (same np.float32 cast), so any consumer decoding with
    frombuffer computes identical results
    (score_candidates_arrow(packed=True); l76==l58 pinned).

    ``emit_sim_3dp=True`` (round 13, the l48 decontamination shape):
    sims are rounded to 3dp BEFORE ranking and emitted as a
    ``__sim`` double column — this reproduces the declarative form
    that rounds (r3) and THEN ranks (sim DESC, centroid_id ASC), so
    3dp TIES break to the lower centroid id exactly as the SQL
    window does (raw-sim ranking would pick the raw-larger of two
    rounded-equal sims and silently disagree with the oracle on
    nearest-id; pinned by the planted rounded-tie test in
    tests/test_similarity.py). Rounding-mode note: np.round is
    half-to-even while Spark/DuckDB round half away from zero — the
    contract's standing argument applies (float noise ~1e-11 ≪ the
    5e-4 half-grid; cosines of data vectors never land exactly on a
    boundary), and the l48 kernel==declarative parity pin would
    catch a boundary value on the fixture. The DEFAULT path is
    untouched: ranking stays raw-sim and no column is added, so
    every existing consumer's plan and values are unchanged.

    ``emit_vectors=False`` (round 13): omit the vector and ``__nrm``
    columns from the output — Spark cannot prune columns out of a
    Python-side Arrow transfer, so a consumer that only wants the
    assignment (l48 keeps just id/cluster/__sim) would otherwise
    ship N×dim floats across the boundary only to drop them at the
    next projection. The IVF consumers (l56/l58/l76) need the
    vectors downstream and keep the default.

    NULL/ragged vectors raise a loud ValueError naming the first
    offending id (the tripwire discipline — np.stack would otherwise
    throw an anonymous TypeError from inside the worker): a missing
    embedding is an upstream data-quality fault, and every consumer
    of this kernel treats vectors as NOT NULL by contract. Filter
    nulls before calling if the source can contain them."""
    import numpy as np
    import pandas as pd

    rows = (
        centroids.select("centroid_id", "centroid")
        .limit(max_centroids + 1)
        .collect()
    )
    if len(rows) > max_centroids:
        raise RuntimeError(
            f"rank_clusters_arrow: centroid table exceeds the"
            f" driver-collect ceiling max_centroids={max_centroids}."
            " A coarse quantizer this large should not be collected or"
            " broadcast — switch to hierarchical (IMI-style) coarse"
            " quantization or cluster-bucketed ingest, or raise"
            " max_centroids explicitly if the driver is provisioned"
            " for it."
        )
    rows = sorted(rows, key=lambda r: r["centroid_id"])
    if not rows:
        # Empty centroid table: the declarative crossJoin+window form
        # (and the SQL oracle) yield an empty result, not a crash —
        # mirror that (review finding: np.stack([]) raised at
        # plan-build time).
        empty = embeddings.select(id_col, vec_col).limit(0)
        if pack_vectors:
            empty = empty.select(
                id_col, F.lit(None).cast("binary").alias(vec_col)
            )
        empty = empty.select(
            "*",
            F.lit(None).cast("double").alias("__nrm"),
            F.lit(None).cast("long").alias("cluster"),
            F.lit(None).cast("int").alias("__rn"),
        )
        if not emit_vectors:
            empty = empty.drop(vec_col, "__nrm")
        if emit_sim_3dp:
            empty = empty.select(
                "*", F.lit(None).cast("double").alias("__sim")
            )
        return empty
    cids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    C = np.stack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in rows]
    )
    K = len(cids)
    cn = np.zeros(K)
    for i in range(dim):
        ci = C[:, i]
        cn += ci * ci
    cn = np.sqrt(cn)
    npb = min(nprobe, K)

    vec_type = "binary" if pack_vectors else "array<float>"
    if emit_vectors:
        schema = (
            f"{id_col} long, {vec_col} {vec_type}, __nrm double,"
            " cluster long, __rn int"
        )
    else:
        schema = f"{id_col} long, cluster long, __rn int"
    if emit_sim_3dp:
        schema += ", __sim double"

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            bad = pdf[vec_col].isna()
            if bad.any():
                raise ValueError(
                    "rank_clusters_arrow: NULL vector at"
                    f" {id_col}={pdf[id_col][bad].iloc[0]} — vectors"
                    " are NOT NULL by kernel contract; filter nulls"
                    " upstream (data-quality fault, not a kernel"
                    " input)."
                )
            V32 = np.stack(
                [
                    np.asarray(v, dtype=np.float32)
                    for v in pdf[vec_col]
                ]
            )
            V = V32.astype(np.float64)
            S = np.zeros((n, K))
            vn = np.zeros(n)
            for i in range(dim):
                vi = V[:, i]
                vn += vi * vi
                S += vi[:, None] * C[:, i][None, :]
            vn = np.sqrt(vn)
            S /= vn[:, None] * cn[None, :]
            if emit_sim_3dp:
                # Round BEFORE ranking — the declarative r3-then-rank
                # rule, so 3dp ties break on centroid id, not raw sim.
                S = np.round(S, 3)
            # stable sort on -sim; C is cid-ascending, so ties break
            # to the LOWER centroid id — the window's tie rule.
            sel = np.argsort(-S, axis=1, kind="stable")[:, :npb]
            idx = np.repeat(np.arange(n), npb)
            out = {id_col: pdf[id_col].to_numpy()[idx]}
            if emit_vectors:
                if pack_vectors:
                    out[vec_col] = [V32[i].tobytes() for i in idx]
                else:
                    out[vec_col] = pdf[vec_col].to_numpy()[idx]
                out["__nrm"] = vn[idx]
            out["cluster"] = cids[sel.reshape(-1)]
            out["__rn"] = np.tile(
                np.arange(1, npb + 1, dtype=np.int32), n
            )
            if emit_sim_3dp:
                out["__sim"] = np.take_along_axis(
                    S, sel, axis=1
                ).reshape(-1)
            yield pd.DataFrame(out)

    # (spread_small_scan deliberately NOT applied: the SIMD batch
    # kernel is cheap at fixture vector counts — measured A/B r16,
    # l56/l58 med regressed ~0.5-0.8 s under the added rebalance
    # exchange. At corpus scale the scan is already parallel.)
    return embeddings.select(id_col, vec_col).mapInPandas(
        kernel, schema=schema
    )


def two_level_centroids(
    embeddings: DataFrame,
    stride: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, int]:
    """(fine, coarse, coarse_stride) for the two-level (IMI-style)
    coarse quantizer — the round-14 implementation of the exit every
    O(N^1.5) tripwire in this file names (rank_clusters_arrow's
    overflow message, ARROW_KERNEL_MAX_CENTROIDS note).

    * ``fine``  = systematic sample at a FIXED ``stride`` s —
      K ≈ N/s lists, so the SemDeDup pair stage Σ|cluster|² is
      bounded by s·N: LINEAR in corpus size (the flat √N sizing
      makes it N^1.5). The fine table is corpus-proportional and is
      therefore NEVER collected or broadcast — it stays a
      distributed frame (contrast rank_clusters_arrow, which
      collects its K-bounded centroid table).
    * ``coarse`` = systematic sample of the fine set at
      ``coarse_stride`` = ⌊√(K/nprobe)⌋ over the fine ORDINAL
      (id div stride), giving K1 ≈ √(nprobe·K) cells — the balance
      point of the per-vector assignment cost K1 + nprobe·(K/K1),
      which is minimized at K1 = √(nprobe·K) → 2·√(nprobe·K) ≈
      2·√(nprobe/s)·√N per vector. K1 grows as √(N/s): at N = 10^10,
      s = 64 that is ~35k rows — driver-collectable forever, the
      same √-bounded class the flat form already broadcasts.

    Honest bound (SCALE.md gets the long form): the per-vector
    assignment work is still Θ(√N) flops — two-level probing buys a
    2·√(nprobe/s) CONSTANT (≈ 0.7/√s vs the flat form's 1.0/1) and
    moves the pair stage to linear, but the coarse scan itself is the
    remaining √-term. The next exits (unshipped, documented): recurse
    the sampling a third level, or the inverted multi-index's
    multi-sequence lazy cell ranking.

    Dense-id note: the ordinal is computed as ``id div stride`` —
    exact for the dense 0..N-1 ids every fixture/generator table has
    (the same assumption :func:`systematic_centroids` already makes);
    sparse ids would only skew the sample spacing, never correctness.
    """
    fine = embeddings.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("centroid"),
    )
    k = fine.count()
    coarse_stride = max(1, math.isqrt(max(1, k // max(1, nprobe))))
    coarse = fine.filter(
        F.expr(f"(centroid_id div {stride}) % {coarse_stride} = 0")
    )
    return fine, coarse, coarse_stride


def best_fine_per_cell_arrow(
    fine_cells: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 1,
) -> DataFrame:
    """Per probed coarse CELL, the ``k`` best fine centroids for each
    probing vector — the second hop of the two-level assignment, as a
    cluster-keyed Arrow cogroup (the score_candidates_arrow shape,
    specialized to ranked-argmax-with-tie-rule so at most k rows per
    (vector, probed cell) reach the JVM; k=1, the assignment case,
    keeps the single-argmax fast path).

    ``fine_cells``: (cluster, centroid_id, centroid, __nrm) — the
    fine centroids grouped by their home coarse cell (distributed;
    K ≈ N/stride rows, never collected).
    ``probes``: (cluster, vec_id, embedding, __qnrm) — each vector
    repeated once per probed cell.
    Returns (vec_id, fine_id, __raw): the cell-local argmax.

    Bit-parity argument (the degenerate-equality pin rests on it):
    sims accumulate with the explicit per-dimension loop — identical
    IEEE addition order to rank_clusters_arrow's S — over the same
    float32→float64 widened values, divided once by the carried norm
    product, so each (vector, fine) cell sees the IDENTICAL double
    the flat kernel computes. Fine rows are sorted by centroid_id
    before stacking and np.argmax returns the FIRST maximum, so
    within-cell ties break to the LOWER fine id — the flat form's
    ORDER BY sim DESC, centroid_id ASC rule. The probe axis is
    chunked at ~4M cells (the score_candidates_arrow rule) so a hot
    cell bounds its working memory instead of straggling/OOMing."""
    import numpy as np
    import pandas as pd

    schema = "vec_id long, fine_id long, __raw double"

    def _empty() -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "fine_id": pd.Series([], dtype="int64"),
                "__raw": pd.Series([], dtype="float64"),
            }
        )

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = this cell's fine centroids; right = its probes. An
        # empty side emits nothing: a probed-but-fine-empty cell (only
        # reachable through exact-duplicate coarse vectors, and made
        # impossible by the self-cell override in
        # assign_clusters_two_level) simply contributes no candidate.
        if len(left) == 0 or len(right) == 0:
            return _empty()
        order = np.argsort(left["centroid_id"].to_numpy(), kind="stable")
        M = np.stack(
            [np.asarray(v, dtype=np.float32) for v in left["centroid"]]
        ).astype(np.float64)[order]
        mids = left["centroid_id"].to_numpy()[order]
        mn = left["__nrm"].to_numpy()[order]
        m = len(mids)
        qids = right["vec_id"].to_numpy()
        qn = right["__qnrm"].to_numpy()
        q = len(qids)
        chunk = max(64, 4_000_000 // m)
        tmp = np.empty((m, min(q, chunk)))
        frames = []
        for s in range(0, q, chunk):
            e = min(q, s + chunk)
            w = e - s
            Qc = np.stack(
                [
                    np.asarray(v, dtype=np.float32)
                    for v in right["embedding"].iloc[s:e]
                ]
            ).astype(np.float64)
            S = np.zeros((m, w))
            t = tmp[:, :w]
            for i in range(dim):
                np.multiply(M[:, i][:, None], Qc[:, i][None, :], out=t)
                S += t
            S /= mn[:, None] * qn[s:e][None, :]
            if k == 1:
                best = np.argmax(S, axis=0)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": qids[s:e].astype(np.int64),
                            "fine_id": mids[best].astype(np.int64),
                            "__raw": S[best, np.arange(w)],
                        }
                    )
                )
            else:
                # Rows are id-sorted and the argsort is STABLE, so
                # per column the order is raw DESC, fine id ASC —
                # the flat kernel's exact tie rule (np.argmax above
                # is the kk=1 special case: first maximum).
                kk = min(k, m)
                sel = np.argsort(-S, axis=0, kind="stable")[:kk, :]
                cols = np.broadcast_to(np.arange(w), (kk, w))
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": qids[s:e][cols.reshape(-1)].astype(
                                np.int64
                            ),
                            "fine_id": mids[sel.reshape(-1)].astype(
                                np.int64
                            ),
                            "__raw": S[sel.reshape(-1), cols.reshape(-1)],
                        }
                    )
                )
        return pd.concat(frames, ignore_index=True) if frames else _empty()

    return (
        fine_cells.select("cluster", "centroid_id", "centroid", "__nrm")
        .groupBy("cluster")
        .cogroup(
            probes.select("cluster", "vec_id", "embedding", "__qnrm")
            .groupBy("cluster")
        )
        .applyInPandas(kernel, schema)
    )


def assign_clusters_two_level(
    embeddings: DataFrame,
    dim: int,
    stride: int | None = 64,
    nprobe: int = 8,
    probe_all: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Two-level (IMI-style) nearest-centroid assignment — the shipped
    form of the exit every collect-ceiling tripwire in this module
    names. Returns (id_col, vec_col, __nrm, cluster): the same
    contract as ``rank_clusters_arrow(e, fine, 1, dim)``, where fine
    is the stride-s systematic centroid set.

    Path: rank the K1 ≈ √(nprobe·K) COARSE cells per vector (one
    rank_clusters_arrow pass — K1 is √-bounded, so its driver collect
    scales forever), keep the top ``nprobe``; then for each probed
    cell, score the vector against ONLY that cell's fine centroids in
    a cluster-keyed Arrow cogroup (best_fine_per_cell_arrow) and take
    the struct-max across cells (max __raw, tie → min fine id — the
    flat form's exact ordering). The corpus-proportional fine table
    (K = N/s) is never collected or broadcast; it moves through ONE
    cluster-keyed exchange. Per-vector work: 2·√(nprobe·K)·dim flops
    instead of the flat form's K·dim.

    ``probe_all=True`` ranks EVERY coarse cell, making the candidate
    multiset exactly the fine set — the assignment is then provably
    identical to the flat form (per-(v,f) sims bit-identical by the
    kernel parity argument; per-cell argmax then cross-cell struct
    max with the same tie rule = global argmax), which is what the
    degenerate-equality pin in tests/test_similarity.py checks.
    ``stride=None`` sizes the fine set adaptively at ⌊√N⌋ — the l56
    contract sizing, used with probe_all for that pin; the IMI scale
    configuration is a FIXED stride (K ∝ N ⇒ linear pair stage).

    Every fine centroid that is itself a coarse member is FORCED to
    its own cell (override below): cos(c,c) = 1 ties against an
    exact-duplicate coarse vector could otherwise strand a cell
    empty, and a vector probing only empty cells would lose its
    assignment. The override is part of the quantizer definition
    (deterministic), and invisible to the probe_all equality — with
    every cell probed, cell boundaries cannot change the global
    argmax.

    ``corpus`` (optional): the frame the QUANTIZER is sampled from,
    when it differs from the frame being assigned — l70 stage 4
    samples centroids from the FULL embeddings table but assigns
    only the surviving subset (the registered contract). Defaults to
    ``embeddings``."""
    sample_from = corpus if corpus is not None else embeddings
    if stride is None:
        stride = max(1, math.isqrt(sample_from.count()))
    fine, coarse, coarse_stride = two_level_centroids(
        sample_from, stride, nprobe, id_col=id_col, vec_col=vec_col
    )
    fine_cells = (
        rank_clusters_arrow(
            fine, coarse, 1, dim, id_col="centroid_id", vec_col="centroid"
        )
        .withColumn(
            "cluster",
            F.when(
                F.expr(
                    f"(centroid_id div {stride}) % {coarse_stride} = 0"
                ),
                F.col("centroid_id"),
            ).otherwise(F.col("cluster")),
        )
        .select("cluster", "centroid_id", "centroid", "__nrm")
    )
    npb = (1 << 30) if probe_all else nprobe
    # The coarse ranking emits SLIM rows (id, cell, __rn) — round-14
    # profiling found the emit_vectors fan-out (nprobe copies of
    # every vector crossing the Python→JVM Arrow boundary) was ~85%
    # of l56_imi's sf10 wall (56 of 66 s); the vector fan-out now
    # happens JVM-side in the columnar join below. Persisted so the
    # N×K1 kernel runs once.
    slim = persist(
        rank_clusters_arrow(
            embeddings,
            coarse,
            npb,
            dim,
            id_col=id_col,
            vec_col=vec_col,
            emit_vectors=False,
        )
    )
    # One (vector, norm) spine, computed by the declarative fold —
    # bit-identical to the kernel's __nrm by the standing parity
    # argument (same left-to-right per-dimension IEEE accumulation;
    # pinned by test_rank_clusters_arrow_bitwise_equals_declarative
    # and re-checked by the probe_all equality pins, which compare
    # __nrm tuples).
    spine = embeddings.select(id_col, vec_col).withColumn(
        "__nrm", norm2(F.col(vec_col))
    )
    best = best_fine_per_cell_arrow(
        fine_cells,
        spine.join(slim.hint("shuffle_hash"), id_col).select(
            "cluster",
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            F.col("__nrm").alias("__qnrm"),
        ),
        dim,
    )
    chosen = (
        best.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("__raw").alias("__r"),
                    (-F.col("fine_id")).alias("__neg"),
                )
            ).alias("__m")
        )
        .select(
            F.col("vec_id").alias(id_col),
            (-F.col("__m.__neg")).alias("cluster"),
        )
    )
    # Corpus-sized × corpus-sized: force the shuffle join so the
    # spine attach never broadcasts at scale (the l58 rule).
    return spine.join(chosen.hint("shuffle_hash"), id_col)


def rank_clusters_two_level(
    embeddings: DataFrame,
    dim: int,
    k: int,
    stride: int | None = 64,
    nprobe_coarse: int = 8,
    probe_all: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` fine clusters per vector via the two-level (IMI)
    path — the probe-RANKING lever for the l58/l76 query side (the
    round-13 verdict named it the remaining unshipped lever after
    the assignment-side exit). Returns (id_col, vec_col, __nrm,
    cluster, __rn ≤ k): the rank_clusters_arrow contract, so a
    consumer swaps quantizers without touching its tail.

    Path: rank coarse cells (√-bounded collect), probe the top
    ``nprobe_coarse``; per probed cell take the k best fine
    centroids inside the Arrow cogroup (best_fine_per_cell_arrow
    k>1 branch — at most k·nprobe_coarse slim rows per vector reach
    the JVM); merge across cells with ONE per-vector row_number
    window (raw DESC, fine id ASC — the flat kernel's ordering on
    bit-identical raws). Global top-k over per-cell top-k is exact:
    every global winner is a within-cell winner for its vector.

    ``probe_all=True`` probes every cell, making the candidate
    multiset exactly the fine set — the ranking is then provably
    identical to ``rank_clusters_arrow(e, fine, k, dim)`` (pinned in
    tests/test_similarity.py). Per-vector cost in the bounded-probe
    configuration: K1 + nprobe_coarse·(K/K1) sims ≈ 2·√(nprobe·K)
    instead of the flat K — same arithmetic as
    assign_clusters_two_level, which is this function's k=1
    special case (kept separate: the k=1 path needs no merge
    window, a groupBy struct-max suffices there)."""
    sample_from = corpus if corpus is not None else embeddings
    if stride is None:
        stride = max(1, math.isqrt(sample_from.count()))
    fine, coarse, coarse_stride = two_level_centroids(
        sample_from, stride, nprobe_coarse, id_col=id_col, vec_col=vec_col
    )
    fine_cells = (
        rank_clusters_arrow(
            fine, coarse, 1, dim, id_col="centroid_id", vec_col="centroid"
        )
        .withColumn(
            "cluster",
            F.when(
                F.expr(
                    f"(centroid_id div {stride}) % {coarse_stride} = 0"
                ),
                F.col("centroid_id"),
            ).otherwise(F.col("cluster")),
        )
        .select("cluster", "centroid_id", "centroid", "__nrm")
    )
    npb = (1 << 30) if probe_all else nprobe_coarse
    # Slim coarse ranking + JVM-side vector fan-out — the same
    # Arrow-boundary economy as assign_clusters_two_level (see the
    # comment there; ~85% of the sf10 wall was the emit_vectors
    # fan-out).
    slim = persist(
        rank_clusters_arrow(
            embeddings,
            coarse,
            npb,
            dim,
            id_col=id_col,
            vec_col=vec_col,
            emit_vectors=False,
        )
    )
    spine = embeddings.select(id_col, vec_col).withColumn(
        "__nrm", norm2(F.col(vec_col))
    )
    cand = best_fine_per_cell_arrow(
        fine_cells,
        spine.join(slim.hint("shuffle_hash"), id_col).select(
            "cluster",
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            F.col("__nrm").alias("__qnrm"),
        ),
        dim,
        k=k,
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("__raw").desc(), F.col("fine_id")
    )
    top = (
        cand.withColumn("__rn", F.row_number().over(w).cast("int"))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("vec_id").alias(id_col),
            F.col("fine_id").alias("cluster"),
            "__rn",
        )
    )
    # Corpus-sized both sides — shuffle join (the l58 rule); the
    # window's vec_id exchange co-partitions `top` for it.
    return spine.join(top.hint("shuffle_hash"), id_col).select(
        id_col, vec_col, "__nrm", "cluster", "__rn"
    )
