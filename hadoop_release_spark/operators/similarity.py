"""Approximate nearest-neighbor search: the IVF scale path.

Brute-force cosine top-k (plans/l_llm.py l08/l09) is exact and fine
when either side is bounded. When both the corpus AND the query set
scale, IVF (inverted-file) coarse quantization bounds the work:

  build:  pick K centroids (k-means; here a deterministic stand-in),
          assign every vector to its nearest centroid → cluster id.
          One Arrow pass (rank_clusters_arrow) against the collected
          K-row centroid table; assignment is incremental for
          appended data. (The declarative crossJoin + rank-1 window
          form it replaced is the test reference in
          tests/_similarity_reference.py; a per-row expression over
          K literal centroids measured slower still — literal-array
          folds run interpreted, outside whole-stage codegen.)
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

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_release_spark.functions.materialize import persist
from hadoop_release_spark.functions.vectors import dot, norm2, sq_dist

#: Hard ceiling on the number of centroids collected to the driver
#: (by rank_clusters_arrow and the l76 quantizer digest; round-8
#: verdict item 6: the collect documented its exit condition but did
#: not ENFORCE it). 2^17 lists covers the √N IVF sizing rule past
#: N = 10^10 vectors while keeping the driver-side table ≤ ~70 MB at
#: dim 64; beyond it the right design is hierarchical (IMI-style)
#: coarse quantization or cluster-bucketed ingest, not a bigger
#: collect — so raise loudly instead of degrading.
ARROW_KERNEL_MAX_CENTROIDS = 131_072


def _collect_centroids(centroids: DataFrame, who: str) -> list:
    """The (centroid_id, centroid) rows sorted by id, collected under
    the ARROW_KERNEL_MAX_CENTROIDS ceiling: the collect itself is
    LIMIT-bounded to ceiling + 1 rows (one job, driver memory capped
    whatever K is — a separate count() would recompute an uncached
    derived centroid frame twice), and an overflow raises instead of
    degrading."""
    ceiling = ARROW_KERNEL_MAX_CENTROIDS
    rows = (
        centroids.select("centroid_id", "centroid").limit(ceiling + 1).collect()
    )
    if len(rows) > ceiling:
        raise RuntimeError(
            f"{who}: centroid table exceeds the driver-collect ceiling"
            f" ARROW_KERNEL_MAX_CENTROIDS={ceiling}. A coarse quantizer"
            " this large should not be collected or broadcast — switch"
            " to hierarchical (IMI-style) coarse quantization"
            " (rank_clusters_two_level) or cluster-bucketed ingest."
        )
    return sorted(rows, key=lambda r: r["centroid_id"])


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



def _code_subvectors(codebook: DataFrame, m: int, subdim: int) -> DataFrame:
    """(code_id, u, csub): the codebook's K entries split into their
    ``m`` subvectors — the right side of every PQ distance join."""
    return pq_subvectors(
        codebook, "code_id", "code_id", "embedding", m, subdim
    ).withColumnRenamed("sub", "csub")


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
    corpus_subs = pq_subvectors(embeddings, id_col, "__pq_id", vec_col, m, subdim)
    code_subs = _code_subvectors(codebook, m, subdim)
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
    q_subs = pq_subvectors(query, "query_id", "query_id", "qe", m, subdim)
    code_subs = _code_subvectors(codebook, m, subdim)
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
    # Norms once per query/centroid/corpus vector, not per pair (a
    # pair-row cosine would re-fold both norms, and array folds don't
    # enter codegen); identical IEEE values.
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
    code_subs = _code_subvectors(codebook, m, subdim)
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


def _stack(col, dim: int, packed: bool = False) -> np.ndarray:
    """(n, dim) float64 matrix of float32 vectors: one list of floats
    per cell, or (``packed``) dim·4 float32 LITTLE-ENDIAN bytes per
    cell, decoded with ONE frombuffer+reshape. The float32→float64
    widening is exact, so both forms give the doubles the JVM fold
    reads."""
    if packed:
        return (
            np.frombuffer(b"".join(col), dtype=np.float32)
            .reshape(-1, dim)
            .astype(np.float64)
        )
    return np.stack([np.asarray(v, dtype=np.float32) for v in col]).astype(
        np.float64
    )


def _norms(X: np.ndarray, dim: int) -> np.ndarray:
    """Row L2 norms accumulated dimension by dimension — the IEEE
    addition order of the JVM ``norm2`` fold, so bit-identical."""
    acc = np.zeros(len(X))
    for i in range(dim):
        xi = X[:, i]
        acc += xi * xi
    return np.sqrt(acc)


def _cosine_blocks(
    M: np.ndarray, m_norm: np.ndarray, Q: np.ndarray, q_norm: np.ndarray, dim: int
):
    """Yield (start, end, S): the raw cosines of every ``M`` row
    against ``Q`` rows start..end-1, ``S[i, j - start]`` — the one
    cosine block every Arrow kernel in this module selects from.

    Bit-parity argument (why the DuckDB oracles need no change): each
    cell accumulates with an explicit loop over DIMENSIONS, one
    rank-1 update into a preallocated temporary per dimension, so it
    sees the identical left-to-right IEEE addition order as the
    declarative ``dot`` fold (np.dot's pairwise summation would not);
    one division by the norm product.

    The ``Q`` axis is chunked so working memory is bounded at ~4M
    cells (two ≤32 MB float64 blocks) for any ``M`` up to ≈ 62.5k
    rows; past that the 64-column chunk floor makes the blocks scale
    as 64·len(M) cells — comparable to ``M`` itself, so never an
    INDEPENDENT OOM risk, but not a fixed bound. The sf10 profile
    found one l58 cluster at 6 116 members × 13 317 probes (81M
    cells): the whole-matrix form allocated ~2 GB of temporaries for
    that single group and its straggler task WAS the cogroup wall
    (75 s → 24 s measured on the hot shape). Columns are independent,
    so chunking changes no value and no per-column decision."""
    m, q = len(M), len(Q)
    chunk = max(64, 4_000_000 // max(m, 1))
    tmp = np.empty((m, min(q, chunk)))
    for s in range(0, q, chunk):
        e = min(q, s + chunk)
        S = np.zeros((m, e - s))
        t = tmp[:, : e - s]
        for i in range(dim):
            np.multiply(M[:, i][:, None], Q[s:e, i][None, :], out=t)
            S += t
        S /= m_norm[:, None] * q_norm[s:e][None, :]
        yield s, e, S


def _raw_frame(frames: list, a: str, b: str) -> pd.DataFrame:
    """A grouped kernel's (a, b, __raw) output: the concatenated
    blocks, or the typed empty frame when no block emitted a row."""
    if frames:
        return pd.concat(frames, ignore_index=True)
    return pd.DataFrame(
        {
            a: pd.Series([], dtype="int64"),
            b: pd.Series([], dtype="int64"),
            "__raw": pd.Series([], dtype="float64"),
        }
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
    * sims come from :func:`_cosine_blocks` over the carried norms —
      the same double the JVM fold would produce; the CONTRACT value
      round(__raw, 3) is computed by Spark afterwards, so no rounding
      is re-implemented in Python.
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
    per row instead of a per-element list. Identical float32 bits →
    identical float64 widening → identical scores (the l76==l58 pin
    covers it end-to-end); only the serialization cost changes."""
    schema = "query_id long, vec_id long, __raw double"

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return _raw_frame([], "query_id", "vec_id")
        mids = left["vec_id"].to_numpy()
        qids = right["query_id"].to_numpy()
        m = len(mids)
        frames = []
        for s, e, S in _cosine_blocks(
            _stack(left["embedding"], dim, packed),
            left["__nrm"].to_numpy(),
            _stack(right["qe"], dim, packed),
            right["__qnrm"].to_numpy(),
            dim,
        ):
            qc = qids[s:e]
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
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qc[cols].astype(np.int64),
                            "vec_id": mids[rows].astype(np.int64),
                            "__raw": S[rows, cols],
                        }
                    )
                )
        return _raw_frame(frames, "query_id", "vec_id")

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
    * __raw comes from :func:`_cosine_blocks` over the same
      float32→float64 widened values and the carried norms —
      identical to the JVM ``dot`` fold the join form evaluated. The
      CONTRACT value round(__raw, 3) and the ≥ τ filter are computed
      by Spark on the emitted raws, so no rounding/threshold is
      re-implemented in Python.
    * guard = 6e-4 over-covers the HALF_UP boundary: round(x,3) ≥ τ
      requires x ≥ τ − 5e-4 exactly, so every pair the join form
      kept is emitted; the few over-selected pairs in
      [τ−6e-4, τ−5e-4) are dropped by the same Spark filter the
      join form used. No false negatives, bit-identical survivors
      (pinned by test_semdedup_pairs_arrow_equals_join_form).

    Scale shape: the groupBy IS the cluster-keyed shuffle the hinted
    pair join paid (same exchange class, corpus-sized, never
    broadcast), but each cluster's m×m block runs SIMD in bounded
    chunks (:func:`_cosine_blocks`) and only threshold-passing pairs
    reach the JVM (≈ the true duplicate count, not Σ|cluster|²); the
    measured sf10 hot cluster (6 116 members → 18.7M pairs) can
    neither straggle unboundedly nor OOM a task."""
    schema = "id_a long, id_b long, __raw double"
    bound = tau - guard

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _raw_frame([], "id_a", "id_b")
        M = _stack(pdf["embedding"], dim)
        ids = pdf["vec_id"].to_numpy()
        nrm = pdf["__nrm"].to_numpy()
        frames = []
        for s, e, S in _cosine_blocks(M, nrm, M, nrm, dim):
            keep = (ids[:, None] < ids[s:e][None, :]) & (S >= bound)
            rows, cols = np.nonzero(keep)
            if len(rows):
                frames.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[rows].astype(np.int64),
                            "id_b": ids[s:e][cols].astype(np.int64),
                            "__raw": S[rows, cols],
                        }
                    )
                )
        return _raw_frame(frames, "id_a", "id_b")

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
    change): the centroids are the ``M`` side and each batch the
    ``Q`` side of :func:`_cosine_blocks` (per-dimension accumulation,
    one division by the norm product; multiplication commutes, so the
    centroid-major block holds the same doubles as a vector-major
    one), and both norms come from :func:`_norms` — the ``norm2``
    fold's order. Each block column (one vector) is ranked with a
    STABLE argsort on -sim over id-sorted centroids, reproducing
    ORDER BY sim DESC, centroid_id ASC. tests/test_similarity.py pins
    kernel == declarative on fixture data, row for row. Chunking the
    batch axis also bounds the kernel's memory per batch at ~4M
    cells instead of batch × K.

    The centroid table is collected to the driver — the SAME
    K-bounded table the declarative form broadcasts (an explicit
    broadcast, just landing in a numpy closure instead of a JVM
    hash relation). At 100 TB K is the IVF list count (√N-ish by
    the SemDeDup/FAISS sizing rule), far under driver memory; the
    exit for K beyond driver/executor memory is hierarchical
    (IMI-style) coarse quantization (rank_clusters_two_level), or
    the bucketed-by-cluster ingest that removes assignment from the
    query path entirely. That exit is ENFORCED by
    :func:`_collect_centroids`: an overflow of
    ARROW_KERNEL_MAX_CENTROIDS raises loudly instead of degrading.

    ``pack_vectors=True`` (round 12, the l76 index transport): the
    emitted vec column is float32 LITTLE-ENDIAN BINARY (dim·4 bytes
    per row) instead of array<float> — the rank fan-out duplicates
    every vector nprobe×, and a per-row BUFFER crosses the Arrow
    boundary (and parquet) far cheaper than a per-element list. The
    packed bytes are the IDENTICAL float32 values the array form
    carries (the exact float64 widening narrowed back), so any
    consumer decoding with frombuffer computes identical results
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
    rows = _collect_centroids(centroids, "rank_clusters_arrow")
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
    C = _stack([r["centroid"] for r in rows], dim)
    cn = _norms(C, dim)
    npb = min(nprobe, len(cids))

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
            if len(pdf) == 0:
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
            ids = pdf[id_col].to_numpy()
            vecs = pdf[vec_col].to_numpy()
            V = _stack(vecs, dim)
            vn = _norms(V, dim)
            if pack_vectors and emit_vectors:
                V32 = V.astype(np.float32)  # exact: values are float32
            for s, e, S in _cosine_blocks(C, cn, V, vn, dim):
                if emit_sim_3dp:
                    # Round BEFORE ranking — the declarative r3-then-
                    # rank rule, so 3dp ties break on centroid id.
                    S = np.round(S, 3)
                # stable sort on -sim per column; C is cid-ascending,
                # so ties break to the LOWER centroid id — the
                # window's tie rule. sel[v] = vector s+v's top npb.
                sel = np.argsort(-S, axis=0, kind="stable")[:npb].T
                idx = np.repeat(np.arange(s, e), npb)
                out = {id_col: ids[idx]}
                if emit_vectors:
                    if pack_vectors:
                        out[vec_col] = [V32[i].tobytes() for i in idx]
                    else:
                        out[vec_col] = vecs[idx]
                    out["__nrm"] = vn[idx]
                out["cluster"] = cids[sel.reshape(-1)]
                out["__rn"] = np.tile(
                    np.arange(1, npb + 1, dtype=np.int32), e - s
                )
                if emit_sim_3dp:
                    out["__sim"] = np.take_along_axis(
                        S.T, sel, axis=1
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
    probing vector — the second hop of the two-level ranking, as a
    cluster-keyed Arrow cogroup (the score_candidates_arrow shape,
    specialized to ranked top-k with the flat tie rule so at most k
    rows per (vector, probed cell) reach the JVM).

    ``fine_cells``: (cluster, centroid_id, centroid, __nrm) — the
    fine centroids grouped by their home coarse cell (distributed;
    K ≈ N/stride rows, never collected).
    ``probes``: (cluster, vec_id, embedding, __qnrm) — each vector
    repeated once per probed cell.
    Returns (vec_id, fine_id, __raw): the cell-local top k.

    Bit-parity argument (the degenerate-equality pin rests on it):
    sims come from :func:`_cosine_blocks` over the same
    float32→float64 widened values and the carried norms, so each
    (vector, fine) cell sees the IDENTICAL double the flat kernel
    computes. Fine rows are sorted by centroid_id before stacking and
    the argsort of -sim is STABLE, so per vector the order is raw
    DESC, fine id ASC — the flat form's ORDER BY sim DESC,
    centroid_id ASC rule, NaN last as in the flat kernel."""
    schema = "vec_id long, fine_id long, __raw double"

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = this cell's fine centroids; right = its probes. An
        # empty side emits nothing: a probed-but-fine-empty cell (only
        # reachable through exact-duplicate coarse vectors, and made
        # impossible by the self-cell override in
        # rank_clusters_two_level) simply contributes no candidate.
        if len(left) == 0 or len(right) == 0:
            return _raw_frame([], "vec_id", "fine_id")
        order = np.argsort(left["centroid_id"].to_numpy(), kind="stable")
        mids = left["centroid_id"].to_numpy()[order]
        qids = right["vec_id"].to_numpy()
        kk = min(k, len(mids))
        frames = []
        for s, e, S in _cosine_blocks(
            _stack(left["centroid"], dim)[order],
            left["__nrm"].to_numpy()[order],
            _stack(right["embedding"], dim),
            right["__qnrm"].to_numpy(),
            dim,
        ):
            sel = np.argsort(-S, axis=0, kind="stable")[:kk, :].reshape(-1)
            cols = np.broadcast_to(np.arange(e - s), (kk, e - s)).reshape(-1)
            frames.append(
                pd.DataFrame(
                    {
                        "vec_id": qids[s:e][cols].astype(np.int64),
                        "fine_id": mids[sel].astype(np.int64),
                        "__raw": S[sel, cols],
                    }
                )
            )
        return _raw_frame(frames, "vec_id", "fine_id")

    return (
        fine_cells.select("cluster", "centroid_id", "centroid", "__nrm")
        .groupBy("cluster")
        .cogroup(
            probes.select("cluster", "vec_id", "embedding", "__qnrm")
            .groupBy("cluster")
        )
        .applyInPandas(kernel, schema)
    )


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
    path — the shipped form of the exit every collect-ceiling
    tripwire in this module names, used for both assignment (k=1:
    l56/l70 on the IMI quantizer) and probe ranking (l58 query
    side). Returns (id_col, vec_col, __nrm, cluster, __rn ≤ k): the
    rank_clusters_arrow contract against the stride-s systematic fine
    set, so a consumer swaps quantizers without touching its tail.

    Path: rank the K1 ≈ √(nprobe·K) COARSE cells per vector (one
    rank_clusters_arrow pass — K1 is √-bounded, so its driver collect
    scales forever), probe the top ``nprobe_coarse``; per probed cell
    take the k best fine centroids inside the Arrow cogroup
    (best_fine_per_cell_arrow — at most k·nprobe_coarse slim rows per
    vector reach the JVM); merge across cells with ONE per-vector
    row_number window (raw DESC, fine id ASC — the flat kernel's
    ordering on bit-identical raws). Global top-k over per-cell top-k
    is exact: every global winner is a within-cell winner for its
    vector. The corpus-proportional fine table (K = N/s) is never
    collected or broadcast; it moves through ONE cluster-keyed
    exchange. Per-vector cost: K1 + nprobe_coarse·(K/K1) sims
    ≈ 2·√(nprobe·K) instead of the flat K.

    ``probe_all=True`` probes every cell, making the candidate
    multiset exactly the fine set — the ranking is then provably
    identical to ``rank_clusters_arrow(e, fine, k, dim)`` (pinned in
    tests/test_similarity.py). ``stride=None`` sizes the fine set
    adaptively at ⌊√N⌋ — the l56 contract sizing, used with
    probe_all for that pin; the IMI scale configuration is a FIXED
    stride (K ∝ N ⇒ linear pair stage).

    Every fine centroid that is itself a coarse member is FORCED to
    its own cell (override below): cos(c,c) = 1 ties against an
    exact-duplicate coarse vector could otherwise strand a cell
    empty, and a vector probing only empty cells would lose its
    ranking. The override is part of the quantizer definition
    (deterministic), and invisible to the probe_all equality — with
    every cell probed, cell boundaries cannot change the global
    order.

    ``corpus`` (optional): the frame the QUANTIZER is sampled from,
    when it differs from the frame being ranked — l70 stage 4
    samples centroids from the FULL embeddings table but assigns
    only the surviving subset (the registered contract). Defaults to
    ``embeddings``."""
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
    # argument (pinned by
    # test_rank_clusters_arrow_bitwise_equals_declarative and
    # re-checked by the probe_all equality pins, which compare __nrm
    # tuples).
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
