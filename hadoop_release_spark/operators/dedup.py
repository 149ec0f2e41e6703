"""Deduplication operators for LLM corpus construction.

Exact dedup is a hash-groupBy (one shuffle on the content hash).
Near-dup detection is MinHash + banded LSH, the standard construction
(Broder 1997; Leskovec/Rajaraman/Ullman ch.3):

  shingle → per-shingle 64-bit hash → H permutation-min signatures →
  split into B bands of R rows → bucket-join on (band, band-hash) →
  verify candidate pairs with exact Jaccard.

Scale analysis (the reason this shape is mandatory at 100 TB):
candidates come only from hash-bucket collisions — one shuffle on
(band_id, band_hash), cost O(N·B) rows — versus the O(N²) all-pairs
join a naive similarity pass would need. Probability a pair with
Jaccard s becomes a candidate: 1-(1-s^R)^B (with H=64, B=16, R=4:
s=0.8 → 0.986; s=0.3 → 0.063) — tunable via bands/rows.

Determinism: hash params are fixed constants derived from a seeded
LCG — no runtime randomness (SURVEY.md §7 hard-part #4).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_release_spark.functions.materialize import eager_truncate, persist
from hadoop_release_spark.functions.partitioning import spread_small_scan

#: Mersenne prime 2^31-1; per-shingle hashes are reduced mod P first
#: so a*h+b stays far below int64 overflow (ANSI mode errors on it).
_P = 2_147_483_647

#: ONE shared parameter block for the LSH near-dup pipeline. The
#: Spark implementation (lsh_candidate_pairs), the DuckDB oracle
#: builders (_o_lsh_ctes / o_lsh_candidate_pairs / o_dedup_survivors)
#: and the l02/l22 plan registrations all default to THESE values, so
#: changing a parameter changes both sides of the Spark↔oracle parity
#: check at once — it cannot silently diverge.
LSH_SHINGLE_K = 3
LSH_NUM_HASHES = 64
LSH_BANDS = 16
LSH_JACCARD_THRESHOLD = 0.3

def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs from a fixed LCG — reproducible
    across runs, sessions, and cluster sizes."""
    params, state = [], seed
    for _ in range(num_hashes):
        state = (state * 1103515245 + 12345) % (2**31)
        a = state % (_P - 1) + 1
        state = (state * 1103515245 + 12345) % (2**31)
        b = state % _P
        params.append((a, b))
    return params


def word_shingles(text: Column, k: int = LSH_SHINGLE_K) -> Column:
    """k-word shingles of a whitespace-tokenized text column."""
    toks = F.split(text, " ")
    n = F.size(toks)
    make = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.when(n >= k, F.array_distinct(make)).otherwise(
        F.array(F.array_join(toks, " "))
    )


#: Odd 64-bit multiplier (golden-ratio constant) for the gram_keys
#: rolling polynomial — any odd constant gives a permutation of
#: Z/2^64 per Horner step, so the combined key is a 64-bit
#: universal-style hash of the token-hash window.
_GRAM_C = 0x9E3779B97F4A7C15


def gram_keys(text: Column, k: int, short_doc: str = "whole_text") -> Column:
    """64-bit keys of the distinct k-word grams of ``text`` — the
    Arrow-kernel hot form of ``explode(word_shingles(text, k))``
    for consumers that join/aggregate on gram EQUALITY only.

    ``short_doc`` picks the under-k-tokens branch: ``"whole_text"``
    mirrors :func:`word_shingles` (one whole-text gram);
    ``"empty"`` mirrors the l13/l66 ``_shingles3`` ORACLE (zero
    grams — `range(1, len-1)` is empty in DuckDB). NOTE the Spark
    ``_shingles3`` EXPRESSION does not implement its own oracle
    there: ``sequence(1, size-2)`` runs DESCENDING when size < 3
    and the out-of-bounds element_at throws
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT (verified on Spark 4.1.2) —
    a latent crash no fixture doc triggers; the kernel's "empty"
    mode is the oracle-faithful behavior.

    :func:`word_shingles` builds every gram as a string
    (array_join over a slice, per position, per doc) inside an
    interpreted higher-order lambda — no whole-stage codegen, and
    the gram strings then need a hash projection anyway before they
    can shuffle. Profiled on gen_sf sf1 (round 13): the shingle
    explode alone was ~26 s of l28's ~32 s wall. This kernel
    replaces string-building with integer math: per Arrow batch,
    tokens are factorized once (pd.factorize, C hash table), each
    UNIQUE token md5-hashed to 64 bits (Zipf: the batch vocabulary
    is tiny next to the token stream), and every gram key is the
    Horner-rolling combine key(i) = Σ_j h[i+j]·C^(k-1-j) (mod 2⁶⁴,
    odd C) over the flat token-hash array — k vectorized
    shifted-multiply-adds, no per-gram allocation. Per doc the keys
    are DISTINCT (np.unique — word_shingles' array_distinct), and a
    doc shorter than k tokens yields the single whole-text key
    (same Horner over all its tokens), mirroring word_shingles'
    fallback branch. Output order within a doc is ASCENDING key
    order, not word_shingles' first-occurrence order — equality
    consumers (explode → join/agg) cannot observe the difference.

    CONTRACT — injectivity only, NOT portability: use this ONLY
    where the gram key never reaches the output and the oracle
    replays gram EQUALITY with its own keys (l28: keys exist to be
    joined and counted). Ops whose oracle must replay the VALUE
    (l72/l75 bloom bit positions, l02's minhash math) stay on the
    md5 forms — contract rule 6 binds there. Collisions merge two
    gram classes at ~n²/2⁶⁴ under RANDOM data — the same birthday
    rate as l28's previous 64-bit md5-prefix key (collision pairs
    ≈ 27k at 10¹² grams, each perturbing one df count). UNLIKE
    that key, this one has NO adversarial collision resistance
    (round-14 ADVICE): the fixed-multiplier polynomial combine over
    attacker-computable token hashes lets an adversary solve one
    linear relation mod 2⁶⁴ for a colliding gram — materially
    cheaper than a birthday search. Impact is bounded to
    false-positive MATCHES, so the key stays restricted to
    detection-style consumers (l28's decontamination gate and its
    family); removal-path consumers keep the 128-bit digest (l74).

    Parity with the expression form is pinned as a per-doc
    BIJECTION between word_shingles' gram strings and these keys
    (tests/test_pipeline_ops.py::test_gram_keys_bijects_with_word_shingles
    + a hypothesis property) — value equality is impossible by
    design, equality-class equality is the whole contract."""
    from itertools import chain

    if short_doc not in ("whole_text", "empty"):
        raise ValueError(f"short_doc must be whole_text|empty, got {short_doc!r}")
    whole_text_fallback = short_doc == "whole_text"
    kk = int(k)
    _MASK = (1 << 64) - 1
    # powers[j] = C^(k-1-j) mod 2^64, via python ints (explicit mod —
    # numpy scalar uint64 wraparound is the same value but warns)
    powers = np.array(
        [pow(_GRAM_C, kk - 1 - j, 1 << 64) for j in range(kk)],
        dtype=np.uint64,
    )

    def _tok_hash_unique(uniques) -> np.ndarray:
        uh = np.empty(len(uniques), dtype=np.uint64)
        for i, u in enumerate(uniques):
            uh[i] = int.from_bytes(
                hashlib.md5(u.encode("utf-8")).digest()[:8], "little"
            )
        return uh

    @F.pandas_udf("array<long>")
    def _gk(texts: pd.Series) -> pd.Series:
        vals = texts.tolist()
        tok_lists = [None if t is None else t.split(" ") for t in vals]
        flat = list(
            chain.from_iterable(tl for tl in tok_lists if tl is not None)
        )
        if not flat:
            # Only reachable when EVERY doc in the batch is null
            # (a non-null text always yields ≥ 1 token, "" included).
            return pd.Series([[None]] * len(tok_lists), dtype=object)
        codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
        h = _tok_hash_unique(uniques)[codes]
        m = len(h)
        nwin = m - kk + 1
        if nwin > 0:
            with np.errstate(over="ignore"):
                acc = np.zeros(nwin, dtype=np.uint64)
                for j in range(kk):
                    acc += h[j : j + nwin] * powers[j]
        else:
            acc = np.empty(0, dtype=np.uint64)
        out: list = []
        pos = 0
        for tl in tok_lists:
            if tl is None:
                # word_shingles(NULL) → [NULL] after the otherwise
                # branch (array_join(NULL) is NULL); explode then
                # yields one null gram. Mirror with a one-null list.
                out.append([None])
                continue
            n = len(tl)
            if n >= kk:
                keys = np.unique(acc[pos : pos + n - kk + 1])
            elif whole_text_fallback:
                # whole-text fallback: Horner over all n tokens —
                # for n == k this EQUALS the single window key.
                # Python-int arithmetic with an explicit 2^64 mask
                # (same wraparound as the vectorized path, no
                # numpy scalar-overflow warnings).
                key = 0
                for x in h[pos : pos + n]:
                    key = (key * _GRAM_C + int(x)) & _MASK
                keys = np.array([key], dtype=np.uint64)
            else:
                keys = np.empty(0, dtype=np.uint64)
            out.append(keys.view(np.int64))
            pos += n
        return pd.Series(out, dtype=object)

    return _gk(text)


def _doc_grams(text: str | None, k: int, distinct: bool, short_doc: str):
    """The k-word grams of ONE doc — the single enumeration behind
    every md5 gram kernel below, so null, empty, short-doc and
    non-ASCII text get one semantics. Tokens are ``text.split(" ")``
    (Spark's ``split(text, ' ')``: ``""`` is one empty token; any
    unicode token passes through as-is). Null text → ``None``.

    With n ≥ k tokens: every gram by position (``distinct=False``,
    index i = the gram at token offset i) or the distinct grams in
    first-occurrence order (``distinct=True``, word_shingles'
    array_distinct). Under k tokens: the one whole-text gram
    (``short_doc="whole_text"``, word_shingles' fallback) or none
    (``"empty"``)."""
    if text is None:
        return None
    toks = text.split(" ")
    n = len(toks)
    if n < k:
        return [" ".join(toks)] if short_doc == "whole_text" else []
    grams = (" ".join(toks[i : i + k]) for i in range(n - k + 1))
    return list(dict.fromkeys(grams) if distinct else grams)


def _md5_memo(digest):
    """Per-batch ``gram → digest(md5(gram))`` memo: the md5 runs once
    per DISTINCT gram in the batch (Zipf text repeats grams heavily).
    Build one per Arrow batch, so its size stays bounded by the
    batch's gram vocabulary."""
    memo: dict = {}

    def hv(g: str):
        v = memo.get(g)
        if v is None:
            v = memo[g] = digest(hashlib.md5(g.encode("utf-8")))
        return v

    return hv


def _md5_mod_p(m) -> int:
    """The portable 60-bit gram hash: first 15 md5 hex digits mod P
    (contract rule 6 — the oracle's ``hashed`` CTE replays it)."""
    return int(m.hexdigest()[:15], 16) % _P


def _md5_bytes(m) -> bytes:
    return m.digest()


def shingle_sketch_sig(
    text: Column, k: int = LSH_SHINGLE_K, num_hashes: int = LSH_NUM_HASHES
) -> Column:
    """``struct<shingles: array<string>, sig: array<long>>`` — one
    Arrow kernel pass emits the verification shingles AND the
    finished MinHash signature of the expression chain
    ``word_shingles`` → per-shingle md5 hash → 64 × ``array_min((a·h
    + b) % P)``. Values are BIT-IDENTICAL to that chain (the oracle
    replays them: l68's n_match, l02's band buckets): same
    first-occurrence distinct shingles with the whole-text fallback
    under k tokens, same md5-hex-slice mod P gram hash, same exact
    int64 (a·h + b) % P per permutation (a < 2³¹, h < P < 2³¹ ⟹
    a·h + b < 2⁶², no overflow). Null text → [NULL] shingles + an
    all-null signature (the minhash of a [NULL] hash array). Pinned
    against the expression chain in
    tests/test_llm_ops.py::test_shingle_sketch_sig_equals_staged
    and the gram-kernel hypothesis property in test_pipeline_ops.

    Why a kernel: the interpreted word_shingles string-building
    lambda was ~18 s of l02's ~30 s gen_sf-sf1 wall (round 13), and
    the 64-permutation lambda tree does not whole-stage-codegen
    (2.1 s vs 0.5 s warm at sf0.1, round 11). Fusing both into one
    pass pays ONE JVM→Python→JVM round trip; the intermediate 60-bit
    hash arrays never cross the boundary. The signature math runs
    vectorized ACROSS the batch (one flat concat + per-permutation
    segmented min), not per doc."""
    kk = int(k)
    params = _hash_params(num_hashes)
    pa = np.array([p[0] for p in params], dtype=np.int64)
    pb = np.array([p[1] for p in params], dtype=np.int64)
    all_null = [None] * num_hashes

    @F.pandas_udf("struct<shingles: array<string>, sig: array<long>>")
    def _sk(texts: pd.Series) -> pd.DataFrame:
        hv = _md5_memo(_md5_mod_p)
        sh_out: list = []
        segs: list[np.ndarray] = []
        seg_idx: list[int] = []
        for i, t in enumerate(texts):
            grams = _doc_grams(t, kk, True, "whole_text")
            if grams is None:
                # word_shingles(NULL) → [NULL]; its signature stays
                # all-null (array_min over no non-null hash).
                sh_out.append([None])
                continue
            sh_out.append(grams)
            segs.append(np.array([hv(g) for g in grams], dtype=np.int64))
            seg_idx.append(i)
        sig_out = np.full(len(texts), None, dtype=object)
        for i in range(len(texts)):
            sig_out[i] = all_null
        if segs:
            flat = np.concatenate(segs)
            offs = np.zeros(len(segs), dtype=np.int64)
            np.cumsum([s.size for s in segs[:-1]], out=offs[1:])
            sig = np.empty((len(segs), num_hashes), dtype=np.int64)
            for j in range(num_hashes):
                sig[:, j] = np.minimum.reduceat(
                    (pa[j] * flat + pb[j]) % _P, offs
                )
            for s, i in enumerate(seg_idx):
                sig_out[i] = sig[s]
        return pd.DataFrame({"shingles": sh_out, "sig": list(sig_out)})

    return _sk(text)


def positional_gram_md5(text: Column, k: int) -> Column:
    """``array<binary>`` of the md5 digests of EVERY k-gram of
    ``text`` in position order (no dedup — index i is the gram at
    token offset i), bit-identical to the expression form
    ``transform(sequence(0, size-k), i -> unhex(md5(array_join(
    slice(toks, i+1, k), ' '))))`` that l74 shipped through
    round 12. Docs shorter than k tokens yield an EMPTY array
    (l74 filters them out before exploding anyway); null text
    yields null (split(NULL) → sequence over null sizes → NULL in
    the expression form).

    Why a kernel: the per-position array_join + md5 runs in the
    interpreted higher-order-lambda path (no codegen) — the same
    tax measured at ~60-80%% of the l28/l02 walls (round 13). The
    16-BYTE value is kept (not a 64-bit key): l74 is a REMOVAL
    plan, and a key collision fabricates a verbatim-span match, so
    the wider hash stays worth its shuffle bytes there; parity is
    therefore pinned on VALUES
    (tests/test_pipeline_ops.py::test_positional_gram_md5_equals_expression)."""
    kk = int(k)

    @F.pandas_udf("array<binary>")
    def _pg(texts: pd.Series) -> pd.Series:
        hv = _md5_memo(_md5_bytes)
        out: list = []
        for t in texts:
            grams = _doc_grams(t, kk, False, "empty")
            out.append(None if grams is None else [hv(g) for g in grams])
        return pd.Series(out, dtype=object)

    return _pg(text)


def word_gram_digests(text: Column, k: int) -> Column:
    """``array<binary>`` of the md5 DIGESTS of the distinct k-word
    grams of ``text`` — bit-identical to
    ``transform(word_shingles(text, k), x -> unhex(md5(x)))`` (the
    l72/l75 gram form: first-occurrence distinct order, whole-text
    fallback under k tokens, [NULL] for null text). The digest
    bytes are VALUE-BEARING there (bloom bit positions read digest
    bytes 1-4/5-8 and the oracle replays them), so this kernel
    reproduces the exact bytes; parity pinned in
    tests/test_pipeline_ops.py::test_word_gram_digests_equals_expression.
    Same motivation as :func:`shingle_sketch_sig`: the interpreted
    string-building lambda is the measured tax, the md5 is cheap."""
    kk = int(k)

    @F.pandas_udf("array<binary>")
    def _gd(texts: pd.Series) -> pd.Series:
        hv = _md5_memo(_md5_bytes)
        out: list = []
        for t in texts:
            grams = _doc_grams(t, kk, True, "whole_text")
            out.append([None] if grams is None else [hv(g) for g in grams])
        return pd.Series(out, dtype=object)

    return _gd(text)


def _lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
) -> tuple[DataFrame, DataFrame]:
    """The LSH stage shared by :func:`lsh_candidate_pairs` and
    :func:`lsh_pair_calibration`: sketch → persist → band →
    repartition → bucket self-join. Returns ``(base, candidate_ids)``:
    the persisted ``(__id, __shingles, __sig)`` sketch table (callers
    re-attach shingles/signatures from it by key join) and the
    distinct banded candidate pairs ``(id_a, id_b)``, id_a < id_b.
    The persist outlives the call: the caller's result reads it."""
    rows_per_band = num_hashes // bands
    # Sketch stage: verification shingles AND the finished MinHash
    # signature come from the FUSED shingle_sketch_sig Arrow kernel
    # in one pass. No md5/conv expression and no array_min
    # permutation lambda exists in the JVM plan at all, pinned by
    # tests/test_plans.py::
    # test_lsh_hashing_lives_in_kernel_not_jvm_lambdas. The persist
    # serves banding (__sig) and verification (__shingles) from one
    # kernel pass. spread_small_scan: the kernel otherwise runs as
    # ONE task over a single-file fixture scan (the d37 guard; guide
    # §2.5) — a no-op when the scan is already parallel.
    base = spread_small_scan(df).select(
        F.col(id_col).alias("__id"),
        shingle_sketch_sig(F.col(text_col), shingle_k, num_hashes).alias(
            "__sk"
        ),
    ).select(
        "__id",
        F.col("__sk.shingles").alias("__shingles"),
        F.col("__sk.sig").alias("__sig"),
    )
    base = persist(base)

    # Candidate generation on SLIM rows only — (id, band, bucket).
    # Never ship the shingle arrays or the 64-int signatures through
    # the band shuffle: payload width through a shuffle is the thing
    # that breaks at 100 TB.
    # Bucket id = the band's rows_per_band signature values as a RAW
    # array slice (r16): array equality IS 4-tuple equality — the
    # exact equality classes of the r11-r15 joined-string key (the
    # decimal rendering was injective) and of the oracle's CTE, with
    # no per-row string building and a fixed-width 4×8-byte key
    # through the exchange instead of a ~20-80 byte string (guide
    # §2.3 narrower types; measured A/B med 1.33 → 1.16 s on the
    # candidate stage at sf0.1, pair set identical). No lossy hash:
    # F.hash/xxhash64 would be Spark-specific AND add a collision
    # term the l68 calibration oracle does not replay. The signature
    # projection collapsing into this SELECT is fine — it reads
    # cached __sig, so the collapsed lambda is slice-only.
    banded = base.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.slice(
                    F.col("__sig"), b * rows_per_band + 1, rows_per_band
                ),
            )
        ).alias("__band", "__bucket"),
    )

    # The band table feeds BOTH self-join sides. A persist here (the
    # round-11 form) RACES: the join's two child stages are scheduled
    # concurrently and each recomputes the unmaterialized cache — the
    # signature kernel + explode ran twice anyway ("Block already
    # exists" churn; the l28 topology find, round 13). One explicit
    # exchange on the join keys fixes it: both sides read the REUSED
    # shuffle stage (identical subtree — alias-only divergence), the
    # join arrives co-partitioned, and the banding pipeline runs
    # exactly once as the exchange's map stage (which also populates
    # the base cache for the callers' verification joins,
    # sequentially).
    # DEPENDENCY (round-14 ADVICE): the single-signature-pass
    # property rides on Spark's exchange reuse (ReusedExchange in
    # the physical plan — on by default via
    # spark.sql.exchange.reuse, and preserved under AQE, which this
    # engine pins on in session.py and test_plans topology pins). A
    # deployment that disables exchange reuse recomputes the banding
    # pipeline once per join side — correctness unchanged,
    # performance only; flip reuse back on or persist `banded`
    # yourself (accepting the round-11 race note above) if you must
    # run without it.
    banded = banded.repartition("__band", "__bucket")
    left = banded.alias("a")
    right = banded.alias("b")
    candidate_ids = (
        left.join(
            right,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return base, candidate_ids


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = LSH_SHINGLE_K,
    num_hashes: int = LSH_NUM_HASHES,
    bands: int = LSH_BANDS,
    jaccard_threshold: float = LSH_JACCARD_THRESHOLD,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact Jaccard ≥ τ.

    Returns columns: id_a, id_b, jaccard (rounded 3dp).
    """
    base, candidate_ids = _lsh_candidates(
        df, id_col, text_col, shingle_k, num_hashes, bands
    )

    # Verification: re-attach shingles only for surviving pairs (two
    # key-joins against the persisted sketch table).
    shingles = base.select("__id", "__shingles")
    candidates = (
        candidate_ids.join(
            shingles.select(
                F.col("__id").alias("id_a"), F.col("__shingles").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            shingles.select(
                F.col("__id").alias("id_b"), F.col("__shingles").alias("sh_b")
            ),
            "id_b",
        )
    )

    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        candidates.withColumn("jaccard", F.round(inter / union, 3))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def o_word_shingles_case(k: int, tok_list: str = "t") -> str:
    """DuckDB expression mirroring :func:`word_shingles` over a
    token-list column: distinct k-word shingles, whole-text fallback
    for docs shorter than k tokens. Generated from ``k`` so every
    oracle that shingles (l02/l22 via _o_lsh_ctes, l28's
    decontamination grams) shares ONE definition with the Spark
    side."""
    concat = f"{tok_list}[i]" + "".join(
        f" || ' ' || {tok_list}[i+{j}]" for j in range(1, k)
    )
    return (
        f"CASE WHEN len({tok_list}) >= {k} "
        f"THEN list_distinct(list_transform(range(1, len({tok_list}) - {k - 2}), "
        f"i -> {concat})) "
        f"ELSE [array_to_string({tok_list}, ' ')] END"
    )


def _o_lsh_ctes(
    shingle_k: int = LSH_SHINGLE_K,
    num_hashes: int = LSH_NUM_HASHES,
    bands: int = LSH_BANDS,
    src: str = "documents",
) -> str:
    """The CTE chain (toks→…→verified) shared by the l02 and l22
    oracles. Possible because every hash in the pipeline is
    md5-derived (portable) and the band bucket is the plain
    signature tuple. All expressions — the shingle concat included —
    are generated from the parameters, so the oracle tracks any
    change to the shared LSH_* constants above. ``src`` names the
    relation scanned (any CTE/view with doc_id + text — l70 feeds
    the exact-dedup survivors instead of raw documents). DuckDB
    inlines the whole chain into every reference, so a caller that
    reads a ``verified``-derived CTE from more than one place should
    mark that CTE ``MATERIALIZED`` (l70's ``nkill``)."""
    rows_per_band = num_hashes // bands
    params = _hash_params(num_hashes)
    sig_cols = ",\n             ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_P})) AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {j} AS band, {bucket} AS bucket FROM sigs".format(
            j=j,
            bucket=" || ',' || ".join(
                f"CAST(s{j * rows_per_band + i} AS VARCHAR)"
                for i in range(rows_per_band)
            ),
        )
        for j in range(bands)
    )
    ctes = f"""toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM {src}
    ), shingled AS (
      SELECT doc_id, {o_word_shingles_case(shingle_k)} AS shingles
      FROM toks
    ), hashed AS (
      SELECT doc_id, shingles,
             list_transform(shingles,
               s -> CAST(('0x' || substring(md5(s), 1, 15))::UBIGINT AS BIGINT)
                    % {_P}) AS hs
      FROM shingled
    ), sigs AS (
      SELECT doc_id, shingles,
             {sig_cols}
      FROM hashed
    ), banded AS (
{band_selects}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT c.id_a, c.id_b,
             round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                   / (len(sa.shingles) + len(sb.shingles)
                      - len(list_intersect(sa.shingles, sb.shingles))), 3) AS jaccard
      FROM cand c
      JOIN sigs sa ON c.id_a = sa.doc_id
      JOIN sigs sb ON c.id_b = sb.doc_id)"""
    return ctes


def o_lsh_candidate_pairs(jaccard_threshold: float = LSH_JACCARD_THRESHOLD) -> str:
    """DuckDB mirror of the WHOLE :func:`lsh_candidate_pairs`
    pipeline over the ``documents`` view: shingle → 64 minhash exprs
    → 16 band rows → bucket self-join → exact-Jaccard verify."""
    return (
        f"WITH {_o_lsh_ctes()}\n"
        f"    SELECT id_a, id_b, jaccard FROM verified\n"
        f"    WHERE jaccard >= {jaccard_threshold}"
    )


def o_dedup_survivors(jaccard_threshold: float = LSH_JACCARD_THRESHOLD) -> str:
    """DuckDB mirror of the FULL l22 pipeline: the l02 LSH candidate
    construction (md5-portable) feeding connected components as a
    recursive CTE (transitive closure, min-label per component)."""
    ctes = _o_lsh_ctes()
    return f"""
    WITH RECURSIVE {ctes}, pairs AS (
      SELECT id_a, id_b FROM verified WHERE jaccard >= {jaccard_threshold}
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach AS (
      SELECT doc_id AS node, doc_id AS r FROM documents
      UNION
      SELECT e.dst AS node, reach.r FROM edges e JOIN reach ON reach.node = e.src
    )
    SELECT node AS doc_id, min(r) AS canonical_id,
           (node = min(r)) AS is_survivor
    FROM reach GROUP BY node
    """


def connected_components_min_label(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "__id",
    max_iters: int = 10,
) -> DataFrame:
    """Connected components over near-dup pairs by iterative min-label
    propagation: every node's label converges to the smallest id in
    its component. Returns (id_col, component).

    Near-dup components have tiny diameter (dup clusters are cliques
    or short chains), so propagation converges in a few rounds —
    each round is one join + one min-aggregation, fully distributed;
    only the converged-yet? count reaches the driver. For general
    billion-edge graphs use the large-star/small-star algorithm
    (Kiveris et al.) — same join primitives, fewer rounds.
    """
    # eager_truncate (not persist) the SLIM symmetric edge list:
    # every iteration's join and the convergence count re-read it,
    # and ``pairs`` is typically an expensive pipeline (the full LSH
    # candidate generation, or m12's image decode + banding) that
    # must not re-run per round. The checkpoint ALSO TRUNCATES
    # LINEAGE, which persist() does not: with a merely-persisted
    # edge frame every iteration's plan still EMBEDS the whole
    # upstream pipeline tree, and Spark stringifies that plan per
    # job (QueryExecution.explainString for the UI/event log) —
    # measured OOM of an 8 GiB driver on m12 at gen_sf sf1, where
    # the embedded image-pipeline tree × iterations × AQE re-plans
    # exhausted the heap BUILDING PLAN STRINGS. Cluster note:
    # localCheckpoint is lineage-unsafe under executor loss; the
    # eager_truncate helper switches to reliable checkpoint() when a
    # checkpoint dir is configured (functions/materialize.py).
    edges = eager_truncate(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    )
    labels = eager_truncate(
        nodes.select(F.col(id_col).alias("node"))
        .withColumn("component", F.col("node"))
    )

    changed = -1
    for _ in range(max_iters):
        # JOIN-based propagation, each stage checkpointed: (a) the
        # label lineage otherwise deepens by one layer per round and
        # every job re-stringifies all of it; (b) referencing the
        # checkpointed ``labels`` twice inside one un-checkpointed
        # plan (the old union form) trips Catalyst attribute dedup
        # on Spark 4.1.2 — NoSuchElementException "key not found:
        # node#N" at the next checkpoint. With ``nmin`` checkpointed
        # first, every subsequent plan holds ``labels`` exactly once.
        nmin = eager_truncate(
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("__ncomp"))
        )
        propagated = (
            labels.join(nmin, labels.node == nmin.src, "left")
            .select(
                labels.node.alias("node"),
                F.least(
                    labels.component,
                    F.coalesce(nmin.__ncomp, labels.component),
                ).alias("component"),
            )
        )
        propagated = eager_truncate(propagated)
        # POINTER JUMP (label ← label[label]): every component label
        # IS a node id, so one self-join halves the distance to the
        # component minimum — neighbor propagation alone needs
        # O(diameter) rounds, which a dense collision graph blows
        # past (measured: gen_sf sf1 m12 has a component of diameter
        # > 10 over 140k near-pair edges; 4328 labels still changing
        # at the old budget). With the jump, max_iters=10 covers
        # diameters ~2^10 — the Kiveris large-star/small-star
        # convergence behavior from the same join primitives.
        # NB: direct dataframe-attribute references here, not the
        # alias("a")/"a.col" string style — string-qualified columns
        # through a checkpoint + self-join chain hit a Catalyst
        # attribute-rewrite bug on Spark 4.1.2 (NoSuchElementException
        # "key not found: node#N" at the next checkpoint).
        right = propagated.select(
            F.col("node").alias("__c"), F.col("component").alias("__cc")
        )
        new_labels = (
            propagated.join(
                right, propagated.component == right.__c, "left"
            )
            .select(
                propagated.node.alias("node"),
                F.coalesce(right.__cc, propagated.component).alias(
                    "component"
                ),
            )
        )
        new_labels = eager_truncate(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # Non-converged labels would silently disagree with the exact
        # transitive-closure oracle (a component with diameter >
        # max_iters) — fail HERE, not as an unexplained driver hash
        # mismatch. One extra propagation round per unit of diameter
        # fixes it; raise so the caller makes that choice explicitly.
        raise RuntimeError(
            f"connected_components_min_label: {changed} labels still "
            f"changing after max_iters={max_iters}; component diameter "
            f"exceeds the iteration budget — raise max_iters"
        )
    return labels.withColumnRenamed("node", id_col)


def lsh_pair_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = LSH_SHINGLE_K,
    num_hashes: int = LSH_NUM_HASHES,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """MinHash estimator calibration over the LSH candidate set: for
    every banded candidate pair, the signature-agreement estimate
    ĵ = |{i : sig_a[i] = sig_b[i]}| / num_hashes next to the exact
    shingle Jaccard — the measurement that tells you whether the
    l02 threshold/band parameters are trustworthy on YOUR corpus
    (the textbook E[ĵ] = J guarantee is per-pair binomial; its
    realized spread is corpus-dependent).

    Returns: id_a, id_b, n_match, est_jaccard (exact k/num_hashes
    grid), jaccard (r3, l02's rule), err (r3 of the raw ĵ − J, the
    +0.0 outer guard normalizing a −0.0 round).

    Shares the LSH stage with :func:`lsh_candidate_pairs` (one
    persisted sketch pass, slim band shuffle); the 64-int signatures
    re-attach AFTER candidate generation by key join — they never
    enter the band exchange. The persisted sketch outlives this call
    (released at the next registry query or by
    ``functions.materialize.release()``; a tight library loop that
    skips the release accumulates one cached sketch pass per
    call)."""
    sigs, candidate_ids = _lsh_candidates(
        df, id_col, text_col, shingle_k, num_hashes, bands
    )
    pairs = candidate_ids.join(
        sigs.select(
            F.col("__id").alias("id_a"),
            F.col("__shingles").alias("sh_a"),
            F.col("__sig").alias("sig_a"),
        ),
        "id_a",
    ).join(
        sigs.select(
            F.col("__id").alias("id_b"),
            F.col("__shingles").alias("sh_b"),
            F.col("__sig").alias("sig_b"),
        ),
        "id_b",
    )
    n_match = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("long")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast(
        "double"
    )
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast(
        "double"
    )
    est = F.col("n_match").cast("double") / F.lit(num_hashes)
    return (
        pairs.withColumn("n_match", n_match)
        .select(
            "id_a",
            "id_b",
            "n_match",
            est.alias("est_jaccard"),
            F.round(inter / union, 3).alias("jaccard"),
            (F.round(est - inter / union, 3) + F.lit(0.0)).alias("err"),
        )
    )


def o_lsh_pair_calibration(
    num_hashes: int = LSH_NUM_HASHES,
) -> str:
    """DuckDB mirror of :func:`lsh_pair_calibration`: the shared
    l02 CTE chain's cand + sigs, a generated 64-term signature
    match count, and the identical est/jaccard/err arithmetic."""
    match_sum = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    jac = (
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / CAST(len(sa.shingles) + len(sb.shingles)"
        " - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
    )
    return f"""
    WITH {_o_lsh_ctes()}
    SELECT c.id_a, c.id_b,
           CAST({match_sum} AS BIGINT) AS n_match,
           CAST({match_sum} AS DOUBLE) / {num_hashes} AS est_jaccard,
           round({jac}, 3) AS jaccard,
           round(CAST({match_sum} AS DOUBLE) / {num_hashes} - {jac}, 3)
             + 0.0 AS err
    FROM cand c
    JOIN sigs sa ON c.id_a = sa.doc_id
    JOIN sigs sb ON c.id_b = sb.doc_id
    """
