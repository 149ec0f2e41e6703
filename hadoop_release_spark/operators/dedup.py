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

#: Round-14 ADVICE item 1 — the boilerplate-gram df guards in
#: l28/l66/l74 compute document frequency as a WINDOW over the one
#: gram-keyed exchange (round-13 form: no second corpus pass, AQE
#: reuses the shuffle stage). The trade: a hotter-than-the-cap gram
#: buffers its ENTIRE posting list inside one WindowExec partition
#: group on a single task before the filter drops it, and AQE
#: skew-splitting does not apply to window partitions — at corpus
#: scale each boilerplate gram becomes a straggler/spill task in
#: exactly the place the guard exists to protect. ``"agg"`` selects
#: the documented exit: the two-pass form (groupBy gram →
#: map-side-combined partial counts → semi-join the under-cap gram
#: set back), which shrinks hot grams map-side at the cost of a
#: second (slim, gram+count) exchange. Results are IDENTICAL —
#: pinned by test_pipeline_ops/test_llm_ops equality tests toggling
#: this flag. Default stays "window": at fixture/bench scale the
#: reused-exchange form measures faster, and gen_sf's bounded phrase
#: pool keeps posting lists ≤ a few thousand rows; flip to "agg"
#: (or set per-deployment) where the corpus carries crawl
#: boilerplate/license templates with million-row posting lists.
DF_GUARD_FORM = "window"


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
    import hashlib
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


def shingle_sketch(text: Column, k: int = LSH_SHINGLE_K) -> Column:
    """``struct<shingles: array<string>, hashes: array<long>>`` —
    the Arrow-kernel hot form of
    ``word_shingles(text, k)`` + ``shingle_hashes(...)`` producing
    BIT-IDENTICAL values (unlike :func:`gram_keys`, these values
    are oracle-replayed: the hashes feed the MinHash math and the
    shingle strings feed exact-Jaccard verification, so contract
    rule 6 binds and the kernel must reproduce the md5 numbers
    exactly — ``int(md5(gram)[:15 hex], 16) % P``, first-occurrence
    distinct order, whole-text fallback under k tokens, [NULL] for
    null text).

    Why: profiled on gen_sf sf1 (round 13), the interpreted
    word_shingles string-building lambda was ~18 s of l02's ~30 s
    wall (the md5+conv projection itself is cheap JVM-side; the
    per-position array_join/slice interpretation is not). The
    kernel builds the same strings with python slicing and
    memoizes the md5 per distinct gram per batch. Value parity is
    pinned array-for-array against the expression forms
    (tests/test_llm_ops.py::test_shingle_sketch_equals_expression
    + a hypothesis property)."""
    import hashlib

    kk = int(k)

    @F.pandas_udf("struct<shingles: array<string>, hashes: array<long>>")
    def _sk(texts: pd.Series) -> pd.DataFrame:
        sh_out: list = []
        h_out: list = []
        memo: dict = {}

        def hv(g: str) -> int:
            v = memo.get(g)
            if v is None:
                v = (
                    int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                    % _P
                )
                memo[g] = v
            return v

        for t in texts:
            if t is None:
                # word_shingles(NULL) → [NULL]; shingle_hashes([NULL])
                # → [NULL] (md5 of a null element is null).
                sh_out.append([None])
                h_out.append([None])
                continue
            toks = t.split(" ")
            n = len(toks)
            if n >= kk:
                grams = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + kk]) for i in range(n - kk + 1)
                    )
                )
            else:
                grams = [" ".join(toks)]
            sh_out.append(grams)
            h_out.append([hv(g) for g in grams])
        return pd.DataFrame({"shingles": sh_out, "hashes": h_out})

    return _sk(text)


def shingle_sketch_sig(
    text: Column, k: int = LSH_SHINGLE_K, num_hashes: int = LSH_NUM_HASHES
) -> Column:
    """``struct<shingles: array<string>, sig: array<long>>`` — the
    r16 FUSED form of ``shingle_sketch`` + ``minhash_from_hashes``:
    one Arrow kernel pass emits the verification shingles AND the
    finished MinHash signature, so the LSH staging pays ONE
    JVM→Python→JVM round trip instead of two (the intermediate
    60-bit hash arrays — megabytes per batch — previously crossed
    the boundary twice just to feed the signature kernel; guide
    §4/§4.2). Values are BIT-IDENTICAL to the two-kernel chain (and
    hence to the expression forms): same md5-hex-slice mod P gram
    hash, same exact int64 (a·h + b) % P per permutation, same
    degenerate shapes (null text → [NULL] shingles + all-null
    signature; under-k-token docs → whole-text gram). Pinned against
    the staged chain in
    tests/test_llm_ops.py::test_shingle_sketch_sig_equals_staged.

    The signature math runs vectorized ACROSS the batch (one flat
    concat + per-permutation segmented min), not per doc — the same
    r16 rewrite as minhash_from_hashes."""
    import hashlib

    kk = int(k)
    params = _hash_params(num_hashes)
    pa = np.array([p[0] for p in params], dtype=np.int64)
    pb = np.array([p[1] for p in params], dtype=np.int64)
    all_null = [None] * num_hashes

    @F.pandas_udf("struct<shingles: array<string>, sig: array<long>>")
    def _sk(texts: pd.Series) -> pd.DataFrame:
        sh_out: list = []
        segs: list[np.ndarray] = []
        seg_idx: list[int] = []
        memo: dict = {}

        def hv(g: str) -> int:
            v = memo.get(g)
            if v is None:
                v = (
                    int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
                    % _P
                )
                memo[g] = v
            return v

        for i, t in enumerate(texts):
            if t is None:
                # word_shingles(NULL) → [NULL]; the signature of a
                # [NULL] hash array is all-null (minhash skips null
                # elements, none remain).
                sh_out.append([None])
                continue
            toks = t.split(" ")
            n = len(toks)
            if n >= kk:
                grams = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + kk]) for i in range(n - kk + 1)
                    )
                )
            else:
                grams = [" ".join(toks)]
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
    import hashlib

    kk = int(k)

    @F.pandas_udf("array<binary>")
    def _pg(texts: pd.Series) -> pd.Series:
        out: list = []
        memo: dict = {}

        def hv(g: str) -> bytes:
            v = memo.get(g)
            if v is None:
                v = hashlib.md5(g.encode("utf-8")).digest()
                memo[g] = v
            return v

        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = t.split(" ")
            n = len(toks)
            if n < kk:
                out.append([])
                continue
            out.append(
                [
                    hv(" ".join(toks[i : i + kk]))
                    for i in range(n - kk + 1)
                ]
            )
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
    Same motivation as :func:`shingle_sketch`: the interpreted
    string-building lambda is the measured tax, the md5 is cheap."""
    import hashlib

    kk = int(k)

    @F.pandas_udf("array<binary>")
    def _gd(texts: pd.Series) -> pd.Series:
        out: list = []
        memo: dict = {}

        def hv(g: str) -> bytes:
            v = memo.get(g)
            if v is None:
                v = hashlib.md5(g.encode("utf-8")).digest()
                memo[g] = v
            return v

        for t in texts:
            if t is None:
                out.append([None])
                continue
            toks = t.split(" ")
            n = len(toks)
            if n >= kk:
                grams = dict.fromkeys(
                    " ".join(toks[i : i + kk]) for i in range(n - kk + 1)
                )
            else:
                grams = {" ".join(toks): None}
            out.append([hv(g) for g in grams])
        return pd.Series(out, dtype=object)

    return _gd(text)


def shingle_hashes(shingles: Column) -> Column:
    """One 60-bit integer per shingle: first 15 md5 hex digits mod P.
    md5 is the PORTABLE content hash (contract rule 6): any engine
    reproduces identical values. Bind this to a COLUMN before
    building signatures — embedded directly inside the per-
    permutation lambda the md5+conv subtree is loop-invariant code
    Spark re-evaluates per permutation (no CSE across higher-order
    lambda scopes; measured 2.6× on l02)."""
    return F.transform(
        shingles,
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"), F.lit(_P)
        ),
    )


def minhash_from_hashes_expr(
    hashes: Column, num_hashes: int = LSH_NUM_HASHES
) -> Column:
    """MinHash signature as a pure JVM expression: for each
    permutation i, min over shingles of (a_i·h + b_i) mod P. This is
    the REFERENCE form (and the literal transcription of the math);
    the hot path uses :func:`minhash_from_hashes`, whose Arrow
    kernel computes bit-identical values — pinned by
    tests/test_llm_ops.py::test_minhash_arrow_kernel_equals_expression."""
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _hash_params(num_hashes)
        ]
    )
    return F.transform(
        params,
        lambda p: F.array_min(
            F.transform(hashes, lambda h: F.pmod(p["a"] * h + p["b"], F.lit(_P)))
        ),
    )


def minhash_from_hashes(hashes: Column, num_hashes: int = LSH_NUM_HASHES) -> Column:
    """MinHash signature from pre-bound shingle hashes, as an
    Arrow-batched numpy kernel: one (num_hashes × |shingles|)
    broadcasted multiply-mod-min per doc. The 64-permutation
    higher-order-lambda expression tree
    (:func:`minhash_from_hashes_expr`) does NOT whole-stage-codegen
    well — measured 2.1 s vs 0.5 s warm for the kernel on the sf0.1
    corpus (round 11), and the arithmetic is exact int64 either way
    (a < 2³¹, h < P < 2³¹ ⟹ a·h + b < 2⁶² — no overflow, so numpy
    %, JVM pmod, and the DuckDB oracle all compute the identical
    non-negative value). Degenerate inputs follow the expression
    form exactly (measured on Spark 4.1.2, pinned by the degenerate
    rows in tests/test_llm_ops.py): a NULL or EMPTY hash array
    yields an array of ``num_hashes`` nulls (the per-permutation
    lambda sees no elements, so each array_min is NULL — the outer
    transform still runs over the 64 literal params), and NULL
    ELEMENTS are skipped (array_min ignores nulls; an all-null
    array again yields the all-null signature). word_shingles never
    emits any of these shapes, but the operator is public."""
    params = _hash_params(num_hashes)
    a = np.array([p[0] for p in params], dtype=np.int64)
    b = np.array([p[1] for p in params], dtype=np.int64)
    all_null = [None] * num_hashes

    @F.pandas_udf("array<long>")
    def _mh(hs: pd.Series) -> pd.Series:
        # r16 (guide §4.2): vectorized ACROSS rows — the old per-doc
        # ((64×n) multiply-mod-min) numpy call paid ~40-60 µs of
        # Python/numpy dispatch per DOC (~0.5 s/batch at 10k docs);
        # now all docs' hashes concatenate into ONE flat array and
        # each permutation is one multiply-mod + one segmented min
        # (np.minimum.reduceat over the doc offsets). Identical exact
        # int64 arithmetic (a·h + b < 2⁶², same % semantics), pinned
        # bit-identical vs the expression form in test_llm_ops.
        n = len(hs)
        segs: list[np.ndarray] = []
        idx: list[int] = []
        for i, h in enumerate(hs):
            if h is None or len(h) == 0:
                continue
            arr = np.asarray(h)
            if arr.dtype.kind != "i":
                # Null ELEMENTS: Arrow surfaces them as NaN (float
                # batch) or None (object batch). Vectorized drop —
                # the no-null hot path above never pays it.
                arr = arr[~pd.isna(arr)]
                if arr.size == 0:
                    continue
            segs.append(arr.astype(np.int64, copy=False))
            idx.append(i)
        out = np.full(n, None, dtype=object)
        for i in range(n):
            out[i] = all_null
        if segs:
            flat = np.concatenate(segs)
            offs = np.zeros(len(segs), dtype=np.int64)
            np.cumsum([s.size for s in segs[:-1]], out=offs[1:])
            sig = np.empty((len(segs), num_hashes), dtype=np.int64)
            for j in range(num_hashes):
                sig[:, j] = np.minimum.reduceat((a[j] * flat + b[j]) % _P, offs)
            for k, i in enumerate(idx):
                out[i] = sig[k]
        return pd.Series(out)

    return _mh(hashes)


def minhash_signature(shingles: Column, num_hashes: int = LSH_NUM_HASHES) -> Column:
    """MinHash signature straight from shingles — the composition of
    :func:`shingle_hashes` and :func:`minhash_from_hashes`. Hot paths
    should stage the two through a bound column instead (see
    shingle_hashes docstring); this one-shot form re-evaluates the
    md5 per permutation. (xxhash64 would be ~2× faster JVM-side but
    is Spark-specific; at 100 TB swap it in only if you give up
    cross-engine reproducibility.)"""
    return minhash_from_hashes(shingle_hashes(shingles), num_hashes)


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
    rows_per_band = num_hashes // bands
    # Sketch stage: verification shingles AND the finished MinHash
    # signature come from the FUSED shingle_sketch_sig Arrow kernel
    # in one pass (r16 — previously shingle_sketch emitted the
    # 60-bit hash arrays and a SECOND kernel crossed them back into
    # Python just to take the 64 permutation minima; guide §4). This
    # keeps the round-13 property: no md5/conv expression and no
    # array_min permutation lambda exists in the JVM plan at all,
    # pinned by tests/test_plans.py::
    # test_lsh_hashing_lives_in_kernel_not_jvm_lambdas. The persist
    # below serves banding (__sig) and verification (__shingles)
    # from one kernel pass. spread_small_scan: the kernel otherwise
    # runs as ONE task over a single-file fixture scan (the d37
    # guard; guide §2.5) — a no-op when the scan is already parallel.
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
    # Never ship the shingle arrays through the band shuffle: payload
    # width through a shuffle is the thing that breaks at 100 TB.
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
    # cached __h, so the collapsed lambda is slice-only.
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
    # the base cache for the verification joins below, sequentially).
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
    the exact-dedup survivors instead of raw documents)."""
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

    Same staging discipline as :func:`lsh_candidate_pairs` (one
    persisted md5 pass, slim band shuffle); the 64-int signatures
    re-attach AFTER candidate generation by key join — they never
    enter the band exchange.

    CACHE-RELEASE CONTRACT (round-8 advisor): the persisted staging
    block intentionally OUTLIVES this call — the caller materializes
    the returned frame after we return. Registry queries release it
    at the start of the next query; direct library callers (tests,
    notebooks) call ``functions.materialize.release()`` between
    calls, or a tight loop (e.g. hypothesis running hundreds of
    examples) accumulates one cached shingle pass per call."""
    rows_per_band = num_hashes // bands
    # r16: fused kernel — shingles + finished signature in ONE Python
    # pass; spread_small_scan = the d37 kernel-input guard (see
    # lsh_candidate_pairs).
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
    sigs = base
    banded = sigs.select(
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
    # Same band-join topology fix as lsh_candidate_pairs: an explicit
    # exchange on the join keys instead of a persist the concurrent
    # self-join sides would race (each side recomputing the signature
    # pipeline) — both sides read the ONE reused shuffle stage.
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
