"""JVM-expression reference forms of the dedup.py md5 gram kernels.

Each Arrow kernel in ``hadoop_release_spark/operators/dedup.py`` that
emits oracle-replayed VALUES (not just equality classes) is pinned
value-for-value against the plain Spark expression it replaces. The
expressions live here because only tests evaluate them: production
runs the kernels.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hadoop_release_spark.operators.dedup import (
    LSH_NUM_HASHES,
    LSH_SHINGLE_K,
    _P,
    _hash_params,
    word_shingles,
)


def shingle_hashes(shingles: Column) -> Column:
    """One 60-bit integer per shingle: first 15 md5 hex digits mod P.
    md5 is the PORTABLE content hash (contract rule 6): any engine
    reproduces identical values."""
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
    permutation i, min over shingles of (a_i·h + b_i) mod P — the
    literal transcription of the math. A null or empty hash array
    yields ``num_hashes`` nulls (each array_min sees no elements);
    null elements are skipped (array_min ignores nulls)."""
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


def shingle_sketch_sig_expr(
    text: Column, k: int = LSH_SHINGLE_K, num_hashes: int = LSH_NUM_HASHES
) -> Column:
    """``struct<shingles, sig>`` of the chain word_shingles →
    shingle_hashes → minhash_from_hashes_expr: the expression form
    of ``shingle_sketch_sig``."""
    sh = word_shingles(text, k)
    return F.struct(
        sh.alias("shingles"),
        minhash_from_hashes_expr(shingle_hashes(sh), num_hashes).alias("sig"),
    )


def word_gram_digests_expr(text: Column, k: int) -> Column:
    """Expression form of ``word_gram_digests``."""
    return F.transform(word_shingles(text, k), lambda x: F.unhex(F.md5(x)))


def positional_gram_md5_expr(text: Column, k: int) -> Column:
    """Expression form of ``positional_gram_md5``: every gram's md5
    by position, an empty array under k tokens, null for null text.
    (The short-doc branch is explicit: ``sequence(0, size-k)`` runs
    descending there and its slice would throw.)"""
    toks = F.split(text, " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.unhex(F.md5(F.array_join(F.slice(toks, i + 1, k), " "))),
    )
    return F.when(
        text.isNotNull(),
        F.when(F.size(toks) >= k, grams).otherwise(
            F.array().cast("array<binary>")
        ),
    )
