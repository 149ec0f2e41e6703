"""§2.L extension — round-1 additions to the LLM-pipeline surface.

Deduplication family completed (SimHash, n-gram Jaccard,
embedding-cosine near-dup), text analysis completed (language-ID,
BPE-ish token counting, rolling-hash fingerprinting, quality
scoring), and the IVF scale path for similarity search. Inventoried
in SURVEY.md §2 addendum.

Portability invariant used throughout: the only cross-engine content
hash is md5 (rule 6). SimHash and fingerprints derive every bit from
md5 hex prefixes via integer arithmetic — identical in Spark and
DuckDB — so even hash-based sketches are oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_release_spark.catalog import table
from hadoop_release_spark.functions.contracts import r3, r4
from hadoop_release_spark.functions.materialize import lazy_local_checkpoint, persist
from hadoop_release_spark.functions.partitioning import spread_small_scan
from hadoop_release_spark.functions.vectors import cosine, dot, norm2, o_cosine
from hadoop_release_spark.operators.dedup import (
    lsh_pair_calibration,
    o_lsh_pair_calibration,
)
from hadoop_release_spark.operators.similarity import o_systematic_centroids
from hadoop_release_spark.plans.registry import register

_DIM = 64

#: 16-bit SimHash: per-token hash = first 8 md5 hex chars as int;
#: bit b contributes +1/-1 to component b; fingerprint = sign bits.
_SIMHASH_BITS = 16


def _simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """doc_id → 16-bit SimHash fingerprint (bigint), md5-derived so
    the oracle can reproduce it bit-for-bit in SQL."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    toks = toks.withColumn("h", h)
    bit_sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    fingerprint = None
    for b in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return bit_sums.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


def _o_simhash_cte() -> str:
    """DuckDB CTE producing (doc_id, simhash) identically."""
    bit_sum_cols = ",\n             ".join(
        f"sum(CASE WHEN (h // {2**b}) % 2 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(_SIMHASH_BITS)
    )
    fingerprint = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    return f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), hashed AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(tok), 1, 8))::UBIGINT AS BIGINT) AS h
      FROM toks WHERE tok <> ''
    ), bitsums AS (
      SELECT doc_id,
             {bit_sum_cols}
      FROM hashed GROUP BY doc_id
    ), fingerprints AS (
      SELECT doc_id, CAST({fingerprint} AS BIGINT) AS simhash FROM bitsums
    )"""


@register(
    "l11_dedup_simhash",
    oracle=f"""
    WITH {_o_simhash_cte()}
    SELECT doc_id, simhash FROM fingerprints
    """,
    priority="P2",
)
def l11_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (Charikar 2002): near-identical documents
    get fingerprints within small Hamming distance. One explode+agg
    shuffle; the fingerprint is 16 md5-derived sign bits, so this
    sketch is fully oracle-checkable (unlike xxhash-based sketches).
    """
    return _simhash(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "l12_simhash_pairs",
    oracle=f"""
    WITH {_o_simhash_cte()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM fingerprints a JOIN fingerprints b
      ON (a.simhash // 16) = (b.simhash // 16) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    priority="P2",
)
def l12_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs: block on the top 12 bits
    (the banded trick — only fingerprints agreeing on the prefix ever
    meet in the join), then filter Hamming ≤ 3. At 100 TB the
    blocking join replaces an O(N²) comparison exactly like LSH."""
    fp = _simhash(table(spark, sf_dir, "documents"), "doc_id", "text")
    a, b = fp.alias("a"), fp.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (
                (F.col("a.simhash").bitwiseAND(F.lit(~15)))
                == (F.col("b.simhash").bitwiseAND(F.lit(~15)))
            )
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )


def _shingles3() -> Column:
    """Distinct word-3-gram shingle array of ``text`` — the shared
    shingling rule of l13 (Jaccard verify) and l66 (containment):
    one definition, so the two similarity measures see the same
    universe.

    Sub-3-token guard (round-14, ADVICE item 2): for n < 3 tokens
    ``sequence(1, n-2)`` DESCENDS (Spark auto-steps -1 when start >
    stop) and ``element_at(toks, 0)`` throws
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT — a latent per-row crash on
    any short doc (the fixture corpus happens to contain none, which
    is why every grade stayed green). The ``when`` branch yields an
    EMPTY shingle set instead, exactly the oracle's behavior
    (DuckDB's ``range(1, n-1)`` never descends — it returns the
    empty range), so values are unchanged for every doc with ≥ 3
    tokens and short docs now produce 0 grams instead of an error.
    CaseWhen evaluates only the matching branch, so the descending
    sequence is never constructed for short rows."""
    toks = F.split(F.col("text"), " ")
    return F.array_distinct(
        F.when(
            F.size(toks) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


#: DuckDB mirror of :func:`_shingles3` (shared by l13/l66 oracles).
_O_SHINGLES3 = (
    "list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),"
    " i -> string_split(text,' ')[i] || ' ' ||"
    " string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))"
)


@register(
    "l13_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_O_SHINGLES3} AS shingles
      FROM documents WHERE doc_id < 50
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.shingles, b.shingles)) AS inter,
             len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)) AS uni
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / uni, 3) AS jaccard
    FROM pairs WHERE inter > 0
    """,
    priority="P2",
)
def l13_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity over a bounded candidate set
    (doc_id < 50). This is the VERIFY stage of near-dup pipelines —
    candidates come from LSH/SimHash blocking (l02/l12), never from
    the all-pairs join used here on the bounded demo set."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    sh = d.select("doc_id", _shingles3().alias("shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    uni = F.size(F.col("a.shingles")) + F.size(F.col("b.shingles")) - inter
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            inter.alias("inter"),
            uni.alias("uni"),
        )
        .filter(F.col("inter") > 0)
        .select("id_a", "id_b", r3(F.col("inter").cast("double") / F.col("uni")).alias("jaccard"))
    )


def _o_l14() -> str:
    from hadoop_release_spark.operators.similarity import o_embedding_near_dup_pairs

    return o_embedding_near_dup_pairs(_DIM, threshold=0.3)


@register("l14_dedup_embedding", oracle=_o_l14(), priority="P2")
def l14_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (semantic dedup) over
    the FULL embeddings table — no all-pairs join: sign-bit LSH
    banding over all 64 dims (deterministic, hence oracle-mirrored)
    generates candidates; exact cosine verifies within buckets. The
    band layout ADAPTS to corpus size (8×8 below LSH_ADAPT_N rows,
    4×16 above — both engines key the choice on count(*)): R=8
    gives 256 buckets/band (measured at sf0.1: cuts candidates ~13×
    vs R=4, which pruned almost nothing), but on CLUSTERED
    embeddings same-cluster sign patterns correlate and R=8
    candidates grow ~N²/|clusters| — the round-8 10× rehearsal
    measured 11.1× wall growth; R=16 (65k buckets/band) cuts the
    same-cluster collision rate ~7× and restores ~linear scaling.
    An exact copy still collides in EVERY band at either layout
    (recall 1 for true dups — pinned by the planted-pair test in
    tests/test_similarity.py); moderate-cosine pairs (≈0.3, only
    noise in the random fixture) are deliberately down-sampled.
    Only slim (id, band) rows shuffle; vectors re-attach per
    candidate pair."""
    from hadoop_release_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        table(spark, sf_dir, "embeddings"), threshold=0.3
    )


_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}


#: l15's full oracle, module-level so l69 embeds the IDENTICAL
#: scorer SQL as a subquery (the e46/e43 shared-oracle discipline —
#: one marker/argmax definition, both registrations).
_O_L15 = f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(
                 "len(list_filter(string_split(text, ' '), x -> x IN ("
                 + ", ".join(f"'{m}'" for m in markers)
                 + f"))) AS s_{lang}"
                 for lang, markers in _LANG_MARKERS.items()
             )}
      FROM documents)
    SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS predicted
    FROM scored
    """


@register("l15_lang_id", oracle=_O_L15, priority="P2")
def l15_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification by marker-token counting (the n-gram
    frequency heuristic in its simplest deterministic form; a
    production profile would use character trigram log-odds — same
    dataflow: per-doc score vector → argmax). Deterministic argmax
    via fixed preference order on ties."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scores = {
        lang: F.size(F.filter(toks, lambda x: x.isin(*markers))).cast("long")
        for lang, markers in _LANG_MARKERS.items()
    }
    scored = d.select(
        "doc_id", "lang", *[scores[lang].alias(f"s_{lang}") for lang in _LANG_MARKERS]
    )
    s = {k: F.col(f"s_{k}") for k in _LANG_MARKERS}
    predicted = (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]), "en")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )
    return scored.withColumn("predicted", predicted)


@register(
    "l16_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
           round(CAST(n_chars AS DOUBLE) /
                 len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), 3) AS chars_per_token
    FROM documents
    """,
)
def l16_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    (letter runs / digit runs / single punctuation — the pre-merge
    word segmentation BPE vocabularies start from). chars-per-token
    is the standard corpus-density metric."""
    d = table(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    n_ws = F.size(F.split(F.col("text"), " ")).cast("long")
    n_bpe = F.regexp_count(F.col("text"), F.lit(pat)).cast("long")
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        r3(F.col("n_chars").cast("double") / n_bpe).alias("chars_per_token"),
    )


@register(
    "l17_fingerprint",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, length(text) - 6),
                            i -> md5(substring(text, CAST(i AS INT), 8))) AS g
      FROM documents WHERE length(text) >= 8)
    SELECT doc_id,
           list_min(g) AS fingerprint,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct_grams
    FROM grams
    """,
    priority="P2",
)
def l17_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via rolling character 8-grams: hash
    every 8-char window (md5 — the portable hash), keep the minimum
    (a 1-hash winnowing sketch; production keeps the min per window
    of w positions — same dataflow with one extra transform)."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 7),
        lambda i: F.md5(F.substring(F.col("text"), i, F.lit(8))),
    )
    return d.select(
        "doc_id",
        F.array_min(grams).alias("fingerprint"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct_grams"),
    )


#: Winnowing window: keep the min hash of every w consecutive grams.
_WINNOW_W = 4


@register(
    "l18_winnow",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, length(text) - 6),
                            i -> md5(substring(text, CAST(i AS INT), 8))) AS g
      FROM documents WHERE length(text) >= {8 + _WINNOW_W - 1}
    ), wins AS (
      SELECT doc_id,
             list_transform(range(1, len(g) - {_WINNOW_W - 2}),
                            i -> list_min(g[CAST(i AS INT):CAST(i + {_WINNOW_W - 1} AS INT)])) AS mins
      FROM grams)
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(mins)), '|') AS winnow_fp,
           CAST(len(list_distinct(mins)) AS BIGINT) AS n_fp
    FROM wins
    """,
    priority="P2",
)
def l18_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 —
    the MOSS algorithm): hash every 8-char gram (md5, the portable
    hash), then keep the MINIMUM hash of each sliding window of
    w=4 gram positions; the distinct selected hashes are the
    document fingerprint. Guarantees any shared substring of length
    ≥ 8+w-1 contributes a shared fingerprint (the winnowing
    guarantee), with density ~2/(w+1). Completes l17's 1-hash sketch
    into the real construction. Per-row array work only — no
    shuffle; fingerprints emitted as a sorted '|'-joined string so
    the hash check is canonical."""
    w = _WINNOW_W
    d = table(spark, sf_dir, "documents").filter(F.length("text") >= 8 + w - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 7),
        lambda i: F.md5(F.substring(F.col("text"), i, F.lit(8))),
    )
    g = d.select("doc_id", grams.alias("g"))
    mins = F.transform(
        F.sequence(F.lit(1), F.size("g") - (w - 1)),
        lambda i: F.array_min(F.slice(F.col("g"), i, F.lit(w))),
    )
    fp = F.array_sort(F.array_distinct(mins))
    return g.select(
        "doc_id",
        F.concat_ws("|", fp).alias("winnow_fp"),
        F.size(fp).cast("long").alias("n_fp"),
    )


@register(
    "l20_quality_score",
    oracle=r"""
    SELECT doc_id,
           round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
                 / n_chars, 4) AS punct_ratio,
           round(CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','and','of','to','in','a','is'))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS stopword_ratio,
           round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_word_len
    FROM documents
    """,
)
def l20_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals (Gopher/C4-style corpus filters):
    punctuation density, stopword ratio, mean word length — the
    features a quality classifier or rule filter consumes."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = ["the", "and", "of", "to", "in", "a", "is"]
    punct = F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]")).cast("double")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*stop))).cast("double")
    return d.select(
        "doc_id",
        r4(punct / F.col("n_chars")).alias("punct_ratio"),
        r4(n_stop / F.size(toks)).alias("stopword_ratio"),
        r4(F.col("n_chars").cast("double") / F.size(toks)).alias("avg_word_len"),
    )


@register(
    "l23_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, t,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g
      FROM toks WHERE len(t) >= 3)
    SELECT doc_id,
           round(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
             AS dup_tok_frac,
           round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 4)
             AS dup_gram_frac
    FROM grams
    """,
    priority="P2",
)
def l23_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition ratios (the Gopher repetition filters): fraction of
    duplicate tokens and duplicate 3-grams per document — high values
    flag boilerplate/spam for corpus filtering. Per-row array work
    only, no shuffle. Float note: ratios of small integers are
    provably round-safe at 4dp — |a/b - k/20000| ≥ 1/(20000·b) for
    any non-boundary rational, ≫ double noise for fixture-sized b."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("t") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("t"), i),
            F.element_at(F.col("t"), i + 1),
            F.element_at(F.col("t"), i + 2),
        ),
    )
    base = d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 3)
    dup = lambda col: r4(  # noqa: E731
        F.lit(1.0) - F.size(F.array_distinct(col)).cast("double") / F.size(col)
    )
    return base.select(
        "doc_id",
        dup(F.col("t")).alias("dup_tok_frac"),
        dup(grams).alias("dup_gram_frac"),
    )


#: Per-language keep-quota (percent of the 100 md5 buckets) for the
#: stratified sample — the per-stratum rates a corpus pipeline tunes.
_STRATA_QUOTA = {"en": 10, "de": 30, "fr": 50, "es": 70}


@register(
    "l24_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT
                % 100 AS BIGINT) AS bucket
    FROM documents
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT
               % 100 AS BIGINT)
          < CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_QUOTA.items())}
            ELSE 0 END
    """,
    priority="P2",
)
def l24_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: each document hashes to one
    of 100 md5-derived buckets and survives iff its bucket is below
    its language's quota. Unlike ``df.sample`` this is reproducible
    across engines, runs, cluster sizes, and data re-partitioning —
    the property a training-data pipeline needs for auditable corpus
    mixes — and it is a pure per-row filter (no shuffle, no state;
    pushdown-friendly). md5 is the portable hash (contract rule 6)."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    quota = None
    for k, v in _STRATA_QUOTA.items():
        cond = F.when(F.col("lang") == k, F.lit(v))
        quota = cond if quota is None else quota.when(F.col("lang") == k, F.lit(v))
    quota = quota.otherwise(F.lit(0))
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < quota)
    )


#: PII patterns — valid in BOTH Java regex (Spark) and RE2 (DuckDB).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9()\-\s]{6,}[0-9]"


@register(
    "l25_pii_redact",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0
               THEN ' contact user' || doc_id || '@example.com or +1-555-0'
                    || (doc_id % 1000) || ' now'
               ELSE '' END AS text
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones
    FROM planted
    """,
    priority="P2",
)
def l25_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (the standard pre-training redaction stage):
    detect and replace email- and phone-shaped spans, emit redacted
    text + per-doc detection counts for audit. The fixture text
    contains no PII, so deterministic synthetic contact strings are
    planted on every 7th doc IDENTICALLY in both engines — the
    redactor is then exercised on real matches, not vacuously.
    Patterns are chosen to parse identically under Java regex and
    RE2; Spark regexp_replace is global by default, DuckDB needs the
    'g' flag. Per-row regex only — no shuffle, scales linearly."""
    d = table(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-0"),
            (F.col("doc_id") % 1000).cast("string"),
            F.lit(" now"),
        ),
    ).otherwise(F.col("text"))
    t = d.select("doc_id", planted.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return t.select(
        "doc_id",
        redacted.alias("redacted"),
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
    )


@register(
    "l26_corpus_pipeline",
    oracle="""
    WITH quality AS (
      SELECT doc_id, lang, text, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE n_chars >= 100 AND len(string_split(text, ' ')) >= 20
        AND lang IN ('en', 'de', 'fr')
    ), deduped AS (
      SELECT * FROM quality
      WHERE doc_id IN (SELECT min(doc_id) FROM quality GROUP BY md5(text))
    ), sampled AS (
      SELECT * FROM deduped
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT
                 % 100 AS BIGINT) < 60
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM sampled GROUP BY lang
    """,
    priority="P2",
)
def l26_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus build — the whole training-data pass as ONE
    declarative plan: quality filter (length + token floor) →
    language allowlist → exact dedup (md5 content hash, min-doc_id
    survivor) → deterministic 60% hash sample → per-language corpus
    stats. Catalyst fuses the filters into the scan and the dedup is
    the only shuffle (semi-join against per-hash minima); every
    downstream stage operates on the already-pruned stream. The
    shape a 100 TB corpus job actually runs — and being one plan,
    AQE sizes every exchange off real selectivities instead of
    hand-tuned stage boundaries. All-integer output: fully
    hash-deterministic across engines."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    quality = d.filter(
        (F.col("n_chars") >= 100)
        & (F.size(toks) >= 20)
        & F.col("lang").isin("en", "de", "fr")
    ).select(
        "doc_id", "lang", "text", "n_chars", F.size(toks).cast("long").alias("n_tokens")
    )
    survivors = quality.groupBy(F.md5("text").alias("__h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    deduped = quality.join(survivors.select("doc_id"), "doc_id", "left_semi")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    sampled = deduped.filter(bucket < 60)
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def _o_l19() -> str:
    """DuckDB mirror of the ENTIRE IVF pipeline (assign → probe →
    candidate → top-k). The dataflow is deterministic arithmetic —
    'approximate' refers to recall vs brute force, not to any
    randomness — so it is oracle-expressible; the cosine folds are
    mirrored exactly (functions/vectors.py) and every ranking
    tie-breaks on an id."""
    cos_ac = o_cosine("e.embedding", "c.centroid", _DIM)
    cos_qc = o_cosine("q.qe", "c.centroid", _DIM)
    cos_aq = o_cosine("a.embedding", "p.qe", _DIM)
    return f"""
    WITH centroids AS (
      {o_systematic_centroids()}
    ), assign0 AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cos_ac} DESC, c.centroid_id) AS rn
      FROM embeddings e CROSS JOIN centroids c
    ), assigned AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM assign0 WHERE rn = 1
    ), queries AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
    ), probes0 AS (
      SELECT q.query_id, q.qe, c.centroid_id,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {cos_qc} DESC, c.centroid_id) AS rn
      FROM queries q CROSS JOIN centroids c
    ), probes AS (
      SELECT query_id, qe, centroid_id AS cluster FROM probes0 WHERE rn <= 4
    ), cand AS (
      SELECT p.query_id, a.vec_id, round({cos_aq}, 3) AS score
      FROM assigned a JOIN probes p ON a.cluster = p.cluster
      WHERE a.vec_id <> p.query_id
    ), ranked AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rn
      FROM cand)
    SELECT query_id, vec_id, score FROM ranked WHERE rn <= 10
    """


@register("l19_knn_ivf", oracle=_o_l19(), priority="P2")
def l19_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate kNN — the similarity-search SCALE
    path (brute-force l08 is the exact baseline). ORACLE-CHECKED:
    'approximate' means recall-vs-brute-force, not randomness — the
    assign/probe/verify dataflow is deterministic arithmetic, so the
    oracle replays the whole pipeline in SQL (cosine folds mirrored
    exactly, rankings id-tie-broken). Recall against brute force is
    additionally pinned in tests/test_similarity.py. Centroid
    'training' is the shared adaptive-stride systematic sample
    (systematic_centroids — K = ⌊√N⌋ lists, the FAISS sizing rule;
    a FIXED stride scaled K linearly and measured 53× on l58's
    sf1→sf10 decade before the round-9 fix) standing in for k-means
    — the search dataflow is identical either way."""
    from hadoop_release_spark.operators.similarity import (
        ivf_topk,
        rank_clusters_arrow,
        systematic_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    centroids = systematic_centroids(e)
    # Corpus assignment via the Arrow kernel — bit-identical to the
    # declarative crossJoin + rank-1 window (parity pinned in
    # tests/test_similarity.py), ~12x faster on the N x K stage
    # (round-8 BENCH notes).
    assigned = rank_clusters_arrow(e, centroids, 1, _DIM).select(
        "vec_id", "embedding", "cluster"
    )
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    return ivf_topk(assigned, centroids, queries, k=10, nprobe=4)


@register("l21_kmeans", oracle=None, priority="P2")
def l21_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means clustering of embeddings (5 Lloyd iterations, k=8) —
    the iterative-algorithm pattern: a driver-side loop of DataFrame
    plans where only k centroids ever leave the cluster. Rows-only
    (iterative float evolution has no SQL oracle); determinism and
    clustering quality pinned in tests/test_clustering.py. Also the
    production centroid trainer for l19's IVF index."""
    from hadoop_release_spark.operators.clustering import kmeans

    return kmeans(table(spark, sf_dir, "embeddings"), k=8, max_iter=5)


def _o_l22() -> str:
    # No explicit parameters: Spark call and oracle both inherit the
    # shared LSH_* defaults in operators/dedup.py (see _o_l02).
    from hadoop_release_spark.operators.dedup import o_dedup_survivors

    return o_dedup_survivors()


@register("l22_dedup_survivors", oracle=_o_l22(), priority="P2")
def l22_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup deduplication: LSH candidate pairs (l02) →
    connected components (transitive closure — a chain a~b, b~c is ONE
    duplicate group) → survivor = min doc_id per component. The final
    step of a corpus dedup pass: emit every doc with its canonical id
    and a keep/drop flag. ORACLE-CHECKED: the md5-portable LSH
    pipeline feeds a recursive-CTE transitive closure with min-label
    per component — the driver's value hash validates candidate
    generation AND component structure. Chain-transitivity also
    pinned in tests/test_llm_ops.py."""
    from hadoop_release_spark.operators.dedup import (
        connected_components_min_label,
        lsh_candidate_pairs,
    )

    d = table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(d, id_col="doc_id", text_col="text")
    comps = connected_components_min_label(
        d.select(F.col("doc_id").alias("__id")), pairs, id_col="__id"
    )
    return comps.select(
        F.col("__id").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        (F.col("__id") == F.col("component")).alias("is_survivor"),
    )


#: BM25 parameters (the Robertson defaults) — single source for both
#: the Spark expression and the oracle SQL, so the two sides cannot
#: drift (same rule as the shared LSH constants block).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_TERMS = 5


@register(
    "l38_bm25",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM terms GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM terms GROUP BY doc_id
    ), stats AS (
      SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             CAST(count(*) AS DOUBLE) AS n FROM dl
    ), df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             round(
               ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + ({BM25_B} * dl.dl) / stats.avgdl)),
               4) AS score
      FROM tf
      JOIN dl USING (doc_id)
      JOIN df USING (term)
      CROSS JOIN stats
    ), ranked AS (
      SELECT doc_id, term,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rn
      FROM scored)
    SELECT doc_id, term, CAST(rn AS BIGINT) AS term_rank
    FROM ranked WHERE rn <= {BM25_TOP_TERMS}
    """,
    priority="P1",
)
def l38_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 term scoring — the retrieval-grade upgrade of l04's
    TF-IDF and the standard lexical ranking function of every search
    / RAG corpus pipeline: per document, the top-5 terms by
    idf·(tf·(k1+1))/(tf + k1·(1−b + b·dl/avgdl)) with the Robertson
    idf = ln((N−df+0.5)/(df+0.5)+1).

    FLOAT RULE: the score involves ln() (non-terminating decimals),
    so ranking happens on the ROUNDED score tie-broken by term, and
    only (doc_id, term, term_rank) are hashed — l04's exact pattern.
    avgdl is an exact-integer-sum ÷ count double, and the remaining
    arithmetic is the same literal/parenthesis order on both sides,
    so rounded scores agree to the grid.

    Scale shape: tf and dl are the SAME doc_id-keyed explode+agg
    (one shuffle each, partial map-side); df is vocab-sized and
    BROADCASTS into tf; avgdl/N is a two-scalar driver agg (one
    Row). No fact×fact shuffle anywhere — at 100 TB the plan is the
    l04 plan plus one broadcast-joined dl column."""
    d = table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = terms.groupBy("doc_id").agg(F.count("*").alias("dl"))
    sum_dl, n_docs = dl.agg(F.sum("dl"), F.count("*")).first()
    avgdl = float(sum_dl) / float(n_docs)  # one IEEE division, both engines
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    score = r4(
        idf
        * (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + (F.lit(BM25_B) * F.col("dl")) / F.lit(avgdl))
        )
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .select("doc_id", "term", score.alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BM25_TOP_TERMS)
        .select("doc_id", "term", F.col("rn").cast("long").alias("term_rank"))
    )


#: l42 vocabulary size (top-K corpus tokens by frequency, ties by token).
_L42_VOCAB_K = 100


@register(
    "l42_vocab_coverage",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), counts AS (
      SELECT term, count(*) AS n FROM terms GROUP BY term
    ), vocab AS (
      SELECT term FROM counts ORDER BY n DESC, term LIMIT {_L42_VOCAB_K}
    ), flagged AS (
      SELECT t.doc_id,
             CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
      FROM terms t LEFT JOIN vocab v USING (term)
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           (CAST(sum(oov) AS DOUBLE) / count(*)) AS oov_rate
    FROM flagged GROUP BY doc_id
    """,
    priority="P2",
)
def l42_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV-rate per document against the
    corpus's own top-K token vocabulary — the standard pre-training
    diagnostic for "will this tokenizer's vocab cover this corpus"
    (a high-OOV doc is noise, another language, or code). The top-K
    cut is tie-broken by token so the boundary is deterministic; the
    rate is one bigint/bigint IEEE division — bit-identical, no
    rounding (the e04 rule).

    Scale shape: tf is the l04 explode+agg shuffle; the vocab is a
    vocab-sized agg cut to K rows (orderBy+limit on |vocab| rows,
    never the corpus) and BROADCAST back into the term stream — no
    second corpus shuffle. At 100 TB the vocab table is still KB."""
    d = table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    counts = terms.groupBy("term").agg(F.count("*").alias("n"))
    vocab = (
        counts.orderBy(F.col("n").desc(), "term")
        .limit(_L42_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    flagged = terms.join(F.broadcast(vocab), "term", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(oov).cast("long").alias("n_oov"),
        (F.sum(oov).cast("double") / F.count("*")).alias("oov_rate"),
    )


#: l43's oracle pieces, shared with the l73 perplexity-tier op (one
#: scoring definition — the e43/e46 discipline).
_O_L43_CTES = """tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), per AS (
      SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY doc_id, tok
    ), cnt AS (
      SELECT tok, CAST(sum(n) AS BIGINT) AS c FROM per GROUP BY tok
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt
    ), doc AS (
      SELECT p.doc_id, CAST(sum(p.n) AS BIGINT) AS n_tokens,
             sum(CAST(p.n AS DOUBLE) * ln(CAST(c.c AS DOUBLE))) AS s
      FROM per p JOIN cnt c USING (tok) GROUP BY p.doc_id
    )"""

_O_L43_NLL = (
    "round(ln(CAST(t.t AS DOUBLE)) - d.s / CAST(d.n_tokens AS DOUBLE),"
    " 6) + 0.0"
)


@register(
    "l43_lm_score",
    oracle=f"""
    WITH {_O_L43_CTES}
    SELECT doc_id, n_tokens,
           {_O_L43_NLL} AS avg_nll
    FROM doc d CROSS JOIN tot t
    """,
    priority="P2",
)
def l43_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model fluency score — the statistical
    perplexity-proxy quality filter (the KenLM stand-in every
    production corpus pipeline runs; l06/l20 are rule-based, this is
    model-based): per-doc average negative log-likelihood under the
    corpus's own unigram distribution,
    avg_nll = ln(T) − (Σ_t n_dt·ln(c_t)) / len_d. Low = stereotyped
    high-frequency text, high = rare-token soup — both tails are
    what the filter cuts. Counts are exact bigints; the single float
    reduction is r6-rounded (the d27 sufficient-stat rule; the per-
    doc Σ spans ≤|distinct tokens in doc| terms).

    Scale shape: the l04 TF-IDF topology — explode → (doc,token)
    partial agg → token-keyed count agg → slim token join back →
    doc agg. At 100 TB the unigram table is Zipf-concentrated: the
    production variant broadcasts the top-K vocabulary and folds the
    tail into one OOV smoothing mass (the l42 broadcast pattern);
    the exact token join here is the reference semantics. The grand
    total T is a single-row broadcast cross join (d29 pattern)."""
    d = table(spark, sf_dir, "documents")
    per = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("n"))
    )
    cnt = per.groupBy("tok").agg(F.sum("n").cast("long").alias("c"))
    tot = cnt.agg(F.sum("c").cast("long").alias("t"))
    doc = (
        per.join(cnt, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.col("n").cast("double") * F.log(F.col("c").cast("double"))).alias(
                "s"
            ),
        )
    )
    return doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        # outer +0.0 matches the oracle's guard (avg_nll ≥ 0 up to
        # float noise; the guard covers the tiny-negative round edge)
        (
            F.round(
                F.log(F.col("t").cast("double"))
                - F.col("s") / F.col("n_tokens").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("avg_nll"),
    )


@register(
    "l44_bpe_pairs",
    oracle="""
    WITH words AS (
      SELECT tok AS w, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ), pairs AS (
      SELECT substring(w, CAST(i.i AS INTEGER), 2) AS pair, cnt
      FROM words, unnest(range(1, length(w))) AS i(i)
    ), agg AS (
      SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
      FROM pairs GROUP BY pair
    )
    SELECT pair, pair_count FROM agg
    ORDER BY pair_count DESC, pair LIMIT 20
    """,
    priority="P2",
)
def l44_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-trainer merge-selection step: corpus-weighted counts
    of adjacent character pairs, top-20 by (count DESC, pair ASC) —
    the inner loop of byte-pair-encoding tokenizer training (the
    highest-count pair is the next merge). Deterministic total
    order, so the top-20 is a full-hash contract.

    Scale shape: the trainer's critical trick is running pair
    extraction over the DISTINCT-WORD table (Zipf: ~100k types for
    trillions of tokens), never over the corpus — one token-keyed
    word-count shuffle, then per-TYPE char-pair explode (bounded by
    word length), one pair-keyed agg, and a TakeOrderedAndProject
    top-k (f02 shape — no global sort). Both engines index
    characters, not bytes, so multibyte text pairs identically."""
    d = table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    agg = pairs.groupBy("pair").agg(F.sum("cnt").cast("long").alias("pair_count"))
    return agg.orderBy(F.desc("pair_count"), "pair").limit(20)


@register(
    "l45_dataset_card",
    oracle="""
    WITH d AS (
      SELECT source, lang, md5(text) AS h,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents
    ), a AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM d GROUP BY source
    ), hh AS (
      SELECT source, h, count(*) AS c FROM d GROUP BY source, h
    ), b AS (
      SELECT source,
             CAST(COALESCE(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
               AS n_dup_docs
      FROM hh GROUP BY source
    )
    SELECT a.source, a.n_docs, a.n_tokens, a.n_langs, b.n_dup_docs,
           CAST(a.n_tokens AS DOUBLE) / CAST(a.n_docs AS DOUBLE)
             AS avg_tokens,
           CAST(b.n_dup_docs AS DOUBLE) / CAST(a.n_docs AS DOUBLE)
             AS dup_rate
    FROM a JOIN b USING (source)
    """,
    priority="P2",
)
def l45_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the summary table every corpus
    release ships (and every ingestion review reads): document and
    token counts, language breadth, and the exact-duplicate rate
    (docs whose md5(text) collides within the source), per source.
    Counts are exact bigints; the two rates are single bigint-ratio
    IEEE divisions (e04 rule).

    Scale shape: one (source, md5) partial+final agg — the l01
    exact-dedup shuffle keyed by (source, digest), carrying 16-byte
    digests, never text — feeding a sources-sized rollup; the
    parallel per-source token/lang agg shuffles the same slim
    derived columns; final join is sources-sized (broadcast). The
    corpus is scanned ONCE per branch with only derived slim
    columns leaving the scan."""
    d = table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("toks"),
    )
    a = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    b = (
        d.groupBy("source", "h")
        .agg(F.count("*").alias("c"))
        .groupBy("source")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
            )
            .cast("long")
            .alias("n_dup_docs")
        )
    )
    return a.join(b, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_langs",
        "n_dup_docs",
        (F.col("n_tokens").cast("double") / F.col("n_docs").cast("double")).alias(
            "avg_tokens"
        ),
        (
            F.col("n_dup_docs").cast("double") / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


#: l46: feature-hashing buckets (the hashing-trick vectorizer width).
_L46_BUCKETS = 64


@register(
    "l46_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(tok), 1, 8))::UBIGINT AS BIGINT)
               % {_L46_BUCKETS} AS bucket,
             CASE WHEN CAST(('0x' || substring(md5(tok), 9, 1))::UBIGINT
                            AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tok
    )
    SELECT doc_id, bucket,
           CAST(sum(sgn) AS BIGINT) AS feat,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM hashed GROUP BY doc_id, bucket
    """,
    priority="P2",
)
def l46_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (the hashing-trick vectorizer,
    Weinberger et al.): each token maps STATELESSLY to one of 64
    buckets via its md5 prefix, contributing ±1 by a second md5
    nibble (the sign trick that unbiases collisions) — sparse
    feature vectors with NO vocabulary table at all. This is the
    vectorizer that scales where l04's TF-IDF cannot: no token-keyed
    join, no vocab state, new tokens need no re-fit. md5-derived
    integer arithmetic is the rule-6 portable hash, so every
    (bucket, sign) is bit-identical cross-engine.

    Scale shape: ONE (doc, bucket) partial+final agg fused onto the
    exploded scan — output bounded by docs × 64 regardless of vocab
    size; nothing else shuffles. Bucket width is a constant shared
    with the oracle."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    sgn = F.when(
        F.conv(F.substring(F.md5("tok"), 9, 1), 16, 10).cast("long") % 2 == 0, 1
    ).otherwise(-1)
    return (
        tok.select("doc_id", (h % _L46_BUCKETS).alias("bucket"), sgn.alias("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("sgn").cast("long").alias("feat"),
            F.count("*").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------- l47
#: PQ geometry: 64-dim embeddings → 4 subspaces × 16 dims, 16 codes
#: per subspace. Codebook = deterministic systematic sample
#: (vec_id % 11 == 0, first 16 — l19's stand-in convention; l21's
#: k-means is the production trainer, run per subspace).
_PQ_M = 4
_PQ_SUBDIM = 16
_PQ_CODES = 16
_PQ_STRIDE = 11


def _o_l47() -> str:
    from hadoop_release_spark.functions.vectors import o_sq_dist_offset

    d2 = o_sq_dist_offset(
        "e.embedding", "c.embedding", "u.u * 16", "u.u * 16", _PQ_SUBDIM
    )
    qd2 = o_sq_dist_offset(
        "q.embedding", "c.embedding", "u.u * 16", "u.u * 16", _PQ_SUBDIM
    )
    return f"""
    WITH codes AS (
      SELECT CAST(vec_id // {_PQ_STRIDE} AS INT) AS code_id, embedding
      FROM embeddings
      WHERE vec_id % {_PQ_STRIDE} = 0 AND vec_id < {_PQ_STRIDE * _PQ_CODES}
    ), usub AS (
      SELECT unnest(range(0, {_PQ_M})) AS u
    ), corpus_sub AS (
      SELECT e.vec_id, u.u, c.code_id, {d2} AS d2
      FROM embeddings e CROSS JOIN usub u CROSS JOIN codes c
      WHERE e.vec_id <> 0
    ), enc AS (
      SELECT vec_id, u, code_id FROM (
        SELECT vec_id, u, code_id,
               row_number() OVER (PARTITION BY vec_id, u
                                  ORDER BY d2, code_id) AS rn
        FROM corpus_sub) WHERE rn = 1
    ), lut AS (
      SELECT u.u, c.code_id,
             CAST(round({qd2}, 6) AS DECIMAL(18,6)) AS qd2
      FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      CROSS JOIN usub u CROSS JOIN codes c
    ), adc AS (
      SELECT e.vec_id, sum(l.qd2) AS adc
      FROM enc e JOIN lut l USING (u, code_id)
      GROUP BY e.vec_id
    )
    SELECT vec_id, round(CAST(adc AS DOUBLE), 3) AS adc_d2
    FROM adc ORDER BY adc, vec_id LIMIT 10
    """


@register("l47_pq_ann", oracle=_o_l47(), priority="P2")
def l47_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., the RAM-resident
    billion-vector index family): each 64-dim vector compresses to
    m=4 one-byte codes (nearest codebook entry per 16-dim subspace),
    and search runs on the codes alone via an asymmetric-distance
    lookup table — the corpus embeddings are NEVER touched at query
    time. Completes the similarity-search triad: l08 exact
    brute-force, l19 IVF scan-pruning, l47 PQ compression (IVF+PQ
    composed is the production FAISS layout: IVF prunes which lists
    to read, PQ shrinks what a list costs to read).

    ORACLE-CHECKED end-to-end: the codebook is a deterministic
    systematic sample (l19's convention; l21 k-means is the
    production trainer), encode argmin is exact-double with code-id
    tie-break, and the ADC sum accumulates 6dp-rounded per-subspace
    distances in DECIMAL(18,6) — exact, order-insensitive — so both
    engines make the identical top-10 cut.

    Scale shape: encode = ONE broadcast hash join on the subspace
    index (corpus never shuffles; output m codes/vector), query =
    m×K-row broadcast LUT + hash join + partial-agg sum. No
    all-pairs stage anywhere."""
    from hadoop_release_spark.operators.similarity import pq_adc_topk, pq_encode

    e = table(spark, sf_dir, "embeddings")
    codebook = (
        e.filter(
            (F.col("vec_id") % _PQ_STRIDE == 0)
            & (F.col("vec_id") < _PQ_STRIDE * _PQ_CODES)
        )
        .select(
            (F.col("vec_id") / _PQ_STRIDE).cast("int").alias("code_id"),
            "embedding",
        )
    )
    encoded = pq_encode(
        e.filter(F.col("vec_id") != 0), codebook, _PQ_M, _PQ_SUBDIM
    )
    query = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    return pq_adc_topk(encoded, codebook, query, _PQ_M, _PQ_SUBDIM, k=10)


# ---------------------------------------------------------------- l48
#: Semantic decontamination: eval set = vec_id < 32 (bounded,
#: broadcast); corpus vectors whose best eval cosine ≥ the threshold
#: are flagged. 0.40 sits at ~p99 of the fixture's max-sim
#: distribution so both branches of the flag are exercised.
_L48_EVAL_BOUND = 32
_L48_THRESHOLD = 0.40


def _o_l48() -> str:
    cos = o_cosine("c.embedding", "e.ee", _DIM)
    return f"""
    WITH ev AS (
      SELECT vec_id AS eval_id, embedding AS ee
      FROM embeddings WHERE vec_id < {_L48_EVAL_BOUND}
    ), sims AS (
      SELECT c.vec_id, e.eval_id, round({cos}, 3) AS sim
      FROM embeddings c CROSS JOIN ev e
      WHERE c.vec_id >= {_L48_EVAL_BOUND}
    ), best AS (
      SELECT vec_id, eval_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, eval_id) AS rn
      FROM sims
    )
    SELECT vec_id, sim AS max_sim, eval_id AS nearest_eval_id,
           sim >= {_L48_THRESHOLD} AS contaminated
    FROM best WHERE rn = 1
    """


@register("l48_semantic_decontaminate", oracle=_o_l48(), priority="P2")
def l48_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination — the semantic complement of
    l28's n-gram sweep: an eval document that was PARAPHRASED into
    the training corpus shares no 8-gram but sits at high embedding
    cosine, so corpora are screened against the benchmark set in
    BOTH spaces before training. Emits every corpus vector with its
    best eval-set similarity, the offending eval id, and the flag
    (the full table, not just hits, so threshold tuning reruns are
    free).

    Scale shape (round-13 rewrite): the EVAL side is bounded
    (benchmarks are thousands of rows, not corpus-scale) and rides
    the SAME Arrow assignment kernel as l56/l58 —
    ``rank_clusters_arrow`` with the eval set as the "centroid"
    table, ``nprobe=1`` (nearest eval IS the argmax), and
    ``emit_sim_3dp`` (sims rounded to 3dp before ranking, exactly
    the declarative r3-then-rank rule, then emitted). The plan is
    scan → mapInPandas → project: ZERO exchanges, no window, no
    |eval|·N row fan-out — the previous rank-window form shuffled
    and sorted 80M slim fan-out rows at gen_sf sf10 and measured
    10.55×/decade (the only row over the linear envelope, r12), and
    even the grouped-max repair left 80M interpreted cosine folds as
    the wall (~93 s sf10). Why Python: same reason as l56/l58 — the
    N×|eval| similarity stage has no codegen path (higher-order
    array folds run interpreted, ~7 µs/cosine), while the kernel
    runs the identical IEEE accumulation ~50× faster and only N
    rows cross the Arrow boundary. Parity: kernel == the r3+window
    declarative form row-for-row on the fixture, and a planted
    rounded-tie pytest pins the tie rule (tests/test_similarity.py).
    If the eval set ever scales with the corpus, the candidate
    generator moves to l14's sign-LSH bands or l19's IVF probes —
    same tripwire discipline as l09 (test_plans.py allowlist)."""
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
    )

    e = table(spark, sf_dir, "embeddings")
    ev = e.filter(F.col("vec_id") < _L48_EVAL_BOUND).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    # emit_vectors=False: l48 keeps only (id, cluster, __sim), so the
    # kernel must not ship N×64-float vectors back across the Arrow
    # boundary for the next projection to drop (Spark cannot prune
    # columns out of a Python stage's output).
    best = rank_clusters_arrow(
        e.filter(F.col("vec_id") >= _L48_EVAL_BOUND),
        ev,
        nprobe=1,
        dim=_DIM,
        emit_sim_3dp=True,
        emit_vectors=False,
    )
    return best.select(
        "vec_id",
        F.col("__sim").alias("max_sim"),
        F.col("cluster").alias("nearest_eval_id"),
        (F.col("__sim") >= _L48_THRESHOLD).alias("contaminated"),
    )


# ---------------------------------------------------------------- l49
#: Contrastive-pair mining: anchors = vec_id < 16 (bounded
#: broadcast); for each anchor, the top-3 most-similar vectors whose
#: label DIFFERS — the "hard negatives" a contrastive trainer wants.
_L49_ANCHORS = 16
_L49_K = 3


def _o_l49() -> str:
    cos = o_cosine("c.embedding", "a.ae", _DIM)
    return f"""
    WITH anchors AS (
      SELECT vec_id AS anchor_id, label AS alabel, embedding AS ae
      FROM embeddings WHERE vec_id < {_L49_ANCHORS}
    ), sims AS (
      SELECT a.anchor_id, c.vec_id AS negative_id, c.label AS nlabel,
             round({cos}, 3) AS sim
      FROM embeddings c CROSS JOIN anchors a
      WHERE c.vec_id <> a.anchor_id AND c.label <> a.alabel
    ), ranked AS (
      SELECT anchor_id, negative_id, nlabel, sim,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY sim DESC, negative_id) AS rn
      FROM sims
    )
    SELECT anchor_id, negative_id,
           CAST(nlabel AS INT) AS negative_label, sim
    FROM ranked WHERE rn <= {_L49_K}
    """


@register("l49_hard_negative_mining", oracle=_o_l49(), priority="P2")
def l49_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the batch-prep
    step behind SimCSE/CLIP-style objectives): for each anchor, the
    top-k most-SIMILAR vectors with a DIFFERENT label — the
    near-miss impostors whose gradients carry the signal (random
    negatives are trivially separated and teach nothing). Uses the
    embeddings fixture's label column as the supervision signal.

    Determinism: rank on the 3dp-rounded cosine with negative-id
    tie-break (l08 rule); labels compared exactly.

    Scale shape: the ANCHOR side is the bounded broadcast (one
    training batch of anchors, not the corpus) — corpus × anchors
    narrow rows, label-inequality filter fused into the join, per-
    anchor top-k window partitioned by anchor. When the anchor set
    scales to the full corpus (mining negatives for EVERY vector),
    the candidate generator moves to l19's IVF probes — mine within
    the anchor's nprobe clusters only — or l14's LSH bands; same
    allowlist tripwire as l09/l48."""
    e = table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < _L49_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("alabel"),
        F.col("embedding").alias("ae"),
    )
    sims = (
        e.crossJoin(F.broadcast(anchors))
        .filter(
            (F.col("vec_id") != F.col("anchor_id"))
            & (F.col("label") != F.col("alabel"))
        )
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            r3(cosine(F.col("embedding"), F.col("ae"))).alias("sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("sim").desc(), F.col("negative_id")
    )
    return (
        sims.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _L49_K)
        .select(
            "anchor_id",
            "negative_id",
            F.col("negative_label").cast("int").alias("negative_label"),
            "sim",
        )
    )


#: l54: Kneser–Ney fixed discount (the Chen & Goodman default grid
#: point) and the min bigram count that bounds the emitted table.
_L54_DISCOUNT = "0.75"
_L54_MIN_COUNT = 5


@register(
    "l54_kneser_ney",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      FROM toks WHERE len(t) >= 2
    ), bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2, CAST(count(*) AS BIGINT) AS c12
      FROM pos GROUP BY t[i], t[i + 1]
    ), ctx AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1fwd
      FROM bg GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS n1rev
      FROM bg GROUP BY w2
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS ntypes FROM bg
    )
    SELECT b.w1, b.w2, b.c12, x.c1, x.n1fwd, n.n1rev,
           (CAST(b.c12 AS DOUBLE) - {_L54_DISCOUNT}) / CAST(x.c1 AS DOUBLE)
           + ({_L54_DISCOUNT} * CAST(x.n1fwd AS DOUBLE)
              / CAST(x.c1 AS DOUBLE))
             * (CAST(n.n1rev AS DOUBLE) / CAST(t.ntypes AS DOUBLE))
             AS p_kn
    FROM bg b
    JOIN ctx x ON b.w1 = x.w1
    JOIN cont n ON b.w2 = n.w2
    CROSS JOIN tot t
    WHERE b.c12 >= {_L54_MIN_COUNT}
    """,
    priority="P2",
)
def l54_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram LM estimation (Kneser & Ney
    1995; Chen & Goodman 1999 eq. 4.23, fixed discount D=0.75) — the
    n-gram LM TRAINER the corpus pipeline pairs with l43's scorer:
    P(w2|w1) = (c12−D)/c1 + (D·N1+(w1,·)/c1) · N1+(·,w2)/N_types.
    The continuation counts N1+ (HOW MANY contexts a word follows,
    not how often) are what distinguish KN from Katz — "San
    Francisco" inflates c(Francisco) but not N1+(·,Francisco).
    Summed over the full vocabulary the estimate is exactly
    normalized (pinned in the hypothesis property). Every count is
    an exact bigint; p_kn is one shared IEEE tree over exact-double
    casts (the d22 rule — no rounding anywhere).

    Scale shape: bigram extraction is a per-row ARRAY transform
    fused onto the scan (no window, no self-join — token position
    never shuffles); ONE (w1,w2) map-side-combined agg builds the
    count table, and all three statistic tables (context, forward
    continuation, reverse continuation) are RE-AGGREGATIONS of that
    bigram table — the corpus is scanned once. N_types is a 1-row
    broadcast (d29 pattern). At 100 TB the ctx/cont joins stay
    word-keyed (Zipf-bounded); the production variant broadcasts the
    top-K vocabulary and folds the tail into one OOV row (the l42
    idiom)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    bg = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS w1,"
                    " element_at(t, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
    )
    # bg feeds three re-aggregations and the final join; persist so
    # the bigram shuffle runs once.
    bg = persist(bg)
    ctx = bg.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1fwd"),
    )
    cont = bg.groupBy("w2").agg(F.count("*").cast("long").alias("n1rev"))
    tot = bg.agg(F.count("*").cast("long").alias("ntypes"))
    p_kn = (
        f"(CAST(c12 AS DOUBLE) - {_L54_DISCOUNT}D) / CAST(c1 AS DOUBLE)"
        f" + ({_L54_DISCOUNT}D * CAST(n1fwd AS DOUBLE) / CAST(c1 AS DOUBLE))"
        " * (CAST(n1rev AS DOUBLE) / CAST(ntypes AS DOUBLE))"
    )
    return (
        bg.filter(F.col("c12") >= _L54_MIN_COUNT)
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", "c1", "n1fwd", "n1rev", F.expr(p_kn).alias("p_kn"))
    )


@register(
    "l55_tokenizer_fertility",
    oracle=r"""
    WITH per AS (
      SELECT lang, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
             CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    ), per2 AS (
      SELECT *, n_bpe * 100 // n_ws AS f100 FROM per
    ), base AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
             CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM per2 GROUP BY lang, source
    ), pp AS (
      SELECT lang, source, f100, CAST(count(*) AS BIGINT) AS w
      FROM per2 GROUP BY lang, source, f100
    ), cum AS (
      SELECT lang, source, f100,
             sum(w) OVER (PARTITION BY lang, source ORDER BY f100) AS cumw,
             sum(w) OVER (PARTITION BY lang, source) AS total
      FROM pp
    ), med AS (
      SELECT lang, source, min(f100) AS med_bpe_per_100ws
      FROM cum WHERE 2 * cumw >= total GROUP BY lang, source
    )
    SELECT b.lang, b.source, b.n_docs, b.ws_tokens, b.bpe_tokens, b.chars,
           CAST(b.bpe_tokens AS DOUBLE) / CAST(b.ws_tokens AS DOUBLE)
             AS fertility,
           CAST(b.chars AS DOUBLE) / CAST(b.bpe_tokens AS DOUBLE)
             AS chars_per_bpe,
           m.med_bpe_per_100ws
    FROM base b JOIN med m ON b.lang = m.lang AND b.source = m.source
    """,
    priority="P2",
)
def l55_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility profile per (lang, source) — the
    vocabulary-design diagnostic every multilingual pipeline tracks
    (Ács 2019; fertility ≈ subword tokens per word): languages the
    tokenizer segments poorly burn context length and train slower,
    so fertility drives vocab allocation and sampling temperature.
    Uses l16's exact BPE-ish pre-merge segmentation (letter runs /
    digit runs / single punctuation); corpus-level fertility and
    chars-per-token are exact-bigint sums with ONE IEEE division
    each (e04 rule); the distribution's centre rides as the exact
    integer lower-median of per-doc bpe·100 DIV ws (the d26 rule —
    no float median anywhere).

    Scale shape: the per-doc stage is pure JVM regexp/size
    expressions fused onto the scan; ONE (lang, source) agg with
    map-side combine for the sums, and the median rides the d26
    distinct-value compression ((lang, source, f100) agg → window
    over |distinct f100| rows per group, never raw docs). Group
    count is #langs × #sources — tiny forever."""
    d = table(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    per = d.select(
        "lang",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_ws"),
        F.regexp_count("text", F.lit(pat)).cast("long").alias("n_bpe"),
        F.col("n_chars").cast("long").alias("n_chars"),
    ).withColumn("f100", F.expr("n_bpe * 100 DIV n_ws"))
    base = per.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_ws").cast("long").alias("ws_tokens"),
        F.sum("n_bpe").cast("long").alias("bpe_tokens"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    pp = per.groupBy("lang", "source", "f100").agg(
        F.count("*").cast("long").alias("w")
    )
    w_cum = Window.partitionBy("lang", "source").orderBy("f100")
    w_all = Window.partitionBy("lang", "source")
    med = (
        pp.select(
            "lang",
            "source",
            "f100",
            F.sum("w").over(w_cum).alias("cumw"),
            F.sum("w").over(w_all).alias("total"),
        )
        .filter(2 * F.col("cumw") >= F.col("total"))
        .groupBy("lang", "source")
        .agg(F.min("f100").alias("med_bpe_per_100ws"))
    )
    return base.join(med, ["lang", "source"]).select(
        "lang",
        "source",
        "n_docs",
        "ws_tokens",
        "bpe_tokens",
        "chars",
        (F.col("bpe_tokens").cast("double") / F.col("ws_tokens").cast("double")).alias(
            "fertility"
        ),
        (F.col("chars").cast("double") / F.col("bpe_tokens").cast("double")).alias(
            "chars_per_bpe"
        ),
        "med_bpe_per_100ws",
    )


#: l56: cosine threshold above which two same-cluster embeddings are
#: semantic duplicates (rounded-sim grid, rule r3).
_L56_TAU = "0.3"


def _o_l56() -> str:
    """DuckDB mirror of the SemDeDup pipeline (assign → same-cluster
    pairs → min-id survivor rule); cosine folds mirrored exactly."""
    cos_ac = o_cosine("e.embedding", "c.centroid", _DIM)
    cos_ab = o_cosine("a.embedding", "b.embedding", _DIM)
    return f"""
    WITH centroids AS (
      {o_systematic_centroids()}
    ), assign0 AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cos_ac} DESC, c.centroid_id) AS rn
      FROM embeddings e CROSS JOIN centroids c
    ), assigned AS (
      SELECT vec_id, embedding, centroid_id AS cluster
      FROM assign0 WHERE rn = 1
    ), pairs AS (
      SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
             round({cos_ab}, 3) AS sim
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ), killers AS (
      SELECT id_b AS vec_id, CAST(min(id_a) AS BIGINT) AS dup_of,
             max(sim) AS max_sim
      FROM pairs WHERE sim >= {_L56_TAU} GROUP BY id_b
    )
    SELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster,
           CAST(CASE WHEN k.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_kept,
           k.dup_of, k.max_sim
    FROM assigned s LEFT JOIN killers k ON s.vec_id = k.vec_id
    """


def _semdedup_from_assigned(assigned: DataFrame) -> DataFrame:
    """The SemDeDup tail shared by l56, its round-14 IMI-sized
    variant, and (via the same composition) l70 stage 4: given the
    assignment frame (vec_id, embedding, __nrm, cluster), run the
    per-cluster Arrow pair kernel, apply the contract round+τ cut in
    Spark on the bit-identical raws, and attach the min-id killer
    table to the spine. Extracting this changes NO plan for l56 —
    same calls in the same order (pure refactor; the driver hash
    grade and the pair-for-pair pytest pin both cover it)."""
    from hadoop_release_spark.operators.similarity import (
        semdedup_pairs_arrow,
    )

    # assigned feeds both pair sides and the output spine; persist so
    # the assignment pass runs once.
    assigned = persist(assigned)
    # Pair stage as the per-cluster Arrow kernel (round 12 —
    # semdedup_pairs_arrow): the groupBy IS the cluster-keyed
    # corpus shuffle the hinted pair join paid (same exchange,
    # nothing broadcast — the l58 rule, pinned in test_plans.py),
    # but the lower-triangle m×m cosine block runs SIMD-chunked and
    # only raw ≥ τ−6e-4 candidates reach the JVM. The CONTRACT sim
    # (HALF_UP 3dp round) and the ≥ τ cut are computed by Spark on
    # the bit-identical raws — survivors pinned pair-for-pair vs the
    # join form in tests/test_similarity.py.
    pairs = (
        semdedup_pairs_arrow(assigned, float(_L56_TAU), _DIM)
        .select(
            "id_b",
            "id_a",
            F.round(F.col("__raw"), 3).alias("sim"),
        )
        .filter(F.col("sim") >= F.expr(_L56_TAU))
    )
    killers = pairs.groupBy("id_b").agg(
        F.min("id_a").cast("long").alias("dup_of"),
        F.max("sim").alias("max_sim"),
    )
    # The killer table is corpus-sized in the worst case (every
    # shadowed vector) and stat-less — force the shuffle join so the
    # spine attach never broadcasts it at scale (the l58 rule).
    return (
        assigned.join(
            killers.hint("shuffle_hash"),
            assigned.vec_id == killers.id_b,
            "left",
        )
        .select(
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
            F.when(F.col("id_b").isNull(), 1).otherwise(0).cast("long").alias(
                "is_kept"
            ),
            "dup_of",
            "max_sim",
        )
    )


@register("l56_semdedup", oracle=_o_l56(), priority="P2")
def l56_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    embedding cosine INSIDE k-means clusters — the web-scale recipe
    that made semantic dedup tractable for LAION/LLM corpora: pairs
    are only examined within a cluster, so the quadratic blow-up is
    bounded by cluster size, not corpus size. Survivor rule is
    deterministic low-id preference: a vector is dropped iff some
    LOWER-id vector in its cluster has rounded cosine ≥ τ (the
    paper keeps one random point per ε-ball; low-id is the
    reproducible equivalent — and slightly more aggressive than
    greedy-on-kept, since a dropped middle vector still shadows its
    own neighbors; documented, pinned in pytest). Output: one row
    per vector with (cluster, is_kept, dup_of = lowest shadowing
    id, max_sim).

    Scale shape: the centroid set is collected into the Arrow
    assignment kernel (rank_clusters_arrow — per-batch argmax,
    corpus never shuffles for assignment); the pair stage is
    ONE cluster-keyed exchange (the applyInPandas groupBy — round-12
    form: the per-cluster lower-triangle cosine block runs inside
    the chunked semdedup_pairs_arrow kernel, replacing the hinted
    pair self-join whose Σ|cluster|² interpreted folds measured
    >570 s at gen_sf sf10), so pair work is Σ|cluster|² SIMD flops —
    with k-means K ≈ √N clusters this is the SemDeDup contract (the
    paper's K=50k on LAION); the adaptive-stride systematic centroid
    sample (K = ⌊√N⌋, systematic_centroids — the paper's own sizing
    rule) stands in for the l21 k-means trainer exactly as in l19.
    No transitive closure pass (l22 covers that); the min-id rule is
    one group-agg over threshold pairs."""
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
        systematic_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    centroids = systematic_centroids(e)
    # Assignment (argmin = rank 1) via the Arrow kernel —
    # bit-identical to the declarative crossJoin + fold + window
    # (same IEEE order and tie rule; kernel parity pinned in
    # tests/test_similarity.py) and carries the per-vector norm out
    # of the same pass, so pair scoring below costs one dot fold
    # (the l58 rule). The 10×-scale rehearsal measured the
    # interpreted-fold assignment as l56's whole 59 s / 36× wall
    # growth; the kernel runs it in ~5 s (BENCH round-8 notes).
    assigned = rank_clusters_arrow(e, centroids, 1, _DIM).select(
        "vec_id", "embedding", "__nrm", "cluster"
    )
    return _semdedup_from_assigned(assigned)


def l56_semdedup_imi(
    spark: SparkSession,
    sf_dir: str,
    stride: int | None = 64,
    nprobe: int = 8,
    probe_all: bool = False,
) -> DataFrame:
    """SemDeDup on the round-14 two-level (IMI-style) quantizer —
    the shipped form of the O(N^1.5) exit the l56/l58/l76 tripwires
    have named since round 8 (round-13 verdict item 3). NOT a §2
    registry row (contract freeze: l56's flat-√N sizing IS its
    graded oracle contract); this variant exists for the scale
    rehearsal and is pinned two ways instead:

    * degenerate equality — with ``stride=None`` (adaptive ⌊√N⌋ =
      the l56 contract sizing) and ``probe_all=True``, the two-level
      assignment provably reproduces the flat argmax (see
      rank_clusters_two_level), so this function's output equals
      registered l56 PAIR-FOR-PAIR (tests/test_similarity.py).
    * scale shape — the default FIXED stride makes K ∝ N, so the
      SemDeDup pair stage Σ|cluster|² is bounded by stride·N
      (LINEAR, vs the flat sizing's N^1.5) and assignment costs
      2·√(nprobe·K)·dim per vector instead of K·dim. Measured
      decade-2 row: SCALE_REHEARSAL.json["decade2"]["l56_semdedup_imi"].

    The honest residue (SCALE.md): per-vector assignment work is
    still Θ(√N) flops — a ~2.8× smaller constant at nprobe=8/s=64,
    not a lower exponent; the next exits (third sampling level,
    multi-sequence cell ranking) are documented there."""
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_two_level,
    )

    e = table(spark, sf_dir, "embeddings")
    assigned = rank_clusters_two_level(
        e,
        _DIM,
        k=1,
        stride=stride,
        nprobe_coarse=nprobe,
        probe_all=probe_all,
    ).select("vec_id", "embedding", "__nrm", "cluster")
    return _semdedup_from_assigned(assigned)


#: l58 self-kNN parameters (mirror l19's probe depth).
_L58_K = 5
_L58_NPROBE = 4


def _o_l58() -> str:
    cos_ac = o_cosine("e.embedding", "c.centroid", _DIM)
    cos_qc = o_cosine("q.embedding", "c.centroid", _DIM)
    cos_aq = o_cosine("a.embedding", "p.qe", _DIM)
    return f"""
    WITH centroids AS (
      {o_systematic_centroids()}
    ), assign0 AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cos_ac} DESC, c.centroid_id) AS rn
      FROM embeddings e CROSS JOIN centroids c
    ), assigned AS (
      SELECT vec_id, embedding, centroid_id AS cluster
      FROM assign0 WHERE rn = 1
    ), probes0 AS (
      SELECT q.vec_id AS query_id, q.embedding AS qe, c.centroid_id,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {cos_qc} DESC, c.centroid_id) AS rn
      FROM embeddings q CROSS JOIN centroids c
    ), probes AS (
      SELECT query_id, qe, centroid_id AS cluster
      FROM probes0 WHERE rn <= {_L58_NPROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id, round({cos_aq}, 3) AS score
      FROM assigned a JOIN probes p ON a.cluster = p.cluster
      WHERE a.vec_id <> p.query_id
    ), ranked AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rn
      FROM cand)
    SELECT query_id, vec_id, score FROM ranked WHERE rn <= {_L58_K}
    """


@register("l58_knn_self_join", oracle=_o_l58(), priority="P2")
def l58_knn_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide self-kNN join via IVF — EVERY vector gets its
    top-{{k}} neighbors, the all-pairs similarity join that l09's
    BroadcastNestedLoopJoin allowlist entry names as its exit path:
    where l09 bounds the query side (vec_id < 20) and l19 bounds it
    to 5 probes, here the query set IS the corpus, so nothing may
    broadcast except the centroid table. Candidates come only from
    each query's {{nprobe}} nearest clusters; scores are r3-rounded
    mirrored cosine folds, rankings id-tie-broken (rule 5).

    Scale shape: the probe table (corpus × nprobe slim rows) joins
    the assigned corpus on CLUSTER with a shuffle hash join — both
    sides corpus-scale, NEITHER broadcast (the deliberate contrast
    with l19's bounded-query broadcast); work is Σ_cluster
    |members|·|probes-to-it| — the IVF contract. Per-query top-k
    windows partition by query_id. Two CPU rules for the hot path:
    (a) the corpus × centroid similarity table ranks ONCE — cluster
    assignment is rank 1 and the probe list is rank ≤ nprobe of the
    SAME ordering, so the centroid cosines aren't paid twice; (b)
    per-vector L2 norms are computed once per VECTOR and carried as
    a scalar, so each candidate pair costs one dot fold instead of
    three (norms recomputed per pair were 2/3 of the pair work —
    higher-order array folds don't enter codegen). Identical IEEE
    values: same ops on the same inputs, reused not recomputed. At
    100 TB the assigned table is written bucketed by cluster so this
    join co-locates without a shuffle (c15 pattern); self-recall vs
    brute force is pinned in tests/test_similarity.py.

    COMPLEXITY, stated honestly (round-9 rehearsal finding): with
    the adaptive K = ⌊√N⌋ quantizer (systematic_centroids — the
    round-9 fix for the fixed-stride rule that scaled K linearly
    and measured 53× on the sf1→sf10 decade), assignment/probing
    cost N·√N kernel flops and the candidate stage scores
    N·nprobe·√N pairs — O(N^1.5) BY DESIGN. A fixed-nprobe IVF
    self-join cannot be linear at fixed recall; expect a per-decade
    wall ratio near √10·10 ≈ 31×, and read SCALE_REHEARSAL.json's
    decade2 row against THAT bar, not the ~10× linear bar. The
    100 TB levers are constant-factor and amortization, all
    composable from ops this repo ships: cluster-bucketed ingest
    (assignment leaves the query path entirely), the two-level
    (IMI-style) probe ranking — SHIPPED round 14 as
    l58_knn_self_imi / rank_clusters_two_level, measured decade-2
    10.4× at a 2.6×-smaller sf10 wall vs this flat form's 22.1×
    (SCALE.md) — and PQ-compressed lists (l71) shrinking the
    per-candidate cost 16×."""
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
        score_candidates_arrow,
        systematic_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    centroids = systematic_centroids(e)
    # Centroid ranking via the Arrow kernel — bit-identical to the
    # crossJoin + cosine-fold + rank-window form it replaces (same
    # IEEE addition order, same tie rule; pinned in
    # tests/test_similarity.py) but the N×K similarity matrix stays
    # inside one SIMD batch kernel instead of N×K interpreted-fold
    # rows: the 10×-scale rehearsal measured the declarative
    # assignment at 59 s / 20× superlinear wall growth, the kernel
    # at ~5 s (BENCH round-8 notes).
    ranked = rank_clusters_arrow(e, centroids, _L58_NPROBE, _DIM)
    return _l58_from_ranked(ranked)


def _l58_from_ranked(ranked: DataFrame) -> DataFrame:
    """The l58 tail shared with the round-14 IMI-ranked variant:
    given (vec_id, embedding, __nrm, cluster, __rn ≤ nprobe) — the
    rank_clusters_arrow contract — derive assignment (rank 1) and
    probes (all ranks), score candidates per cluster, rank top-k per
    query. Extracting this changes NO plan for l58 (pure refactor;
    driver hash grade + the recall pytest cover it)."""
    from hadoop_release_spark.operators.similarity import (
        score_candidates_arrow,
    )

    # Dataset.alias on each branch root: when `ranked` contains a
    # JOIN (the two-level form's spine attach), the cogroup below is
    # a self-join of two descendants and Spark's ambiguous-self-join
    # check rejects the shared `cluster` attribute; the aliases are
    # SubqueryAlias nodes the optimizer eliminates, so the flat
    # form's physical plan is byte-identical.
    assigned = ranked.alias("__l58a").filter(F.col("__rn") == 1).select(
        "vec_id", "embedding", "__nrm", "cluster"
    )
    probes = ranked.alias("__l58p").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("__nrm").alias("__qnrm"),
        "cluster",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    # Candidate scoring through the per-cluster Arrow kernel
    # (score_candidates_arrow): the cogroup IS the cluster-keyed
    # shuffle the join version paid — both sides corpus-scale,
    # NEITHER broadcast (the l09 anti-shape; pinned in
    # test_plans.py) — but the member×probe cosine block runs
    # vectorized and only top-k-with-margin survivors per (probe,
    # cluster) reach the JVM. The contract score is Spark's own
    # round of the kernel's bit-identical raw cosine; the global
    # window over per-cluster winners is exact (every global top-k
    # member is a within-cluster winner for its probe).
    cand = score_candidates_arrow(assigned, probes, _L58_K, _DIM)
    return (
        cand.select(
            "query_id",
            "vec_id",
            F.round(F.col("__raw"), 3).alias("score"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _L58_K)
        .drop("__rn")
    )


def l58_knn_self_imi(
    spark: SparkSession,
    sf_dir: str,
    stride: int | None = 64,
    nprobe_coarse: int = 8,
    probe_all: bool = False,
    nprobe_fine: int | None = None,
) -> DataFrame:
    """l58 with BOTH quantizer stages on the round-14 two-level
    (IMI) path: assignment AND top-nprobe probe ranking ride
    rank_clusters_two_level (the probe-ranking lever l58's own
    docstring has named since round 9). NOT a §2 row (freeze; flat
    l58 is the graded contract). Pins, the l56_semdedup_imi
    treatment: degenerate config (stride=None, probe_all=True)
    provably reproduces the flat ranking, so this output equals
    registered l58 row-for-row (tests/test_similarity.py); the
    default fixed-stride config is the scale shape — K ∝ N lists of
    ~stride members each, so the candidate stage scores
    N·nprobe·stride pairs (LINEAR, vs the flat sizing's
    N·nprobe·√N), with the Θ(√(N/s)) coarse-scan residue documented
    in SCALE.md. Measured decade-2 row:
    SCALE_REHEARSAL.json["decade2"]["l58_knn_self_imi"].

    ``nprobe_fine`` (default: l58's own nprobe) is the RECALL knob
    the finer quantizer exposes: fixed-stride lists hold ~stride
    members instead of ~√N, so at equal probe count the candidate
    coverage is stride/√N of the flat form's; standard IVF practice
    scales probes with list count (nprobe_fine ≈ nprobe·√N/stride
    restores equal coverage while the candidate stage stays
    nprobe_fine·stride ≈ nprobe·√N per query — the flat form's
    per-query volume, paid over smaller, more selective lists). The
    degenerate pin uses the default."""
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_two_level,
    )

    e = table(spark, sf_dir, "embeddings")
    ranked = rank_clusters_two_level(
        e,
        _DIM,
        nprobe_fine or _L58_NPROBE,
        stride=stride,
        nprobe_coarse=nprobe_coarse,
        probe_all=probe_all,
    )
    # localCheckpoint (lazy): `ranked` ends in a JOIN here (the
    # two-level spine attach) and feeds BOTH cogroup sides of the
    # candidate scorer — without truncation that is a self-join of
    # a shared join subtree, which (a) trips Spark's ambiguous-
    # self-join analyzer check (Dataset.alias does not clear it for
    # a shared-join lineage) and (b) would recompute the whole
    # two-level ranking once per side. Materializing it once is the
    # CC-loop precedent.
    return _l58_from_ranked(lazy_local_checkpoint(ranked))


#: l76 bucket count for the cluster-bucketed IVF index. Local value;
#: at 100 TB size it so one bucket's lists fit an executor's memory
#: (buckets ≫ cores, like shuffle partitions — bucketing replaces the
#: shuffle, it must not UNDER-partition relative to it).
_L76_BUCKETS = 32


def _l76_index_table(key: str) -> str:
    """Catalog name for the l76 bucketed index, keyed on the source
    dir exactly like ``fixed_scratch_dir`` keys its path (md5[:8]) —
    a FIXED name would let a concurrent session grading a different
    sf silently re-point an already-built-but-not-yet-collected
    DataFrame at the wrong index, since ``spark.table()`` is lazy
    (advisor find, round 12)."""
    import hashlib

    return f"l76_ranked_idx_{hashlib.md5(key.encode()).hexdigest()[:8]}"


def _quantizer_digest(centroids: DataFrame) -> str:
    """md5 over the sorted (centroid_id, float32 bytes) rows — the
    identity of an IVF index's FROZEN quantizer. Collected under the
    same bounded-collect tripwire as the assignment kernel (the
    quantizer is √N-ish by contract; an oversized one must fail
    loudly here exactly as it would inside rank_clusters_arrow)."""
    import hashlib

    import numpy as np

    from hadoop_release_spark.operators.similarity import _collect_centroids

    h = hashlib.md5()
    for r in _collect_centroids(centroids, "quantizer digest"):
        h.update(int(r["centroid_id"]).to_bytes(8, "little", signed=True))
        h.update(np.asarray(r["centroid"], dtype=np.float32).tobytes())
    return h.hexdigest()


def _l76_sidecar(key: str) -> str:
    from hadoop_release_spark.sources.roundtrip import fixed_scratch_dir

    return f"{fixed_scratch_dir('l76bucketed', key)}/quantizer.json"


def ingest_bucketed_index(
    spark: SparkSession,
    embeddings: DataFrame,
    centroids: DataFrame,
    key: str,
) -> DataFrame:
    """Build (or rebuild) the l76 standing index: run the assignment
    kernel ONCE over ``embeddings`` against ``centroids`` and write
    the ranked rows (vec packed float32, norm, cluster, __rn ≤
    nprobe) as a table BUCKETED by cluster, so every later probe
    cogroups Exchange-free. Returns the lazy table DataFrame.
    Overwrite-safe per ``key`` — distinct scales get distinct table
    names AND distinct paths, so they cannot alias.

    Alongside the data, a ``quantizer.json`` sidecar records the
    frozen quantizer's digest plus the table's DDL and bucket spec —
    the durable half of the standing-index contract: appends verify
    the digest (a drifted quantizer corrupts the index silently),
    and a FRESH session re-registers the catalog entry from the
    sidecar (saveAsTable metadata lives in the in-memory catalog and
    dies with the session; the parquet + sidecar are what persist,
    exactly like a metastore-less deployment restarting)."""
    import json

    from hadoop_release_spark.operators.similarity import rank_clusters_arrow
    from hadoop_release_spark.sources.roundtrip import fixed_scratch_dir

    # pack_vectors: the index stores each vector as one dim·4-byte
    # float32 buffer — the rank fan-out duplicates every vector
    # nprobe×, and the buffer form crosses parquet and BOTH Arrow
    # boundaries as one buffer per row instead of a per-element
    # list (identical float32 bits; l76==l58 pinned).
    ranked = rank_clusters_arrow(
        embeddings, centroids, _L58_NPROBE, _DIM, pack_vectors=True
    )
    name = _l76_index_table(key)
    base = fixed_scratch_dir("l76bucketed", key)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        ranked.write.bucketBy(_L76_BUCKETS, "cluster")
        .option("path", f"{base}/ranked")
        .mode("overwrite")
        .saveAsTable(name)
    )
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in ranked.schema.fields
    )
    with open(_l76_sidecar(key), "w") as fh:
        json.dump(
            {
                "quantizer_digest": _quantizer_digest(centroids),
                "buckets": _L76_BUCKETS,
                "ddl": ddl,
                "path": f"{base}/ranked",
            },
            fh,
        )
    return spark.table(name)


def append_to_bucketed_index(
    spark: SparkSession,
    delta: DataFrame,
    centroids: DataFrame,
    key: str,
) -> DataFrame:
    """Incremental-append ingest — the nightly 100 TB shape: a
    slowly-growing corpus re-probes a STANDING index, and only the
    day's delta should pay assignment. The delta alone passes
    ``rank_clusters_arrow`` against the index's FROZEN centroids
    (an IVF index's quantizer is immutable between rebuilds — that
    is what makes delta-assignment ≡ full re-assignment row-for-row)
    and is appended into the existing buckets; Spark validates the
    bucket spec matches, so bucket-pruned Exchange-free probes keep
    working on the grown table.

    Two tripwires guard the standing-index contract (review finds,
    round 13):
    * QUANTIZER FREEZE — the passed centroids' digest must equal the
      sidecar's ingest-time digest. A caller that recomputes
      centroids over the grown corpus (the natural mistake) would
      append rows assigned under a DIFFERENT quantizer and corrupt
      every subsequent probe silently; this raises instead.
    * CROSS-SESSION — if the catalog lacks the table (fresh session;
      saveAsTable metadata is session-scoped) but the sidecar and
      bucketed parquet persist, the table is RE-REGISTERED from the
      sidecar's DDL + bucket spec + path, so the advertised nightly
      shape actually works across sessions. Only when neither the
      catalog entry nor the sidecar exists is there genuinely no
      standing index, and that raises.

    Pinned in tests/test_similarity.py: base-ingest + delta-append
    == one-shot full ingest on a planted split, row for row, plus
    both tripwires. Returns the lazy (grown) table DataFrame."""
    import json
    import os

    from hadoop_release_spark.operators.similarity import rank_clusters_arrow

    name = _l76_index_table(key)
    sidecar = _l76_sidecar(key)
    meta = None
    if os.path.exists(sidecar):
        with open(sidecar) as fh:
            meta = json.load(fh)
    if not spark.catalog.tableExists(name):
        if meta is None or not os.path.isdir(meta["path"]):
            raise RuntimeError(
                f"append_to_bucketed_index: no standing index table"
                f" {name!r} for key={key!r} — run ingest_bucketed_index"
                " first (append without a base would silently create"
                " an unbucketed table)."
            )
        spark.sql(
            f"CREATE TABLE {name} ({meta['ddl']}) USING parquet"
            f" CLUSTERED BY (cluster) INTO {meta['buckets']} BUCKETS"
            f" LOCATION '{meta['path']}'"
        )
    if meta is not None:
        got = _quantizer_digest(centroids)
        if got != meta["quantizer_digest"]:
            raise RuntimeError(
                "append_to_bucketed_index: quantizer digest mismatch"
                f" ({got} != ingest-time {meta['quantizer_digest']})"
                " — the standing index's centroids are FROZEN between"
                " rebuilds; assigning a delta under different"
                " centroids would corrupt every subsequent probe."
                " Pass the ingest-time centroids, or rebuild with"
                " ingest_bucketed_index."
            )
    ranked = rank_clusters_arrow(
        delta, centroids, _L58_NPROBE, _DIM, pack_vectors=True
    )
    (
        ranked.write.bucketBy(_L76_BUCKETS, "cluster")
        .mode("append")
        .saveAsTable(name)
    )
    return spark.table(name)


@register("l76_knn_self_bucketed", oracle=_o_l58(), priority="P2")
def l76_knn_self_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l58's corpus-wide IVF self-kNN with the CLUSTER-BUCKETED
    staging its docstring promises (the c15 pattern applied to the
    IVF index): the Arrow-ranked table (vec, norm, cluster, rank ≤
    nprobe) is written ONCE, bucketed by cluster, and BOTH cogroup
    sides — the assigned corpus (rank 1) and the probe list (all
    ranks) — are filters/projections of that one bucketed read. Same
    centroids, same kernels, same rounding, so the result is
    row-for-row identical to l58 (pinned) and the oracle is l58's
    verbatim.

    What the bucketing buys (the production posture at 100 TB):
    * The cluster-keyed EXCHANGE under l58's cogroup is GONE — both
      children arrive hash-distributed by cluster straight off the
      bucketed files, so Spark plans the cogroup with no shuffle on
      either side (plan-pinned in tests/test_plans.py). The only
      remaining exchange is the slim per-query top-k window.
    * The N×K assignment kernel runs ONCE, at ingest. l58's plan
      embeds rank_clusters_arrow in BOTH cogroup children (no common
      subplan is reused across the two sides), so it pays the
      N·√N·dim assignment flops twice per query; here they are paid
      once and amortize over EVERY subsequent probe of the index —
      assignment leaves the query path entirely, which is the
      levers list in l58's complexity note made real.
    * Repeated / incremental workloads (the actual 100 TB shape:
      nightly self-join over a slowly-growing corpus) re-read the
      standing index and pay ONLY scoring; appended vectors are
      assigned incrementally and appended to their buckets via
      :func:`append_to_bucketed_index` (delta-only assignment
      against the frozen quantizer; pinned delta-append == full
      re-ingest in tests/test_similarity.py; measured at gen_sf
      sf10: a 10% delta appends in 6.0 s vs 48.3 s full re-ingest,
      append/full = 0.124 ≈ the delta fraction).

    COMPLEXITY: scoring work is unchanged — N·nprobe·√N kernel flops
    by the same √N-list IVF contract as l58, O(N^1.5) BY DESIGN (the
    ~31×/decade design bound; read SCALE_REHEARSAL.json's row against
    that bar, NOT the ~10× linear bar). Reading the two variants'
    decade RATIOS against each other is denominator-confounded and
    misleading: l76's sf1 wall is ~half of l58's (no duplicated
    assignment, no cluster shuffle), so at equal-or-lower sf10 walls
    its ratio prints LARGER — compare the per-scale WALLS in
    SCALE_REHEARSAL.json instead. The measured production win is
    AMORTIZATION: on the staged index the per-run query path at
    gen_sf sf10 is ~½ of either variant's one-shot wall (measured:
    ingest 46.3 s once per corpus, then a query-path median of
    53.1 s over 3 reps; sf1: 6.0 s ingest, 2.5 s query median) —
    the ingest (assignment + bucketed write) is paid once per
    corpus, and a one-shot run is the WORST case for this op, the
    only case the registered form can show.

    Local staging writes to a fixed scratch dir (overwrite-safe); at
    scale the bucketed table IS the stored index layout."""
    from hadoop_release_spark.operators.similarity import (
        score_candidates_arrow,
        systematic_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    centroids = systematic_centroids(e)
    idx = ingest_bucketed_index(spark, e, centroids, sf_dir)
    assigned = idx.filter(F.col("__rn") == 1).select(
        "cluster", "vec_id", "embedding", "__nrm"
    )
    probes = idx.select(
        "cluster",
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("__nrm").alias("__qnrm"),
    )
    cand = score_candidates_arrow(assigned, probes, _L58_K, _DIM, packed=True)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        cand.select(
            "query_id",
            "vec_id",
            F.round(F.col("__raw"), 3).alias("score"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _L58_K)
        .drop("__rn")
    )


def _o_l62() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
      FROM toks WHERE len(t) >= 2
    ), dbg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2,
             CAST(count(*) AS BIGINT) AS n12
      FROM pos GROUP BY doc_id, t[i], t[i + 1]
    ), bg AS (
      SELECT w1, w2, CAST(sum(n12) AS BIGINT) AS c12
      FROM dbg GROUP BY w1, w2
    ), ctx AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1fwd
      FROM bg GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS n1rev
      FROM bg GROUP BY w2
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS ntypes FROM bg
    ), scored AS (
      SELECT d.doc_id, d.n12,
             ln((CAST(b.c12 AS DOUBLE) - {_L54_DISCOUNT})
                / CAST(x.c1 AS DOUBLE)
                + ({_L54_DISCOUNT} * CAST(x.n1fwd AS DOUBLE)
                   / CAST(x.c1 AS DOUBLE))
                  * (CAST(n.n1rev AS DOUBLE) / CAST(t.ntypes AS DOUBLE)))
               AS lp
      FROM dbg d
      JOIN bg b ON d.w1 = b.w1 AND d.w2 = b.w2
      JOIN ctx x ON d.w1 = x.w1
      JOIN cont n ON d.w2 = n.w2
      CROSS JOIN tot t
    )
    SELECT doc_id,
           CAST(sum(n12) AS BIGINT) AS n_bigrams,
           CAST(round(-sum(CAST(n12 AS DOUBLE) * lp)
                      / CAST(sum(n12) AS DOUBLE), 6) + 0.0 AS DOUBLE)
             AS avg_nll
    FROM scored GROUP BY doc_id
    """


@register("l62_kn_perplexity", oracle=_o_l62(), priority="P2")
def l62_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity (as average negative log-likelihood)
    under the l54 Kneser–Ney bigram model — the EVAL half of the
    n-gram LM loop (l54 trains, l62 scores) and a sharper
    model-based quality filter than l43's unigram NLL: repetitive
    boilerplate scores low, incoherent word soup scores high, and
    the KN continuation term penalizes un-contextual bigrams
    specifically. Scoring corpus = training corpus here, so every
    bigram has a model entry and p > 0 structurally (a cross-corpus
    eval adds the OOV floor — documented, not silently assumed).
    Per-doc ln sums span ≤ doc-length terms → the d27 discipline:
    raw double terms, one r6 round with the signed-zero guard.

    Scale shape: the doc-bigram table (doc_id, w1, w2, n12) is the
    ONE corpus-derived artifact; the model tables are
    re-aggregations of its global collapse (the l54 topology — one
    corpus scan); scoring joins are word-keyed (Zipf-bounded,
    broadcast-top-K at the tail per l42/l43); N_types rides a 1-row
    broadcast; final per-doc agg map-side combines."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 2)
    dbg = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS w1,"
                    " element_at(t, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").cast("long").alias("n12"))
    )
    # dbg feeds the model collapse AND the scoring join; persist so
    # the corpus-wide explode runs once (l54's argument).
    dbg = persist(dbg)
    bg = dbg.groupBy("w1", "w2").agg(F.sum("n12").cast("long").alias("c12"))
    ctx = bg.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1fwd"),
    )
    cont = bg.groupBy("w2").agg(F.count("*").cast("long").alias("n1rev"))
    tot = bg.agg(F.count("*").cast("long").alias("ntypes"))
    lp = (
        f"ln((CAST(c12 AS DOUBLE) - {_L54_DISCOUNT}D) / CAST(c1 AS DOUBLE)"
        f" + ({_L54_DISCOUNT}D * CAST(n1fwd AS DOUBLE) / CAST(c1 AS DOUBLE))"
        " * (CAST(n1rev AS DOUBLE) / CAST(ntypes AS DOUBLE)))"
    )
    scored = (
        dbg.join(bg, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "n12", F.expr(lp).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n12").cast("long").alias("n_bigrams"),
        (
            F.round(
                -F.sum(F.col("n12").cast("double") * F.col("lp"))
                / F.sum("n12").cast("double"),
                6,
            )
            + F.lit(0.0)
        )
        .cast("double")
        .alias("avg_nll"),
    )


#: l66: shingles seen in more docs than this are boilerplate — they
#: leave the containment universe (skew guard AND semantics: shared
#: boilerplate must not make one doc "contain" another, the l28
#: boilerplate-gram precedent). Bounds any shingle's pair fan-out to
#: ≤ C(50,2).
_L66_MAX_DF = 50

#: l66: emit a pair when the smaller shingle set is at least this
#: contained in the larger (1.0 = exact subset on the rare-shingle
#: universe).
_L66_MIN_CONTAINMENT = 0.5


@register(
    "l66_containment_dedup",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({_O_SHINGLES3}) AS s
      FROM documents
    ), rare AS (
      SELECT s FROM sh GROUP BY s HAVING count(*) <= {_L66_MAX_DF}
    ), shr AS (
      SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)
    ), sz AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh
      FROM shr GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib,
             CAST(count(*) AS BIGINT) AS inter
      FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY ia, ib
    )
    SELECT ia AS id_a, ib AS id_b, inter AS n_shared,
           sa.nsh AS n_a, sb.nsh AS n_b,
           round(CAST(inter AS DOUBLE) / least(sa.nsh, sb.nsh), 3)
             AS containment,
           CASE WHEN sa.nsh < sb.nsh THEN ia
                WHEN sb.nsh < sa.nsh THEN ib
                ELSE least(ia, ib) END AS contained_id
    FROM pairs
    JOIN sz sa ON sa.doc_id = ia
    JOIN sz sb ON sb.doc_id = ib
    WHERE CAST(inter AS DOUBLE) / least(sa.nsh, sb.nsh)
          >= {_L66_MIN_CONTAINMENT}
    """,
    priority="P2",
)
def l66_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-duplicate detection by 3-gram CONTAINMENT —
    |S_a ∩ S_b| / min(|S_a|, |S_b|) — over the full documents table.
    Jaccard (l13) misses subset duplication: a doc quoted whole
    inside a much larger one scores low Jaccard but containment ≈ 1.
    This is the quote/subset screen of corpus dedup (Broder's
    containment measure), reporting each qualifying pair with exact
    shared/size counts, the r3 containment score, and which doc is
    the contained one (smaller shingle set; ties → smaller id).

    Candidate generation is an INVERTED-INDEX join, never all-pairs:
    shingles explode to slim (shingle, doc_id) rows, a df ≤ 50
    frequency guard drops boilerplate shingles (skew
    bound: any surviving shingle fans out to ≤ C(50,2)
    pairs — the l28 boilerplate-gram precedent, and ALSO the right
    semantics: shared boilerplate is not containment, so sizes and
    intersections both live on the rare-shingle universe), then one
    shingle-keyed self-join + pair agg counts intersections. Text
    never shuffles: only (shingle, id, size) rows move. The shared
    ``_O_SHINGLES3`` definition keeps l13 and l66 on one shingling
    rule; the Spark side rides the ``gram_keys`` Arrow kernel (k=3,
    short_doc="empty" — the oracle's range() branch) whose equality
    classes are pinned bijective with the expression form.

    TOPOLOGY (round-13, the l28 rewrite applied here): the posting
    list used to be persisted for its three consumers (sizes + both
    self-join sides) — whose independent leaf stages RACE the cache
    and re-run the shingle explode concurrently — and the df guard
    was a separate agg + join costing one more pass. Now the WHOLE
    query is one chain off ONE shingle-keyed exchange whose map
    stage runs the kernel once: the df guard rides a window over it
    (window-output filters cannot push below the window, so the
    exchange subtree stays identical across branches and AQE reuses
    the single shuffle stage — pinned in test_plans.py), per-doc
    sizes ride a second window (doc_id) so every posting carries
    its doc's nsh and the pair agg takes min() of the constant —
    the old size-reattach joins (whose separate corpus consumer was
    a kernel pass the reuse cache missed) are gone, and the
    self-join's two sides arrive from the reused stage. Keys are
    64-bit longs (join-internal — the oracle replays shingle
    equality with its own text keys; the kernel key replaced the
    16-byte md5 VALUE of round 11, same injectivity contract, half
    the shuffle payload, collisions ~n²/2⁶⁴ as documented on
    gram_keys). Trade: a hotter-than-cap shingle buffers df rows in
    its window group before the filter drops it (WindowExec spills;
    the old agg form shrank map-side) — accepted for the removed
    explode passes; the exit at pathological heat is the two-pass agg
    form documented in SCALE.md."""
    from hadoop_release_spark.operators.dedup import gram_keys

    d = table(spark, sf_dir, "documents")
    # (spread_small_scan deliberately NOT applied: gram_keys is the
    # cheap factorize+integer kernel — measured A/B r16, the added
    # rebalance exchange costs what the parallel kernel saves.)
    sh = d.select(
        "doc_id",
        F.explode(gram_keys(F.col("text"), 3, short_doc="empty")).alias("s"),
    ).repartition("s")
    wdf = Window.partitionBy("s")
    shr = sh.withColumn("__dfreq", F.count("*").over(wdf)).filter(
        F.col("__dfreq") <= _L66_MAX_DF
    )
    # Per-doc rare-shingle count as a SECOND window (doc_id) in the
    # same chain: every posting row carries its doc's size, so the
    # pair join's output already holds n_a/n_b and the old two
    # size-reattach joins (plus their own corpus consumer — a THIRD
    # kernel pass the reuse cache missed) disappear. n is constant
    # within a (doc) group, so min() over the pair group is exact.
    wsz = Window.partitionBy("doc_id")
    g3 = shr.withColumn("nsh", F.count("*").over(wsz).cast("bigint"))
    a = g3.select(F.col("doc_id").alias("ia"), "s", F.col("nsh").alias("n_a"))
    b = g3.select(F.col("doc_id").alias("ib"), "s", F.col("nsh").alias("n_b"))
    pairs = (
        a.join(b, ["s"])
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(
            F.count("*").cast("bigint").alias("inter"),
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
        )
    )
    cont = F.col("inter").cast("double") / F.least("n_a", "n_b").cast(
        "double"
    )
    return (
        pairs.filter(cont >= _L66_MIN_CONTAINMENT)
        .select(
            F.col("ia").alias("id_a"),
            F.col("ib").alias("id_b"),
            F.col("inter").alias("n_shared"),
            "n_a",
            "n_b",
            F.round(cont, 3).alias("containment"),
            F.when(F.col("n_a") < F.col("n_b"), F.col("ia"))
            .when(F.col("n_b") < F.col("n_a"), F.col("ib"))
            .otherwise(F.least("ia", "ib"))
            .alias("contained_id"),
        )
    )


#: l67 — DSIR hashed-feature space: 128 buckets is the contract
#: constant (the paper uses 10⁴ hashed n-gram buckets; the BUCKET
#: COUNT is a quality knob, not a scale knob — the dataflow is
#: identical at any B, and 128 keeps the grid readable in tests).
_L67_B = 128


def _o_l67() -> str:
    return f"""
    WITH lc AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang
    ), tgt AS (
      SELECT lang AS target_lang FROM lc ORDER BY n DESC, lang LIMIT 1
    ), toks AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
      FROM documents
    ), btoks AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(tok), 1, 8))::UBIGINT AS BIGINT)
               % {_L67_B} AS bucket
      FROM toks
    ), raw AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS nb FROM btoks
      GROUP BY bucket
    ), tgtb AS (
      SELECT b.bucket, CAST(count(*) AS BIGINT) AS nb
      FROM btoks b CROSS JOIN tgt t WHERE b.lang = t.target_lang
      GROUP BY b.bucket
    ), grid AS (
      SELECT g.g AS bucket FROM unnest(range(0, {_L67_B})) AS g(g)
    ), lr AS (
      SELECT g.bucket,
             ln((CAST(coalesce(t.nb, 0) + 1 AS DOUBLE)
                 / CAST(tn.n + {_L67_B} AS DOUBLE))
                / (CAST(coalesce(r.nb, 0) + 1 AS DOUBLE)
                   / CAST(rn.n + {_L67_B} AS DOUBLE))) AS lr
      FROM grid g
      LEFT JOIN tgtb t ON g.bucket = t.bucket
      LEFT JOIN raw r ON g.bucket = r.bucket
      CROSS JOIN (SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS n
                  FROM tgtb) tn
      CROSS JOIN (SELECT CAST(coalesce(sum(nb), 0) AS BIGINT) AS n
                  FROM raw) rn
    ), perdoc AS (
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             sum(l.lr) AS s
      FROM btoks b JOIN lr l ON b.bucket = l.bucket
      GROUP BY b.doc_id
    )
    SELECT d.doc_id, d.lang,
           CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(round(coalesce(p.s, 0.0), 6) + 0.0 AS DOUBLE) AS logw,
           CAST(CASE WHEN d.lang = t.target_lang THEN 1 ELSE 0 END
                AS INT) AS in_target
    FROM documents d
    LEFT JOIN perdoc p ON d.doc_id = p.doc_id
    CROSS JOIN tgt t
    """


@register("l67_dsir_weights", oracle=_o_l67(), priority="P2")
def l67_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every corpus
    document by how target-like its hashed unigram profile is —
    log w(d) = Σ_tokens [ln p_target(bucket) − ln p_raw(bucket)] —
    the published recipe for selecting pretraining data that matches
    a target distribution without training a model. Target = the
    largest language group (ties by code — d39's reference-selection
    rule); features = lowercased letter runs hashed md5→{_L67_B}
    buckets (the portable hash, l11's rule); both distributions
    Laplace-+1 smoothed over the bucket grid so empty buckets stay
    finite. The FULL scored table is emitted (l48 discipline) so the
    selection threshold / resampling step is a free downstream
    filter.

    Float rule: bucket log-ratios are one shared IEEE tree over
    exact bigint counts; the per-doc sum spans that doc's tokens
    (order noise ~1e-13 ≪ the 5e-7 half-grid — the d27 argument),
    r6 with the +0.0 signed-zero guard; token counts exact.

    Scale shape: ONE token explode feeds three map-side-combined
    aggs — per-bucket raw counts ({_L67_B} rows), per-bucket target
    counts (a broadcast equi-join on the 1-row target lang first),
    and the per-doc (doc_id) sum after a {_L67_B}-row broadcast
    log-ratio lookup — so the only corpus-sized shuffle is the
    per-doc agg of slim (doc_id, lr) rows; text never shuffles.
    Totals fold in as unpartitioned windows over the {_L67_B}-row
    grid (the l29 aggregate-table pattern). At 100 TB the bucket
    grid is a constant and every stage stays one pass."""
    d = table(spark, sf_dir, "documents")
    lc = d.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    tgt = (
        lc.orderBy(F.desc("n"), "lang")
        .limit(1)
        .select(F.col("lang").alias("target_lang"))
    )
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0)
            )
        ).alias("tok"),
    )
    btoks = toks.select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % _L67_B
        ).alias("bucket"),
    )
    # r16: btoks feeds THREE consumers (raw bucket counts, target
    # bucket counts, per-doc scoring) and each unmaterialized read
    # re-ran the tokenize+md5 explode. Persist (slim (id, lang,
    # bucket) token rows): interleaved A/B at
    # sf0.1/local[32] med 1.94 → 1.57 s, rows identical. At corpus
    # scale this is token-level state — MEMORY_AND_DISK spills to
    # local disk, still cheaper than two extra full tokenize passes.
    btoks = persist(btoks)
    raw = btoks.groupBy("bucket").agg(
        F.count("*").cast("long").alias("nb_r")
    )
    tgtb = (
        btoks.join(
            F.broadcast(tgt), btoks.lang == F.col("target_lang")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("nb_t"))
    )
    grid = spark.range(_L67_B).select(F.col("id").cast("long").alias("bucket"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    joined = (
        grid.join(tgtb, "bucket", "left")
        .join(raw, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("nb_t", F.lit(0)).cast("long").alias("nb_t"),
            F.coalesce("nb_r", F.lit(0)).cast("long").alias("nb_r"),
        )
        .withColumn(
            "n_t", F.sum("nb_t").over(w_all).cast("long")
        )
        .withColumn(
            "n_r", F.sum("nb_r").over(w_all).cast("long")
        )
    )
    lr = joined.select(
        "bucket",
        F.log(
            (
                (F.col("nb_t") + 1).cast("double")
                / (F.col("n_t") + _L67_B).cast("double")
            )
            / (
                (F.col("nb_r") + 1).cast("double")
                / (F.col("n_r") + _L67_B).cast("double")
            )
        ).alias("lr"),
    )
    perdoc = (
        btoks.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("lr").alias("s"),
        )
    )
    return (
        d.select("doc_id", "lang")
        .join(perdoc, "doc_id", "left")
        .join(
            F.broadcast(tgt),
            F.col("lang") == F.col("target_lang"),
            "left",
        )
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            (F.round(F.coalesce("s", F.lit(0.0)), 6) + F.lit(0.0))
            .cast("double")
            .alias("logw"),
            F.when(F.col("target_lang").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("in_target"),
        )
    )


@register(
    "l68_minhash_calibration",
    oracle=o_lsh_pair_calibration(),
    priority="P2",
)
def l68_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration on the real corpus: every l02
    LSH candidate pair scored with BOTH the 64-permutation
    signature-agreement estimate ĵ and the exact shingle Jaccard,
    plus their error — the measurement behind "can we replace the
    exact verify stage with the sketch at 100 TB?" (E[ĵ] = J is the
    textbook guarantee; the realized per-pair spread on YOUR corpus
    is what decides whether a ĵ-threshold may replace the exact
    one). Shares every construction with l02 via operators/dedup.py
    — shingling, md5 staging, signatures, banding — so the
    calibration measures exactly the estimator l02 ships.

    Determinism: n_match is an exact integer; ĵ = n_match/64 lands
    on an exact binary grid; jaccard r3 (l02's rule); err r3 of the
    raw ĵ − J with an OUTER +0.0 (a tiny negative error rounds to
    −0.0 in DuckDB's binary round but +0.0 in Spark's HALF_UP —
    the guard normalizes both).

    Scale shape: identical to l02 (one persisted md5 pass, slim
    (id, band, bucket) shuffle, never all-pairs); the only addition
    is that the 64-int signatures re-attach to CANDIDATE pairs by
    key join — they never enter the band exchange, and the pair set
    is LSH-bounded by construction."""
    d = table(spark, sf_dir, "documents")
    return lsh_pair_calibration(d, id_col="doc_id", text_col="text")



@register(
    "l69_langid_confusion",
    oracle=f"""
    WITH preds AS ({_O_L15}), cells AS (
      SELECT lang AS true_lang, predicted,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM preds GROUP BY 1, 2
    )
    SELECT true_lang, predicted, n_docs,
           CAST(round(CAST(n_docs AS DOUBLE)
                      / CAST(sum(n_docs) OVER (PARTITION BY true_lang)
                             AS DOUBLE), 6) AS DOUBLE) AS recall_share,
           CAST(CASE WHEN true_lang = predicted THEN 1 ELSE 0 END
                AS INT) AS is_correct
    FROM cells
    """,
    priority="P2",
)
def l69_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the quality report for l15's
    heuristic classifier against the labeled lang column: per
    (true_lang, predicted) cell the doc count and the within-row
    recall share (the diagonal cells ARE per-language recall; the
    off-diagonal rows say WHICH languages the marker heuristic
    confuses — the evidence behind "do we need trigram log-odds
    here?"). Built by CALLING l15 (one scorer definition; the
    oracle embeds l15's oracle verbatim as a subquery — the
    e46/m12 shared-definition discipline).

    Determinism: counts exact; recall_share a single IEEE division
    of exact bigints, r6; is_correct an exact comparison.

    Scale shape: l15's one-pass scoring (per-row marker counts
    fused onto the scan, no shuffle) + ONE map-side-combined
    (true, predicted) agg to the |langs|² grid; the recall window
    partitions that bounded grid. The fact table is touched once."""
    preds = l15_lang_id(spark, sf_dir)
    cells = (
        preds.groupBy(
            F.col("lang").alias("true_lang"), "predicted"
        ).agg(F.count("*").cast("long").alias("n_docs"))
    )
    w_row = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "predicted",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w_row).cast("double"),
            6,
        )
        .cast("double")
        .alias("recall_share"),
        F.when(F.col("true_lang") == F.col("predicted"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_correct"),
    )


#: l71 — IVF+PQ probe depth and result depth (l19's conventions).
_L71_NPROBE = 4
_L71_K = 10
_L71_QUERIES = 5


def _o_l71() -> str:
    from hadoop_release_spark.functions.vectors import o_sq_dist_offset

    d2_ac = o_sq_dist_offset("e.embedding", "c.centroid", "0", "0", _DIM)
    d2_qc = o_sq_dist_offset("q.qe", "c.centroid", "0", "0", _DIM)
    d2 = o_sq_dist_offset(
        "e.embedding", "c.embedding", f"u.u * {_PQ_SUBDIM}",
        f"u.u * {_PQ_SUBDIM}", _PQ_SUBDIM,
    )
    qd2 = o_sq_dist_offset(
        "q.qe", "c.embedding", f"u.u * {_PQ_SUBDIM}",
        f"u.u * {_PQ_SUBDIM}", _PQ_SUBDIM,
    )
    return f"""
    WITH centroids AS (
      {o_systematic_centroids()}
    ), assign0 AS (
      SELECT e.vec_id, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {d2_ac} ASC, c.centroid_id)
               AS rn
      FROM embeddings e CROSS JOIN centroids c
    ), assigned AS (
      SELECT vec_id, centroid_id AS cluster FROM assign0 WHERE rn = 1
    ), cb AS (
      SELECT CAST(vec_id // {_PQ_STRIDE} AS INT) AS code_id, embedding
      FROM embeddings
      WHERE vec_id % {_PQ_STRIDE} = 0 AND vec_id < {_PQ_STRIDE * _PQ_CODES}
    ), usub AS (
      SELECT unnest(range(0, {_PQ_M})) AS u
    ), corpus_sub AS (
      SELECT e.vec_id, u.u, c.code_id, {d2} AS d2
      FROM embeddings e CROSS JOIN usub u CROSS JOIN cb c
    ), enc AS (
      SELECT vec_id, u, code_id FROM (
        SELECT vec_id, u, code_id,
               row_number() OVER (PARTITION BY vec_id, u
                                  ORDER BY d2, code_id) AS rn
        FROM corpus_sub) WHERE rn = 1
    ), queries AS (
      SELECT vec_id AS query_id, embedding AS qe
      FROM embeddings WHERE vec_id < {_L71_QUERIES}
    ), probes0 AS (
      SELECT q.query_id, c.centroid_id,
             row_number() OVER (PARTITION BY q.query_id
                                ORDER BY {d2_qc} ASC, c.centroid_id)
               AS rn
      FROM queries q CROSS JOIN centroids c
    ), probes AS (
      SELECT query_id, centroid_id AS cluster
      FROM probes0 WHERE rn <= {_L71_NPROBE}
    ), lut AS (
      SELECT q.query_id, u.u, c.code_id,
             CAST(round({qd2}, 6) AS DECIMAL(18,6)) AS qd2
      FROM queries q CROSS JOIN usub u CROSS JOIN cb c
    ), cand AS (
      SELECT p.query_id, a.vec_id
      FROM assigned a JOIN probes p ON a.cluster = p.cluster
      WHERE a.vec_id <> p.query_id
    ), adc AS (
      SELECT c.query_id, c.vec_id, sum(l.qd2) AS adc
      FROM cand c
      JOIN enc e ON c.vec_id = e.vec_id
      JOIN lut l ON l.query_id = c.query_id
                AND l.u = e.u AND l.code_id = e.code_id
      GROUP BY c.query_id, c.vec_id
    ), ranked AS (
      SELECT query_id, vec_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, vec_id) AS rn
      FROM adc)
    SELECT query_id, vec_id, round(CAST(adc AS DOUBLE), 3) AS adc_d2
    FROM ranked WHERE rn <= {_L71_K}
    """


@register("l71_ivf_pq", oracle=_o_l71(), priority="P2")
def l71_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed — the production FAISS layout the l47
    docstring names, now an operator of its own: the IVF coarse
    quantizer (l19's centroid sample + Arrow-kernel assignment)
    prunes which inverted lists each query reads, and l47's product
    quantizer shrinks what a list costs to read — queries are
    answered from the m-byte codes of the nprobe probed clusters
    only; corpus vectors are touched once at INDEX BUILD and never
    at query time. ``by_residual=False`` (a real FAISS option):
    codes encode raw vectors, so the code table is the SAME artifact
    l47 builds — one codebook serves the flat-PQ and IVF-PQ indexes.

    METRIC_L2 throughout (the FAISS IndexIVFPQ default): coarse
    assignment, list probing, and the ADC all rank by squared L2 —
    mixing a cosine probe over L2 codes was measured to halve recall
    on the isotropic fixture (the query's L2 neighbors live in lists
    a cosine ranking skips). l19 remains the cosine IVF-Flat twin.

    ORACLE-CHECKED end-to-end by composing the components' exact
    arithmetic (the round-8 verdict item): assignment/probing use
    the shared sq_dist fold with id tie-breaks; encode argmin and
    the 6dp-DECIMAL ADC accumulation reuse l47's — already proven
    hash-exact standalone. Recall vs exact L2 pinned in
    tests/test_similarity.py.

    Scale shape: index build = one kernel assignment pass + one
    broadcast encode join (corpus never shuffles; output is m codes
    + a cluster id per vector — at 100 TB it is WRITTEN partitioned
    by cluster); query = broadcast probe list + broadcast LUT against
    the code table, partition-pruned to nprobe/K of the index, then
    a map-side-combined (query, vec) agg. No corpus vector moves at
    query time; memory per executor is bounded by |queries|·m·K LUT
    rows."""
    from hadoop_release_spark.functions.vectors import sq_dist
    from hadoop_release_spark.operators.similarity import (
        ivf_pq_topk,
        pq_encode,
        systematic_centroids,
    )

    e = table(spark, sf_dir, "embeddings")
    centroids = systematic_centroids(e)
    codebook = e.filter(
        (F.col("vec_id") % _PQ_STRIDE == 0)
        & (F.col("vec_id") < _PQ_STRIDE * _PQ_CODES)
    ).select(
        (F.col("vec_id") / _PQ_STRIDE).cast("int").alias("code_id"),
        "embedding",
    )
    # L2 coarse assignment: broadcast-argmin min-struct (the
    # pq_encode pattern at full dim). The cosine Arrow kernel does
    # not apply here — METRIC_L2 needs the (x−y)² fold, and the
    # min-struct reduction keeps it one map-side pass; an L2 kernel
    # is the optimization exit if assignment ever dominates.
    assigned = (
        e.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            "centroid_id",
            sq_dist(F.col("embedding"), F.col("centroid")).alias("__d2"),
        )
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("__d2"), F.col("centroid_id"))).alias(
                "__b"
            )
        )
        .select("vec_id", F.col("__b.centroid_id").alias("cluster"))
    )
    # Index build: cluster tag + m codes per vector, one vec_id join
    # (at scale both sides derive from the same scan and the code
    # table is sunk partitioned-by-cluster — the docstring exit).
    codes = pq_encode(e, codebook, _PQ_M, _PQ_SUBDIM).join(
        assigned, "vec_id"
    )
    query = e.filter(F.col("vec_id") < _L71_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    return ivf_pq_topk(
        codes, codebook, query, centroids, _PQ_M, _PQ_SUBDIM,
        k=_L71_K, nprobe=_L71_NPROBE,
    )


def _o_l73() -> str:
    return f"""
    WITH {_O_L43_CTES}, scored AS (
      SELECT d.doc_id, m.lang, d.n_tokens,
             {_O_L43_NLL} AS avg_nll
      FROM doc d CROSS JOIN tot t
      JOIN documents m ON d.doc_id = m.doc_id
    ), pp AS (
      SELECT lang, avg_nll, CAST(count(*) AS BIGINT) AS w
      FROM scored GROUP BY lang, avg_nll
    ), cum AS (
      SELECT lang, avg_nll,
             sum(w) OVER (PARTITION BY lang ORDER BY avg_nll) AS cumw,
             sum(w) OVER (PARTITION BY lang) AS total
      FROM pp
    ), b1 AS (
      SELECT lang, min(avg_nll) AS t1 FROM cum
      WHERE 3 * cumw >= total GROUP BY lang
    ), b2 AS (
      SELECT lang, min(avg_nll) AS t2 FROM cum
      WHERE 3 * cumw >= 2 * total GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.n_tokens, s.avg_nll,
           CASE WHEN s.avg_nll <= b1.t1 THEN 'head'
                WHEN s.avg_nll <= b2.t2 THEN 'middle'
                ELSE 'tail' END AS tier
    FROM scored s
    JOIN b1 ON s.lang = b1.lang
    JOIN b2 ON s.lang = b2.lang
    """


@register("l73_perplexity_buckets", oracle=_o_l73(), priority="P2")
def l73_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity tiers (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): bucket every document into head/middle/tail by
    PER-LANGUAGE perplexity terciles — the published recipe that
    stratifies a crawl by LM fluency so downstream sampling can
    prefer the head without discarding the tail. The LM score IS
    l43's (one scoring definition — the shared _O_L43_CTES /
    _seasonal-decompose discipline); tercile bounds are per-language
    so a verbose language's score scale never leaks into another's
    tiers (CCNet's core design point).

    Determinism: avg_nll is l43's r6 + 0.0 value, identical in both
    engines (hash-proven standalone); the tercile bounds are
    SELECTED elements of the per-language distinct-score
    distribution under the d23/d26 lower-quantile cum-weight rule
    (min v with 3·cumw ≥ k·total) — never interpolated, so the tier
    comparison compares identical doubles to identical doubles.

    Scale shape: l43's scoring topology (explode → two map-side-
    combined aggs → slim token join → doc agg) + ONE (lang, score)
    distinct-value agg whose cum-weight windows run over |distinct
    scores| per language (the d26 compression — never raw docs) +
    two |langs|-row broadcast bound tables joined back. One fact
    scan beyond l43's; at 100 TB the bounds tables are constants."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    # r15: scored is the slim (doc_id, lang, n_tokens, avg_nll) spine
    # of TWO consumers (the tercile-bound build and the final tier
    # join) — unpersisted, the whole l43 scoring pipeline (explode +
    # two aggs + token join + doc agg) replicated into every branch
    # and executed up to 3× (the captured before-plan carried 72
    # Exchange nodes with zero reuse). Persist it so the scoring runs
    # once; at 100 TB this is the difference between one corpus
    # scoring pass and three.
    scored = persist(l43_lm_score(spark, sf_dir).join(d, "doc_id"))
    pp = scored.groupBy("lang", "avg_nll").agg(
        F.count("*").cast("long").alias("w")
    )
    w_cum = Window.partitionBy("lang").orderBy("avg_nll")
    w_all = Window.partitionBy("lang")
    cum = pp.select(
        "lang",
        "avg_nll",
        F.sum("w").over(w_cum).alias("cumw"),
        F.sum("w").over(w_all).alias("total"),
    )
    # Both tercile bounds in ONE aggregate over one cum pass —
    # min(when(cond, v)) ≡ filter(cond).min(v) per language, so the
    # selected elements are identical to the old two-branch form
    # (which duplicated the cum window subtree into b1 AND b2).
    bounds = cum.groupBy("lang").agg(
        F.min(
            F.when(3 * F.col("cumw") >= F.col("total"), F.col("avg_nll"))
        ).alias("t1"),
        F.min(
            F.when(3 * F.col("cumw") >= 2 * F.col("total"), F.col("avg_nll"))
        ).alias("t2"),
    )
    return scored.join(F.broadcast(bounds), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "avg_nll",
        F.when(F.col("avg_nll") <= F.col("t1"), F.lit("head"))
        .when(F.col("avg_nll") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("tier"),
    )
