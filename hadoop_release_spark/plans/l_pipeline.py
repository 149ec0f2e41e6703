"""§2.L round-3 additions — training-data pipeline operators.

Operations a large-scale LLM corpus build runs after filtering/dedup
(SURVEY.md §2 round-3 addendum):

* l27 sequence packing — assign each document its position in the
  fixed-capacity token stream a trainer consumes ("concat-and-split"
  packing: documents are laid out in a deterministic total order and
  the stream is cut every CAPACITY tokens).
* l28 benchmark decontamination — flag training documents sharing
  long n-grams with a held-out evaluation set (the train/test
  overlap check; cf. the n-gram overlap decontamination described in
  public LLM reports such as GPT-3/PaLM appendices).
* l29 domain mixing — deterministic md5-bucket downsampling toward a
  uniform per-source mixture at a global retention rate.
* l30 incremental dedup — classify an incoming shard against the
  already-ingested corpus (exact / near / unique) — the ingestion
  gate.
* l31 chunking — overlapping fixed-token windows per document (the
  RAG/context-window chunker), hash-checked including chunk text.
* l32 corpus snapshot diff — added/removed/changed/unchanged per doc
  vs a previous version by content hash (the data-versioning
  changelog).
* l33 uint8 scalar quantization — per-dimension [min,max] grid codes
  (the ANN compression stage; l19 is the consumer).
* l34 leakage-safe split — train/val/test assignment by GROUP hash
  (md5(source)) so correlated docs never straddle splits.
* l35 URL canonicalization dedup — case/port/tracking-param
  normalization, hash-verified, min-id survivor.

All are pure DataFrame plans with full DuckDB oracles. No Python
UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_release_spark.catalog import table
from hadoop_release_spark.functions.materialize import eager_truncate, persist
from hadoop_release_spark.functions.partitioning import spread_small_scan
from hadoop_release_spark.operators.dedup import (
    gram_keys,
    o_word_shingles_case,
    positional_gram_md5,
    word_gram_digests,
    word_shingles,
)
from hadoop_release_spark.operators.similarity import o_systematic_centroids
from hadoop_release_spark.operators.rank import global_prefix_sum
from hadoop_release_spark.plans.registry import register

#: l27 — tokens per training sequence. The fixture's whitespace
#: tokenization (consistent with l03/l16's token accounting) stands
#: in for a real BPE count; swapping in a tokenizer UDF changes only
#: the n_tokens expression, not the packing construction.
PACK_CAPACITY = 1024

#: l28 — evaluation-set membership (deterministic fixture split),
#: n-gram length, contamination threshold, and the document-frequency
#: cap above which a gram is considered boilerplate and excluded from
#: matching. One block, mirrored verbatim into the oracle SQL.
EVAL_MOD = 50
DECON_NGRAM_K = 8
DECON_MIN_SHARED = 5
DECON_MAX_GRAM_DF = 1000


@register(
    "l27_sequence_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
      FROM t)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_before // {PACK_CAPACITY} AS BIGINT) AS pack_id,
           CAST(cum_before % {PACK_CAPACITY} AS BIGINT) AS offset_in_pack
    FROM c
    """,
    priority="P2",
)
def l27_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: lay documents out in doc_id
    order and cut the concatenated token stream every PACK_CAPACITY
    tokens. Each doc gets (pack_id, offset_in_pack) = where it STARTS;
    a doc crossing a boundary spans packs (concat-and-split
    semantics — no padding waste, the layout every data loader can
    consume by seeking to pack_id*CAPACITY+offset).

    Scale shape: the global ordered cumulative sum is the crux — a
    bare ``sum() OVER (ORDER BY doc_id)`` collapses to ONE partition.
    global_prefix_sum (operators/rank.py) computes it as
    range-partition → parallel per-partition running sums → a
    #partitions-sized offset list broadcast back, so the plan scales
    like TeraSort, not like a single-reducer job."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    packed = global_prefix_sum(d, ["doc_id"], "n_tokens", out_name="cum_before")
    return packed.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("cum_before") / PACK_CAPACITY).cast("long").alias("pack_id"),
        F.pmod(F.col("cum_before"), F.lit(PACK_CAPACITY)).cast("long").alias(
            "offset_in_pack"
        ),
    )


def _o_l28() -> str:
    # Built from the SAME constants and the SAME shingle SQL generator
    # as the Spark side (o_word_shingles_case), per the shared-block
    # parity rule in operators/dedup.py.
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id, {o_word_shingles_case(DECON_NGRAM_K)} AS g FROM toks
    ), ex0 AS (
      SELECT doc_id, unnest(g) AS g1 FROM sh
    ), ex AS (
      SELECT doc_id, substring(md5(g1), 1, 16) AS gram FROM ex0
    ), tr AS (
      SELECT * FROM ex WHERE doc_id % {EVAL_MOD} != 0
    ), heavy AS (
      SELECT gram FROM (SELECT gram, count(*) AS c FROM tr GROUP BY gram)
      WHERE c > {DECON_MAX_GRAM_DF}
    ), tr2 AS (
      SELECT * FROM tr WHERE gram NOT IN (SELECT gram FROM heavy)
    ), ev AS (
      SELECT * FROM ex WHERE doc_id % {EVAL_MOD} = 0
    ), pairs AS (
      SELECT tr2.doc_id AS train_id, ev.doc_id AS eval_id, count(*) AS n_shared
      FROM tr2 JOIN ev ON tr2.gram = ev.gram
      GROUP BY 1, 2
    ), flags AS (
      SELECT eval_id,
             count(*) AS n_contaminated_train_docs,
             max(n_shared) AS max_shared_ngrams
      FROM pairs WHERE n_shared >= {DECON_MIN_SHARED}
      GROUP BY eval_id)
    SELECT d.doc_id AS eval_doc_id,
           CAST(COALESCE(f.n_contaminated_train_docs, 0) AS BIGINT)
             AS n_contaminated_train_docs,
           CAST(COALESCE(f.max_shared_ngrams, 0) AS BIGINT) AS max_shared_ngrams
    FROM documents d LEFT JOIN flags f ON d.doc_id = f.eval_id
    WHERE d.doc_id % {EVAL_MOD} = 0
    """


@register("l28_decontaminate", oracle=_o_l28(), priority="P2")
def l28_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per evaluation document, how many
    training documents share ≥ DECON_MIN_SHARED distinct
    DECON_NGRAM_K-word n-grams with it (and the worst overlap). The
    eval set is the deterministic fixture split doc_id % EVAL_MOD = 0;
    in production it is the benchmark corpus.

    Scale shape: candidate generation is ONE shuffle on the gram —
    never doc×doc. The document-frequency pre-filter is the
    load-bearing skew guard: a boilerplate gram appearing in F train
    docs fans out F rows per eval occurrence, so grams with
    df > DECON_MAX_GRAM_DF are excluded from matching before the
    join — they carry no contamination signal and they are exactly
    the hot keys that would skew it. Emits one row per eval doc
    (zero-filled), so the result is never vacuously empty.

    TOPOLOGY (round-13 rewrite, measured): everything downstream
    hangs off ONE gram-keyed exchange whose map stage runs the gram
    kernel exactly once. The round-12 form persisted the gram table
    for its three consumers (train side, eval side, df guard) — but
    the consumers' leaf stages are independent, Spark schedules
    them concurrently, and they RACE the cache population, each
    recomputing the kernel ("Block already exists" churn; the
    composed sf10 query measured ~3× the sum of its
    pre-materialized stages). A plain repartition narrowed but did
    not close the hole: Catalyst pushes the train/eval doc_id
    filters below the kernel and the df guard's anti-join splits
    the train subtree, so the train slice still ran the kernel
    twice. The fix is the WINDOW form: the per-gram train-df rides
    a window over the one exchange (a filter on a window output
    cannot push below the window, and the eval-flag filter cannot
    either — it is not the partition key — so the exchange subtree
    stays byte-identical across branches and AQE reuses the ONE
    shuffle stage), the heavy-gram drop is a filter instead of an
    anti-join, and the pair join's two sides arrive co-partitioned
    (sorts only, no further exchange). Trade documented: a
    hotter-than-the-cap gram buffers df rows in its window group
    before the filter drops it (WindowExec spills; the df>cap agg
    of the old form shrank map-side instead) — accepted for the
    whole removed kernel pass; the exit at pathological heat is the
    two-pass agg form documented in SCALE.md."""
    d = table(spark, sf_dir, "documents")
    # Grams travel as 64-bit LONG keys from gram_keys (the Arrow
    # kernel form of explode(word_shingles)+hash): the keys exist
    # only to be joined and counted, never output, and the oracle
    # replays gram EQUALITY with its own md5 keys — so injectivity
    # is the whole contract and the portable-hash rule (rule 6)
    # does not bind. Collision math unchanged vs the previous
    # 16-hex-char md5-prefix key (both 64-bit). What changed is the
    # COST: the interpreted word_shingles lambda built every gram
    # as a string (profiled ~26 s of l28's ~32 s gen_sf-sf1 wall,
    # round 13) where the kernel does factorize-once + k
    # shifted-multiply-adds, and an 8-byte primitive key shuffles
    # slimmer than a 16-char string through every exchange below.
    # (spread_small_scan deliberately NOT applied here: gram_keys is
    # the cheap factorize+integer kernel — measured A/B r16, the
    # added rebalance exchange costs what the parallel kernel saves.)
    grams = d.select(
        "doc_id",
        F.explode(gram_keys(F.col("text"), DECON_NGRAM_K)).alias("gram"),
    )
    # ONE gram-keyed exchange (see TOPOLOGY in the docstring); the
    # single-kernel-pass shape is pinned in test_plans.py.
    grams = grams.repartition("gram")
    is_eval = F.col("doc_id") % EVAL_MOD == 0

    # gram_keys emits DISTINCT grams per doc, so the per-gram count
    # of train rows is the gram's train document frequency. Computed
    # as a window over the one exchange — no second corpus pass, no
    # anti-join split; the df filter then drops heavy grams' rows on
    # BOTH sides (an eval row of a heavy gram had nothing to match
    # anyway, so this equals the oracle's train-side-only exclusion).
    w = Window.partitionBy("gram")
    g2 = grams.withColumn(
        "__train_df",
        F.sum(F.when(is_eval, F.lit(0)).otherwise(F.lit(1))).over(w),
    ).filter(F.col("__train_df") <= DECON_MAX_GRAM_DF)
    train = g2.filter(~is_eval).select("doc_id", "gram")
    ev = g2.filter(is_eval).select(F.col("doc_id").alias("eval_id"), "gram")

    pairs = (
        train.join(ev, "gram")
        .groupBy(F.col("doc_id").alias("train_id"), "eval_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_SHARED)
    )
    flags = pairs.groupBy("eval_id").agg(
        F.count("*").alias("n_contaminated_train_docs"),
        F.max("n_shared").alias("max_shared_ngrams"),
    )
    eval_docs = d.filter(is_eval).select(F.col("doc_id").alias("eval_doc_id"))
    return (
        eval_docs.join(flags, eval_docs.eval_doc_id == flags.eval_id, "left")
        .select(
            "eval_doc_id",
            F.coalesce(F.col("n_contaminated_train_docs"), F.lit(0))
            .cast("long")
            .alias("n_contaminated_train_docs"),
            F.coalesce(F.col("max_shared_ngrams"), F.lit(0))
            .cast("long")
            .alias("max_shared_ngrams"),
        )
    )


#: l29 — domain mixing: every source is downsampled to MIX_RATE_BP
#: basis points of the SMALLEST source's count (uniform target mix at
#: a global retention rate), via the same portable md5-bucket rule as
#: l24. 10000 buckets from 4 md5 hex chars (65536 % 10000 is biased,
#: identically so in both engines — determinism is the requirement,
#: not uniformity).
MIX_RATE_BP = 6000
MIX_BUCKETS = 10000


@register(
    "l29_domain_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_s FROM documents GROUP BY source
    ), mn AS (
      SELECT min(n_s) AS n_min FROM counts
    ), th AS (
      SELECT source, ({MIX_RATE_BP} * n_min) // n_s AS thresh
      FROM counts CROSS JOIN mn)
    SELECT d.doc_id, d.source
    FROM documents d JOIN th ON d.source = th.source
    WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
          % {MIX_BUCKETS} < th.thresh
    """,
    priority="P2",
)
def l29_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: rebalance the corpus toward a UNIFORM per-source
    mix — each source keeps (MIX_RATE_BP/10000)·n_min documents, so
    over-represented domains are downsampled hardest (the static
    mixture-reweighting step of corpus assembly; swap n_min for
    target_weight_s·N_total to hit arbitrary published mixture
    weights — same construction).

    Deterministic md5-bucket retention (l24's portable rule): survival
    depends only on doc_id, never on RNG streams, partitioning, or
    cluster size — re-runs and engines agree row-for-row, which is
    what makes an auditable training mix. Scale shape: one tiny
    per-source count aggregation (#sources rows) broadcast back as
    thresholds, then a pure per-row filter — no data shuffle at all."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_s"))
    # Global min over the COUNTS table (#sources rows) via an
    # unpartitioned window — single-partition is fine because the
    # input is already aggregate-sized, and it keeps the plan free of
    # the nested-loop join a 1-row cross join would introduce.
    n_min = F.min("n_s").over(Window.partitionBy())
    th = counts.select(
        "source",
        F.floor(F.lit(MIX_RATE_BP) * n_min / F.col("n_s")).alias("thresh"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % MIX_BUCKETS
    )
    return (
        d.select("doc_id", "source", bucket.alias("__bucket"))
        .join(F.broadcast(th), "source")
        .filter(F.col("__bucket") < F.col("thresh"))
        .select("doc_id", "source")
    )


#: l30 — incremental-batch split: docs with doc_id % NEW_MOD ==
#: NEW_REM are "today's shard"; the rest are the already-ingested
#: corpus.
NEW_MOD = 10
NEW_REM = 7


def _o_l30() -> str:
    # Replays the full md5-portable LSH pipeline (shared _o_lsh_ctes)
    # plus the exact-hash check, filtered to pairs crossing the
    # batch/corpus split — same constants as the Spark side.
    from hadoop_release_spark.operators.dedup import (
        LSH_JACCARD_THRESHOLD,
        _o_lsh_ctes,
    )

    return f"""
    WITH {_o_lsh_ctes()}, near_pairs AS (
      SELECT id_a, id_b FROM verified WHERE jaccard >= {LSH_JACCARD_THRESHOLD}
    ), new_docs AS (
      SELECT doc_id, md5(text) AS h FROM documents
      WHERE doc_id % {NEW_MOD} = {NEW_REM}
    ), corpus AS (
      SELECT doc_id AS c_id, md5(text) AS h FROM documents
      WHERE doc_id % {NEW_MOD} != {NEW_REM}
    ), exact_m AS (
      SELECT n.doc_id, min(c.c_id) AS exact_id
      FROM new_docs n JOIN corpus c ON n.h = c.h GROUP BY n.doc_id
    ), near_cross AS (
      SELECT id_a AS new_id, id_b AS old_id FROM near_pairs
       WHERE id_a % {NEW_MOD} = {NEW_REM} AND id_b % {NEW_MOD} != {NEW_REM}
      UNION ALL
      SELECT id_b AS new_id, id_a AS old_id FROM near_pairs
       WHERE id_b % {NEW_MOD} = {NEW_REM} AND id_a % {NEW_MOD} != {NEW_REM}
    ), near_m AS (
      SELECT new_id, min(old_id) AS near_id FROM near_cross GROUP BY new_id
    )
    SELECT n.doc_id,
           CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
                WHEN m.near_id IS NOT NULL THEN 'near'
                ELSE 'unique' END AS verdict,
           CAST(COALESCE(e.exact_id, m.near_id, -1) AS BIGINT) AS matched_id
    FROM new_docs n
    LEFT JOIN exact_m e ON n.doc_id = e.doc_id
    LEFT JOIN near_m m ON n.doc_id = m.new_id
    """


@register("l30_dedup_incremental", oracle=_o_l30(), priority="P2")
def l30_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: classify each document of an incoming batch
    against the already-ingested corpus as exact-dup (same md5
    content hash), near-dup (LSH pair crossing the split at the
    shared jaccard threshold), or unique — with the smallest matching
    corpus id. This is the production ingestion gate: a shard is
    checked against the corpus BEFORE it is admitted.

    Scale shape: the exact check is one hash-keyed semi-join. For the
    near check, production keeps the corpus's banded LSH sketch table
    materialized as the standing index and joins ONLY the new batch's
    band rows against it — incremental cost ∝ batch size, not corpus
    size. Here (for end-to-end oracle replay) the band table is
    rebuilt over the full fixture and pair output filtered to
    cross-split pairs; the banded construction is identical either
    way (operators/dedup.py)."""
    from hadoop_release_spark.operators.dedup import lsh_candidate_pairs

    d = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_MOD == NEW_REM
    new_docs = d.filter(is_new).select("doc_id", F.md5("text").alias("h"))
    corpus = d.filter(~is_new).select(
        F.col("doc_id").alias("c_id"), F.md5("text").alias("h")
    )
    exact_m = (
        new_docs.join(corpus, "h")
        .groupBy("doc_id")
        .agg(F.min("c_id").alias("exact_id"))
    )

    pairs = lsh_candidate_pairs(d, id_col="doc_id", text_col="text")
    a_new = F.col("id_a") % NEW_MOD == NEW_REM
    b_new = F.col("id_b") % NEW_MOD == NEW_REM
    near_cross = (
        pairs.filter(a_new & ~b_new)
        .select(F.col("id_a").alias("new_id"), F.col("id_b").alias("old_id"))
        .unionAll(
            pairs.filter(b_new & ~a_new).select(
                F.col("id_b").alias("new_id"), F.col("id_a").alias("old_id")
            )
        )
    )
    near_m = near_cross.groupBy("new_id").agg(F.min("old_id").alias("near_id"))

    out = (
        new_docs.select("doc_id")
        .join(exact_m, "doc_id", "left")
        .join(near_m, F.col("doc_id") == F.col("new_id"), "left")
    )
    return out.select(
        "doc_id",
        F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
        .when(F.col("near_id").isNotNull(), F.lit("near"))
        .otherwise(F.lit("unique"))
        .alias("verdict"),
        F.coalesce(F.col("exact_id"), F.col("near_id"), F.lit(-1))
        .cast("long")
        .alias("matched_id"),
    )


#: l31 — chunking: fixed token windows with overlap. step =
#: CHUNK_TOKENS - CHUNK_OVERLAP; chunk k covers tokens
#: [k*step+1, k*step+CHUNK_TOKENS]. Every start position ≤ n_tokens
#: emits a chunk (trailing chunks may be short — deterministic and
#: mirrored in the oracle).
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_CHUNK_STEP = CHUNK_TOKENS - CHUNK_OVERLAP


@register(
    "l31_chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), ks AS (
      SELECT doc_id, t,
             unnest(range(0, (len(t) - 1) // {_CHUNK_STEP} + 1)) AS k
      FROM toks)
    SELECT doc_id,
           CAST(k AS BIGINT) AS chunk_id,
           array_to_string(
             list_slice(t, k * {_CHUNK_STEP} + 1,
                        k * {_CHUNK_STEP} + {CHUNK_TOKENS}), ' ') AS chunk_text,
           CAST(len(list_slice(t, k * {_CHUNK_STEP} + 1,
                               k * {_CHUNK_STEP} + {CHUNK_TOKENS})) AS BIGINT)
             AS n_chunk_tokens
    FROM ks
    """,
    priority="P2",
)
def l31_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: split each doc into CHUNK_TOKENS-token
    windows overlapping by CHUNK_OVERLAP tokens (the standard
    RAG/context-window chunker). Chunk k starts at token k·step+1
    (step = tokens - overlap); every start inside the doc emits a
    chunk, so trailing chunks may be short — a deterministic rule
    both engines replay, hash-checked including the chunk TEXT.

    Scale shape: pure per-row row-expansion (sequence → slice →
    posexplode) — no shuffle at all, fused into the scan; output
    rows carry only their own chunk text, so the op streams at scan
    bandwidth. The whitespace tokenizer is the fixture stand-in
    (l03/l16 convention); a BPE tokenizer swaps into the same
    construction as a Pandas-UDF token-count column."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    chunks = F.transform(
        F.sequence(
            F.lit(0), F.floor((F.size(toks) - 1) / F.lit(_CHUNK_STEP)).cast("int")
        ),
        lambda k: F.struct(
            k.cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(toks, k * _CHUNK_STEP + 1, CHUNK_TOKENS), " "
            ).alias("chunk_text"),
            F.size(F.slice(toks, k * _CHUNK_STEP + 1, CHUNK_TOKENS))
            .cast("long")
            .alias("n_chunk_tokens"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("__c"))
        .select("doc_id", "__c.chunk_id", "__c.chunk_text", "__c.n_chunk_tokens")
    )


#: l32 — snapshot-diff fixture derivation: the "previous version" is
#: the current documents table minus docs with doc_id%20==3 (those
#: are newly ADDED), with docs %20==5 carrying different text
#: (CHANGED since the snapshot), plus phantom docs (id+1_000_000)
#: derived from %20==9 that exist only in the snapshot (REMOVED).
DIFF_MOD = 20
DIFF_ADDED_REM = 3
DIFF_CHANGED_REM = 5
DIFF_REMOVED_REM = 9
_DIFF_PHANTOM_BASE = 1_000_000


def _o_diff_sql(cur_extra: str = "", diff_extra: str = "") -> str:
    """Shared l32/l64 snapshot-diff SQL: the cur/prev CTEs and the
    status-classifying full outer join, parameterized with extra
    cur-side select columns. ONE definition of the DIFF_* snapshot
    simulation — the derivation rules cannot silently diverge
    between the changelog (l32) and its drilldown (l64) (review
    finding: the CTEs were copy-pasted)."""
    return f"""cur AS (
      SELECT doc_id, md5(text) AS h_cur{cur_extra} FROM documents
    ), prev AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % {DIFF_MOD} = {DIFF_CHANGED_REM}
                      THEN text || ' [stale]' ELSE text END) AS h_prev
      FROM documents WHERE doc_id % {DIFF_MOD} != {DIFF_ADDED_REM}
      UNION ALL
      SELECT doc_id + {_DIFF_PHANTOM_BASE} AS doc_id,
             md5('removed-' || CAST(doc_id AS VARCHAR)) AS h_prev
      FROM documents WHERE doc_id % {DIFF_MOD} = {DIFF_REMOVED_REM}
    ), diff AS (
      SELECT COALESCE(c.doc_id, p.doc_id) AS doc_id,
             CASE WHEN p.h_prev IS NULL THEN 'added'
                  WHEN c.h_cur IS NULL THEN 'removed'
                  WHEN c.h_cur != p.h_prev THEN 'changed'
                  ELSE 'unchanged' END AS status{diff_extra}
      FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
    )"""


def _snapshot_diff(d: DataFrame, extra: dict | None = None) -> DataFrame:
    """Shared l32/l64 Spark diff: classify every doc id against the
    deterministically derived previous snapshot. ``extra`` maps
    output names to cur-side Columns carried through the join (NULL
    on removed phantom rows). Mirrors :func:`_o_diff_sql` exactly."""
    extra = extra or {}
    cur = d.select(
        "doc_id",
        F.md5("text").alias("h_cur"),
        *[c.alias(n) for n, c in extra.items()],
    )
    m = F.col("doc_id") % DIFF_MOD
    prev_text = F.when(
        m == DIFF_CHANGED_REM, F.concat(F.col("text"), F.lit(" [stale]"))
    ).otherwise(F.col("text"))
    prev = (
        d.filter(m != DIFF_ADDED_REM)
        .select("doc_id", F.md5(prev_text).alias("h_prev"))
        .unionAll(
            d.filter(m == DIFF_REMOVED_REM).select(
                (F.col("doc_id") + _DIFF_PHANTOM_BASE).alias("doc_id"),
                F.md5(
                    F.concat(F.lit("removed-"), F.col("doc_id").cast("string"))
                ).alias("h_prev"),
            )
        )
    )
    return cur.join(prev, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("h_prev").isNull(), F.lit("added"))
        .when(F.col("h_cur").isNull(), F.lit("removed"))
        .when(F.col("h_cur") != F.col("h_prev"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        *extra.keys(),
    )


@register(
    "l32_corpus_diff",
    oracle=f"""
    WITH {_o_diff_sql()}
    SELECT doc_id, status FROM diff
    """,
    priority="P2",
)
def l32_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the data-versioning primitive: compare
    the current corpus against a previous snapshot by content hash
    and classify every doc id as added / removed / changed /
    unchanged (what a corpus release pipeline publishes as its
    changelog, and the input to incremental downstream rebuilds).
    The fixture derives the snapshot deterministically (see DIFF_*
    constants); in production it is the stored previous version.

    Scale shape: slim (id, md5) projections through ONE hash-keyed
    full outer join — content bytes never move, only 16-byte hashes;
    at 100 TB both snapshots are parquet tables and the diff runs at
    metadata-ish cost. md5 is the portable hash (rule 6)."""
    return _snapshot_diff(table(spark, sf_dir, "documents"))


@register(
    "l33_quantize_embeddings",
    oracle="""
    WITH ex AS (
      SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i, embedding AS e
      FROM embeddings
    ), stats AS (
      SELECT i, min(CAST(e[i] AS DOUBLE)) AS mn, max(CAST(e[i] AS DOUBLE)) AS mx
      FROM ex GROUP BY i
    ), q AS (
      SELECT vec_id, i,
             CASE WHEN mx = mn THEN 0
                  ELSE least(255, CAST(floor(
                         (CAST(e[i] AS DOUBLE) - mn) * 255 / (mx - mn) + 0.5
                       ) AS BIGINT)) END AS qv
      FROM ex JOIN stats USING (i)
    )
    SELECT vec_id, string_agg(CAST(qv AS VARCHAR), ',' ORDER BY i) AS q8
    FROM q GROUP BY vec_id
    """,
    priority="P2",
)
def l33_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (uint8) embedding quantization — the ANN-at-scale
    compression step: per-dimension global [min, max] → each value
    mapped to its 0..255 grid cell (4× smaller than float32, the
    standard first stage before IVF/PQ serving; l19 is the consumer).

    Determinism design: min/max are SELECTIONS (no accumulation
    error), and the map ((x−mn)·255/(mx−mn)+0.5 → floor) is a fixed
    IEEE expression evaluated identically by both engines — so the
    quantized codes are bit-exact cross-engine with no rounding-rule
    hazard (floor, not round). Codes ride as a comma-joined string
    (d15 rule).

    Scale shape: the per-dimension stats pass is posexplode +
    groupBy(dim) — map-side partial min/max compresses the shuffle
    to (#tasks × #dims) rows, NOT the corpus; the 64-row stats table
    then broadcasts back and quantization itself is a pure per-row
    transform fused into the scan (zero data shuffles). At 100 TB
    this is one stats sweep + one embarrassingly-parallel map."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("i", "x"))
    stats = ex.groupBy("i").agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )
    srow = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )

    def qv(x, j):
        mn = F.element_at(F.col("mns"), j + F.lit(1))
        mx = F.element_at(F.col("mxs"), j + F.lit(1))
        xd = x.cast("double")
        return (
            F.when(mx == mn, F.lit(0).cast("bigint"))
            .otherwise(
                F.least(
                    F.lit(255).cast("bigint"),
                    F.floor((xd - mn) * F.lit(255.0) / (mx - mn) + F.lit(0.5)),
                )
            )
            .cast("string")
        )

    return (
        e.crossJoin(F.broadcast(srow))
        .select("vec_id", F.array_join(F.transform("embedding", qv), ",").alias("q8"))
    )


#: l34 split quotas: md5(source) bucket 0-59 → train, 60-79 → val,
#: 80-99 → test — by GROUP, not by row. (Quotas are the tunable; at
#: fixture scale — 20 sources — these produce a 15/3/2 group split so
#: all three splits are exercised; production typically runs 90/5/5.)
SPLIT_TRAIN_LT = 60
SPLIT_VAL_LT = 80


@register(
    "l34_split_leakage_safe",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN CAST(('0x' || substring(md5(source), 1, 4))::UBIGINT
                        % 100 AS BIGINT) < {SPLIT_TRAIN_LT} THEN 'train'
                  WHEN CAST(('0x' || substring(md5(source), 1, 4))::UBIGINT
                        % 100 AS BIGINT) < {SPLIT_VAL_LT} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM assigned GROUP BY split
    """,
    priority="P1",
)
def l34_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split — assign documents to splits
    by hashing their GROUP key (source), not the row, so correlated
    documents (same crawl domain / book / repository) land on the
    same side of the split and can never leak eval content into
    training. Row-level random splits fail exactly this way; the
    group-hash split is the standard fix, and being md5-derived it
    is reproducible across engines, runs, and repartitioning
    (the l24 argument, lifted from row-bucket to group-bucket).

    Output is the split audit table (docs / distinct groups / chars
    per split) a pipeline records alongside the artifact; the
    assignment expression itself is the per-row splitter users fuse
    into their write path, and because it is a pure projection the
    actual split-write is a zero-shuffle partitioned sink (a06
    shape, partitionBy(split)).

    Scale shape: assignment is a stateless per-row expression (no
    shuffle, no group materialization — the hash IS the group
    coordination); the audit agg is one groupBy(split) with 3 keys,
    map-side-combined. The distinct-source count does shuffle
    (exact distinct per split), the deliberate price of an audit
    metric — drop it or use approx_count_distinct at 100 TB if the
    exact figure isn't required."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 4), 16, 10).cast("long") % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "source", "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


#: l35 planted-URL construction (messiness variant by doc_id % 4) —
#: kept in one place so the Spark plant and the oracle plant can
#: never drift. Canonical form: https://site{S}.example.com/p/{P}?id={K}
#: with S = doc_id%25, P = doc_id%10, K = doc_id%50.
_URL_TRACK_RE = r"&utm_[a-z]+=[^&]*"

#: SQL text of the plant + canonicalization, shared by the l35 oracle
#: and the l70 pipeline oracle (``{src}`` = relation with doc_id).
_O_URL_PLANT = """
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'https://site' || (doc_id % 25)
                    || '.example.com/p/' || (doc_id % 10)
                    || '?id=' || (doc_id % 50)
               WHEN 1 THEN 'HTTPS://SITE' || (doc_id % 25)
                    || '.Example.COM:443/p/' || (doc_id % 10)
                    || '?id=' || (doc_id % 50) || '&utm_source=feed'
               WHEN 2 THEN 'https://site' || (doc_id % 25)
                    || '.example.com:443/p/' || (doc_id % 10)
                    || '?id=' || (doc_id % 50)
                    || '&utm_campaign=x&utm_medium=y'
               ELSE 'https://Site' || (doc_id % 25)
                    || '.example.com/p/' || (doc_id % 10)
                    || '?id=' || (doc_id % 50) || '&utm_medium=email'
             END AS url
      FROM {src}
"""

_O_URL_CANON = f"""
      SELECT doc_id,
             regexp_replace(
               regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://[^/?]+')),
                              ':443$', '')
               || substring(url, length(regexp_extract(url, '^[a-zA-Z]+://[^/?]+')) + 1),
               '{_URL_TRACK_RE}', '', 'g') AS canonical_url
      FROM planted
"""


def _planted_url() -> Column:
    """Spark twin of _O_URL_PLANT's CASE (over doc_id)."""
    s = F.col("doc_id") % 25
    pg = F.col("doc_id") % 10
    k = F.col("doc_id") % 50
    variant = F.col("doc_id") % 4
    return (
        F.when(
            variant == 0,
            F.concat(
                F.lit("https://site"), s, F.lit(".example.com/p/"), pg,
                F.lit("?id="), k,
            ),
        )
        .when(
            variant == 1,
            F.concat(
                F.lit("HTTPS://SITE"), s, F.lit(".Example.COM:443/p/"), pg,
                F.lit("?id="), k, F.lit("&utm_source=feed"),
            ),
        )
        .when(
            variant == 2,
            F.concat(
                F.lit("https://site"), s, F.lit(".example.com:443/p/"), pg,
                F.lit("?id="), k, F.lit("&utm_campaign=x&utm_medium=y"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://Site"), s, F.lit(".example.com/p/"), pg,
                F.lit("?id="), k, F.lit("&utm_medium=email"),
            )
        )
    )


def _canonical_url() -> Column:
    """Spark twin of _O_URL_CANON (over a ``url`` column)."""
    authority = F.regexp_extract(F.col("url"), r"^[a-zA-Z]+://[^/?]+", 0)
    return F.regexp_replace(
        F.concat(
            F.regexp_replace(F.lower(authority), r":443$", ""),
            F.expr(
                "substring(url, length(regexp_extract(url,"
                " '^[a-zA-Z]+://[^/?]+', 0)) + 1)"
            ),
        ),
        _URL_TRACK_RE,
        "",
    )


@register(
    "l35_dedup_url",
    oracle=f"""
    WITH planted AS ({_O_URL_PLANT.format(src="documents")}
    ), canon AS ({_O_URL_CANON}
    )
    SELECT canonical_url, min(doc_id) AS survivor_id,
           count(*) AS n_docs
    FROM canon GROUP BY canonical_url
    """,
    priority="P2",
)
def l35_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-corpus staple: the same
    resource fetched as HTTPS://HOST:443/…?id=k&utm_source=feed and
    https://host/…?id=k must collapse to one canonical URL before
    content ever gets compared. Rules applied (each a real crawl
    normalization): lowercase scheme+host, strip the protocol
    default port, drop utm_* tracking parameters. The fixture plants
    four messy variants per canonical target (~10 docs collapse per
    URL), so the dedup ratio is pinned by construction.

    Implementation is pure JVM string ops — regexp_extract splits
    the authority (scheme://host:port) from the path, lower+strip
    normalizes it, one global regexp_replace drops tracking params —
    then groupBy(canonical_url) with min-id survivor (the l01 rule).
    The SAME expressions run in the oracle, so canonicalization
    itself is hash-verified, not just the group counts.

    Scale shape: canonicalization is a stateless per-row projection
    fused into the scan; the only shuffle is the group-agg on the
    canonical key, map-side-combined. At crawl scale (10^11 URLs)
    this exact plan runs unchanged — the canonical key is also the
    natural partition key for the downstream content-dedup join
    (l01/l02 consume it)."""
    d = table(spark, sf_dir, "documents")
    planted = d.select("doc_id", _planted_url().alias("url"))
    return (
        planted.select("doc_id", _canonical_url().alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("survivor_id"), F.count("*").alias("n_docs"))
    )


#: l36 quote detection: snippet length (tokens), gram order, and the
#: containment threshold — one block, mirrored into the oracle.
QUOTE_SNIP_TOKENS = 12
QUOTE_GRAM_K = 5
QUOTE_TAU = 0.8


def _o_l36() -> str:
    return f"""
    WITH snips AS (
      SELECT doc_id AS snip_id,
             list_slice(string_split(text, ' '), 1, {QUOTE_SNIP_TOKENS}) AS t
      FROM documents WHERE doc_id % 10 = 0
    ), sg0 AS (
      SELECT snip_id, {o_word_shingles_case(QUOTE_GRAM_K)} AS g FROM snips
    ), sgh AS (
      SELECT DISTINCT snip_id, substring(md5(g1), 1, 16) AS gram
      FROM (SELECT snip_id, unnest(g) AS g1 FROM sg0)
    ), scnt AS (
      SELECT snip_id, count(*) AS n FROM sgh GROUP BY snip_id
    ), ct AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), cg0 AS (
      SELECT doc_id, {o_word_shingles_case(QUOTE_GRAM_K)} AS g FROM ct
    ), cgh AS (
      SELECT DISTINCT doc_id, substring(md5(g1), 1, 16) AS gram
      FROM (SELECT doc_id, unnest(g) AS g1 FROM cg0)
    ), shared AS (
      SELECT s.snip_id, c.doc_id, count(*) AS n_shared
      FROM cgh c JOIN sgh s USING (gram) GROUP BY 1, 2
    )
    SELECT snip_id, doc_id,
           CAST(n_shared AS DOUBLE) / n AS containment
    FROM shared JOIN scnt USING (snip_id)
    WHERE CAST(n_shared AS DOUBLE) / n >= {QUOTE_TAU}
    """


@register("l36_quote_detection", oracle=_o_l36(), priority="P2")
def l36_quote_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote / containment detection — the memorization-audit op a
    training pipeline runs against benchmark prompts, licensed text,
    or known-sensitive passages: for each query snippet (here the
    first QUOTE_SNIP_TOKENS tokens of every 10th doc), find corpus
    documents CONTAINING it — containment = |snippet grams ∩ doc
    grams| / |snippet grams| ≥ τ. Asymmetric by construction: a
    12-token quote inside a 5000-token doc scores 1.0 here but ~0 on
    Jaccard (l13) — which is exactly why near-dup machinery cannot
    find quotes and this operator exists. Self-matches (snippet in
    its own source doc) score 1.0 and validate the pipeline.

    Determinism: md5-prefix grams (the l28 idiom, shared
    o_word_shingles_case generator), containment is one IEEE
    division of identical ints — no rounding needed.

    Scale shape: the snippet gram set is tiny (queries × ~8 grams)
    and BROADCASTS to a semi-join against the corpus gram stream —
    one corpus-side gram explode, no corpus shuffle at all until
    the per-(snippet, doc) count agg over matched rows only. l28's
    df-cap skew guard applies unchanged if query snippets contain
    boilerplate grams; at fixture scale the snippet set is clean."""
    d = table(spark, sf_dir, "documents")
    snip_text = F.array_join(
        F.slice(F.split(F.col("text"), " "), 1, QUOTE_SNIP_TOKENS), " "
    )
    sgh = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").alias("snip_id"),
            F.explode(word_shingles(snip_text, QUOTE_GRAM_K)).alias("__g"),
        )
        .select("snip_id", F.substring(F.md5("__g"), 1, 16).alias("gram"))
        .distinct()
    )
    scnt = sgh.groupBy("snip_id").agg(F.count("*").alias("n"))
    cgh = (
        d.select(
            "doc_id",
            F.explode(word_shingles(F.col("text"), QUOTE_GRAM_K)).alias("__g"),
        )
        .select("doc_id", F.substring(F.md5("__g"), 1, 16).alias("gram"))
        .distinct()
    )
    shared = (
        cgh.join(F.broadcast(sgh), "gram")
        .groupBy("snip_id", "doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(scnt), "snip_id")
        .withColumn(
            "containment", F.col("n_shared").cast("double") / F.col("n")
        )
        .filter(F.col("containment") >= QUOTE_TAU)
        .select("snip_id", "doc_id", "containment")
    )


#: l37 epoch-shuffle seed — changing it yields a fresh, equally
#: deterministic permutation (one per training epoch).
SHUFFLE_SEED = 7


@register(
    "l37_epoch_shuffle",
    oracle=f"""
    SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)
                                           || ':{SHUFFLE_SEED}')) AS shuffle_pos
    FROM documents
    """,
    priority="P2",
)
def l37_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffling — the training-order primitive: a
    reproducible pseudo-random permutation of the corpus per epoch,
    as a TOTAL ORDER by md5(doc_id:seed). Unlike engine RNG shuffles
    this is identical across runs, engines, cluster sizes, and
    repartitionings — the property that makes a training run
    resumable and auditable (position k of epoch 7 is position k of
    epoch 7, forever). A new seed = a new independent permutation.

    Scale shape: total-order position assignment is the f04/l27
    problem — a bare ``row_number() OVER (ORDER BY …)`` collapses to
    ONE partition — so this rides operators/rank.global_row_number:
    range-partition on the hash key, parallel per-partition
    numbering, broadcast per-partition offsets (the TeraSort shape).
    md5 keys are collision-free as a total order at any corpus size
    for practical purposes, and uniformly distributed — so the range
    partitioner's buckets are balanced BY CONSTRUCTION, no skew
    handling needed. In production the writer follows with
    write.sortWithinPartitions(shuffle_pos) partitioned by
    pack/shard — the zero-extra-shuffle layout consumers stream."""
    from hadoop_release_spark.operators.rank import global_row_number

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{SHUFFLE_SEED}"))).alias(
            "__h"
        ),
    )
    return global_row_number(d, ["__h"], rn_name="shuffle_pos").select(
        "doc_id", "shuffle_pos"
    )


#: l39 — block dedup: non-overlapping BLOCK_TOKENS-word blocks; a
#: block hash appearing more than once across the corpus is
#: boilerplate (headers, footers, license text).
BLOCK_TOKENS = 10


@register(
    "l39_block_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), blocks AS (
      SELECT doc_id,
             CAST(k AS BIGINT) AS block_idx,
             md5(array_to_string(
               list_slice(t, k * {BLOCK_TOKENS} + 1,
                          k * {BLOCK_TOKENS} + {BLOCK_TOKENS}), ' ')) AS bh
      FROM (SELECT doc_id, t,
                   unnest(range(0, (len(t) - 1) // {BLOCK_TOKENS} + 1)) AS k
            FROM toks)
    ), ranked AS (
      SELECT bh, doc_id, block_idx,
             count(*) OVER (PARTITION BY bh) AS n_copies,
             row_number() OVER (PARTITION BY bh
                                ORDER BY doc_id, block_idx) AS rn
      FROM blocks
    )
    SELECT bh AS block_hash,
           CAST(n_copies AS BIGINT) AS n_copies,
           doc_id AS survivor_doc_id,
           block_idx AS survivor_block_idx
    FROM ranked WHERE rn = 1 AND n_copies > 1
    """,
    priority="P2",
)
def l39_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (block-level) dedup — the boilerplate remover
    between l01's whole-doc hash and l02's fuzzy MinHash: documents
    split into non-overlapping 10-word blocks, blocks repeated
    ANYWHERE in the corpus surface with their copy count and
    first-occurrence survivor (doc_id, block_idx). Real pipelines
    strip or down-weight these repeated blocks (headers, footers,
    license stubs) before training.

    Determinism: block boundaries are the l31 fixed-grid rule;
    md5 is the portable hash; survivor order (doc_id, block_idx) is
    total. All outputs int/string.

    Scale shape: block extraction is per-row explode fused into the
    scan (l31); then ONE shuffle on the block hash where count and
    survivor come from the same window pass — the shuffle payload is
    slim (hash, doc, idx) triples, never block text. The n_copies>1
    filter drops the unique tail ON the shuffle output; at 100 TB
    that tail is ~all blocks, so the emitted table is the small
    boilerplate set by construction."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    blocks_arr = F.transform(
        F.sequence(
            F.lit(0), F.floor((F.size(toks) - 1) / F.lit(BLOCK_TOKENS)).cast("int")
        ),
        lambda k: F.struct(
            k.cast("long").alias("block_idx"),
            F.md5(
                F.array_join(F.slice(toks, k * BLOCK_TOKENS + 1, BLOCK_TOKENS), " ")
            ).alias("bh"),
        ),
    )
    blocks = d.select("doc_id", F.explode(blocks_arr).alias("__b")).select(
        "doc_id", "__b.block_idx", "__b.bh"
    )
    wc = Window.partitionBy("bh")
    wr = Window.partitionBy("bh").orderBy("doc_id", "block_idx")
    return (
        blocks.withColumn("n_copies", F.count("*").over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .filter((F.col("rn") == 1) & (F.col("n_copies") > 1))
        .select(
            F.col("bh").alias("block_hash"),
            F.col("n_copies").cast("bigint").alias("n_copies"),
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("block_idx").alias("survivor_block_idx"),
        )
    )


#: l40 — prefix fingerprint length (words). Re-crawls and truncated
#: mirrors share prefixes even when tails differ.
PREFIX_TOKENS = 16


@register(
    "l40_dedup_prefix",
    oracle=f"""
    WITH pf AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(
               list_slice(string_split(text, ' '), 1, {PREFIX_TOKENS}), ' '))
               AS prefix_hash
      FROM documents
    )
    SELECT prefix_hash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS survivor_id,
           CAST(max(n_chars) AS BIGINT) AS longest_chars
    FROM pf GROUP BY prefix_hash HAVING count(*) > 1
    """,
    priority="P2",
)
def l40_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint dedup — catches truncated mirrors and
    re-crawls that whole-document hashing (l01) misses: two fetches
    of the same page cut at different lengths have different md5s
    but identical 16-word prefixes. Groups sharing a prefix surface
    with the min-id survivor and the longest variant's size (real
    pipelines keep the longest, on the most-complete-fetch
    heuristic).

    Determinism: fixed-length word prefix, portable md5, outputs are
    counts and selections.

    Scale shape: the fingerprint is a per-row projection fused into
    the scan — the shuffle carries (hash, doc_id, n_chars), never
    text — then ONE map-side-combined group agg; HAVING keeps only
    collision groups, which is the tiny output by construction.
    This is the cheapest near-dup pass after l01 and runs at the
    same one-shuffle cost."""
    d = table(spark, sf_dir, "documents")
    prefix_hash = F.md5(
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, PREFIX_TOKENS), " ")
    )
    return (
        d.select(prefix_hash.alias("prefix_hash"), "doc_id", "n_chars")
        .groupBy("prefix_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("survivor_id"),
            F.max("n_chars").cast("bigint").alias("longest_chars"),
        )
        .filter(F.col("n_docs") > 1)
    )


#: l41 — fixed sample size per group (docs per source). 10 < the
#: fixture's 25 docs/source at every SF, so the filter is exercised
#: (k=25 would pass sf0.01 through untouched — a vacuous sample).
SAMPLE_K_PER_GROUP = 10


@register(
    "l41_sample_k_per_group",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
             md5(CAST(doc_id AS VARCHAR) || ':ksample') AS sk
      FROM documents
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY sk, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
    FROM ranked WHERE rn <= {SAMPLE_K_PER_GROUP}
    """,
    priority="P2",
)
def l41_sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EXACT-k per-group sample — the fixed-size
    counterpart of l24's rate-based strata: the k docs per source
    with the smallest md5(doc_id:salt), i.e. a uniform k-sample that
    is reproducible across engines, runs, cluster sizes, and
    repartitioning (``df.sample`` is none of these). The fixed-size
    guarantee is what per-domain eval subsets and human-review
    queues need, where a rate sample's size drifts with the corpus.

    Scale shape: ONE shuffle on the group key; the rank window sees
    |group| rows per key and the rn ≤ k filter fuses into the window
    stage. At extreme per-group cardinality the same semantics run
    as a bounded top-k-by-hash agg (per-partition k-heaps, the f02
    shape) — identical output, heap-bounded memory."""
    d = table(spark, sf_dir, "documents")
    sk = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ksample")))
    w = Window.partitionBy("source").orderBy("sk", "doc_id")
    return (
        d.select("doc_id", "source", sk.alias("sk"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_K_PER_GROUP)
        .select("doc_id", "source", F.col("rn").cast("bigint").alias("sample_rank"))
    )


# ---------------------------------------------------------------- l50
#: Span-corruption geometry (T5 defaults scaled to a fixed grid):
#: one masked span per 20-token block, deterministic md5-derived
#: start offset (0-16) and length (1-5, mean 3) ⇒ ~15% corruption.
_L50_BLOCK = 20
_L50_MAX_START = 17
_L50_MAX_LEN = 5


def _o_l50() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ), blocks AS (
      SELECT doc_id, tk, len(tk) AS ntok,
             unnest(range(0, (len(tk) + {_L50_BLOCK} - 1) // {_L50_BLOCK}))
               AS b
      FROM toks WHERE len(tk) > 0
    ), spans AS (
      SELECT doc_id, tk, ntok, b,
             b * {_L50_BLOCK}
               + CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8))::BIGINT
                      % {_L50_MAX_START} AS BIGINT) AS start_tok,
             1 + CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 9, 8))::BIGINT
                      % {_L50_MAX_LEN} AS BIGINT) AS raw_len
      FROM blocks
    ), clipped AS (
      SELECT doc_id, tk, b AS span_idx, start_tok,
             least(start_tok + raw_len,
                   least((b + 1) * {_L50_BLOCK}, ntok)) - start_tok AS span_len
      FROM spans WHERE start_tok < ntok
    )
    SELECT doc_id, CAST(span_idx AS INT) AS span_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(span_len AS BIGINT) AS span_len,
           array_to_string(tk[start_tok + 1 : start_tok + span_len], ' ')
             AS target_text
    FROM clipped
    """


@register("l50_span_corruption", oracle=_o_l50(), priority="P2")
def l50_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption plan (Raffel et al. §3.1.4): the
    masking schedule a denoising pretraining objective needs — for
    every document, one masked span per 20-token block with
    md5-derived start (0-16) and length (1-5, mean 3) ≈ 15%
    corruption at mean span 3, the published defaults. Emits
    (span_idx, start_tok, span_len, target_text) — the sentinel
    positions and target sequence a T5 data loader consumes.
    Deterministic by construction (rule 6: md5-integer arithmetic),
    so every epoch and every engine regenerates the identical
    schedule — and the oracle checks span GEOMETRY and target TEXT
    both.

    Scale shape: pure per-row expressions fused onto the scan
    (filter-split once, then a block-range explode bounded by
    ntok/20); no shuffle at all — the whole schedule is map-side.
    Non-overlap is structural (one span per block), which is what
    makes the plan declarative instead of a sequential RNG walk."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("tk"),
    ).withColumn("ntok", F.size("tk"))
    blocks = toks.filter(F.col("ntok") > 0).select(
        "doc_id",
        "tk",
        "ntok",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                ((F.col("ntok") + _L50_BLOCK - 1) / _L50_BLOCK)
                .cast("long") - 1,
            )
        ).alias("b"),
    )
    h = F.md5(F.concat_ws(":", "doc_id", "b"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _L50_MAX_START
    h2 = 1 + F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % _L50_MAX_LEN
    spans = blocks.select(
        "doc_id",
        "tk",
        "ntok",
        F.col("b").alias("span_idx"),
        (F.col("b") * _L50_BLOCK + h1).alias("start_tok"),
        h2.alias("raw_len"),
    ).filter(F.col("start_tok") < F.col("ntok"))
    end = F.least(
        F.col("start_tok") + F.col("raw_len"),
        F.least((F.col("span_idx") + 1) * _L50_BLOCK, F.col("ntok")),
    )
    return spans.select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        "start_tok",
        (end - F.col("start_tok")).alias("span_len"),
        F.array_join(
            F.slice(
                "tk",
                (F.col("start_tok") + 1).cast("int"),
                (end - F.col("start_tok")).cast("int"),
            ),
            " ",
        ).alias("target_text"),
    )


# ---------------------------------------------------------------- l52
_L52_GRAM_K = 8


def _o_l52() -> str:
    from hadoop_release_spark.operators.dedup import o_word_shingles_case

    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT doc_id, substring(md5(g), 1, 16) AS gk
      FROM (SELECT doc_id, unnest({o_word_shingles_case(_L52_GRAM_K)}) AS g
            FROM toks)
    ), first AS (
      SELECT gk, min(doc_id) AS first_doc FROM grams GROUP BY gk
    ), per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      FROM grams GROUP BY doc_id
    ), novel AS (
      SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
      FROM first GROUP BY first_doc
    )
    SELECT p.doc_id, p.n_grams,
           coalesce(n.n_novel, 0) AS n_novel,
           CAST(coalesce(n.n_novel, 0) AS DOUBLE)
             / CAST(p.n_grams AS DOUBLE) AS novelty
    FROM per_doc p LEFT JOIN novel n USING (doc_id)
    """


@register("l52_ngram_novelty", oracle=_o_l52(), priority="P2")
def l52_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus self-novelty in ingestion order — the diversity metric
    data curation tracks per shard: for each document, the fraction
    of its distinct 8-grams whose FIRST corpus occurrence (lowest
    doc_id) is this document. A shard of boilerplate scores ≈0 and
    adds nothing to training; the running sum of n_novel is the
    corpus's distinct-gram growth curve. Shares the l02/l28 shingle
    definition (operators/dedup.py, one generator both engines).

    Determinism: gram keys are 16-hex md5 prefixes (rule 6); counts
    exact; novelty = one IEEE division of identical ints.

    Scale shape: the gram shuffle carries (16-hex key, doc_id) slim
    pairs — never gram text (the l28 idiom); first-occurrence is a
    min agg with map-side combine; the novel count is a re-agg of
    that gram-keyed table, NOT a second corpus pass; per-doc sizes
    ride the same exploded scan. No joins touch raw documents."""
    from hadoop_release_spark.operators.dedup import word_shingles

    d = table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(word_shingles(F.col("text"), k=_L52_GRAM_K)).alias("g"),
    ).select("doc_id", F.substring(F.md5("g"), 1, 16).alias("gk"))
    first = grams.groupBy("gk").agg(F.min("doc_id").alias("first_doc"))
    per_doc = grams.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    novel = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_novel")
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            (
                F.coalesce("n_novel", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------- l53
#: FIM geometry: md5-derived cut points; docs shorter than 4 tokens
#: pass through unsplit (psm_applied = false).
_L53_MIN_TOKENS = 4


def _o_l53() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), cuts AS (
      SELECT doc_id, t, len(t) AS n,
             1 + CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':fim1'), 1, 8))::BIGINT
                      % (len(t) - 2) AS BIGINT) AS c1r,
             1 + CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':fim2'), 1, 8))::BIGINT
                      % (len(t) - 2) AS BIGINT) AS c2r
      FROM toks WHERE len(t) >= {_L53_MIN_TOKENS}
    ), ordered AS (
      SELECT doc_id, t, n,
             least(c1r, c2r) AS c1, greatest(c1r, c2r) + 1 AS c2
      FROM cuts
    )
    SELECT doc_id, TRUE AS psm_applied,
           CAST(c1 AS BIGINT) AS n_prefix,
           CAST(c2 - c1 AS BIGINT) AS n_middle,
           CAST(n - c2 AS BIGINT) AS n_suffix,
           array_to_string(t[c2 + 1 : n], ' ')
             || '<|fim_prefix|>' || array_to_string(t[1 : c1], ' ')
             || '<|fim_middle|>' || array_to_string(t[c1 + 1 : c2], ' ')
             AS psm_text
    FROM ordered
    UNION ALL
    SELECT doc_id, FALSE AS psm_applied,
           CAST(len(t) AS BIGINT) AS n_prefix,
           0 AS n_middle, 0 AS n_suffix,
           array_to_string(t, ' ') AS psm_text
    FROM toks WHERE len(t) < {_L53_MIN_TOKENS}
    """


@register("l53_fim_transform", oracle=_o_l53(), priority="P2")
def l53_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022): split
    each document's token sequence at two md5-derived cut points
    into (prefix, middle, suffix) and emit the PSM reordering
    ``suffix ⟨fim_prefix⟩ prefix ⟨fim_middle⟩ middle`` — the data
    augmentation that teaches a causal LM to infill. Cut points are
    deterministic (rule 6), so every epoch and engine produces the
    identical split; the two raw cuts order-normalize (min, max+1)
    so middle is always non-empty. Docs under 4 tokens pass
    through unsplit with psm_applied = false.

    Scale shape: pure per-row expressions fused onto the scan —
    zero shuffles, zero joins (the l50 posture; together they cover
    the two standard denoising objectives)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).withColumn(
        "n", F.size("t")
    )
    h = lambda salt: (  # noqa: E731
        1
        + F.conv(
            F.substring(F.md5(F.concat_ws("", F.col("doc_id").cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("long")
        % (F.col("n") - 2)
    )
    long_docs = toks.filter(F.col("n") >= _L53_MIN_TOKENS).select(
        "doc_id",
        "t",
        "n",
        h(":fim1").alias("c1r"),
        h(":fim2").alias("c2r"),
    )
    ordered = long_docs.select(
        "doc_id",
        "t",
        "n",
        F.least("c1r", "c2r").alias("c1"),
        (F.greatest("c1r", "c2r") + 1).alias("c2"),
    )
    seg = lambda lo, length: F.array_join(  # noqa: E731
        F.slice("t", lo, length), " "
    )
    split_rows = ordered.select(
        "doc_id",
        F.lit(True).alias("psm_applied"),
        F.col("c1").cast("long").alias("n_prefix"),
        (F.col("c2") - F.col("c1")).cast("long").alias("n_middle"),
        (F.col("n") - F.col("c2")).cast("long").alias("n_suffix"),
        F.concat(
            seg((F.col("c2") + 1).cast("int"), (F.col("n") - F.col("c2")).cast("int")),
            F.lit("<|fim_prefix|>"),
            seg(F.lit(1), F.col("c1").cast("int")),
            F.lit("<|fim_middle|>"),
            seg((F.col("c1") + 1).cast("int"), (F.col("c2") - F.col("c1")).cast("int")),
        ).alias("psm_text"),
    )
    short_rows = toks.filter(F.col("n") < _L53_MIN_TOKENS).select(
        "doc_id",
        F.lit(False).alias("psm_applied"),
        F.col("n").cast("long").alias("n_prefix"),
        F.lit(0).cast("long").alias("n_middle"),
        F.lit(0).cast("long").alias("n_suffix"),
        F.array_join("t", " ").alias("psm_text"),
    )
    return split_rows.unionByName(short_rows)


#: l57 BERT masking schedule: select 15% of tokens; of those, 80%
#: become [MASK], 10% a random vocab token, 10% stay (Devlin §3.1).
_L57_SELECT_PCT = 15
_L57_MASK_TOKEN = "[MASK]"


def _o_l57() -> str:
    u = (
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||"
        " CAST(pos AS VARCHAR) || ':mlm'), 1, 8))::BIGINT"
    )
    return f"""
    WITH toks0 AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ), toks AS (
      SELECT doc_id, i - 1 AS pos, tk[i] AS tok
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
            FROM toks0 WHERE len(tk) >= 1)
    ), m AS (
      SELECT doc_id, pos, tok, {u} AS u FROM toks
    ), sel AS (
      SELECT * FROM m WHERE u % 100 < {_L57_SELECT_PCT}
    ), vocab AS (
      SELECT tok AS vtok, row_number() OVER (ORDER BY tok) AS vid
      FROM (SELECT DISTINCT tok FROM toks)
    ), vs AS (
      SELECT CAST(count(*) AS BIGINT) AS vsize FROM vocab
    )
    SELECT s.doc_id, CAST(s.pos AS INT) AS pos, s.tok AS original,
           CASE WHEN (s.u // 100) % 10 <= 7 THEN 'mask'
                WHEN (s.u // 100) % 10 = 8 THEN 'random'
                ELSE 'keep' END AS action,
           CASE WHEN (s.u // 100) % 10 <= 7 THEN '{_L57_MASK_TOKEN}'
                WHEN (s.u // 100) % 10 = 8 THEN v.vtok
                ELSE s.tok END AS replacement
    FROM sel s CROSS JOIN vs
    JOIN vocab v ON v.vid = (s.u // 1000) % vs.vsize + 1
    """


@register("l57_mlm_masking", oracle=_o_l57(), priority="P2")
def l57_mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style MLM masking schedule (Devlin et al. 2018 §3.1) —
    with l50 (T5 spans) and l53 (FIM) this completes the denoising
    objective family: select 15% of token positions, then 80% →
    [MASK], 10% → a RANDOM vocabulary token, 10% → unchanged.
    Every decision is rule-6 md5-integer arithmetic on
    (doc_id, pos), so all epochs and both engines regenerate the
    identical schedule; the random replacement indexes the corpus's
    own deterministic vocabulary (dense ids by token sort order).
    Emits one row per SELECTED position: (doc_id, pos, original,
    action, replacement).

    Scale shape: position explode + hash decisions are per-row
    expressions fused onto the scan; the 85% unselected tokens are
    FILTERED before anything shuffles. Vocabulary ids come from the
    two-phase range-partitioned ranker (operators/rank.py — never a
    single-partition window even over the vocab), and the
    replacement lookup is a BROADCAST join on vid (the vocab is
    Zipf-compact; the l42 top-K/OOV fold applies if it ever isn't).
    The vocabulary size rides as a 1-row broadcast (d29 pattern)."""
    from hadoop_release_spark.operators.rank import global_row_number

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("pos", "tok"),
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", "doc_id", "pos", F.lit("mlm"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    sel = toks.withColumn("u", u).filter(F.col("u") % 100 < _L57_SELECT_PCT)
    vocab = global_row_number(
        toks.select("tok").distinct(), ["tok"], "vid"
    ).withColumnRenamed("tok", "vtok")
    vs = vocab.agg(F.count("*").cast("long").alias("vsize"))
    # Integer DIV, not float division: (u / 100).cast('long') is safe
    # only while u < 2^32 keeps the quotient exact in double
    # precision — DIV mirrors the oracle's u // 100 for any width.
    act = F.expr("u DIV 100") % 10
    out = (
        sel.crossJoin(F.broadcast(vs))
        .withColumn("rid", F.expr("u DIV 1000") % F.col("vsize") + 1)
        .join(F.broadcast(vocab), F.col("rid") == F.col("vid"))
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.col("tok").alias("original"),
            F.when(act <= 7, "mask")
            .when(act == 8, "random")
            .otherwise("keep")
            .alias("action"),
            F.when(act <= 7, F.lit(_L57_MASK_TOKEN))
            .when(act == 8, F.col("vtok"))
            .otherwise(F.col("tok"))
            .alias("replacement"),
        )
    )
    return out


@register(
    "l59_preference_pairs",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','and','of','to','in','a','is'))) * 1000
             // len(string_split(text, ' ')) AS score
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM scored
    )
    SELECT a.source, CAST(a.rk AS BIGINT) AS pair_idx,
           a.doc_id AS chosen_id, b.doc_id AS rejected_id,
           CAST(a.score AS BIGINT) AS chosen_score,
           CAST(b.score AS BIGINT) AS rejected_score,
           CAST(a.score - b.score AS BIGINT) AS margin
    FROM ranked a
    JOIN ranked b ON a.source = b.source AND b.rk = a.n - a.rk + 1
    WHERE a.rk <= a.n // 2
    """,
    priority="P2",
)
def l59_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly for DPO/RLHF-style training — the
    data-prep step that turns a scored pool into (chosen, rejected)
    pairs: within each source group, rank documents by an
    INTEGER quality score (stopword density ‰ — the l20 naturalness
    signal made exact: n_stop·1000 DIV n_tokens, so rankings never
    compare floats; rule 5 id-tie-broken) and pair best-with-worst
    inward (rank i ↔ rank n−i+1, i ≤ n/2) — the maximal-margin
    matching that gives a preference optimizer its strongest
    gradient signal; the middle document of an odd group is
    unpaired. Emits (source, pair_idx, chosen/rejected ids+scores,
    margin ≥ 0).

    Scale shape: scoring is pure JVM expressions fused onto the
    scan; ONE source-partitioned rank window (groups are
    prompt/source-sized, never corpus-sized); the pairing self-join
    keys on (source, rank) — an equi hash join producing exactly
    ⌊n/2⌋ rows per group. No floats anywhere — margin is an exact
    integer difference."""
    d = table(spark, sf_dir, "documents")
    score = F.expr(
        "size(filter(split(text, ' '),"
        " x -> x IN ('the','and','of','to','in','a','is'))) * 1000"
        " DIV size(split(text, ' '))"
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), "doc_id")
    wc = Window.partitionBy("source")
    ranked = d.select("doc_id", "source", score.alias("score")).select(
        "doc_id",
        "source",
        "score",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wc).alias("n"),
    )
    a = ranked.select(
        "source",
        F.col("rk").alias("rk_a"),
        F.col("n").alias("n_a"),
        F.col("doc_id").alias("chosen_id"),
        F.col("score").alias("chosen_score"),
    )
    b = ranked.select(
        "source",
        F.col("rk").alias("rk_b"),
        F.col("doc_id").alias("rejected_id"),
        F.col("score").alias("rejected_score"),
    )
    return (
        a.join(
            b,
            (a.source == b.source)
            & (F.col("rk_b") == F.col("n_a") - F.col("rk_a") + 1),
        )
        .filter(F.col("rk_a") <= F.expr("n_a DIV 2"))
        .select(
            a.source,
            F.col("rk_a").cast("long").alias("pair_idx"),
            "chosen_id",
            "rejected_id",
            F.col("chosen_score").cast("long").alias("chosen_score"),
            F.col("rejected_score").cast("long").alias("rejected_score"),
            (F.col("chosen_score") - F.col("rejected_score"))
            .cast("long")
            .alias("margin"),
        )
    )


#: l60: shard count for rendezvous (highest-random-weight) hashing.
_L60_SHARDS = 8


def rendezvous_shard(
    doc_id: str = "doc_id", n_shards: int = _L60_SHARDS
) -> Column:
    """``argmax_s md5(doc:s)`` as ONE shuffle-free projection.

    The shard count is a driver-side constant, so the argmax over s
    never needs rows: build the S (key, shard) structs inline and
    take ``array_max`` — struct comparison is field-by-field, so max
    key wins and the negated-shard second field breaks (impossible,
    distinct-md5) ties toward the SMALLER shard, byte-identical to
    the previous ``explode(sequence) + row_number() OVER (PARTITION
    BY doc_id ORDER BY key DESC, shard)`` plan that cost a hash
    exchange of S·N slim rows (round-9 verdict item 3: zero rows
    beats slim rows). The l60/l61 oracles keep the explode+window
    spelling — same argmax, and DuckDB is the referee, not the
    engine. Plan-pinned exchange-free in tests/test_plans.py."""
    return F.array_max(
        F.array(
            *[
                F.struct(
                    F.md5(
                        F.concat_ws(":", F.col(doc_id), F.lit(s))
                    ).alias("key"),
                    F.lit(-s).alias("neg"),
                    F.lit(s).cast("long").alias("shard"),
                )
                for s in range(n_shards)
            ]
        )
    )["shard"]


@register(
    "l60_rendezvous_sharding",
    oracle=f"""
    WITH pairs AS (
      SELECT doc_id, s.s AS shard,
             md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s.s AS VARCHAR))
               AS key
      FROM documents, unnest(range(0, {_L60_SHARDS})) AS s(s)
    ), ranked AS (
      SELECT doc_id, shard, key,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY key DESC, shard) AS rn
      FROM pairs
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard
    FROM ranked WHERE rn = 1
    """,
    priority="P2",
)
def l60_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment (Thaler &
    Ravishankar 1998) — the data-placement primitive behind
    consistent corpus sharding: doc d goes to
    argmax_s md5(d:s). Unlike mod-N hashing, REMOVING a shard only
    reassigns the documents that lived on it (each survivor keeps
    its argmax) — the minimal-disruption property a growing corpus
    store needs, pinned by a drop-shard pytest. Deterministic rule-6
    arithmetic; hex-string comparison is byte-identical in both
    engines and ties are impossible (distinct md5 inputs).

    Scale shape: ZERO shuffle — the argmax over the S driver-side
    shard constants is one :func:`rendezvous_shard` projection fused
    into the scan (no explode, no per-doc window exchange). Shard
    count changes re-run only the projection — no data movement
    plan needed for unaffected docs."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    return d.select("doc_id", rendezvous_shard("doc_id").alias("shard"))


@register(
    "l61_shard_manifest",
    oracle=f"""
    WITH pairs AS (
      SELECT doc_id, s.s AS shard,
             md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s.s AS VARCHAR))
               AS key
      FROM documents, unnest(range(0, {_L60_SHARDS})) AS s(s)
    ), ranked AS (
      SELECT doc_id, shard,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY key DESC, shard) AS rn
      FROM pairs
    ), assigned AS (
      SELECT r.doc_id, r.shard, md5(d.text) AS digest,
             CAST(d.n_chars AS BIGINT) AS n_chars
      FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
      WHERE r.rn = 1
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           md5(string_agg(digest, '' ORDER BY doc_id)) AS manifest_digest
    FROM assigned GROUP BY shard
    """,
    priority="P2",
)
def l61_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard integrity manifest for a reproducible dataset release —
    the attestation layer on top of l60's placement: per rendezvous
    shard, the doc count, total size, and a MANIFEST DIGEST =
    md5(concat of per-doc content digests in doc_id order). Any
    flipped byte, dropped doc, or reordered write in a shard changes
    its manifest — the property a training-data release needs to
    prove "this is exactly the corpus the model saw". Rule-6 md5
    end-to-end; the concatenation order is the explicit doc_id sort,
    so the digest is engine- and partitioning-independent.

    Scale shape: assignment is the shuffle-free
    :func:`rendezvous_shard` projection (no explode, no per-doc
    window, no join back — the digest and shard come off the SAME
    scan row); ONE shard shuffle groups docs (exactly the placement
    shuffle the release writer already pays); the in-group digest
    concat sorts |shard|-sized digest lists (32 B each — the
    manifest input is ~3000× smaller than the shard's text). At
    larger shards, chunk the sorted digests and Merkle-fold the
    chunk digests — same contract, bounded memory."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    assigned = d.select(
        rendezvous_shard("doc_id").alias("shard"),
        "doc_id",
        F.md5("text").alias("digest"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return assigned.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "digest"))
                    ),
                    lambda s: s["digest"],
                ),
                "",
            )
        ).alias("manifest_digest"),
    ).select(
        F.col("shard").cast("long").alias("shard"),
        "n_docs",
        "total_chars",
        "manifest_digest",
    )


@register(
    "l63_quality_calibration",
    oracle=r"""
    WITH s AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_cnt
      FROM documents
    ), r AS (
      SELECT doc_id, source, tok_cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY tok_cnt, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM s
    )
    SELECT doc_id, source, tok_cnt,
           CAST(round(CAST(rn - 1 AS DOUBLE)
                      / CAST(greatest(n - 1, 1) AS DOUBLE), 6) + 0.0
                AS DOUBLE) AS pct,
           CAST(least((rn - 1) * 10 // n, 9) AS BIGINT) AS decile
    FROM r
    """,
    priority="P2",
)
def l63_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of a quality score — the
    standard fix for mixing corpora whose raw quality scales differ
    (a "good" web page and a "good" paper score on different scales;
    calibrating each source to its own percentile makes one global
    threshold meaningful). Score = whitespace token count (the l16
    metric); pct = (rank−1)/(n−1) within the source under the
    deterministic (score, doc_id) total order (row_number, not rank:
    ties split deterministically — rule 5); decile = ⌊(rank−1)·10/n⌋
    in pure integer arithmetic (no float bucketing drift).

    Scale shape: scoring is a scan-fused projection; ONE source
    shuffle drives both windows (rank and count share the partition).
    Per-source groups are corpus-scale at 100 TB, so the production
    swap is the two-phase ranker per source (operators/rank.py, the
    l27 pattern) or d23's equi-depth quantile cut — the output
    contract (deterministic per-source percentile) is unchanged;
    the window form IS the right plan while each source fits its
    executors' sort budget."""
    d = table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("tok_cnt"),
    )
    w = Window.partitionBy("source").orderBy("tok_cnt", "doc_id")
    wn = Window.partitionBy("source")
    return (
        s.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wn))
        .select(
            "doc_id",
            "source",
            "tok_cnt",
            # greatest(n-1, 1): a single-doc source calibrates to
            # pct 0.0 instead of 0/0 NaN (cross-engine NaN hashing
            # is undefined behavior this contract never emits).
            (
                F.round(
                    (F.col("rn") - 1).cast("double")
                    / F.greatest(F.col("n") - 1, F.lit(1)).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("pct"),
            F.least(
                F.expr("(rn - 1) * 10 DIV n"), F.lit(9)
            ).cast("long").alias("decile"),
        )
    )


def _o_l64() -> str:
    cur_extra = ", source, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks"
    diff_extra = ", c.source AS cur_source, c.toks AS cur_toks"
    return f"""
    WITH {_o_diff_sql(cur_extra, diff_extra)}, attributed AS (
      SELECT COALESCE(d.cur_source, o.source) AS source, d.status,
             COALESCE(d.cur_toks, o.toks) AS toks
      FROM diff d
      LEFT JOIN cur o ON d.status = 'removed'
                     AND o.doc_id = d.doc_id - {_DIFF_PHANTOM_BASE}
    )
    SELECT source, status,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS n_tokens
    FROM attributed GROUP BY source, status
    """


@register("l64_corpus_diff_drilldown", oracle=_o_l64(), priority="P2")
def l64_corpus_diff_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source changelog rollup — joins l32's snapshot diff with
    l45's card dimension (source) to answer the release-review
    question "which sources churned in this release, and how many
    tokens moved?": per (source, status) doc and token counts.
    Removed docs have no current row, so their source/token mass is
    attributed to the ORIGINATING doc (the one the phantom snapshot
    row was derived from) — in production, to the previous
    snapshot's own source column. Counts are exact bigints.

    Scale shape: l32's hash-keyed full outer join on slim
    (id, md5) rows, plus one doc_id equi-join to re-attach
    (source, toks) for the removed stratum only (LEFT JOIN keyed
    null for every other status — Catalyst prunes the probe to the
    removed rows), then ONE (source, status) map-side-combined agg
    whose domain is |sources|×4 forever. Text bytes never shuffle;
    the drilldown costs one more slim join than l32 itself.
    Cites l32 (diff statuses) and l45 (per-source card)."""
    d = table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("long")
    diff = _snapshot_diff(
        d, {"cur_source": F.col("source"), "cur_toks": toks}
    )
    origin = d.select(
        F.col("doc_id").alias("o_id"),
        F.col("source").alias("o_source"),
        toks.alias("o_toks"),
    )
    attributed = (
        diff.join(
            origin,
            (F.col("status") == "removed")
            & (F.col("o_id") == F.col("doc_id") - _DIFF_PHANTOM_BASE),
            "left",
        )
        .select(
            F.coalesce(F.col("cur_source"), F.col("o_source")).alias("source"),
            "status",
            F.coalesce(F.col("cur_toks"), F.col("o_toks")).alias("toks"),
        )
    )
    return attributed.groupBy("source", "status").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
    )


#: l65 — temperature-sampling parameters: alpha = 1/2 (sampling
#: probability ∝ n^alpha, the mT5/XLM-R low-resource up-weighting
#: rule, realized here as exact integer sqrt-proportional targets)
#: and a total budget of half the corpus.
L65_BUDGET_DEN = 2


def _o_l65() -> str:
    return f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(CAST(round(sqrt(CAST(n AS DOUBLE)), 6)
                           AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS w_sum
      FROM c
    ), q AS (
      SELECT c.lang, c.n,
             CAST(t.n_total // {L65_BUDGET_DEN} AS DOUBLE)
               * CAST(CAST(round(sqrt(CAST(c.n AS DOUBLE)), 6)
                           AS DECIMAL(18,6)) AS DOUBLE)
               / CAST(t.w_sum AS DOUBLE) AS quota,
             t.n_total AS n_total
      FROM c, tot t
    ), fl AS (
      SELECT lang, n, n_total, quota,
             CAST(floor(quota) AS BIGINT) AS base,
             quota - floor(quota) AS rem
      FROM q
    ), tgt AS (
      SELECT lang, n,
             base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
                          <= n_total // {L65_BUDGET_DEN}
                             - sum(base) OVER ()
                    THEN 1 ELSE 0 END AS target
      FROM fl
    ), ranked AS (
      SELECT d.doc_id, d.lang,
             row_number() OVER (PARTITION BY d.lang
                 ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
      FROM documents d
    )
    SELECT r.doc_id, r.lang, CAST(t.target AS BIGINT) AS lang_target
    FROM ranked r JOIN tgt t ON r.lang = t.lang
    WHERE r.rn <= t.target
    """


@register("l65_temperature_mix", oracle=_o_l65(), priority="P2")
def l65_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing — the mT5/XLM-R multilingual
    sampling rule: keep a per-language share ∝ n_lang^alpha
    (alpha = 1/2), so low-resource languages are up-weighted relative
    to their raw counts, realized as EXACT integer targets hitting a
    fixed total budget (N DIV {L65_BUDGET_DEN}) via largest-remainder
    (Hamilton) apportionment, then filled deterministically by
    md5-rank within each language. Distinct from l29 (uniform
    per-source cap via a rate) and l24 (fixed published quotas):
    here the apportionment is DATA-DRIVEN and the global budget is
    hit exactly — what a training-mix builder actually publishes.

    Determinism/float rule: IEEE-754 sqrt is correctly rounded, so
    both engines compute identical per-language weights; each weight
    is rounded to an exact 6-dp DECIMAL so the weight SUM is exact
    decimal arithmetic (order-free — the d27 concern eliminated, not
    just bounded); quota = B·w/W is then ONE shared IEEE tree over
    identical inputs, so floor/remainder/rank agree bit-for-bit.
    Remainder ties break on the language code. Selection is l24's
    portable md5 rank — reproducible across engines, runs, and
    cluster sizes.

    Scale shape: one tiny lang-count agg (|langs| rows) does the
    whole apportionment (unpartitioned windows over the
    aggregate-sized table — the l29 pattern); targets broadcast back
    as a map-side join; the per-lang md5-rank window is the l63
    shape, whose documented 100 TB swap is the two-phase per-key
    ranker (l27) — or l24's bucket filter when the target need only
    be hit in expectation."""
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
    w = F.round(F.sqrt(F.col("n").cast("double")), 6).cast("decimal(18,6)")
    # Totals via unpartitioned windows over the |langs|-row counts
    # table (the l29 pattern: aggregate-sized input, and it keeps the
    # plan free of the nested-loop join a 1-row cross join would
    # introduce).
    all_w0 = Window.partitionBy()
    q = c.select("lang", "n", w.alias("w")).select(
        "lang",
        "n",
        F.sum("n").over(all_w0).cast("long").alias("n_total"),
        F.sum("w").over(all_w0).cast("decimal(38,6)").alias("w_sum"),
        "w",
    ).select(
        "lang",
        "n",
        "n_total",
        (
            F.expr(f"CAST(n_total DIV {L65_BUDGET_DEN} AS DOUBLE)")
            * F.col("w").cast("double")
            / F.col("w_sum").cast("double")
        ).alias("quota"),
    )
    fl = q.select(
        "lang",
        "n",
        "n_total",
        "quota",
        F.floor("quota").cast("long").alias("base"),
        (F.col("quota") - F.floor("quota")).alias("rem"),
    )
    # |langs|-row table: unpartitioned windows are the l29 exception.
    rn_w = Window.orderBy(F.col("rem").desc(), "lang")
    all_w = Window.partitionBy()
    tgt = fl.select(
        "lang",
        (
            F.col("base")
            + F.when(
                F.row_number().over(rn_w)
                <= F.expr(f"n_total DIV {L65_BUDGET_DEN}")
                - F.sum("base").over(all_w),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("lang_target"),
    )
    ranked = d.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rn"),
    )
    return (
        ranked.join(F.broadcast(tgt), "lang")
        .filter(F.col("rn") <= F.col("lang_target"))
        .select("doc_id", "lang", "lang_target")
    )


#: l70 — embedding dimension (the fixture contract, = l_llm_ext._DIM)
#: and the semantic-dup cosine threshold (= l_llm_ext._L56_TAU). Both
#: imported at oracle-build/plan-build time so l70 and l56 cannot
#: drift.
def _o_l70() -> str:
    from hadoop_release_spark.functions.vectors import o_cosine
    from hadoop_release_spark.operators.dedup import (
        LSH_JACCARD_THRESHOLD,
        _o_lsh_ctes,
    )
    from hadoop_release_spark.plans.l_llm_ext import _DIM, _L56_TAU

    cos_ac = o_cosine("e.embedding", "c.centroid", _DIM)
    cos_ab = o_cosine("a.embedding", "b.embedding", _DIM)
    bucket = (
        "CAST(('0x' || substring(md5(source), 1, 4))::UBIGINT"
        " % 100 AS BIGINT)"
    )
    return f"""
    WITH planted AS ({_O_URL_PLANT.format(src="documents")}
    ), canon AS ({_O_URL_CANON}
    ), fetches AS (
      SELECT d.doc_id, c.canonical_url, md5(d.text) AS h
      FROM documents d JOIN canon c ON d.doc_id = c.doc_id
    ), usurv AS (
      SELECT canonical_url, h, min(doc_id) AS u_surv
      FROM fetches GROUP BY canonical_url, h
    ), umap AS (
      SELECT f.doc_id, f.h, u.u_surv
      FROM fetches f JOIN usurv u
        ON f.canonical_url = u.canonical_url AND f.h = u.h
    ), esurv AS (
      SELECT h, min(doc_id) AS e_surv
      FROM umap WHERE doc_id = u_surv GROUP BY h
    ), emap AS (
      SELECT m.doc_id, s.e_surv
      FROM umap m JOIN esurv s ON m.h = s.h
      WHERE m.doc_id = m.u_surv
    ), ekept AS (
      SELECT d.* FROM documents d
      JOIN emap m ON d.doc_id = m.doc_id AND m.e_surv = d.doc_id
    ), {_o_lsh_ctes(src="ekept")},
    -- MATERIALIZED, as the Spark plan's eager_truncate(nkill): inlined,
    -- every consumer (both sides of the spairs self-join included)
    -- re-runs the whole LSH chain, which exhausts the oracle's memory
    -- cap even at sf0.001.
    nkill AS MATERIALIZED (
      SELECT id_b AS doc_id, CAST(min(id_a) AS BIGINT) AS dup_of
      FROM verified WHERE jaccard >= {LSH_JACCARD_THRESHOLD}
      GROUP BY id_b
    ), nkept AS (
      SELECT k.* FROM ekept k
      LEFT JOIN nkill x ON k.doc_id = x.doc_id
      WHERE x.doc_id IS NULL
    ), centroids AS (
      {o_systematic_centroids()}
    ), assign0 AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cos_ac} DESC, c.centroid_id)
               AS rn
      FROM embeddings e
      JOIN nkept s ON e.vec_id = s.doc_id
      CROSS JOIN centroids c
    ), assigned AS (
      SELECT vec_id, embedding, centroid_id AS cluster
      FROM assign0 WHERE rn = 1
    ), spairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({cos_ab}, 3) AS sim
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ), skill AS (
      SELECT id_b AS doc_id, CAST(min(id_a) AS BIGINT) AS dup_of
      FROM spairs WHERE sim >= {_L56_TAU} GROUP BY id_b
    ), kept AS (
      SELECT k.* FROM nkept k
      LEFT JOIN skill x ON k.doc_id = x.doc_id
      WHERE x.doc_id IS NULL
    ), splits AS (
      SELECT doc_id,
             CASE WHEN {bucket} < {SPLIT_TRAIN_LT} THEN 'train'
                  WHEN {bucket} < {SPLIT_VAL_LT} THEN 'val'
                  ELSE 'test' END AS split
      FROM kept
    ), shp AS (
      SELECT doc_id, s.s AS shard,
             md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s.s AS VARCHAR))
               AS key
      FROM kept, unnest(range(0, {_L60_SHARDS})) AS s(s)
    ), shr AS (
      SELECT doc_id, shard FROM (
        SELECT doc_id, shard,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY key DESC, shard) AS rn
        FROM shp
      ) WHERE rn = 1
    )
    SELECT m.doc_id, 'url_refetch_dup' AS status,
           CAST(m.u_surv AS BIGINT) AS dup_of,
           CAST(NULL AS VARCHAR) AS split, CAST(NULL AS BIGINT) AS shard,
           FALSE AS semantic_examined
    FROM umap m WHERE m.doc_id <> m.u_surv
    UNION ALL
    SELECT m.doc_id, 'exact_dup', CAST(m.e_surv AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), FALSE
    FROM emap m WHERE m.doc_id <> m.e_surv
    UNION ALL
    SELECT n.doc_id, 'near_dup', n.dup_of,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), FALSE
    FROM nkill n
    UNION ALL
    SELECT s.doc_id, 'semantic_dup', s.dup_of,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), TRUE
    FROM skill s
    UNION ALL
    SELECT k.doc_id, 'kept', CAST(NULL AS BIGINT), sp.split,
           CAST(sh.shard AS BIGINT),
           (emb.vec_id IS NOT NULL) AS semantic_examined
    FROM kept k
    JOIN splits sp ON k.doc_id = sp.doc_id
    JOIN shr sh ON k.doc_id = sh.doc_id
    LEFT JOIN embeddings emb ON k.doc_id = emb.vec_id
    """


@register("l70_corpus_pipeline_v2", oracle=_o_l70(), priority="P1")
def l70_corpus_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-build pipeline v2 — the round-6/8 dedup family chained
    the way a production corpus build actually runs it, as ONE
    declarative plan emitting a per-document DISPOSITION LEDGER:

      1. URL refetch collapse (l35 canonicalization × l01 content
         hash): docs sharing a canonical URL AND identical bytes are
         the same fetch — min-id survivor. (Same-URL different-bytes
         is a page UPDATE and must NOT collapse here — that is why
         this stage keys on the (canonical_url, md5) pair, not the
         URL alone; l35 measures URL-only collapse separately.)
      2. Exact content dedup across URLs (l01): md5(text) group,
         min-id survivor. (The fixture corpus plants no
         byte-identical dups — verified, both stages kill 0 rows
         there — but at crawl scale these two cheapest passes remove
         the bulk of the volume before anything quadratic runs.)
      3. Near dedup (l02's banded MinHash-LSH, shared LSH_*
         constants): a doc is dropped iff a LOWER-id doc pairs with
         it at exact-verified Jaccard ≥ τ — the l56 greedy shadow
         rule (l22's transitive-closure variant is the standalone
         op; the shadow rule composes without an iterative pass).
      4. Semantic dedup (l56's SemDeDup): surviving docs' embeddings
         assigned to the shared centroid sample via the Arrow
         kernel, same-cluster cosine ≥ τ vs a lower id → dropped.
         Docs WITHOUT an embedding row pass through this stage
         unexamined (the fixture embeds a prefix of the corpus;
         both engines join on vec_id = doc_id, so coverage is
         consistent) — and the ledger SAYS so: kept rows carry
         semantic_examined = false when no embedding existed, so
         "kept" is never silently read as "passed semantic dedup".
         Production would embed everything or route the
         examined=false rows to a quarantine split.
      5. Leakage-safe split (l34): kept docs assigned train/val/test
         by md5(source) GROUP hash.
      6. Placement (l60/l61): kept docs assigned their rendezvous
         shard — the ledger row is exactly the (split, shard)
         manifest entry; the l61 digest rollup is a groupBy away.

    Output: one row per input doc — (doc_id, status ∈ {url_refetch_
    dup, exact_dup, near_dup, semantic_dup, kept}, dup_of = the
    shadowing id for drops, split + shard + semantic_examined for
    kept). Fully md5-deterministic; the whole chain is hash-oracled
    end-to-end.

    Scale shape (the point of the exercise — every stage keeps its
    standalone op's posture, and the stages COMPOSE without any new
    shuffle class): stages 1-2 are map-side-combined group-aggs on
    (url-hash, md5) / md5 — digests shuffle, text does not; stage 3
    is the persisted-sketch banded LSH (slim (id, band, bucket)
    exchange); stage 4 broadcasts only centroids and shuffles
    cluster-keyed pairs (Σ|cluster|² bound); stages 5-6 are
    stateless per-row hashes. Each stage's input is the previous
    stage's survivor SEMI-JOIN — monotonically shrinking, so the
    expensive stages see the least data. ekept is persisted once
    (spine of three consumers)."""
    return _l70_impl(spark, sf_dir)


def _l70_impl(
    spark: SparkSession,
    sf_dir: str,
    assign_fn=None,
) -> DataFrame:
    """l70's body with stage 4's ASSIGNMENT pluggable (round-14
    verdict item 4: route the stage that inherits l56's N^1.5 pair
    term onto the two-level quantizer path). ``assign_fn(emb, sv)``
    returns the (cluster, vec_id, embedding, __nrm) frame for the
    embedding-covered survivors ``sv`` using a quantizer sampled
    from the FULL embeddings table ``emb`` (the registered contract
    samples centroids corpus-wide, then assigns only survivors).
    ``None`` = the registered flat-√N path, byte-identical plan to
    the pre-refactor form; l70_corpus_pipeline_v2_imi passes the
    two-level assignment, pinned ledger-row-identical in its
    degenerate config (tests/test_similarity.py)."""
    from hadoop_release_spark.operators.dedup import lsh_candidate_pairs
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_arrow,
        systematic_centroids,
    )
    from hadoop_release_spark.plans.l_llm_ext import _DIM, _L56_TAU

    d = table(spark, sf_dir, "documents")
    # ONE projection computes both stage-1 keys (content md5 +
    # canonical URL) — no self-join, one text scan feeding stages 1-2.
    fetch = d.select(
        "doc_id", F.md5("text").alias("__h"), _planted_url().alias("url")
    ).select("doc_id", "__h", _canonical_url().alias("curl"))
    usurv = fetch.groupBy("curl", "__h").agg(
        F.min("doc_id").alias("u_surv")
    )
    # umap is the slim (doc_id, md5, survivor) spine of THREE
    # consumers (stage-2 minima, stage-2 map, the url_drop ledger
    # branch). r15: eager_truncate (localCheckpoint locally, reliable
    # checkpoint under a configured dir) instead of persist — same eager
    # one-pass materialization, but the lineage TRUNCATES, so the
    # final five-branch ledger union no longer embeds the md5/URL
    # subtree once per branch and the composed plan stops paying
    # per-materialization re-analysis (the i10 lesson; A/B at sf0.1:
    # min 7.44 → 4.91 s, ledger rows identical). The spine is slim
    # and its (curl,__h) partitioning is not reused downstream, so
    # nothing is lost to checkpoint's partitioning drop.
    umap = eager_truncate(
        fetch.join(usurv, ["curl", "__h"]).select("doc_id", "__h", "u_surv")
    )
    # Stage-2 input: URL-stage survivors; the content hash rides
    # along from stage 1 (one md5 pass total for both stages).
    esurv = (
        umap.filter(F.col("doc_id") == F.col("u_surv"))
        .groupBy("__h")
        .agg(F.min("doc_id").alias("e_surv"))
    )
    emap = (
        umap.filter(F.col("doc_id") == F.col("u_surv"))
        .join(esurv, "__h")
        .select("doc_id", "e_surv")
    )
    ekept = persist(
        d.join(
            emap.filter(F.col("doc_id") == F.col("e_surv")).select("doc_id"),
            "doc_id",
            "left_semi",
        )
    )
    pairs = lsh_candidate_pairs(ekept, "doc_id", "text")
    # nkill feeds THREE consumers (the near_dup ledger branch, the
    # semantic stage's survivor semi-join, and the kept spine) — a
    # slim (doc_id, dup_of) table, but each unmaterialized read would
    # re-run the banded LSH candidate join. localCheckpoint (r15, see
    # the umap comment): eager like persist, and the whole LSH
    # subtree drops out of the downstream plan; same for skill below.
    nkill = eager_truncate(
        pairs.groupBy("id_b")
        .agg(F.min("id_a").cast("long").alias("dup_of"))
        .select(F.col("id_b").alias("doc_id"), "dup_of")
    )
    nkept = ekept.join(nkill.select("doc_id"), "doc_id", "left_anti")
    emb = table(spark, sf_dir, "embeddings")
    sv = emb.join(
        nkept.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    if assign_fn is None:
        centroids = systematic_centroids(emb)
        assigned = rank_clusters_arrow(sv, centroids, 1, _DIM).select(
            "cluster", "vec_id", "embedding", "__nrm"
        )
    else:
        assigned = assign_fn(emb, sv).select(
            "cluster", "vec_id", "embedding", "__nrm"
        )
    # Pair stage as the per-cluster Arrow kernel (round 12, the l56
    # rewrite shared verbatim): the groupBy IS the cluster-keyed
    # corpus shuffle (nothing broadcast — the l56/l58 rule), the
    # lower-triangle cosine block runs SIMD-chunked, and Spark
    # applies the identical round+τ cut on the bit-identical raws
    # (kernel-vs-join parity pinned in tests/test_similarity.py).
    from hadoop_release_spark.operators.similarity import (
        semdedup_pairs_arrow,
    )

    spairs = (
        semdedup_pairs_arrow(assigned, float(_L56_TAU), _DIM)
        .select(
            "id_b",
            "id_a",
            F.round(F.col("__raw"), 3).alias("sim"),
        )
        .filter(F.col("sim") >= F.expr(_L56_TAU))
    )
    skill = eager_truncate(  # r15: see the umap comment
        spairs.groupBy("id_b")
        .agg(F.min("id_a").cast("long").alias("dup_of"))
        .select(F.col("id_b").alias("doc_id"), "dup_of")
    )
    kept = nkept.join(skill.select("doc_id"), "doc_id", "left_anti")
    bucket = (
        F.conv(F.substring(F.md5(F.col("source")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    def _nulls(examined: bool):
        # semantic_examined is deliberately NON-NULL on every row
        # (url/exact/near drops never reached stage 4 → false; a
        # semantic_dup was by construction examined → true): a pure
        # boolean column dodges the engine-specific null-boolean
        # renderings a nullable flag would expose to the comparator.
        return [
            F.lit(None).cast("string").alias("split"),
            F.lit(None).cast("long").alias("shard"),
            F.lit(examined).alias("semantic_examined"),
        ]

    url_drop = umap.filter(F.col("doc_id") != F.col("u_surv")).select(
        "doc_id",
        F.lit("url_refetch_dup").alias("status"),
        F.col("u_surv").cast("long").alias("dup_of"),
        *_nulls(False),
    )
    ex_drop = emap.filter(F.col("doc_id") != F.col("e_surv")).select(
        "doc_id",
        F.lit("exact_dup").alias("status"),
        F.col("e_surv").cast("long").alias("dup_of"),
        *_nulls(False),
    )
    near_drop = nkill.select(
        "doc_id", F.lit("near_dup").alias("status"), "dup_of", *_nulls(False)
    )
    sem_drop = skill.select(
        "doc_id",
        F.lit("semantic_dup").alias("status"),
        "dup_of",
        *_nulls(True),
    )
    # semantic_examined makes the ledger honest about stage 4's
    # coverage (round-9 verdict item 6): a kept doc WITHOUT an
    # embedding row was never compared — "kept" alone read as
    # "passed semantic dedup" when it could mean "never examined".
    # vec_id is the embeddings table's primary key (the same
    # one-row-per-vector contract every l1x/l5x ANN op relies on),
    # so the doc-keyed left join cannot fan out kept rows.
    emb_ids = emb.select(
        F.col("vec_id").alias("doc_id"), F.lit(True).alias("__emb")
    )
    kept_rows = (
        # split AND shard are both pure projections of the kept row
        # (md5(source) bucket / rendezvous argmax), so the placement
        # tail stays shuffle-free — no explode, no per-doc window
        # (round-9 verdict item 3); the only join is the slim
        # examined-flag lookup above.
        kept.join(emb_ids, "doc_id", "left").select(
            "doc_id",
            F.lit("kept").alias("status"),
            F.lit(None).cast("long").alias("dup_of"),
            split.alias("split"),
            rendezvous_shard("doc_id").alias("shard"),
            F.coalesce(F.col("__emb"), F.lit(False)).alias(
                "semantic_examined"
            ),
        )
    )
    return (
        url_drop.unionByName(ex_drop)
        .unionByName(near_drop)
        .unionByName(sem_drop)
        .unionByName(kept_rows)
    )


def l70_corpus_pipeline_v2_imi(
    spark: SparkSession,
    sf_dir: str,
    stride: int | None = 64,
    nprobe: int = 8,
    probe_all: bool = False,
) -> DataFrame:
    """l70 with stage 4 routed onto the round-14 two-level
    (IMI-style) quantizer (verdict item 4) — NOT a §2 registry row
    (contract freeze; the registered l70's flat-√N stage 4 is its
    graded oracle contract). Pinned two ways, the l56_semdedup_imi
    treatment:

    * degenerate equality — ``stride=None, probe_all=True`` makes
      the two-level assignment provably reproduce the flat argmax
      (quantizer sampled from the full embeddings table, exactly the
      registered contract), so the LEDGER is row-identical to
      registered l70 (tests/test_similarity.py).
    * scale shape — the default fixed stride bounds stage 4's pair
      term at stride·N (linear); measured decade-2 row:
      SCALE_REHEARSAL.json["decade2"]["l70_corpus_pipeline_v2_imi"].
    """
    from hadoop_release_spark.operators.similarity import (
        rank_clusters_two_level,
    )
    from hadoop_release_spark.plans.l_llm_ext import _DIM

    def assign(emb: DataFrame, sv: DataFrame) -> DataFrame:
        return rank_clusters_two_level(
            sv,
            _DIM,
            k=1,
            stride=stride,
            nprobe_coarse=nprobe,
            probe_all=probe_all,
            corpus=emb,
        )

    return _l70_impl(spark, sf_dir, assign)


#: l72 — portable Bloom gate: M bits (word-packed into M/32 BIGINT
#: masks, bits 0..31 so the shift is sign-safe in both engines),
#: k=2 positions per gram from two independent 32-bit slices of ONE
#: md5. M is a fixture constant sized ~10 bits/corpus-gram at sf0.1;
#: production sizes it from the corpus gram cardinality the same way
#: (bits ≈ 10·n keeps FPR ≈ 1%; the dataflow is M-independent).
L72_M_BITS = 1 << 23
_L72_WORD = 32


def _o_l72() -> str:
    p1 = (
        "CAST(('0x' || substring(md5(g), 1, 8))::UBIGINT"
        f" % {L72_M_BITS} AS BIGINT)"
    )
    p2 = (
        "CAST(('0x' || substring(md5(g), 9, 8))::UBIGINT"
        f" % {L72_M_BITS} AS BIGINT)"
    )
    return f"""
    WITH ctoks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id % {NEW_MOD} != {NEW_REM}
    ), cg0 AS (
      SELECT doc_id, {o_word_shingles_case(DECON_NGRAM_K)} AS gs
      FROM ctoks
    ), cgrams AS (
      SELECT DISTINCT g FROM (SELECT unnest(gs) AS g FROM cg0)
    ), cpos AS (
      SELECT DISTINCT pos FROM (
        SELECT {p1} AS pos FROM cgrams
        UNION ALL
        SELECT {p2} AS pos FROM cgrams)
    ), words AS (
      SELECT pos // {_L72_WORD} AS word,
             bit_or(1::BIGINT << CAST(pos % {_L72_WORD} AS INT)) AS mask
      FROM cpos GROUP BY 1
    ), itoks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id % {NEW_MOD} = {NEW_REM}
    ), ig0 AS (
      SELECT doc_id, {o_word_shingles_case(DECON_NGRAM_K)} AS gs
      FROM itoks
    ), igrams AS (
      SELECT doc_id, unnest(gs) AS g FROM ig0
    ), ipos AS (
      SELECT doc_id, g, {p1} AS pos FROM igrams
      UNION ALL
      SELECT doc_id, g, {p2} AS pos FROM igrams
    ), bits AS (
      SELECT i.doc_id, i.g,
             CASE WHEN w.mask IS NOT NULL
                  AND (w.mask >> CAST(i.pos % {_L72_WORD} AS INT))
                      & 1 = 1
                  THEN 1 ELSE 0 END AS hit
      FROM ipos i LEFT JOIN words w ON i.pos // {_L72_WORD} = w.word
    ), gpass AS (
      SELECT doc_id, g, min(hit) AS pass FROM bits GROUP BY doc_id, g
    ), shared AS (
      SELECT i.doc_id, i.g,
             CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END AS in_corpus
      FROM igrams i LEFT JOIN cgrams c ON i.g = c.g
    )
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(p.pass) AS BIGINT) AS n_bloom_pass,
           CAST(sum(s.in_corpus) AS BIGINT) AS n_shared,
           CAST(sum(p.pass) - sum(s.in_corpus) AS BIGINT) AS n_false_pos,
           sum(s.in_corpus) >= {DECON_MIN_SHARED} AS contaminated
    FROM gpass p JOIN shared s ON p.doc_id = s.doc_id AND p.g = s.g
    GROUP BY p.doc_id
    """


@register("l72_bloom_gram_gate", oracle=_o_l72(), priority="P2")
def l72_bloom_gram_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated contamination screen — the sketch that makes l28's
    ingestion-time gram check CHEAP: the corpus's 8-gram set is
    folded into an M-bit Bloom bitmap (k=2 md5-slice positions per
    gram, bits word-packed by a single bit_or aggregate), and an
    incoming shard's grams test against the broadcast bitmap BEFORE
    any join against the corpus gram table. Grams the bloom rejects
    are DEFINITELY absent (no false negatives — pinned in pytest);
    only bloom-positive grams would proceed to the exact
    verification l28/l30 run. Output per incoming doc: gram count,
    bloom-positive count, true shared count, the realized
    false-positive count (the sketch's measured FPR on YOUR corpus —
    the l68 calibration discipline applied to Bloom), and the l28
    contamination verdict at the shared DECON_MIN_SHARED threshold.

    Unlike engine-native bloom builders (Spark's DataFrameStatFunctions
    / runtime bloom-filter joins, which s08 exercises), this bitmap
    is PORTABLE: every bit derives from md5 arithmetic both engines
    replay, so the whole sketch — every mask word — is inside the
    hash-oracle gate, not trusted.

    Scale shape: the bitmap build is ONE map-side-combined bit_or
    agg to ≤ M/32 rows (a CONSTANT ~1 MB broadcast at M=2^23,
    regardless of corpus size — that constant-memory summary is the
    entire point of the sketch); the shard's gram→word join is
    against that broadcast; the only corpus-sized work is the
    distinct-gram agg the bitmap build shares with l28's index. The
    exact-verify join here covers ALL shard grams (so the oracle can
    score the FPR); production gates it on pass=1 — REGISTERED as
    l75_bloom_gated_ingest below — shrinking the
    expensive join by the bloom's rejection rate. M sizes at ~10
    bits per corpus gram (FPR ≈ 1%); beyond driver-broadcast scale
    the bitmap shards by word range — same dataflow."""
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % NEW_MOD != NEW_REM)
    incoming = d.filter(F.col("doc_id") % NEW_MOD == NEW_REM)

    def _grams(df: DataFrame) -> DataFrame:
        # the gram key that shuffles is the exact 16-byte md5 VALUE
        # — injective, so every distinct/join/count is identical,
        # rows are fixed-width, and the bit positions below read md5
        # bytes instead of re-hashing (round 11). Round 13: the
        # digests come from the word_gram_digests Arrow kernel
        # (bit-parity-pinned vs the word_shingles+unhex(md5)
        # expression) — the interpreted string-building lambda was
        # the measured tax on every gram op this round.
        # spread_small_scan: the digest kernel otherwise runs as ONE
        # task over a single-file fixture scan (the d37 guard).
        return spread_small_scan(df).select(
            "doc_id",
            F.explode(
                word_gram_digests(F.col("text"), DECON_NGRAM_K)
            ).alias("g"),
        )

    def _pos(col: str) -> list[Column]:
        # bytes 1-4 / 5-8 of the digest == hex chars 1-8 / 9-16 of
        # md5(gram): the same two bit positions as hashing the text
        return [
            (
                F.conv(F.hex(F.substring(F.col(col), 1, 4)), 16, 10)
                .cast("long")
                % L72_M_BITS
            ),
            (
                F.conv(F.hex(F.substring(F.col(col), 5, 4)), 16, 10)
                .cast("long")
                % L72_M_BITS
            ),
        ]

    cgrams = _grams(corpus).select("g").distinct()
    # cgrams feeds the bitmap build AND the exact verify — persist so
    # the corpus gram explode+distinct runs once.
    cgrams = persist(cgrams)
    # r16: no .distinct() on the positions — bit_or is idempotent, so
    # duplicate positions cannot change any mask word and the partial
    # (map-side) bit_or already shrinks them; the distinct's own
    # exchange was pure overhead. Identical masks by idempotence.
    cpos = cgrams.select(
        F.explode(F.array(*_pos("g"))).alias("pos")
    )
    words = cpos.groupBy(
        (F.col("pos") / _L72_WORD).cast("long").alias("word")
    ).agg(
        F.bit_or(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(pos % {_L72_WORD} AS INT))"
            )
        ).alias("mask")
    )
    # r16: ONE incoming gram pass. word_gram_digests emits DISTINCT
    # grams per doc, so the bloom-test agg (one row per (doc_id, g))
    # and the old `shared` frame had identical keys and the final
    # (doc_id, g) join paired every row with itself — the whole
    # `shared` branch (a second gram-kernel pass over incoming plus a
    # full shuffle join) computed nothing the gflags rows don't
    # already carry. The in_corpus flag now attaches to gflags
    # directly. The null-gram filter preserves the old join-on-g
    # semantics exactly: a null-text doc's single NULL gram never
    # matched the equi-join, so that doc was absent from the output.
    igrams = _grams(incoming).filter(F.col("g").isNotNull())
    ipos = igrams.select(
        "doc_id", "g", F.explode(F.array(*_pos("g"))).alias("pos")
    )
    bits = ipos.join(
        F.broadcast(words),
        (F.col("pos") / _L72_WORD).cast("long") == F.col("word"),
        "left",
    ).select(
        "doc_id",
        "g",
        F.when(
            F.col("mask").isNotNull()
            & (
                F.expr(
                    f"shiftright(mask, CAST(pos % {_L72_WORD} AS INT))"
                ).bitwiseAND(1)
                == 1
            ),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    gflags = bits.groupBy("doc_id", "g").agg(F.min("hit").alias("pass"))
    flagged = gflags.join(
        cgrams.select(F.col("g").alias("cg")),
        F.col("g") == F.col("cg"),
        "left",
    ).select(
        "doc_id",
        "pass",
        F.when(F.col("cg").isNotNull(), 1).otherwise(0).alias("in_corpus"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("pass").cast("long").alias("n_bloom_pass"),
            F.sum("in_corpus").cast("long").alias("n_shared"),
            (F.sum("pass") - F.sum("in_corpus"))
            .cast("long")
            .alias("n_false_pos"),
            (F.sum("in_corpus") >= DECON_MIN_SHARED).alias("contaminated"),
        )
    )


#: l74 — exact-substring dedup (the ExactSubstr method of Lee et
#: al. 2021, "Deduplicating Training Data Makes Language Models
#: Better"): a duplicated SPAN is any verbatim run of >= K tokens
#: shared by two documents. K rides the corpus gram constant the
#: decontamination ops already use; the boilerplate guard is the
#: l66 precedent (a gram in > MAX_DF docs is template text, not a
#: copied span, and unguarded it makes the gram join quadratic).
L74_GRAM_K = DECON_NGRAM_K
L74_MAX_DF = 50


def _o_l74() -> str:
    k = L74_GRAM_K
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), g AS (
      SELECT doc_id, CAST(i.i - 1 AS BIGINT) AS pos,
             md5(array_to_string(list_slice(ts, i.i, i.i + {k} - 1), ' '))
               AS h
      FROM toks, unnest(range(1, len(ts) - {k} + 2)) AS i(i)
      WHERE len(ts) >= {k}
    ), keep AS (
      SELECT h FROM g GROUP BY h
      HAVING count(DISTINCT doc_id) <= {L74_MAX_DF}
    ), gg AS (
      SELECT g.* FROM g JOIN keep USING (h)
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, b.pos AS pos_b
      FROM gg a JOIN gg b ON a.h = b.h AND a.doc_id < b.doc_id
    ), r AS (
      SELECT doc_a, doc_b, pos_a, pos_b,
             pos_a - row_number() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b
               ORDER BY pos_a) AS grp
      FROM m
    )
    SELECT doc_b AS doc_id, doc_a AS dup_of,
           min(pos_b) AS start_pos, min(pos_a) AS src_pos,
           CAST(count(*) + {k} - 1 AS BIGINT) AS n_tokens
    FROM r GROUP BY doc_a, doc_b, pos_a - pos_b, grp
    """


@register("l74_exact_substring", oracle=_o_l74(), priority="P1")
def l74_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication (ExactSubstr, Lee et al. 2021)
    — the last member of the public training-data dedup taxonomy
    (MinHash/LSH l02, SimHash l11, containment l66, semantic l56,
    URL l35, block l39, prefix l40): find every maximal VERBATIM
    token run of >= K tokens shared by two documents and emit the
    removal plan under the min-id survivor rule — one row per
    maximal run, coordinates in the higher-id doc (doc_id,
    start_pos, n_tokens) plus where it came from (dup_of, src_pos).
    Lee et al. remove the span and keep both docs' unique remainder
    — exactly what this table drives.

    DataFrame construction (the suffix array is the single-node
    tool; this is its join-algebra equivalent): positional K-gram
    emission per doc (keys are 16-byte md5 binaries via unhex — the
    exact value, half the hex string's shuffle width) →
    document-frequency guard (> MAX_DF docs =
    boilerplate, the l66 bound) → gram-hash equi-join (doc_a <
    doc_b) → a shared span of L tokens is a run of L-K+1 gram
    matches at CONSTANT diagonal pos_a - pos_b, so gaps-and-islands
    (pos_a - row_number per (pair, diagonal)) merges adjacent
    matches into maximal runs in one window pass. Deterministic
    end-to-end: md5 gram keys, integer positions, no floats.

    Scale shape: the gram kernel is linear in corpus tokens and
    runs ONCE as the map stage of the one gram-keyed exchange (only
    (doc_id, pos, 16-byte md5) rows shuffle — text never does); the
    df-guard rides two stacked windows over that exchange (the
    window trade vs the old map-side-combined agg: a hot gram
    buffers its postings in the window group before the filter
    drops it, WindowExec spills — accepted for the removed
    duplicate kernel pass, exit = the two-pass agg form documented
    in SCALE.md) and bounds the equi-join at C(MAX_DF,2) per
    bucket (the l66 argument — matches are Σ df² over
    near-singleton buckets, never doc×doc);
    the run-merge window partitions by (pair, diagonal) —
    cardinality ≤ matches, slim integer rows. The 100 TB exits, documented in SCALE.md: larger
    K (Lee et al. use 50 — fewer, rarer grams), gram-range
    bucketing, and the suffix-array-per-shard + cross-shard gram
    seam pass for the full published construction.

    Two consumer-facing caveats (both shared with the oracle, so
    hashes agree; they matter to DOWNSTREAM removal plans):
    (1) guard splitting — a true maximal run that CONTAINS one
    > MAX_DF boilerplate K-gram loses that gram before the join,
    so the run is reported as two shorter runs whose summed
    n_tokens undercounts the span by up to k-1 per guarded gap;
    callers thresholding on n_tokens should treat the bound as
    conservative (or merge same-diagonal runs with gaps <= k-1).
    (2) overlapping diagonals — periodic/self-similar text (the
    same K-gram repeated) yields one maximal run per (pair,
    diagonal), and those runs can overlap on the SAME token range;
    a removal consumer must union token intervals per doc before
    cutting, never sum n_tokens across rows."""
    k = L74_GRAM_K
    toks = F.split(F.col("text"), " ")
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # positional_gram_md5: the 16-byte md5 VALUES of the expression
    # form (unhex(md5(array_join(slice)))), bit-parity-pinned, built
    # in the Arrow kernel instead of the interpreted per-position
    # lambda (the l28/l02 tax, round 13). The 16-byte width is kept
    # on purpose: l74 emits a REMOVAL plan, and a narrower key's
    # collision fabricates a verbatim match.
    g = (
        spread_small_scan(d.filter(F.size(toks) >= k))
        .select(
            "doc_id",
            F.posexplode(positional_gram_md5(F.col("text"), k)).alias(
                "pos", "h"
            ),
        )
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "h")
    )
    # TOPOLOGY (round 13, the l28 treatment): the old form computed
    # the df guard as a separate agg + semi-join and persisted the
    # result for the self-join sides — the guard branch and the
    # semi-join's left raced the explode (two concurrent kernel
    # passes). One gram-keyed exchange now feeds everything: the
    # distinct-doc frequency rides two stacked windows over it (a
    # first-occurrence flag per (h, doc) summed per h — both windows
    # cluster by h, so ONE exchange serves them), the guard is a
    # filter, and the self-join's sides read the reused stage
    # co-partitioned (pinned in test_plans.py).
    g = g.repartition("h")
    w_hd = Window.partitionBy("h", "doc_id").orderBy("pos")
    w_h = Window.partitionBy("h")
    gg = (
        g.withColumn(
            "__first",
            F.when(F.row_number().over(w_hd) == 1, F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .withColumn("__dfreq", F.sum("__first").over(w_h))
        .filter(F.col("__dfreq") <= L74_MAX_DF)
    )
    a = gg.select(
        "h", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = gg.select(
        "h", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    m = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", "pos_b")
    )
    diag = F.col("pos_a") - F.col("pos_b")
    w = Window.partitionBy("doc_a", "doc_b", diag).orderBy("pos_a")
    runs = m.withColumn("diag", diag).withColumn(
        "grp", F.col("pos_a") - F.row_number().over(w)
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_b").alias("start_pos"),
            F.min("pos_a").alias("src_pos"),
            (F.count("*") + k - 1).cast("long").alias("n_tokens"),
        )
        .select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("dup_of"),
            "start_pos",
            "src_pos",
            "n_tokens",
        )
    )


def _o_l75() -> str:
    p1 = (
        "CAST(('0x' || substring(md5(g), 1, 8))::UBIGINT"
        f" % {L72_M_BITS} AS BIGINT)"
    )
    p2 = (
        "CAST(('0x' || substring(md5(g), 9, 8))::UBIGINT"
        f" % {L72_M_BITS} AS BIGINT)"
    )
    return f"""
    WITH ctoks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id % {NEW_MOD} != {NEW_REM}
    ), cg0 AS (
      SELECT doc_id, {o_word_shingles_case(DECON_NGRAM_K)} AS gs
      FROM ctoks
    ), cgrams AS (
      SELECT DISTINCT g FROM (SELECT unnest(gs) AS g FROM cg0)
    ), cpos AS (
      SELECT DISTINCT pos FROM (
        SELECT {p1} AS pos FROM cgrams
        UNION ALL
        SELECT {p2} AS pos FROM cgrams)
    ), words AS (
      SELECT pos // {_L72_WORD} AS word,
             bit_or(1::BIGINT << CAST(pos % {_L72_WORD} AS INT)) AS mask
      FROM cpos GROUP BY 1
    ), itoks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id % {NEW_MOD} = {NEW_REM}
    ), ig0 AS (
      SELECT doc_id, {o_word_shingles_case(DECON_NGRAM_K)} AS gs
      FROM itoks
    ), igrams AS (
      SELECT doc_id, unnest(gs) AS g FROM ig0
    ), ipos AS (
      SELECT doc_id, g, {p1} AS pos FROM igrams
      UNION ALL
      SELECT doc_id, g, {p2} AS pos FROM igrams
    ), bits AS (
      SELECT i.doc_id, i.g,
             CASE WHEN w.mask IS NOT NULL
                  AND (w.mask >> CAST(i.pos % {_L72_WORD} AS INT))
                      & 1 = 1
                  THEN 1 ELSE 0 END AS hit
      FROM ipos i LEFT JOIN words w ON i.pos // {_L72_WORD} = w.word
    ), gpass AS (
      SELECT doc_id, g, min(hit) AS pass FROM bits GROUP BY doc_id, g
    ), passg AS (
      SELECT doc_id, g FROM gpass WHERE pass = 1
    ), ver AS (
      SELECT p.doc_id,
             CAST(count(*) AS BIGINT) AS n_bloom_pass,
             CAST(sum(CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared
      FROM passg p LEFT JOIN cgrams c ON p.g = c.g
      GROUP BY p.doc_id
    ), perdoc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
      FROM igrams GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_grams,
           COALESCE(v.n_bloom_pass, 0::BIGINT) AS n_bloom_pass,
           COALESCE(v.n_shared, 0::BIGINT) AS n_shared,
           COALESCE(v.n_shared, 0::BIGINT) >= {DECON_MIN_SHARED}
             AS contaminated
    FROM perdoc d LEFT JOIN ver v ON d.doc_id = v.doc_id
    """


@register("l75_bloom_gated_ingest", oracle=_o_l75(), priority="P2")
def l75_bloom_gated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-GATED ingestion contamination check — the production
    form l72's docstring promises, now registered: the expensive
    exact-verify join against the corpus gram table runs ONLY over
    grams the broadcast Bloom bitmap passes. l72 deliberately
    verifies ALL shard grams so its oracle can score the realized
    FPR; here the verify input is pre-shrunk by the bloom's
    rejection rate — the whole point of carrying the sketch.

    Correctness argument: a Bloom filter has NO false negatives
    (every corpus-present gram passes both bit tests — pinned in
    tests/test_pipeline_ops.py), so gating the verify join on
    pass=1 provably loses no shared gram: n_shared here equals
    l72's ungated n_shared doc-for-doc (equivalence pytest), and
    the l28-threshold verdict is therefore identical. The bitmap is
    the same PORTABLE md5-derived construction as l72 (shared
    module constants), so the gate itself — which grams reach the
    verify join — is inside the hash-oracle gate, not trusted.

    Scale shape (what the gate buys at 100 TB): the only
    corpus-sized join in the l28/l30 ingest path is shard-grams ×
    corpus-grams; its probe side shrinks from |shard grams| to
    |bloom-pass grams| = shared + FPR·(unique) — at the calibrated
    ~1% FPR that is essentially the true-shared set, so a clean
    shard costs ~zero join input instead of its full gram count.
    Everything else is l72's rehearsed shape: ONE map-side-combined
    bit_or agg to a constant ~1 MB broadcast bitmap, per-gram bit
    tests against the broadcast, one (doc_id, g) partial agg. The
    measured shrink on the fixture is asserted in pytest (sum
    n_bloom_pass well under sum n_grams) and visible per doc in the
    output columns."""
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % NEW_MOD != NEW_REM)
    incoming = d.filter(F.col("doc_id") % NEW_MOD == NEW_REM)

    def _grams(df: DataFrame) -> DataFrame:
        # the gram key that shuffles is the exact 16-byte md5 VALUE
        # — injective, so every distinct/join/count is identical,
        # rows are fixed-width, and the bit positions below read md5
        # bytes instead of re-hashing (round 11). Round 13: the
        # digests come from the word_gram_digests Arrow kernel
        # (bit-parity-pinned vs the word_shingles+unhex(md5)
        # expression) — the interpreted string-building lambda was
        # the measured tax on every gram op this round.
        # spread_small_scan: the digest kernel otherwise runs as ONE
        # task over a single-file fixture scan (the d37 guard).
        return spread_small_scan(df).select(
            "doc_id",
            F.explode(
                word_gram_digests(F.col("text"), DECON_NGRAM_K)
            ).alias("g"),
        )

    def _pos(col: str) -> list[Column]:
        # bytes 1-4 / 5-8 of the digest == hex chars 1-8 / 9-16 of
        # md5(gram): the same two bit positions as hashing the text
        return [
            (
                F.conv(F.hex(F.substring(F.col(col), 1, 4)), 16, 10)
                .cast("long")
                % L72_M_BITS
            ),
            (
                F.conv(F.hex(F.substring(F.col(col), 5, 4)), 16, 10)
                .cast("long")
                % L72_M_BITS
            ),
        ]

    cgrams = _grams(corpus).select("g").distinct()
    # Feeds the bitmap build AND the (gated) exact verify — persist
    # so the corpus gram explode+distinct runs once.
    cgrams = persist(cgrams)
    # r16: no .distinct() on positions — bit_or is idempotent (see
    # l72); drops one exchange, masks identical.
    cpos = cgrams.select(
        F.explode(F.array(*_pos("g"))).alias("pos")
    )
    words = cpos.groupBy(
        (F.col("pos") / _L72_WORD).cast("long").alias("word")
    ).agg(
        F.bit_or(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(pos % {_L72_WORD} AS INT))"
            )
        ).alias("mask")
    )
    igrams = _grams(incoming)
    ipos = igrams.select(
        "doc_id", "g", F.explode(F.array(*_pos("g"))).alias("pos")
    )
    bits = ipos.join(
        F.broadcast(words),
        (F.col("pos") / _L72_WORD).cast("long") == F.col("word"),
        "left",
    ).select(
        "doc_id",
        "g",
        F.when(
            F.col("mask").isNotNull()
            & (
                F.expr(
                    f"shiftright(mask, CAST(pos % {_L72_WORD} AS INT))"
                ).bitwiseAND(1)
                == 1
            ),
            1,
        )
        .otherwise(0)
        .alias("hit"),
    )
    # r16: gflags (one row per (doc_id, g) with the bloom verdict)
    # is persisted for its TWO consumers — the gated verify below and
    # the per-doc gram count — so the incoming gram kernel and the
    # bit-test subtree run ONCE (previously perdoc re-ran the gram
    # explode as a second kernel pass). Slim rows (id, 16-byte
    # digest, int), sized by the ingest batch.
    gflags = persist(
        bits.groupBy("doc_id", "g").agg(F.min("hit").alias("pass"))
    )
    # THE GATE: only bloom-pass grams reach the corpus-sized verify
    # join (l72 verifies all grams to score FPR; production doesn't).
    passg = gflags.filter(F.col("pass") == 1).select("doc_id", "g")
    ver = (
        passg.join(
            cgrams.select(F.col("g").alias("cg")),
            F.col("g") == F.col("cg"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bloom_pass"),
            F.sum(
                F.when(F.col("cg").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_shared"),
        )
    )
    perdoc = gflags.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    return perdoc.join(ver, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_bloom_pass", F.lit(0)).cast("long").alias(
            "n_bloom_pass"
        ),
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
        (F.coalesce("n_shared", F.lit(0)) >= DECON_MIN_SHARED).alias(
            "contaminated"
        ),
    )
