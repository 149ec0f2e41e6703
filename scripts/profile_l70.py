"""Stage decomposition of l70_corpus_pipeline_v2 at the bench config.

Times each pipeline stage in isolation via the noop sink (guide §1.4)
inside one warm session, n reps interleaved, so the l70 optimization
targets the measured stage, not the suspected one. Also decomposes
the LSH stage (sketch / banding+self-join / verification).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from hadoop_release_spark.catalog import table  # noqa: E402
from hadoop_release_spark.functions.materialize import release  # noqa: E402
from hadoop_release_spark.session import get_session  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("REPS", "3"))
    spark = get_session("profile-l70")
    sc = spark.sparkContext

    from hadoop_release_spark.operators.dedup import (
        LSH_BANDS,
        LSH_NUM_HASHES,
        lsh_candidate_pairs,
        minhash_from_hashes,
        shingle_sketch,
    )

    d = table(spark, sf_dir, "documents")

    def build_ekept():
        # replicate stages 1-2 (md5/url + exact dedup) without the
        # materialization discipline, for isolated timing
        from hadoop_release_spark.plans.l_pipeline import (
            _canonical_url,
            _planted_url,
        )

        fetch = d.select(
            "doc_id", F.md5("text").alias("__h"), _planted_url().alias("url")
        ).select("doc_id", "__h", _canonical_url().alias("curl"))
        usurv = fetch.groupBy("curl", "__h").agg(
            F.min("doc_id").alias("u_surv")
        )
        umap = fetch.join(usurv, ["curl", "__h"]).select(
            "doc_id", "__h", "u_surv"
        )
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
        return d.join(
            emap.filter(F.col("doc_id") == F.col("e_surv")).select("doc_id"),
            "doc_id",
            "left_semi",
        )

    timings: dict[str, list[float]] = {}

    def bench(label: str, fn) -> None:
        sc.setJobDescription(f"l70-profile: {label}")
        t0 = time.perf_counter()
        fn()
        timings.setdefault(label, []).append(time.perf_counter() - t0)
        sc.setJobDescription(None)

    for rep in range(reps):
        # full registered query (reference point)
        from hadoop_release_spark.plans.registry import all_queries

        q = all_queries()["l70_corpus_pipeline_v2"]
        bench("full l70 (toPandas)", lambda: q(spark, sf_dir).toPandas())

        # stage 1-2 alone
        bench("stage1-2 ekept (noop)", lambda: noop(build_ekept()))

        # full LSH stage over persisted ekept (as the real op runs it)
        ekept = build_ekept().persist()
        ekept.count()
        bench(
            "stage3 LSH pairs (noop)",
            lambda: noop(lsh_candidate_pairs(ekept, "doc_id", "text")),
        )

        # LSH sub-stages
        base = ekept.select(
            F.col("doc_id").alias("__id"),
            shingle_sketch(F.col("text")).alias("__sk"),
        ).select(
            "__id",
            F.col("__sk.shingles").alias("__shingles"),
            F.col("__sk.hashes").alias("__h"),
        )
        bench("  3a sketch kernel (noop, no persist)", lambda: noop(base))
        basep = base.persist()
        basep.count()
        rows_per_band = LSH_NUM_HASHES // LSH_BANDS
        banded = basep.select(
            "__id",
            minhash_from_hashes(F.col("__h"), LSH_NUM_HASHES).alias("__sig"),
        ).select(
            "__id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                    lambda b: F.array_join(
                        F.transform(
                            F.slice(
                                F.col("__sig"),
                                b * rows_per_band + 1,
                                rows_per_band,
                            ),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    ),
                )
            ).alias("__band", "__bucket"),
        )
        banded = banded.repartition("__band", "__bucket")
        left, right = banded.alias("a"), banded.alias("b")
        cand = (
            left.join(
                right,
                (F.col("a.__band") == F.col("b.__band"))
                & (F.col("a.__bucket") == F.col("b.__bucket"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select(
                F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        bench("  3b banding+selfjoin+dedup (noop, base cached)", lambda: noop(cand))
        n_cand = cand.count()
        candp = cand.persist()
        candp.count()
        shingles = basep.select("__id", "__shingles")
        ver = (
            candp.join(
                shingles.select(
                    F.col("__id").alias("id_a"),
                    F.col("__shingles").alias("sh_a"),
                ),
                "id_a",
            )
            .join(
                shingles.select(
                    F.col("__id").alias("id_b"),
                    F.col("__shingles").alias("sh_b"),
                ),
                "id_b",
            )
            .withColumn(
                "jaccard",
                F.round(
                    F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                    / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                    3,
                ),
            )
            .filter(F.col("jaccard") >= 0.8)
            .select("id_a", "id_b", "jaccard")
        )
        bench(
            "  3c verification joins (noop, cand+base cached)",
            lambda: noop(ver),
        )
        if rep == 0:
            print(f"n_candidates={n_cand} n_ekept={ekept.count()}", flush=True)
        for f in (candp, basep, ekept):
            f.unpersist()
        release()  # the full l70 run's own intermediates

    print(f"\n{'label':55s} {'min':>7s} {'med':>7s}  (n={reps})")
    for label, ts in timings.items():
        print(
            f"{label:55s} {min(ts):7.3f} {statistics.median(ts):7.3f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
