"""Declarative reference form of the similarity.py assignment kernel.

``rank_clusters_arrow`` in ``hadoop_release_spark/operators/similarity.py``
replaced this crossJoin + cosine fold + rank-1 window; its parity is
pinned against the same expressions. The form lives here because only
tests evaluate it: production runs the kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_release_spark.functions.vectors import dot, norm2


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
