"""Intermediates a query owns: persists, checkpoints and temp views.

Every persist, lineage-truncating checkpoint and temp view that a
plan creates goes through this module, which records it in ONE
owned-resource list. :func:`release` frees exactly the recorded
entries and nothing else, so a caller's own caches and views survive
any number of registry calls. A failure to free one entry is reported
with ``warnings.warn`` and the remaining entries are still freed.

Release point: the registry wrapper calls :func:`release` at the
START of each query, not at the end — the external driver
materializes the returned frame after the query function returns, so
the previous query's intermediates must live until the next query
begins. A full-registry session is thereby bounded to one query's
working set. Direct library callers (tests, scripts, notebooks) call
:func:`release` themselves once they are done with the returned
frames; a released frame must not be re-materialized.

Lineage truncation — :func:`eager_truncate` picks the safe tool per
deployment. ``localCheckpoint`` is eager, truncates the analyzed plan
to a constant size (a persisted loop frame still embeds the whole
upstream tree and Spark re-stringifies it per job) and needs no
external storage, but it keeps its blocks ONLY on executors with no
lineage to recompute them: under dynamic allocation or preemption,
losing one executor fails the job. So when the SparkContext has a
checkpoint directory (``sc.setCheckpointDir`` — the operator's
declaration that reliable storage exists) it uses reliable
``checkpoint()`` instead; local mode and ephemeral sessions, where
executor loss IS job loss, keep ``localCheckpoint()``. Both forms
are eager, truncate lineage and return identical rows (pinned by
tests/test_contract.py::test_eager_truncate_modes_identical).
:func:`release` frees a local checkpoint's blocks and deletes a
reliable checkpoint's files through the Hadoop FileSystem API, so a
looping operator (CC, l70) leaves nothing in the checkpoint dir.
``DataFrame.unpersist()`` frees neither: the blocks belong to the
LogicalRDD's own RDD, which is released directly.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

#: (what, free) per resource created and not yet released, in
#: creation order.
_OWNED: list[tuple[str, Callable[[], object]]] = []


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` (default storage level), owned until :func:`release`."""
    out = df.persist()
    _OWNED.append(("persist", out.unpersist))
    return out


def _free_checkpoint(df: DataFrame) -> None:
    rdd = df._jdf.logicalPlan().rdd()
    rdd.unpersist(False)
    ckpt = rdd.getCheckpointFile()
    if ckpt.isDefined():
        sc = df.sparkSession.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(ckpt.get())
        path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)


def _own_checkpoint(what: str, out: DataFrame) -> DataFrame:
    _OWNED.append((what, lambda: _free_checkpoint(out)))
    return out


def eager_truncate(df: DataFrame) -> DataFrame:
    """Materialize ``df`` eagerly and truncate its lineage, owned until
    :func:`release`.

    Reliable ``checkpoint()`` when a checkpoint dir is configured,
    ``localCheckpoint()`` otherwise (see module docstring for the
    executor-loss trade).
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return _own_checkpoint("checkpoint", df.checkpoint(eager=True))
    return _own_checkpoint("localCheckpoint", df.localCheckpoint())


def lazy_local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)``: lineage cut at the first
    job that reads it, owned until :func:`release`."""
    return _own_checkpoint("localCheckpoint", df.localCheckpoint(eager=False))


def temp_view(spark: SparkSession, name: str, df: DataFrame | None = None) -> None:
    """Own the session temp view ``name`` until :func:`release`.

    With ``df``, create (or replace) the view from it first; without,
    record a view something else registers under that name (a
    streaming memory sink's query name)."""
    if df is not None:
        df.createOrReplaceTempView(name)
    _OWNED.append((f"temp view {name}", lambda: spark.catalog.dropTempView(name)))


def release() -> None:
    """Free every recorded resource, newest first, and forget it.
    Each failure is reported as a warning and the rest still run."""
    while _OWNED:
        what, free = _OWNED.pop()
        try:
            free()
        except Exception as exc:
            warnings.warn(f"release: freeing {what} failed: {exc!r}")
