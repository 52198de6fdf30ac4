"""The one way to cut a DataFrame's lineage: :func:`pin`."""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame, *, eager: bool = False,
        reliable: bool = False) -> DataFrame:
    """Materialize ``df`` once for every consumer that reads it.

    Self-joins and multi-branch plans otherwise recompute the whole
    upstream lineage once per consumer, and iterative loops grow their
    plan (and re-execute every prior round) without a cut.

    localCheckpoint, not persist(): persist registers the plan in the
    CacheManager, which holds a strong reference until an explicit
    unpersist() that a lazily-returned operator has no place to call — in
    a long-lived session those entries accumulate.  A localCheckpoint's
    blocks are tracked per-RDD by the ContextCleaner and freed when the
    consuming DataFrame is garbage-collected.

    Lazy by default: the first consumer materializes the blocks as a side
    effect of its own job, so an eager cut only adds a blocking job that
    repeats the same work.  ``eager=True`` is for a caller that must see
    the blocks before it builds the next plan (``cdx.cluster_index``
    collects per-partition counts from them; the recipe phase boundaries
    fix their partitioning).  Lazy cuts inside iterative loops
    (``links.pagerank``/``hits``) assume AQE, which every session in this
    repo enables: without it, awaiting an iteration's broadcast runs that
    whole iteration under ``spark.sql.broadcastTimeout``.

    Fault tolerance: local blocks live on executors unreplicated, so
    losing an executor fails the consuming job (lineage was truncated, so
    Spark recomputes nothing).  For a single-job cut that is the blast
    radius of a lost shuffle map output (the job retries); iterative
    multi-job flows on a cluster want ``reliable=True``, which writes the
    blocks to the SparkContext's checkpoint dir.  The caller sets that dir
    once (``setCheckpointDir`` makes a new UUID subdirectory per call).
    """
    if reliable:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)
