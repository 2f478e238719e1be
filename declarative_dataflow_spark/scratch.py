"""Scratch materialization: the one way this package truncates lineage
on a scratch table (shingle sets, fixpoint rounds, both sides of
self-joins, maintainer state).

Local or reliable. By default :func:`materialize` is a stock
``DataFrame.localCheckpoint``: its blocks are reaped by the
ContextCleaner as soon as the caller drops the result, where a
``persist()`` holds a strong CacheManager reference that a lazy
operator can never unpersist. But local checkpoint blocks are
executor-local and unreplicated: on a real cluster, losing one
executor fails every job whose truncated lineage lived there instead
of recomputing it. A deployment that wants recompute-on-loss sets::

    spark.conf.set("spark.declarativeDataflow.reliableScratch", "true")
    # optional; defaults to a temp dir locally -- point it at the
    # cluster FS (HDFS/S3) in a real deployment:
    spark.conf.set("spark.declarativeDataflow.scratchDir", "hdfs://...")

and every scratch table of the package becomes a reliable
``DataFrame.checkpoint`` in the checkpoint dir, re-readable after an
executor loss. The flag is read per call, so it can be flipped per
session or per operator block. A user's own ``df.localCheckpoint()``
is never rerouted.

Reliable mode grows the disk. Spark deletes reliable checkpoint files
only when ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
was set when the SparkContext was created. It is a static conf, so
:func:`ensure_checkpoint_dir` can only check it, not set it. Without
it, a long-running session grows the checkpoint dir without bound. A
deployment that turns ``reliableScratch`` on must either start the
context with::

    SparkSession.builder.config(
        "spark.cleaner.referenceTracking.cleanCheckpoints", "true")

or reap the scratchDir externally (ttl'd bucket, cron).
:func:`ensure_checkpoint_dir` warns once when the flag is on and the
cleaner conf is not.
"""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

RELIABLE_FLAG = "spark.declarativeDataflow.reliableScratch"
SCRATCH_DIR = "spark.declarativeDataflow.scratchDir"
_DESCRIPTION = "spark.job.description"


def reliable_scratch_enabled(spark) -> bool:
    """True iff this session opted into reliable scratch checkpoints."""

    try:
        return str(spark.conf.get(RELIABLE_FLAG, "false")).lower() == "true"
    except Exception:
        return False


_cleaner_warned = False


def _warn_if_no_cleaner(sc) -> None:
    """One-time warning when reliable scratch will leak checkpoint
    files: spark.cleaner.referenceTracking.cleanCheckpoints is a
    STATIC conf (read at context creation — cannot be set here), so
    the best this module can do at runtime is tell the operator the
    dir will grow without bound until it is reaped externally."""

    global _cleaner_warned
    if _cleaner_warned:
        return
    _cleaner_warned = True
    try:
        clean = sc.getConf().get(
            "spark.cleaner.referenceTracking.cleanCheckpoints", "false"
        )
    except Exception:
        return
    if str(clean).lower() != "true":
        import warnings

        warnings.warn(
            "reliableScratch is on but spark.cleaner.referenceTracking"
            ".cleanCheckpoints was not set at context creation: Spark "
            "will never delete reliable checkpoint files, so the "
            "checkpoint dir grows without bound in long sessions. Set "
            "the conf on the builder or reap the scratchDir externally "
            "(see declarative_dataflow_spark.scratch docstring).",
            stacklevel=3,
        )


def ensure_checkpoint_dir(spark) -> str:
    """Make sure the SparkContext has a checkpoint dir; returns it.
    Order: an already-set context dir wins (the deployment's choice),
    then the ``scratchDir`` conf, then a temp dir keyed by application
    id (local-mode convenience — a cluster MUST point scratchDir or
    setCheckpointDir at a shared FS for the reliability to be real)."""

    sc = spark.sparkContext
    _warn_if_no_cleaner(sc)
    current = sc.getCheckpointDir()
    if current:
        return current
    configured = None
    try:
        configured = spark.conf.get(SCRATCH_DIR, None)
    except Exception:
        configured = None
    d = configured or os.path.join(
        tempfile.gettempdir(), f"ddf_scratch_{sc.applicationId}"
    )
    sc.setCheckpointDir(d)
    return d


def _caller() -> str:
    """Qualified name of the nearest calling function outside this
    module and pyspark (``DataFrame.transform`` sits between a chained
    call site and :func:`materialize`)."""

    f = sys._getframe(2)
    while f.f_back is not None and (
        f.f_globals.get("__name__", "").startswith("pyspark")
        or f.f_globals.get("__name__") == __name__
    ):
        f = f.f_back
    return f.f_code.co_qualname


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage into a scratch table: a stock
    ``localCheckpoint``, or a reliable ``checkpoint`` when the session
    sets ``reliableScratch``. Jobs run here (``eager``) carry the
    calling function's name as their description; the job group and
    the previous description are left as they were."""

    spark = df.sparkSession
    if reliable_scratch_enabled(spark):
        ensure_checkpoint_dir(spark)
        checkpoint = df.checkpoint
    else:
        checkpoint = df.localCheckpoint
    if not eager:
        return checkpoint(eager=False)
    sc = spark.sparkContext
    previous = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(_DESCRIPTION, _caller())
    try:
        return checkpoint(eager=True)
    finally:
        sc.setLocalProperty(_DESCRIPTION, previous)


def materialize_count(df: DataFrame, where=None) -> tuple[DataFrame, int]:
    """Eagerly :func:`materialize` ``df`` and count its rows (those
    matching the Column ``where``, if given) inside the same jobs,
    through an ``Observation``. Always eager: an Observation on a lazy
    checkpoint reports 0 even after a later action."""

    obs = Observation()
    hit = F.lit(1) if where is None else F.when(where, 1)
    out = materialize(df.observe(obs, F.count(hit).alias("n")))
    return out, obs.get["n"]
