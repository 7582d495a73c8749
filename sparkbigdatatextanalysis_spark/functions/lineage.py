"""Session hygiene for operators: storage release and named eager jobs.

``DataFrame.unpersist()`` only removes entries the SQL cacheManager
registered (i.e. ``persist()`` results). A ``localCheckpoint`` stores
its data as RDD-level blocks that the cacheManager never sees, so
``unpersist()`` on a checkpointed DataFrame is a silent no-op and every
iterative loop that checkpoints per round (connected components, BPE)
would accumulate one table copy per round until driver GC happens to
trigger the ContextCleaner (verified live: ``getPersistentRDDs`` size
is unchanged by ``unpersist`` after ``localCheckpoint``).

:func:`release` frees BOTH kinds: when the plan is the bare checkpoint
result (a ``LogicalRDD`` leaf), it unpersists the backing RDD directly;
otherwise it falls back to the ordinary ``unpersist``.

:func:`job_description` names the Spark jobs of an operator's eager
action and restores the caller's description afterwards.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)


def release(df: DataFrame) -> None:
    """Free the storage behind a ``persist()`` or ``localCheckpoint()``
    result. Best-effort: any internal-API mismatch degrades to the
    plain ``unpersist`` (never raises) -- but LOUDLY: the LogicalRDD
    fast path string-matches a private JVM class name, so a
    Spark-internal rename would silently reinstate the per-round block
    leak this function exists to fix. The warning (plus the block-count
    regression tests on the BPE, connected-components and
    incremental-dedup loops) turns that silent decay into a visible
    one."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
            return
    except Exception as exc:
        logger.warning(
            "lineage.release: LogicalRDD fast path failed (%s); falling "
            "back to DataFrame.unpersist, which is a NO-OP on "
            "localCheckpoint blocks -- iterative loops may leak one "
            "table copy per round",
            exc,
        )
    try:
        df.unpersist()
    except Exception:
        pass


@contextmanager
def job_description(df: DataFrame, desc: str):
    """Run the block's Spark jobs under ``desc`` (the operator's eager
    action, as the UI and job listeners name it), then restore the
    caller's description -- NULL included -- so the session is left as
    it was found."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
