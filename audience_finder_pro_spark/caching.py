"""Storage hygiene for operators that materialize bounded intermediates.

Two Spark facts drive everything here:

- ``persist()`` entries live in the CacheManager keyed by logical plan
  and are NEVER freed by garbage collection — only an explicit
  ``unpersist()`` releases them. An operator that persists internally
  and relies on its caller to clean up leaks executor storage on every
  invocation from a caller that doesn't know the contract.
- ``localCheckpoint()`` blocks live on the materialized RDD: they are
  released automatically by the ContextCleaner once the RDD is
  dereferenced (when the consumer drops the DataFrame), and can be
  released *deterministically* via ``free_checkpoint`` below.

So operators that need a small bounded intermediate materialized
(candidate sets, per-candidate feature tables, loop state) should
``localCheckpoint(eager=True)`` it rather than ``persist()`` it: the
lifetime is then tied to the returned DataFrame instead of to a cleanup
call the caller may never make.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def free_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind every ``localCheckpoint`` a
    DataFrame's plan references.

    ``df.unpersist()`` is a no-op for checkpoints (the blocks are
    RDD-level, not CacheManager entries). Each checkpoint appears in the
    analyzed plan as a ``LogicalRDD`` node whose ``rdd()`` is the
    checkpointed RDD — walk the plan and unpersist each (verified:
    storage blocks drop to zero immediately). Only call this once the
    DataFrame (and anything derived from it) is fully consumed: the
    blocks are its only data source. Best-effort — any plan-shape
    surprise degrades back to ContextCleaner GC, logged as a warning
    with its traceback.
    """
    try:
        _walk(df._jdf.queryExecution().analyzed())
    except Exception:
        _log.warning("free_checkpoint: plan walk failed; blocks left to the ContextCleaner", exc_info=True)


def _walk(node) -> None:
    if node.getClass().getSimpleName() == "LogicalRDD":
        try:
            node.rdd().unpersist(False)
        except Exception:
            _log.warning("free_checkpoint: unpersist failed; blocks left to the ContextCleaner", exc_info=True)
    it = node.children().iterator()
    while it.hasNext():
        _walk(it.next())
