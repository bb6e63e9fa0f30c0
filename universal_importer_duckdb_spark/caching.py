"""Scoped caching: the one way to hold a frame for reuse.

The policy has two cases:

* **Hold for reuse** (a fan-out frame a plan reads several times, or
  a trained artifact — gram index, kept members, langid profile —
  that later actions serve from) means ``scoped_cache``. The frame
  keeps its plan, so ``release_scoped`` frees it and any later
  action (or a lost cached block) recomputes the same rows from that
  plan; every held artifact is deterministic.
* **Cut the lineage inside a loop** (iterative rank/cluster rounds,
  streaming state, a parse whose handles must outlive a release)
  means ``localCheckpoint``, at the few sites where the cut is the
  point. Three vocab-bounded artifacts (the collocation counts, the
  DSIR tables, the bigram-LM table) are also checkpointed, because
  their warm re-query measured slower when cached; the numbers are
  at each site.

Query builders (entry_queries, operators) cache frames their plans
reference several times. Plain ``df.cache()`` has exactly the right
read semantics — the CacheManager dedupes by canonicalized plan, so a
REBUILT identical query reuses the materialized frame across actions
and across builder calls — but entries live until an explicit
unpersist, so a long-lived session sweeping many queries accumulates
storage until LRU eviction thrash.

``scoped_cache`` keeps the cache() semantics and ALSO tracks every
cached frame per session (weakly — a dead session drops its whole
ledger), so sweepers can release them deterministically:

    from universal_importer_duckdb_spark.caching import release_scoped
    ...run any number of registry queries...
    release_scoped(spark)   # storage back to zero, nothing leaks

``spark.catalog.clearCache()`` is the blunt equivalent (it drops ALL
cached data, including user tables); release_scoped only drops what
the query builders created. bench.py clears between queries either
way; long-lived sessions should call release_scoped at natural
boundaries (end of a pipeline run, between registry sweeps).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

# session -> list of cached DataFrames. The session key is weak (a
# dead session drops its whole ledger); the FRAME references are
# strong on purpose — the builder-local variables die as soon as the
# builder returns, so the ledger is the owner that keeps the handle
# alive for release_scoped to unpersist. Bounded by the number of
# scoped_cache calls between releases.
_LEDGER: "weakref.WeakKeyDictionary[SparkSession, list[DataFrame]]" = (
    weakref.WeakKeyDictionary()
)

# FIFO bound on tracked frames per session (see scoped_cache docstring)
_LEDGER_CAP = 256


def scoped_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` plus registration in the session's release
    ledger. Use for builder-internal fan-out frames instead of bare
    cache().

    The ledger is hard-capped at ``_LEDGER_CAP`` entries per session
    (FIFO): a session that never calls release_scoped — e.g. one
    relying on ``clearCache()`` between queries — cannot accumulate
    unbounded py4j plan references on the driver heap. Eviction drops
    only OUR handle; the JVM-side cache entry (if still live) remains
    until clearCache/LRU exactly as an untracked ``df.cache()`` would.
    NOTE deliberately NOT checked per call: ``df.storageLevel``, which
    looks live-vs-dead up in the CacheManager by canonicalizing the
    frame's plan — on the big candidate-generation plans that use this
    module, that costs more than the queries it would save."""
    df = df.cache()
    ledger = _LEDGER.setdefault(df.sparkSession, [])
    ledger.append(df)
    if len(ledger) > _LEDGER_CAP:
        del ledger[: len(ledger) - _LEDGER_CAP]
    return df


def release_scoped(spark: SparkSession) -> int:
    """Unpersist every scoped-cached frame created on this session.
    Returns the number of frames released. Blocking=False: block
    removal proceeds asynchronously executor-side."""
    frames = _LEDGER.pop(spark, [])
    n = 0
    for df in frames:
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass  # session/executor already gone
    return n
