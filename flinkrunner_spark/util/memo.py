"""Session-level memo for the shared intermediate frames of the ``llm/*``
operators.

Several operators over one corpus read the same expensive frame (the
minhash signatures, the bigram LM counts, the IVF assignment, ...), so
each such frame is built once per (application, corpus, params) and
handed to every later caller. This module owns the whole lifecycle:

* entries are keyed by ``(applicationId, sf_dir, *params)``;
* entries of another applicationId belong to a stopped session (their
  RDDs died with its context) and are dropped on the next access, so a
  session restart does not leak driver memory;
* ``release_caches(sf_dir)`` frees one corpus (or everything) — a
  long-lived service sweeping many corpora calls it after each one, and
  a benchmark calls it between passes so warm numbers measure executed
  plans rather than cache hits.
"""

from __future__ import annotations

import itertools
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_MEMO: dict[tuple, Any] = {}
_PIN_IDS = itertools.count()


def memo(
    spark: SparkSession, sf_dir: str, key: tuple, build: Callable[[], Any]
) -> Any:
    """The value memoized under ``key`` for this application and corpus,
    built by ``build()`` on a miss. ``key[0]`` names the memo point."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in _MEMO if k[0] != app]:
        del _MEMO[stale]
    full = (app, sf_dir, *key)
    if full not in _MEMO:
        _MEMO[full] = build()
    return _MEMO[full]


def pin(spark: SparkSession, sf_dir: str, df: DataFrame) -> DataFrame:
    """Register a per-call persisted or localCheckpoint'ed frame for
    release with ``sf_dir``: it is never shared, but must not outlive
    its corpus in executor storage."""
    return memo(spark, sf_dir, ("pin", next(_PIN_IDS)), lambda: df)


def release_caches(sf_dir: str | None = None) -> None:
    """Forget the memoized entries of ``sf_dir`` (``None`` = all) and free
    their executor storage: persisted frames are unpersisted, and
    localCheckpoint-backed frames have their blocks freed eagerly rather
    than waiting on the JVM ContextCleaner. A checkpoint has no lineage
    to recompute from, so a caller must not run a frame built on one
    after releasing its corpus; call the operator again instead."""
    from flinkrunner_spark.operators.graph import _free_checkpoint

    for key in [k for k in _MEMO if sf_dir is None or k[1] == sf_dir]:
        entry = _MEMO.pop(key)
        for df in entry if isinstance(entry, tuple) else (entry,):
            if isinstance(df, DataFrame):
                try:
                    df.unpersist()
                except Exception:
                    pass  # context already stopped — nothing to free
                _free_checkpoint(df)
