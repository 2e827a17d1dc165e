"""How an intermediate frame is materialized, and how long it lives.

Every operator that computes a frame once and reads it more than once
goes through this module; nothing else in the package persists or
checkpoints. The choice between the three helpers is a lifetime choice:

- :func:`held` — the frame is read only inside one call. It is
  persisted for the ``with`` block and unpersisted in ``finally``, also
  when the block raises, so no cache entry outlives the call and a later
  identical call recomputes from its sources. ``persist`` keeps the
  lineage: a lost block is recomputed.
- :func:`checkpointed` — the frame is returned, or read by something
  returned, after the call's holds are released. An eager
  ``localCheckpoint`` computes it now and cuts its lineage, so the
  returned plan reads the blocks instead of re-running (or re-reading a
  released cache of) the upstream subtree. The blocks belong to the
  frame: Spark's ContextCleaner reclaims them once the frame is
  garbage-collected, so they need no release either.
- :func:`on_driver` — the frame is a result of a few rows: it is
  collected and held in driver memory, and reading it runs no job.

Cluster caveat: ``localCheckpoint`` blocks live on the executor that
computed them and are not replicated. On a cluster, losing that executor
(failure, dynamic-allocation decommission) while a checkpointed frame is
still read makes the frame unrecoverable and fails the job. A long-lived
cluster deployment should swap :func:`checkpointed` for a reliable
``checkpoint()`` (``sparkContext.setCheckpointDir``); every site goes
through this module, so that is a one-line change.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def held(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` cached for the block and released when it exits. The cache
    fills on the first action inside the block."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def checkpointed(df: DataFrame) -> DataFrame:
    """``df`` computed now into executor blocks the returned frame owns,
    with its lineage cut."""
    return df.localCheckpoint(eager=True)


def on_driver(df: DataFrame) -> DataFrame:
    """``df`` computed now and held on the driver: one Arrow collect, then
    a frame over the collected table — a LocalRelation below Arrow's
    local-relation threshold, so consumers re-read the rows without
    recomputing them and a collect runs no job. For results, not inputs:
    the rows live in driver memory. The explicit schema keeps column
    types and nullability, also for zero rows."""
    return df.sparkSession.createDataFrame(df.toArrow(), schema=df.schema)
