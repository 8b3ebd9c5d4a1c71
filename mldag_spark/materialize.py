"""Materialization and its lifetime, defined once.

Every frame the engine materializes goes through :func:`checkpoint`
(``localCheckpoint``) or :func:`cache` (``persist``); :func:`release`
frees a frame's blocks now, and :func:`scope` releases everything the
two made while it was open. :func:`collect_bounded` is the one
small-input decision: finish on the driver when a frame fits a cap.

Lifetime rule: the caller that runs the last action owns the scope.
Library code, ``MLDag`` runs included, never closes a scope around the
frames it returns: those frames are lazy, so their blocks must outlive
the caller's action. A function whose materialized frames never escape
it opens its own ``scope()``; one whose result escapes releases its
private frames with :func:`release`.

With no scope open, :func:`checkpoint` and :func:`cache` register
nothing and issue exactly the Spark call they wrap; what they made then
lives until :func:`release` or the end of the session. The scope is a
context variable, so it is visible only on the thread (or task) that
opened it: a ``foreachBatch`` function runs on a py4j callback thread
and must open its own.
"""

from __future__ import annotations

import contextlib
import contextvars
from typing import TYPE_CHECKING, Iterator, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame

if TYPE_CHECKING:
    import pyarrow as pa

# the open scope's frames, each with whether it was cached (a
# released cache reads is_cached False, like a checkpoint)
_owned: contextvars.ContextVar[Optional[list[tuple[DataFrame, bool]]]] = (
    contextvars.ContextVar("mldag_spark_materialize_scope", default=None)
)


def _register(df: DataFrame) -> DataFrame:
    owned = _owned.get()
    if owned is not None:
        owned.append((df, df.is_cached))
    return df


def checkpoint(
    df: DataFrame,
    eager: bool = False,
    storage_level: Optional[StorageLevel] = None,
) -> DataFrame:
    """``df.localCheckpoint``: cut the lineage at ``df`` and store its
    rows as local blocks (Spark's default level for local checkpoints
    unless ``storage_level`` is given).

    ``eager=False`` is lazy only above ``df``'s last exchange: under
    AQE the call itself runs every shuffle and broadcast stage below it
    (``tests/test_dedup_closure.py``); only the final stage and the
    block write wait for the first action. ``eager=True`` runs the
    whole plan at the call."""
    return _register(df.localCheckpoint(eager=eager, storageLevel=storage_level))


def cache(
    df: DataFrame,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER,
) -> DataFrame:
    """``df.persist(storage_level)``; the default is ``persist()``'s.
    The level prints in the plan's ``InMemoryRelation``, so each caller
    passes the level it means."""
    return _register(df.persist(storage_level))


def _free(df: DataFrame, cached: bool) -> None:
    if cached:
        df.unpersist()
    else:
        # a local checkpoint's analyzed plan is a LogicalRDD whose rdd
        # IS the checkpointed RDD: unpersisting it frees the blocks at
        # once. queryExecution().toRdd() would derive a fresh RDD over
        # the checkpoint, and unpersisting that is a silent no-op.
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def release(df: DataFrame) -> None:
    """Free the blocks of ``df``, a frame returned by :func:`checkpoint`
    or :func:`cache`, now. A frame read from it afterwards recomputes
    (cache) or fails (checkpoint), so release only what no pending
    action reads. Call it once per frame; a scope that registered the
    frame may release it again on exit, which is harmless."""
    _free(df, df.is_cached)


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Collect every frame :func:`checkpoint` and :func:`cache` make on
    this thread while the block runs, and release them all on exit.
    Open it around the last action that reads them. Scopes nest: an
    inner one releases only what it collected."""
    owned: list[tuple[DataFrame, bool]] = []
    token = _owned.set(owned)
    try:
        yield
    finally:
        _owned.reset(token)
        for df, cached in reversed(owned):
            _free(df, cached)


def collect_bounded(df: DataFrame, cap: int) -> "Optional[pa.Table]":
    """The rows of ``df`` as an Arrow table when there are at most
    ``cap`` of them, else ``None``: the bounded-collect law, which
    finishes small inputs on the driver and never pulls more than
    ``cap + 1`` rows to find out.

    One Spark action: ``limit(cap + 1)`` collected through Arrow runs
    as a single job (a row ``collect`` of a limit scans partitions in
    growing batches, one job each). A lazy :func:`checkpoint` below
    ``df`` is written whole by that job, so a caller that gets ``None``
    reads the same blocks on its distributed path."""
    table = df.limit(cap + 1).toArrow()
    return table if table.num_rows <= cap else None
