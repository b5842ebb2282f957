"""The one owner of every persisted and checkpointed frame in the package.

A scope (:func:`materialize_scope`) releases every frame registered in
it on exit, checkpoints included; materializing an already persisted frame
inside a scope hands it to that scope.  Outside any scope, persisted
frames older than the newest ``_KEEP`` are unpersisted as new ones
register, and a checkpoint is never released: unpersisting a local
checkpoint breaks every DataFrame still reading it, and outside a scope
nothing says when its last reader is gone.  Scopes nest, are per thread,
and also work as function decorators.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_KEEP = 4
_LOCK = threading.Lock()
_RECENT: list = []  # persisted outside any scope, oldest first
_SCOPES = threading.local()


def _release(df: DataFrame, checkpoint: bool = False) -> None:
    if df._jdf.sparkSession().sparkContext().isStopped():
        return  # its blocks went with its context; releasing would raise
    if checkpoint:
        # a local checkpoint's blocks belong to the RDD its plan scans,
        # which DataFrame.unpersist does not touch
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    else:
        df.unpersist()


def materialize(df: DataFrame, checkpoint: bool = False) -> DataFrame:
    """``df`` persisted (lazily), or locally checkpointed (eagerly) when
    ``checkpoint``, and registered with the innermost open scope."""
    if checkpoint:
        df = df.localCheckpoint()
    elif not df.is_cached:  # re-persisting only logs a warning
        df.persist()
    stack = _SCOPES.__dict__.get("stack")
    if stack:
        stack[-1].append((df, checkpoint))
    elif not checkpoint:
        with _LOCK:
            _RECENT.append(df)
            doomed, _RECENT[:] = _RECENT[:-_KEEP], _RECENT[-_KEEP:]
        for old in doomed:
            _release(old)
    return df


@contextmanager
def materialize_scope():
    """Release every frame materialized inside the block on exit."""
    _SCOPES.__dict__.setdefault("stack", []).append([])
    try:
        yield
    finally:
        for df, checkpoint in reversed(_SCOPES.stack.pop()):
            _release(df, checkpoint)
