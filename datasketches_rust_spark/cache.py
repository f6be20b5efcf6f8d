"""Session-scoped registry of persisted intermediate DataFrames.

The dedup pipeline persists a handful of intermediates (signature tables,
simhash fingerprint tables, the final label table of each connected-
components run) whose consumers are *lazy* — the caller materializes the
returned DataFrame at some later action, so the producing function cannot
unpersist in a try/finally without recomputing everything upstream.

Instead, producers register their persisted frames here and the next
pipeline invocation releases everything registered before it (by which
time the previous call's results have been materialized — or the caller
abandoned them). The leak is thereby bounded at one pipeline call's worth
of cache entries instead of growing for the session lifetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """persist() (serialized MEMORY_AND_DISK) + register for deferred
    release."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED.append(df)
    return df


def register(df: DataFrame) -> DataFrame:
    """Register an already-persisted frame for deferred release."""
    _TRACKED.append(df)
    return df


def release_tracked() -> int:
    """Unpersist every registered frame (non-blocking); returns how many."""
    n = len(_TRACKED)
    while _TRACKED:
        try:
            _TRACKED.pop().unpersist(False)
        except Exception:
            pass  # session gone / already unpersisted — nothing to leak
    return n
