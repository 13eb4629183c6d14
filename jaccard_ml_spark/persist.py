"""One lifetime for every table the engine persists.

Operators persist a table when several plan branches read it (Catalyst
does not share work across branches). Every such persist goes through
``persist`` and is registered here, so a caller that loops over queries
or delta batches frees executor storage with one ``release_persisted()``
once it has materialized what it needs; otherwise storage grows by one
set of tables per call until eviction thrashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list = []


def persist(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist ``df`` at ``storage_level`` (None: Spark's default tier)
    and register it for ``release_persisted``."""
    df = df.persist(storage_level) if storage_level else df.persist()
    _PERSISTED.append(df)
    return df


def release_persisted(blocking: bool = False) -> int:
    """Unpersist every table registered by ``persist``.

    Safe once the results that read them are materialized (a later read
    just recomputes). Returns the number of tables released.
    """
    tables, _PERSISTED[:] = _PERSISTED[:], []
    for df in tables:
        df.unpersist(blocking)
    return len(tables)
