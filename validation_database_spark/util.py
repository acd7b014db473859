"""Small shared plan utilities."""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    The test fixtures are single-file, single-row-group parquet, so a
    scan yields ONE input partition and any expensive per-row work
    (shingling, md5, dot products) would run on one core. A cheap
    round-robin shuffle of the (small) source rows fans the compute
    across all cores. On a real cluster the input is already split
    across many files/row groups, so this is a tiny constant-cost
    shuffle — and for genuinely large single files it is still the
    correct move before CPU-heavy narrow transforms.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


SPREAD = "spread"


def select_steps(df: DataFrame, steps, barriers: bool = True) -> DataFrame:
    """Apply ``steps`` in order: each a tuple of Spark-SQL expressions
    for one ``selectExpr``, or the :data:`SPREAD` marker for a
    :func:`spread` barrier, skipped when ``barriers`` is False. One
    list of strings so renders a corpus-sized pipeline, whose barriers
    keep expensive folds off one core and out of inlined lambdas, and
    the same pipeline over a handful of rows as a single stage."""
    for step in steps:
        if step != SPREAD:
            df = df.selectExpr(*step)
        elif barriers:
            df = spread(df)
    return df


# Persisted frames registered by operators that NEED the cache to
# survive until the caller materializes the result — either for
# partition-assignment determinism (the two-pass rank helper in
# operators/report.py) or because a reused/iterated subtree would
# otherwise replicate in the plan (SemDeDup's Lloyd assignments).
# Spark's CacheManager keys by logical plan and never GCs, so a pin
# that outlives its run also serves a LATER run over the same paths
# its cached rows, even after the files under those paths changed.
# Two lifetimes:
# - inside ``with pin_scope():`` a pin belongs to the innermost scope
#   of the calling thread and is unpersisted when that scope exits
#   (``write_reports`` runs inside one, so a validation run leaves no
#   cache behind and releases no other thread's or caller's pins —
#   unless they pinned the identical plan, which shares one cache
#   entry);
# - outside any scope it goes to the process-global ``_PINNED`` list
#   until the host calls release_pins() (bench.py, perfbench and the
#   scripts call it between specs, ADVICE r6).
_PINNED: list[DataFrame] = []
_SCOPES = threading.local()


def pin(df: DataFrame) -> DataFrame:
    """persist() + register with the innermost ``pin_scope`` of this
    thread, or for the next release_pins() outside any scope."""
    df.persist()
    scopes = getattr(_SCOPES, "stack", None)
    (scopes[-1] if scopes else _PINNED).append(df)
    return df


def release_pins() -> None:
    """Unpersist every frame pinned outside a scope since the last call."""
    while _PINNED:
        _PINNED.pop().unpersist(False)


@contextmanager
def pin_scope() -> Iterator[None]:
    """Unpersist, on exit, every frame ``pin()`` registered in this
    thread while the scope was the innermost one."""
    if not hasattr(_SCOPES, "stack"):
        _SCOPES.stack = []
    mine: list[DataFrame] = []
    _SCOPES.stack.append(mine)
    try:
        yield
    finally:
        _SCOPES.stack.pop()
        while mine:
            mine.pop().unpersist(False)
