"""Pinning: the one place a frame is persisted and released.

The rule, for every operator and the runner:

  - A call that returns a MATERIALIZED result pins its call-lifetime
    frames with ``pins(df)`` inside ``with pinned() as pins:``.  A
    call-lifetime frame is one re-read across rounds, runner runs or
    eager probes, or one whose hash partitioning a later join must still
    see (a checkpoint would erase it).  The result leaves the scope
    through ``localCheckpoint(eager=True)``, so nothing the caller holds
    reads a released block.
  - Per-round and per-plan intermediates, and every frame of a call that
    returns a LAZY frame (``bfs.msbfs_distances``,
    ``graph_metrics.square_count``), use ``localCheckpoint(eager=False)``
    instead: those blocks live as long as the plan that reads them and
    are never released by hand.

When the scope exits — on success or on error — every frame still pinned
is unpersisted, so a failed call never leaves cached blocks behind in a
long-lived session.  ``pins.release(df)`` lets a frame go early; only the
runner needs it (its staging edge cache, and each block's previous
state as the superstep loop rolls forward).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


class Pins:
    """The frames one scope holds persisted."""

    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def __call__(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._held.append(df)
        return df

    def release(self, df: DataFrame) -> None:
        self._held = [h for h in self._held if h is not df]
        df.unpersist()

    def release_all(self) -> None:
        while self._held:
            self._held.pop().unpersist()


@contextmanager
def pinned() -> Iterator[Pins]:
    pins = Pins()
    try:
        yield pins
    finally:
        pins.release_all()
