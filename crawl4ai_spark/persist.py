"""Bounded persist registry for lazy multi-consumer plans.

An operator that returns a LAZY plan reading one intermediate frame
several times persists that frame, but cannot unpersist it before
returning — the plan has not run yet. A ``PersistSlot`` holds such
frames and releases them on the operator's NEXT call, which bounds the
cached blocks of a long-lived session to one call's worth. Release is
always safe: a plan that still references a released frame recomputes
it.

Each operator owns its own slot. A shared one would let one operator
release frames another still serves (e.g. dedup's side table evicting
the corpus pipeline's stage caches mid-run, recomputing MinHash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class PersistSlot:
    """Persisted frames of one operator's latest call."""

    def __init__(self) -> None:
        self._held: list[DataFrame] = []

    def hold(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` next to the frames already held."""
        df = df.persist()
        self._held.append(df)
        return df

    def release(self) -> None:
        """Unpersist every held frame."""
        while self._held:
            try:
                self._held.pop().unpersist()
            except Exception:
                pass

    def replace(self, df: DataFrame) -> DataFrame:
        """Release the held frames, then hold ``df``."""
        self.release()
        return self.hold(df)
