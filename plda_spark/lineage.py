"""Cut a plan's lineage with local checkpoints, and release them again.

A local checkpoint's RDD stays in ``getPersistentRDDs()`` after
``DataFrame.unpersist()``: the checkpoint is not in the cache manager, so
only a JVM GC that happens to run the ContextCleaner frees its blocks.
:class:`_Lineage` records every checkpoint it makes and releases each one
through the RDD itself, which does free them.

The rule every iterative operator follows: release a cut once the cut that
supersedes it has materialized, and before returning release every cut the
returned frame no longer reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class _Lineage:
    """Local checkpoints held together until the caller releases them.

    ``cut`` truncates a plan's lineage.  A lazy cut runs nothing: the first
    action that computes the frame also persists its blocks, so ONE job runs
    the plan, saves its output and returns whatever that action asked for.
    An eager cut runs that job now.  ``release`` unpersists the RDD behind
    each checkpoint."""

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def cut(self, df: DataFrame, eager: bool = False) -> DataFrame:
        ckpt = df.localCheckpoint(eager=eager)
        self._frames.append(ckpt)
        return ckpt

    def keep(self, df: DataFrame) -> None:
        """Exempt ``df`` from :meth:`release`; the caller now owns it."""
        self._frames = [f for f in self._frames if f is not df]

    def release(self) -> None:
        for f in self._frames:
            f._jdf.queryExecution().logical().rdd().unpersist(False)
        self._frames = []

    def release_superseded(self) -> None:
        """Release every cut but the newest.  Call it once the newest has
        materialized (an eager cut, or an action over a lazy one)."""
        newest = self._frames.pop()
        self.release()
        self._frames.append(newest)
