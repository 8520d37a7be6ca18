"""The one owner of how an iterative operator bounds its lineage and frees
the generations it no longer needs.

Round i+1 of a loop reads round i's frame, so an unchecked plan grows
with every round, and a frame read twice per round doubles the whole
history subtree each time (2^k copies after k rounds).  A loop keeps
that in check with one :class:`Generations` per invocation:

* :meth:`Generations.hold` lazily persists a generation the next round
  reads twice (no driver action: the cache materializes mid-job and both
  branches share it);
* :meth:`Generations.truncate` cuts lineage with an eager
  ``localCheckpoint``, and :meth:`Generations.on_cadence` does so every
  :data:`CHECKPOINT_EVERY` rounds, never after the final one;
* :meth:`Generations.release` frees generations from the old end,
  keeping the newest two and always the newest checkpoint, which every
  later generation reads; a truncation also frees every persisted
  generation, since no later plan reads past the cut.

``DataFrame.unpersist()`` is a no-op on a checkpointed frame (its blocks
bypass the cache manager), so a checkpoint is tracked as the exact JVM
RDD that ``localCheckpoint`` persisted and freed through it.  A local
checkpoint cannot be recomputed once its blocks are gone; keeping two
generations is what lets a loop return frames that read its last two
rounds (HITS' hub and authority scores, k-means' assignment and
centroids).  On a real cluster prefer reliable ``checkpoint()`` so long
runs survive executor loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Rounds between lineage truncations.  Plan depth between cuts stays
# O(CHECKPOINT_EVERY), and every registered bounded loop (PageRank k=2,
# k-core 2 rounds, min-label 3, BPE 4) runs as one uncut plan.
CHECKPOINT_EVERY = 4

# A loop's returned frames read at most its last two generations.
KEEP = 2


class Generations:
    """The generations one loop invocation holds, oldest first."""

    def __init__(self) -> None:
        self._held: list = []  # persisted DataFrames or checkpointed JVM RDDs
        self._truncated: DataFrame | None = None

    def hold(self, df: DataFrame) -> DataFrame:
        """``df`` persisted (lazily) and tracked; a frame this owner just
        checkpointed is already held and comes back unchanged."""
        if df is self._truncated:
            return df
        df = df.persist()
        self._held.append(df)
        return df

    def truncate(self, df: DataFrame) -> DataFrame:
        """``df`` eagerly local-checkpointed and tracked.  No later plan
        reads past the cut, so every persisted generation is released (a
        returned frame still reading one recomputes it; only a checkpoint
        cannot be recomputed), and older checkpoints down to the newest
        two."""
        df = df.localCheckpoint(eager=True)
        for g in self._held:
            if isinstance(g, DataFrame):
                g.unpersist(False)
        # the checkpointed frame's plan is LogicalRDD(<persisted rdd>), so
        # its .rdd() IS the persisted object (toRdd() would be a fresh
        # derivation over it, and unpersisting that would free nothing)
        self._held = [g for g in self._held if not isinstance(g, DataFrame)]
        self._held.append(df._jdf.queryExecution().logical().rdd())
        self._truncated = df
        self.release()
        return df

    def on_cadence(self, df: DataFrame, i: int, rounds: int) -> DataFrame:
        """``df`` after 0-based round ``i`` of ``rounds``: truncated every
        :data:`CHECKPOINT_EVERY` rounds, never after the final round."""
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < rounds:
            return self.truncate(df)
        return df

    def release(self) -> None:
        """Free all but the newest :data:`KEEP` generations, oldest first,
        but never the newest checkpoint: the generations held after it
        are lazy plans over its blocks (a dropped persist is recomputed
        from them, a freed checkpoint cannot be)."""
        while len(self._held) > KEEP:
            # checkpoints precede persists, so held[0] is the newest
            # checkpoint exactly when a persist follows it
            is_ckpt = [not isinstance(g, DataFrame) for g in self._held[:2]]
            self._held.pop(int(is_ckpt[0] and not is_ckpt[1])).unpersist(False)
