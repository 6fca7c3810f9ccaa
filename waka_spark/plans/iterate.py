"""The one round driver for iterative DataFrame operators.

Every iterative pass in this engine (union-find canonicalization,
PageRank and personalized PageRank, HITS, BFS, label propagation, k-core
and k-truss peeling, MMR re-ranking, BPE merge learning) has the same
round shape: build round t+1 from round t, eagerly ``localCheckpoint`` it
so round t+1's plan does not replay rounds 1..t (Catalyst re-analysis of
a deep plan measurably dominates small-round runtime), then drop round t.

Dropping is the part Spark does not do for us: there is no public
DataFrame API to free a localCheckpoint, so a 25-round run over a
10^9-node label table would keep 25 full copies of that table in
executor storage until the session ends — evicting the shuffle and
broadcast blocks the rest of the job needs. GraphFrames' connected
components unpersists superseded iterations for the same reason
(org.graphframes.lib.ConnectedComponents). The mechanism is a
persistent-RDD id diff: the locally-checkpointed ids that appear around
an eager checkpoint are that checkpoint's blocks (the checkpoint is the
only job running on the session thread), and unpersisting them frees it.
A lazily persisted frame that the same job builds for the first time
also appears in the diff; it belongs to its owner, not the checkpoint,
so the diff skips it — freeing it with the checkpoint would leave its
owner rebuilding it, uncached, on every later read.

:class:`Rounds` is the only code that releases that storage. An operator
opens one scope, registers its helper frames with it, and hands its round
step to :meth:`Rounds.iterate`::

    with Rounds(edges.sparkSession) as rounds:
        e = rounds.checkpoint(edge_plan)        # helper: freed on exit
        nodes = rounds.persist(node_plan)       # helper: unpersisted on exit
        state = rounds.checkpoint(init_plan)    # round 0
        state = rounds.iterate(state, step, max_iter)
        return rounds.keep(state)               # the caller owns this one

THE INVARIANT: freeing a checkpoint destroys the frame — its lineage is
truncated, so after unpersist the data is neither present nor
recomputable (Spark logs exactly this warning). The driver therefore
frees a round only once it is provably dead: the next round is
materialized, and the convergence test (which reads only the new round)
has run. The scope frees its helpers on exit, but never a frame passed to
:meth:`Rounds.keep`.

:func:`release_new_rdds` is the same id diff over a whole block, for
callers whose checkpoints have no frame handle left to release
(``serve.KGService`` around one request's pipeline run).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession


def _persistent_ids(jsc) -> set[int]:
    return set(jsc.getPersistentRDDs().keySet().toArray())


def _new_checkpoints(jsc, before: set[int]) -> set[int]:
    jmap = jsc.getPersistentRDDs()
    return {
        rid for rid in jmap.keySet().toArray()
        if rid not in before and jmap.get(rid).rdd().isLocallyCheckpointed()
    }


def _unpersist(jsc, ids) -> None:
    jmap = jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)


@contextmanager
def release_new_rdds(spark: SparkSession) -> Iterator[None]:
    """Unpersist every RDD the block persisted. Only attributable while no
    other thread persists on the same session — callers serialize."""
    jsc = spark.sparkContext._jsc
    before = _persistent_ids(jsc)
    try:
        yield
    finally:
        _unpersist(jsc, _persistent_ids(jsc) - before)


class Rounds:
    """One iterative operator's storage scope and its round driver."""

    def __init__(self, spark: SparkSession) -> None:
        self._jsc = spark.sparkContext._jsc
        # id(frame) -> (frame, persistent RDD ids backing its checkpoint);
        # holding the frame keeps its id from being reused
        self._rdds: dict[int, tuple[DataFrame, set[int]]] = {}
        self._persisted: list[DataFrame] = []
        self._kept: set[int] = set()

    def __enter__(self) -> Rounds:
        return self

    def __exit__(self, *exc) -> None:
        for fid in [f for f in self._rdds if f not in self._kept]:
            self._free(fid)
        for df in self._persisted:
            if id(df) not in self._kept:
                df.unpersist(False)

    def _track(self, df: DataFrame, ids: set[int]) -> None:
        self._rdds[id(df)] = (df, self._rdds.get(id(df), (df, set()))[1] | ids)

    def _free(self, frame_id: int) -> None:
        _, ids = self._rdds.pop(frame_id, (None, ()))
        _unpersist(self._jsc, ids)

    def checkpoint(
        self, df: DataFrame, replaces: DataFrame | None = None,
    ) -> DataFrame:
        """Eager ``localCheckpoint`` of ``df``, freed on exit unless kept.
        ``replaces``: a frame of this scope the new one supersedes — it is
        freed as soon as the new checkpoint is materialized."""
        before = _persistent_ids(self._jsc)
        ck = df.localCheckpoint(eager=True)
        self._track(ck, _new_checkpoints(self._jsc, before))
        if replaces is not None:
            self._free(id(replaces))
        return ck

    def persist(self, df: DataFrame) -> DataFrame:
        """Lazy ``persist`` of ``df``, unpersisted on exit unless kept."""
        df = df.persist()
        self._persisted.append(df)
        return df

    def keep(self, df: DataFrame) -> DataFrame:
        """Exempt ``df`` from the exit release: it outlives the scope."""
        self._kept.add(id(df))
        return df

    def iterate(
        self,
        state: DataFrame,
        step: Callable[[DataFrame], DataFrame],
        max_iter: int,
        converged: Callable[[DataFrame], bool] | None = None,
        every: int = 1,
    ) -> DataFrame:
        """Run ``step`` for ``max_iter`` rounds from ``state``.

        - Every ``every``-th round's state is checkpointed; then the
          previous checkpointed state, and any frame the steps
          materialized since it, are freed. (``every > 1`` chains the
          rounds in between lazily, for steps too cheap to checkpoint.)
        - ``converged(new_state)`` runs after each checkpoint; the first
          round where it returns True is the last.
        - A step that returns its input unchanged declares a fixpoint:
          the driver stops without another round.

        The returned state belongs to this scope: :meth:`keep` it (or a
        frame checkpointed from it) before the scope exits.
        """
        last = state  # the materialized round the lazy rounds read
        pending: set[int] = set()  # what the steps materialized since
        for i in range(max_iter):
            before = _persistent_ids(self._jsc)
            new = step(state)
            pending |= _new_checkpoints(self._jsc, before)
            if new is state:
                break
            state = new
            if (i + 1) % every:
                continue
            state = self.checkpoint(state)
            done = converged is not None and converged(state)
            # the superseded round is dead: the new one is materialized
            # and the convergence test (which reads only it) has run
            self._free(id(last))
            _unpersist(self._jsc, pending)
            last, pending = state, set()
            if done:
                break
        if state is not last:
            # a lazy final state still reads the last checkpoint
            pending |= self._rdds.pop(id(last), (last, set()))[1]
        self._track(state, pending)
        return state
