"""Superstep driver shared by every iterative algorithm.

The reference's run loop is ``for depth in range(max_depth):
_collect_papers_for_next_level(depth)`` (``src/citation_graph/traverser.py:
132-145``) with a checkpoint after every request. Here each superstep is a
Catalyst-planned join-aggregate over the edge table, and
``SuperstepContext`` has two methods around it:

- ``resume`` returns the newest durable state whose recorded args match
  this run's (a checkpoint written under other args is ignored with a
  ``RuntimeWarning`` and the run starts fresh); the caller returns early on
  an already-converged checkpoint, before building any static table.
- ``run`` is the one loop. An operator hands it only what is its own: the
  iteration-0 state (``init``), the superstep (``step``), the convergence
  aggregates, the metrics it records and its stop rule. ``run`` owns the
  state chain: it starts from the resumed state or ``init()``, ends every
  superstep with one ``local_checkpoint`` job that also computes the
  convergence aggregates (L1 delta, dangling mass, changed or row count,
  checksum) as a ``pyspark.sql.Observation``, releases the superseded state
  once its successor is materialized, records the per-superstep history
  (convergence scalars only, so results are deterministic) and, every
  ``durable_every`` iterations, writes a durable Parquet checkpoint +
  manifest (resumable, see ``sources.checkpoint``) while the loop keeps the
  in-memory state. The final state is saved once more only when a superstep
  ran and its boundary save did not just write it.

Loops whose per-round work does not fit ``run`` (sssp's compaction,
hyperanf's per-distance snapshots, walks, betweenness, scc's edge-set
peels) chain plain ``local_checkpoint`` calls and ``release`` the
superseded frame themselves.

For states keyed on ``id``, ``local_checkpoint`` hash-partitions the state
on ``id`` into the edge caches' partition count (see
``copartitioned_planning``), so the next superstep's joins against the
src-partitioned caches shuffle nothing on the state side (scc keeps its
edge sets partitioned on ``src`` or ``dst`` the same way). That toggles
session-global SQL conf for the length of one checkpoint: a co-partitioned
loop is not thread-safe against other queries planned on the same session
meanwhile.

``release`` frees a frame's blocks: a cached frame's cache entry, and for a
``localCheckpoint`` frame the checkpointed RDD's blocks, which
``DataFrame.unpersist`` leaves in the block manager until a JVM GC. A
released checkpoint is not recomputable, so a frame is released only after
everything read from it is materialized.
"""

from __future__ import annotations

import logging
import warnings
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from citation_graph_spark.sources.checkpoint import CheckpointManager, resume_compatible

log = logging.getLogger(__name__)


@contextmanager
def copartitioned_planning(spark: SparkSession, num_partitions: int) -> Iterator[None]:
    """Plan the enclosed queries without AQE and with ``num_partitions``
    shuffle partitions.

    Under AQE a ``localCheckpoint`` reports ``UnknownPartitioning(0)``, so
    both superstep joins would shuffle the state again. Planned without
    AQE, the checkpointed frame keeps ``hashpartitioning(id, P)``, and with
    ``P`` shuffle partitions the superstep's one remaining Exchange (the
    ``dst`` aggregate) lands co-partitioned with the state. AQE has nothing
    left to do in such a plan: the only join with a shuffled side has unique
    keys on both sides.

    Both settings are session-global: queries planned on the same session
    from another thread meanwhile see them too, so this is not thread-safe.
    """
    conf = spark.conf
    wanted = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(num_partitions),
    }
    saved = {key: conf.get(key) for key in wanted}
    try:
        for key, value in wanted.items():
            conf.set(key, value)
        yield
    finally:
        for key, value in saved.items():
            conf.set(key, value)


def count_true(col: str) -> Column:
    """Rows where the boolean ``col`` is true (0 on an empty frame) — the
    changed-label count of a fixpoint test, as an observable aggregate."""
    return F.count(F.when(F.col(col), 1))


def exact_sum(col: Column) -> Column:
    """Sum of a double column as an observable aggregate that does not
    depend on task scheduling: an observation merges its task results in
    task completion order, so a plain double sum could change in its last
    bits from run to run (and move the ranks that depend on it). The sum is
    taken in exact ``decimal(38,30)`` arithmetic and rounded to double once;
    values must stay below 1e8 (PageRank masses and L1 deltas are <= 4).
    0.0 when no row has a value, so a recorded metric is never null."""
    return F.coalesce(F.sum(col.cast("decimal(38,30)")).cast("double"), F.lit(0.0))


def id_copy() -> Column:
    """A copy of the ``id`` column, for a state that starts out labelled
    with its own id (cc's and lpa's ``label``, scc's ``color``).

    Not a bare alias: over a frame already partitioned on ``id`` the
    aliasing projection reports both ``id`` and the alias as partitioning
    columns, the planner drops ``local_checkpoint``'s repartition, and the
    checkpoint records only the first of the two, the alias. The next
    superstep's joins on ``id`` would then shuffle the state again.
    ``greatest(id, id)`` equals ``id`` for every orderable type and is not
    an alias of it."""
    return F.greatest("id", "id")


def local_checkpoint(
    df: DataFrame, num_partitions: int | None = None, *, key: str = "id", **observe: Column
) -> tuple[DataFrame, dict[str, Any]]:
    """Materialize ``df`` in ONE Spark job as an eager ``localCheckpoint``;
    return it with the values of the ``observe`` aggregates (name →
    aggregate Column) computed over ``df`` by that same job.

    Columns whose names start with ``_`` exist only to feed the observed
    aggregates and are dropped before the checkpoint. With
    ``num_partitions`` set, ``df`` is keyed on ``key``: it is repartitioned
    on ``key`` and checkpointed under ``copartitioned_planning`` (the
    repartition is elided by the planner when ``df`` already has that
    partitioning, so a frame sorted within those partitions stays
    sorted)."""
    observation = None
    if observe:
        observation = Observation()
        df = df.observe(observation, *[agg.alias(name) for name, agg in observe.items()])
        df = df.select(*[c for c in df.columns if not c.startswith("_")])
    if num_partitions is None:
        out = df.localCheckpoint(eager=True)
    else:
        with copartitioned_planning(df.sparkSession, num_partitions):
            out = df.repartition(num_partitions, key).localCheckpoint(eager=True)
    return out, (observation.get if observation is not None else {})


def release(df: DataFrame) -> None:
    """Release ``df``'s cached blocks and, when ``df`` is a
    ``localCheckpoint`` (its plan a ``LogicalRDD``), the checkpointed RDD's
    blocks; a stopped session has nothing left to release, anything else is
    logged."""
    try:
        df.unpersist()
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Py4JError:
        # the JVM gateway is gone or the SparkContext was stopped
        log.debug("unpersist skipped: session stopped", exc_info=True)
    except Exception:
        log.warning("unpersist failed", exc_info=True)


Metrics = dict[str, Any]


@dataclass
class SuperstepContext:
    """Per-run superstep loop: ``resume`` finds a durable state, ``run``
    iterates.

    ``checkpoint_dir``: when set, states are saved there every
    ``durable_every`` iterations under the manifest ``args`` (read with
    ``spark``), and ``resume`` finds them again.

    ``num_partitions``: when set, states are keyed on ``id`` and are kept
    hash-partitioned on it into this many partitions (the ``PreparedGraph``
    edge caches' count); when ``None`` a state is checkpointed as planned.
    """

    spark: SparkSession | None = None
    checkpoint_dir: str | None = None
    args: dict[str, Any] = field(default_factory=dict)
    durable_every: int = 5
    num_partitions: int | None = None
    history: list[Metrics] = field(default_factory=list)
    checkpoint: CheckpointManager | None = field(init=False, default=None)

    def __post_init__(self) -> None:
        if self.checkpoint_dir is not None:
            self.checkpoint = CheckpointManager(self.spark, self.checkpoint_dir, self.args)

    def resume(
        self, ignore: tuple[str, ...] = ("max_iter", "tol")
    ) -> tuple[int, DataFrame, Metrics] | None:
        """``(iteration, state, metrics)`` of the newest valid durable
        state, or None when there is none or it was written under other
        args (``resume_compatible``: every recorded hyperparameter must
        match — resuming a checkpoint written under different parameters
        would blend two different fixpoints; the ``ignore`` args are
        continuation knobs and may differ, by default ``max_iter``/``tol``).
        A mismatch warns; the fresh run then prunes the dead timeline on its
        first durable save.

        The returned state is the raw Parquet scan: ``run`` checkpoints it
        once."""
        if self.checkpoint is None:
            return None
        latest = self.checkpoint.latest()
        if latest is None:
            return None
        iteration, state, manifest = latest
        if not resume_compatible(manifest.get("args"), self.checkpoint.args, ignore):
            warnings.warn(
                f"checkpoint at {self.checkpoint.path} was written with different "
                f"args ({manifest.get('args')}) than this call "
                f"({self.checkpoint.args}); ignoring it and starting fresh",
                RuntimeWarning,
                stacklevel=3,
            )
            return None
        return iteration, state, manifest["metrics"]

    def run(
        self,
        latest: tuple[int, DataFrame, Metrics] | None,
        init: Callable[[], DataFrame],
        step: Callable[[DataFrame, int, Metrics], DataFrame],
        max_iter: int,
        metrics: Callable[[int, Metrics, Metrics | None], Metrics] | None = None,
        *,
        stop: Callable[[Metrics], bool],
        observe: dict[str, Column] | None = None,
        feed: dict[str, Column] | None = None,
    ) -> tuple[DataFrame, int, Metrics]:
        """Iterate to ``stop`` or ``max_iter``; return the last state, its
        iteration and its metrics. The returned state belongs to the
        caller, who releases it; every earlier state is released here.

        Starts from ``latest`` (what ``resume`` returned) or, when that is
        None, from ``init()``, recorded as iteration 0. Iteration ``it``
        checkpoints ``step(state, it, last)``, where ``last`` is the
        previous iteration's metrics (for a resumed state: its manifest's,
        updated with what was observed on it), records it and ends the loop
        when ``stop(metrics)`` holds — tested on the starting state too.

        ``observe`` aggregates ride every state's checkpoint job; ``feed``
        aggregates ride only a superstep's job and read the ``_`` columns
        ``step`` adds (they are None at a fresh iteration 0).
        ``metrics(it, seen, last)`` turns the observed values into the
        recorded metrics (default: as observed; ``last`` is None at a fresh
        iteration 0).

        Eager checkpoints keep the state build and the observed scalars in
        one job (round 6 A/B, 5-superstep PageRank loops, 8M edges,
        local[32]: min 3.32 s eager vs 5.88 s lazy). A superseded state is
        released only after its successor is materialized: a
        localCheckpoint is not recomputable. Keeping superseded blocks is
        not an option either — block churn degrades iteration time
        severalfold within ~10 supersteps (measured).

        When a superstep ran, the last state is durably saved as final;
        when its iteration was a ``durable_every`` boundary it is already
        saved, and only its manifest's metrics are rewritten."""
        observe, feed = observe or {}, feed or {}
        metrics = metrics or (lambda it, seen, last: seen)
        durable = self.checkpoint is not None and self.durable_every > 0

        def record(state: DataFrame, it: int, last: Metrics) -> None:
            self.history.append({"iteration": it, **last})
            if durable and it % self.durable_every == 0:
                self.checkpoint.save(state, it, last)

        if latest is None:
            done = 0
            state, seen = local_checkpoint(init(), self.num_partitions, **observe)
            last = metrics(0, {**dict.fromkeys(feed), **seen}, None)
            record(state, 0, last)
        else:
            done, state, recorded = latest
            state, seen = local_checkpoint(state, self.num_partitions, **observe)
            last = {**recorded, **seen}
        it = done
        while it < max_iter and not stop(last):
            it += 1
            new_state, seen = local_checkpoint(
                step(state, it, last), self.num_partitions, **observe, **feed
            )
            release(state)
            state = new_state
            last = metrics(it, seen, last)
            record(state, it, last)
        if it > done and self.checkpoint is not None:
            final = {**last, "final": stop(last)}
            if durable and it % self.durable_every == 0:
                self.checkpoint.set_metrics(it, final)
            else:
                self.checkpoint.save(state, it, final)
        return state, it, last
