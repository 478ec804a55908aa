"""Scale-adaptive execution sizing for iterative kernels.

Iterative operators (label propagation, BFS/SSSP sweeps, Brandes passes,
Louvain rounds, CC propagation, BPE rounds, Lloyd steps) materialize their
state every round, so their wall time is ``rounds x (scheduler floor per
materialization)``. Two knobs set that floor, and both must be derived
from DATA SIZE, never from the local core count (guide §2.2/§2.5 —
partitioning must be scale-adaptive, a constant tuned for either local
mode or the cluster is wrong at the other end):

- **shuffle width**: a round's state of ``n`` rows needs
  ``ceil(n / ITER_ROWS_PER_PARTITION)`` reduce partitions (~100 MB of
  narrow state rows per partition, the guide's partition-size target).
  The session default (sized for scans of the full input) is far too wide
  for a per-vertex state table, and every extra partition is an extra
  task per round.
- **AQE query-stage jobs**: AQE executes every exchange as its own
  query-stage job so it can re-plan between stages. For a state that the
  derived width already puts in a couple of partitions there is nothing
  left to re-plan (no skew to split, nothing to coalesce), and the extra
  per-exchange job submissions are the dominant cost of a sub-second
  round (measured: a 5-round join+agg loop on a 256-row state drops
  1.24 s -> 0.47 s from narrow width + AQE off). With a large derived
  width the kernel leaves AQE exactly as configured.

``iter_kernel`` scopes both settings to the loop and restores the
session's values afterwards; the confs are read at action time, so only
the actions *inside* the scope (the per-round checkpoints/counts) run
with the kernel sizing. Result values are unaffected — partitioning only
changes task granularity (callers must not use it around float
aggregations whose unrounded values are hash-compared; every current
caller aggregates integers, mins, or exactly-representable dyadic sums).

``propagate`` is the one message-passing loop built on that scope (the
GraphX ``aggregateMessages`` round, Gonzalez et al., OSDI 2014): each
round joins the edges to the broadcast-hinted state, emits one message
per edge, and combines the messages per vertex. It owns the kernel
scope, the lineage cadence (``CHECKPOINT_EVERY``) and the optional
convergence check, so the kernels that use it (connected components,
BFS/SSSP, harmonic centrality, integer PPR, the dedup clusterings) state
only their edge projection, seed, message and combine.

``frontier_levels`` is the one level-synchronous frontier loop (the
σ-counting forward pass of Brandes 2001) run inside a caller's scope:
Brandes betweenness, Cypher ``shortestPath``/``allShortestPaths`` and
unbounded variable-length path enumeration. It owns the per-level
checkpoint + count, the kernel resize, the anti-join against settled
keys and the one drain-or-raise rule; callers state their edge
projection, seeds, expand step and output.
"""

from __future__ import annotations

import math
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Serializes every scoped session-conf swap (``iter_kernel`` here, the
#: streaming ``_start_with_state_partitions``) across driver threads: the
#: swapped confs are session-global, so two concurrent queries on one
#: session could otherwise run one query's loop at the other's width.
#: Re-entrant so nested kernel scopes on one thread remain legal (each
#: scope saves and restores its own previous values, LIFO).
_CONF_SWAP_LOCK = threading.RLock()

#: ~100 MB of 16-48 byte state rows per reduce partition (guide §2.2).
ITER_ROWS_PER_PARTITION = 250_000

#: Below this derived width the loop runs with AQE off (nothing to
#: re-plan; the per-exchange query-stage jobs are pure overhead).
AQE_OFF_MAX_WIDTH = 4

#: lineage-truncation cadence for iterative loops: every round is wasteful
#: (one materialization job per round), unbounded is a plan blowup; 3 keeps
#: the optimizer input shallow while amortizing the checkpoint cost.
CHECKPOINT_EVERY = 3


def iter_width(
    n_rows: int, cap: int, rows_per_partition: int = ITER_ROWS_PER_PARTITION
) -> int:
    """Data-derived shuffle width for an ``n_rows``-row iterative state,
    never wider than the session's configured width ``cap``.
    ``rows_per_partition`` defaults to the narrow-row target; loops whose
    state rows are wide (path enumeration carrying id arrays) pass a
    smaller value so the ~100 MB/partition target still holds."""
    return max(1, min(cap, math.ceil(n_rows / rows_per_partition)))


class IterKernel:
    """Handle yielded by :func:`iter_kernel`: the derived width plus a
    broadcast-hint helper for the loop's joins."""

    def __init__(
        self,
        spark: SparkSession,
        n_rows: int,
        cap: int,
        rows_per_partition: int,
        prev: tuple[str, str],
    ):
        self._spark = spark
        self._cap = cap
        self._rpp = rows_per_partition
        self._prev = prev
        self.width, self.narrow = 0, False
        self.resize(n_rows)

    def bc(self, df: DataFrame) -> DataFrame:
        """Broadcast-hint ``df`` when the kernel is narrow — with AQE off
        the static planner has no size statistics for checkpointed RDDs
        and would fall back to sort-merge joins; the hint re-creates
        exactly the broadcast decision AQE would have made at runtime,
        from the same data-size evidence. Wide (at-scale) kernels return
        ``df`` unchanged and leave the strategy to the planner/AQE."""
        return F.broadcast(df) if self.narrow else df

    def resize(self, n_rows: int) -> None:
        """(Re-)derive the kernel sizing from a state row count — for
        loops whose state can grow round over round (path enumeration):
        the caller feeds each round's frontier count back in, so a state
        that outgrows the narrow regime gets the session's width (and
        AQE) back before the next round's actions. Confs are read at
        action time, so the change applies to everything after the call."""
        width = iter_width(n_rows, self._cap, self._rpp)
        narrow = width <= AQE_OFF_MAX_WIDTH and width < self._cap
        if narrow == self.narrow and width == self.width:
            return
        self.width, self.narrow = width, narrow
        if narrow:
            # narrow state: explicit width, no per-exchange AQE jobs. The
            # floor of 2 keeps a retried/second core usable for ~free.
            shuf, aqe = str(max(width, 2)), "false"
        else:
            shuf, aqe = self._prev
        self._spark.conf.set("spark.sql.shuffle.partitions", shuf)
        self._spark.conf.set("spark.sql.adaptive.enabled", aqe)


@contextmanager
def iter_kernel(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = ITER_ROWS_PER_PARTITION,
):
    """Scoped kernel sizing for an iterative loop whose per-round state is
    ``~n_rows`` rows. Yields an :class:`IterKernel` with the width the
    loop should use for explicit ``coalesce``/``repartition`` calls on
    its checkpointed frames."""
    with _CONF_SWAP_LOCK:
        prev_shuf = spark.conf.get("spark.sql.shuffle.partitions")
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            cap = int(prev_shuf)
        except (TypeError, ValueError):
            cap = 200
        try:
            yield IterKernel(
                spark, n_rows, cap, rows_per_partition, (prev_shuf, prev_aqe)
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_shuf)
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def memoized_count(spark: SparkSession, key: tuple, df: DataFrame) -> int:
    """Session-memoized ``df.count()`` for shared projections: kernel
    sizing needs the row count of a memoized edge/vertex projection, and
    every algorithm over the same projection needs the same number — one
    count job per (session, projection), not one per query."""
    from flink_neo4j_spark.catalog import session_memo

    return session_memo(spark, ("rowcount", *key), df.count)


def right_size(df: DataFrame, n_rows: int) -> DataFrame:
    """Coalesce a small materialization input to its data-derived width
    (scan tasks per round track state size, not the session default).
    No-op when the derived width is not below the frame's current
    partitioning would allow; ``coalesce`` never shuffles."""
    cap = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.coalesce(iter_width(n_rows, cap))


def propagate(
    edges: DataFrame,
    state: DataFrame,
    message: Column,
    combine: Callable[[str], Column],
    n_rows: int,
    rounds: int,
    carry: DataFrame | None = None,
    until_stable: bool = False,
) -> DataFrame:
    """Run ``rounds`` message-passing rounds and return the final state.

    ``state`` is ``(vid, *keys, value)``: every column other than ``vid``
    and the last one is a key carried unchanged along each message (e.g.
    the source of a multi-source BFS). ``edges`` has ``src``, ``dst`` and
    any columns ``message`` reads. Each round emits ``(dst AS vid, *keys,
    message)`` for every edge whose ``src`` is in the state, unions the
    messages with ``carry`` (default: the current state) and aggregates
    ``combine(value)`` per ``(vid, *keys)``.

    ``edges`` is re-scanned every round, so pass a checkpointed projection
    (or a cheap plan over one) already at its right width: a per-call
    ``persist`` or ``coalesce`` here measured slower than re-scanning
    such a projection.

    The loop runs inside one :func:`iter_kernel` scope sized for
    ``n_rows``. Lineage is truncated by a lazy checkpoint every
    ``CHECKPOINT_EVERY`` rounds and an eager one after the last round, so
    the whole loop executes at the kernel width. With ``until_stable``,
    each cadence checkpoint also counts the rows that changed in its
    round and the loop stops once none did; ``rounds`` is then a budget.
    """
    *keys, value = [c for c in state.columns if c != "vid"]
    with iter_kernel(state.sparkSession, n_rows) as k:
        for i in range(rounds):
            msgs = edges.join(
                k.bc(state.withColumnRenamed("vid", "src")), "src"
            ).select(F.col("dst").alias("vid"), *keys, message.alias(value))
            prev, state = state, (
                (state if carry is None else carry)
                .unionByName(msgs)
                .groupBy("vid", *keys)
                .agg(combine(value).alias(value))
            )
            if i == rounds - 1:
                state = state.localCheckpoint()
            elif (i + 1) % CHECKPOINT_EVERY == 0:
                state = state.localCheckpoint(eager=False)
                if until_stable and _changed(state, prev, keys, value) == 0:
                    break
            elif until_stable and (i + 2) % CHECKPOINT_EVERY == 0:
                # the next round's check reads this state instead of
                # recomputing it
                state = state.localCheckpoint(eager=False)
    return state


def _changed(
    new: DataFrame, old: DataFrame, keys: list[str], value: str
) -> int:
    """Rows of ``new`` that are absent from ``old`` or differ in value.
    Not broadcast-hinted: a shuffle join runs as stages of the count's
    own job, where a broadcast would add a job per check."""
    return (
        new.alias("n")
        .join(old.alias("o"), ["vid", *keys], "left")
        .filter(~F.col(f"n.{value}").eqNullSafe(F.col(f"o.{value}")))
        .count()
    )


def frontier_levels(
    k: IterKernel,
    seeds: DataFrame,
    expand: Callable[[DataFrame], DataFrame],
    max_levels: int,
    n_edges: int,
    settled_on: list[str] | None = None,
    undrained: Exception | None = None,
) -> Iterator[tuple[DataFrame, int]]:
    """Level-synchronous frontier expansion; yields ``(level, n_rows)``
    for each non-empty level ``1..max_levels``.

    Level 0 is ``seeds`` and level ``i`` is ``expand(level i-1)``. With
    ``settled_on`` (BFS) a level keeps only the rows whose key is in no
    earlier level, so every key settles at its first level; without it
    (path enumeration) levels are kept whole.

    Runs inside the caller's kernel scope ``k`` (no nested scope: the
    caller may need the same scope after the last level). Each level is
    lazily checkpointed and materialized by ONE count, which is also the
    drain test and re-derives the kernel sizing from ``max(n_rows,
    n_edges)``. The settled keys are a lazily checkpointed 2-way union,
    materialized by the next level's count. The anti-join against them
    is not broadcast-hinted (as in ``_changed``): a hint adds a
    broadcast job per level.

    The expansion drains when a level is empty. Levels ``1..max_levels``
    may be non-empty; with ``undrained`` set, a non-empty level
    ``max_levels + 1`` raises it, and without it the expansion stops
    after level ``max_levels`` (a bounded walk).
    """
    frontier = seeds
    settled = None if settled_on is None else seeds.select(*settled_on)
    last = max_levels if undrained is None else max_levels + 1
    for level in range(1, last + 1):
        nxt = expand(frontier)
        if settled is not None:
            nxt = nxt.join(settled, settled_on, "left_anti")
        frontier = nxt.localCheckpoint(eager=False)
        n = frontier.count()
        if n == 0:
            return
        if level > max_levels:
            raise undrained
        k.resize(max(n, n_edges))
        yield frontier, n
        if settled is not None:
            settled = settled.unionByName(
                frontier.select(*settled_on)
            ).localCheckpoint(eager=False)
