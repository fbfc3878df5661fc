"""One fixpoint driver for the iterative operators.

Spark has no recursive CTE, so PageRank, connected components, k-core
(``graph.py``) and the near-duplicate clusters (``dedup.py``) iterate a
DataFrame to a fixpoint from the driver, all through :func:`fixpoint`,
with one lineage cut (:func:`materialize`, which BFS's layer loop uses
too) and one min-label engine (:func:`min_label_components`) for both
component operators.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: broadcast guard for per-node state (ranks, labels): under this many
#: nodes the (node, value) table broadcasts (~16 B/row, <=80 MB at the cap)
#: and each round is a BroadcastHashJoin with no edge-side exchange — r11
#: measured 150 MB of symmetric-edge shuffle per round at sf1 collapsing to
#: KBs of aggregate partials. Past it only the shuffle join is correct.
_MAX_BROADCAST_NODES = 5_000_000

#: ...and only where it pays: each round's broadcast build + checkpoint
#: (~0.3-0.5 s, 32-core box) repays only a large edge exchange. r11 A/B:
#: at |2E| = 238k rows (sf0.1) the shuffle join wins (pagerank 1.7 vs
#: 3.0 s, CC 2.7 vs 3.4 s; the smaller dedup pair graph 6.3 vs 7.0 s); at
#: |2E| = 24M (sf1) broadcast wins 2.3-2.6x.
_MIN_BROADCAST_EDGE_ROWS = 2_000_000

#: round bound of min-label propagation: labels settle in about diameter
#: rounds, and co-occurrence components and dup clusters are shallow
_LABEL_ROUNDS = 20


def materialize(df: DataFrame) -> DataFrame:
    """Evaluate ``df`` once and cut its lineage. With a checkpoint directory
    set (``SparkContext.setCheckpointDir``) this is a reliable
    ``checkpoint()``, whose files outlive an executor, so a long run on a
    cluster survives executor loss; without one (local mode, tests) it is
    the cheap executor-local ``localCheckpoint()``."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    probe: Callable[[DataFrame], Any] | None = None,
    name: str | None = None,
) -> DataFrame:
    """Run ``state = materialize(step(state))`` for at most ``rounds``.

    ``probe`` maps a state to a value that is unchanged exactly when the
    state is (a count of a set that only shrinks or grows, a sum of labels
    that only fall). The loop returns the first state whose probe equals
    the previous one's; the initial state's probe seeds the comparison, so
    each round costs one probe. Without ``probe`` every round runs. With
    ``name``, reaching the bound unconverged raises, since the last state
    would be a silently wrong answer; without it the bound is part of the
    query (PageRank's iteration count) and the last state is the result."""
    last = probe(state) if probe is not None else None
    for _ in range(rounds):
        state = materialize(step(state))
        if probe is not None:
            now = probe(state)
            if now == last:
                return state
            last = now
    if name is not None:
        raise RuntimeError(
            f"{name} did not converge in {rounds} rounds; the input's "
            "diameter exceeds the round bound"
        )
    return state


def symmetric(edges: DataFrame) -> DataFrame:
    """The materialized symmetric edge list ``(s, d)`` of an undirected
    edge list given as unique ``u < v`` pairs (its two columns, in that
    order). The two directions of distinct ``u < v`` pairs never collide,
    so no ``distinct`` is needed."""
    u, v = edges.columns
    return materialize(
        edges.select(F.col(u).alias("s"), F.col(v).alias("d")).unionAll(
            edges.select(F.col(v).alias("s"), F.col(u).alias("d"))
        )
    )


def broadcasts(sym: DataFrame, nodes: DataFrame) -> bool:
    """The two-leg guard for broadcasting per-node state against ``sym``:
    the per-round edge exchange must be big enough to repay a broadcast,
    and the ``nodes`` table small enough to make one. The edge leg runs
    first, so a small graph never counts its nodes."""
    return (
        sym.count() >= _MIN_BROADCAST_EDGE_ROWS
        and nodes.count() <= _MAX_BROADCAST_NODES
    )


def _label_sum(labels: DataFrame):
    """Convergence probe of min-label propagation: every round takes an
    elementwise ``least``, so the label sum never rises and falls iff some
    label changed. DECIMAL(38) so sums of arbitrary BIGINT ids cannot
    overflow."""
    return labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]


def min_label_components(edges: DataFrame) -> DataFrame:
    """Connected components of an undirected graph given as unique
    ``u < v`` pairs: ``(node, label)`` for every node with an edge, the
    label being its component's minimum node id.

    Each round is one equi-join of the fixed symmetric edge list against
    the current labels plus a min-aggregate (label <- min(label,
    neighbors' labels)), lineage cut per round. Under :func:`broadcasts`
    the label table broadcasts so the edge list is never exchanged."""
    sym = symmetric(edges)
    labels = materialize(
        sym.select("s").distinct().select(
            F.col("s").alias("node"), F.col("s").alias("label")
        )
    )
    small = broadcasts(sym, labels)

    def propagate(labels: DataFrame) -> DataFrame:
        lbl = F.broadcast(labels) if small else labels
        nbr = (
            sym.join(lbl, sym.d == lbl.node)
            .groupBy("s")
            .agg(F.min("label").alias("nbr_label"))
        )
        return labels.join(nbr, labels.node == nbr.s, "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )

    return fixpoint(
        labels, propagate, _LABEL_ROUNDS, _label_sum, "min-label propagation"
    )
