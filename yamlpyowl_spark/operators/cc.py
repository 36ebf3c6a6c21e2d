"""Connected components over an edge DataFrame.

Driver-side iterative min-label propagation with ``localCheckpoint()``
per round to cut lineage (no Catalyst builtin exists for this). Each
round is one shuffle join + one aggregate; convergence is detected with
a cheap count on the label delta.

Pointer jumping (component := the component's component) ends each
round, so a chain of diameter d closes in O(log d) rounds rather than
d. The entity-linking alias graphs this pipeline produces are
star-shaped (every mention links to its group minimum, see
:mod:`linking`), so they converge in 2-3 rounds regardless of data
size — the reason we build star edges rather than mention-pair cliques
(which would be quadratic in group size at 10^12-file scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schema import arrow_local_df
from . import regime


def _py_components(edge_rows):
    """Exact min-label connected components of a tiny edge list on the
    driver: union-find attaching the larger root under the smaller, so
    every set's root IS its minimum label (string order — identical to
    the distributed min-label propagation)."""
    parent = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return sorted((n, find(n)) for n in parent)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Returns (node, component) where component = min node id (string
    order) in the node's connected component."""
    # lazy checkpoint: the probe below fills it (a result under the
    # bound is only known after every partition is read), and the
    # distributed loop reads the same edge set instead of re-running
    # the distinct
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    # driver regime (see :mod:`.regime`): a tiny graph resolves in one
    # bounded collect + a driver union-find instead of ~4 jobs per
    # propagation round; its output is ≤ 2 rows per edge, so unlike
    # closure it needs no output cap. Node set parity with the loop
    # below: a node appears iff it rides at least one non-self edge.
    probe = regime.driver_rows(e, regime.DRIVER_EDGES)
    if probe is not None:
        rows = _py_components([(r["a"], r["b"]) for r in probe])
        return arrow_local_df(edges.sparkSession, rows, "node string, component string")

    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))

    labels = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )

    # one count of the label table (one row per node, so invariant
    # across rounds) fills its lazy checkpoint and sizes the broadcast
    # of the per-round join sides; each round's convergence count
    # likewise materializes that round's lazy checkpoint
    n_labels = labels.count()

    for _ in range(max_iter):
        msgs = (
            sym.join(regime.maybe_broadcast(labels, n_labels), sym.a == labels.node)
            .select(F.col("b").alias("node"), "component")
        )
        # carry the OLD label through the aggregation (each node has
        # exactly one labels row) so convergence is read off the
        # checkpointed round result — no extra old-vs-new join per round
        new_labels = (
            labels.select("node", "component", F.col("component").alias("old"))
            .unionByName(msgs.withColumn("old", F.lit(None).cast("string")))
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max("old").alias("old"),
            )
        )
        # checkpoint the aggregate BEFORE the pointer-jump self-join:
        # both join sides then read the materialized result instead of
        # each recomputing the aggregation (under a broadcast build
        # there is no exchange to reuse between the sides)
        new_labels = new_labels.localCheckpoint(eager=False)
        # pointer jumping: component := component's component — turns the
        # O(diameter) propagation into O(log d) rounds (matters for chain
        # graphs; star-shaped alias graphs converge in 2 either way)
        jump = new_labels.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        )
        new_labels = (
            new_labels.join(
                regime.maybe_broadcast(jump, n_labels), new_labels.component == jump.jnode, "left"
            )
            .select(
                "node",
                F.least(F.col("component"), F.coalesce("jcomp", "component")).alias("component"),
                "old",
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("component") != F.col("old")).count()
        labels = new_labels.drop("old")
        if changed == 0:
            break

    return labels
