"""Connected components over an edge DataFrame.

Driver-side iterative min-label propagation with ``localCheckpoint()``
per round to cut lineage (no Catalyst builtin exists for this). Each
round is one shuffle join + one aggregate; convergence is detected with
a cheap count on the label delta.

Round count is bounded by the graph diameter. The entity-linking alias
graphs this pipeline produces are star-shaped (every mention links to
its group minimum, see :mod:`linking`), so diameter ≤ 2 and this
converges in 2-3 rounds regardless of data size — the reason we build
star edges rather than mention-pair cliques (which would be quadratic
in group size at 10^12-file scale). For general high-diameter graphs
the alternating small-star/large-star variant (Kiveris et al., "CC in
MapReduce and Beyond") drops rounds to O(log n); star inputs make the
simpler propagation strictly better here.
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


def _large_star(edges: DataFrame) -> DataFrame:
    """Kiveris et al. large-star: connect every strictly-larger neighbor
    of u to the minimum of u's closed neighborhood."""
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    m = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        sym.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Kiveris et al. small-star: direct edges large→small, connect all
    smaller neighbors (and u itself) to the minimum."""
    d = edges.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b")).distinct()
    m = d.groupBy("a").agg(F.min("b").alias("m"))
    joined = d.join(m, "a")
    out = joined.select(F.col("b").alias("a"), F.col("m").alias("b")).union(
        joined.select(F.col("a"), F.col("m").alias("b"))
    )
    return out.filter(F.col("a") != F.col("b")).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond") — O(log n)
    rounds on any graph, each round two hash aggregations + joins. Use
    this for general (possibly high-diameter) graphs; the min-label
    propagation below wins on the star-shaped alias graphs entity
    linking produces (diameter ≤ 2)."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    all_nodes = e.select("a").union(e.select(F.col("b").alias("a"))).distinct()

    # exact convergence: equal count AND empty multiset difference vs
    # the previous edge set (a hash-sum signature could collide and
    # terminate early on an unconverged graph)
    n_prev = e.count()
    for _ in range(max_iter):
        new_e = _small_star(_large_star(e)).localCheckpoint()
        n = new_e.count()
        converged = n == n_prev and new_e.exceptAll(e).isEmpty()
        e, n_prev = new_e, n
        if converged:
            break

    # converged edges point node → component root; roots map to themselves
    comp = e.select(F.col("a").alias("node"), F.col("b").alias("component"))
    roots = all_nodes.join(comp, all_nodes.a == comp.node, "left_anti").select(
        F.col("a").alias("node"), F.col("a").alias("component")
    )
    return comp.union(roots)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Returns (node, component) where component = min node id (string
    order) in the node's connected component."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
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

    # symmetric closure once; persisted for reuse across rounds
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).persist()

    labels = (
        sym.select(F.col("a").alias("node"))
        .union(sym.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )

    # one count of the label table (one row per node, so invariant
    # across rounds) sizes the broadcast of the per-round join sides;
    # the convergence count doubles as the action that materializes the
    # round's LAZY checkpoint
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

    sym.unpersist()
    return labels
