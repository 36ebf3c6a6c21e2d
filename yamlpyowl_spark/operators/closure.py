"""Transitive closure of an edge relation.

Used for rdfs:subClassOf / transitive-property closure (the reference
delegates this to the Pellet reasoner; here it is an iterative
DataFrame self-join, or a driver BFS when the edge set is tiny).
``localCheckpoint`` per round cuts the growing lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..schema import arrow_local_df
from . import regime

# abort cap on the driver-computed closure: even a tiny edge set can
# have a quadratic closure; past the cap the distributed loops run
_DRIVER_CLOSURE_PAIRS = 500_000


def _py_closure(pairs, cap: int):
    """Exact transitive closure of a tiny edge list on the driver.
    Per-source BFS (cycle-safe; a source reaches itself only via a real
    cycle, matching the distributed semantics of 1+ hops). Returns None
    if the result would exceed ``cap`` — caller falls back to the
    distributed loop."""
    from collections import defaultdict

    adj = defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
    out = []
    for s in adj:
        seen = set()
        stack = list(adj[s])
        while stack:
            v = stack.pop()
            if v not in seen:
                seen.add(v)
                if v in adj:
                    stack.extend(adj[v])
        out.extend((s, v) for v in seen)
        if len(out) > cap:
            return None
    return sorted(out)


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """All pairs (src, dst) reachable via 1+ hops. Deduplicated.

    The regime follows the measured size (see :mod:`.regime`):

    * at most ``regime.DRIVER_EDGES`` distinct edges: one bounded
      collect, a per-source BFS on the driver, and the pairs shipped
      back as a local relation — unless the closure would pass
      ``_DRIVER_CLOSURE_PAIRS``, which hands off to the loops below;
    * while the closure and its last delta fit ``regime.BROADCAST_ROWS``:
      naive squaring, closure ∪ closure∘closure with the closure
      broadcast — one broadcast build and one count per round;
    * past that: semi-naive path doubling over shuffle joins.

    Both loops double the covered path length per round, so a chain of
    diameter d closes in O(log d) rounds; ``max_iter`` caps the rounds
    of the two loops together. Each round's count is also the action
    that materializes its lazy checkpoint."""
    spark = edges.sparkSession
    base = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    closure = base.localCheckpoint()

    probe = regime.driver_rows(closure, regime.DRIVER_EDGES)
    if probe is not None:
        pairs = _py_closure([(r["src"], r["dst"]) for r in probe], _DRIVER_CLOSURE_PAIRS)
        if pairs is not None:
            return arrow_local_df(spark, pairs, closure.schema)

    delta = closure
    n_closure = closure.count()
    n_delta = n_closure

    rounds = 0
    while rounds < max_iter and n_closure + n_delta <= regime.BROADCAST_ROWS:
        rounds += 1
        # semi-naive's delta machinery bounds the join work of a big
        # relation; under the broadcast bound the job count is the
        # runtime, and a squaring round costs ~2 jobs against ~7.
        # Equal count ⇔ equal set (the union only grows).
        c2 = closure.select(F.col("src").alias("csrc"), F.col("dst").alias("cdst"))
        ext = closure.join(
            F.broadcast(c2), F.col("dst") == F.col("csrc")
        ).select("src", F.col("cdst").alias("dst"))
        new_closure = closure.union(ext).distinct().localCheckpoint(eager=False)
        n_new = new_closure.count()
        if n_new == n_closure:
            return closure
        # delta for a hand-off to the semi-naive loop: the conservative
        # superset (the whole closure) keeps semi-naive correct — it
        # only re-derives more than strictly needed once
        n_delta = n_new - n_closure
        closure, n_closure = new_closure, n_new
        delta = closure

    for _ in range(max_iter - rounds):
        # semi-naive with path doubling: every genuinely-new pair
        # decomposes into two halves of which at least one is new (else
        # it existed already), so extend the delta on BOTH sides —
        # delta∘closure alone misses pairs whose only new half is the
        # suffix
        # fresh exprIds via aliased projections: in round 1 delta IS
        # closure, and a dataset-alias self-join trips constraint
        # propagation at the checkpoint (`key not found` in
        # rewriteStatsAndConstraints)
        c2 = closure.select(F.col("src").alias("csrc"), F.col("dst").alias("cdst"))
        fwd = delta.join(c2, F.col("dst") == F.col("csrc")).select(
            "src", F.col("cdst").alias("dst")
        )
        bwd = c2.join(delta, F.col("cdst") == F.col("src")).select(
            F.col("csrc").alias("src"), "dst"
        )
        new_paths = fwd.union(bwd).distinct()
        delta = new_paths.join(closure, ["src", "dst"], "left_anti").localCheckpoint(
            eager=False
        )
        n_delta = delta.count()
        if n_delta == 0:
            break
        # lazy: the next round's first action (or the caller's)
        # materializes it — one fewer job per round; the union of two
        # checkpointed frames keeps lineage depth 1 either way
        closure = closure.union(delta).localCheckpoint(eager=False)

    return closure
