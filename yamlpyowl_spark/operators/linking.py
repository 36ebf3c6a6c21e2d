"""Cross-document entity linking & canonicalization.

The reference resolves names only *within* one document via its
in-memory symbol table (core.py:507-509). Across documents we link
mentions of the same logical entity (same kind + local name, e.g. the
same class declared in many forked ontologies) to one canonical node
id, then merge transitive aliases with connected components.

Scale design:

* the mention key is ``(kind, name_norm)``; groups can be enormous
  (every fork of a popular ontology) → we DON'T build mention-pair
  cliques. Each mention links to its group minimum ("star" edges):
  linear in mentions, and gives the CC pass diameter-2 inputs;
* group minimum is computed with a two-stage salted aggregate
  (partial min per (key, salt) bucket, ``SALT_BUCKETS`` salts per key,
  then final min) so one hot key cannot skew a reducer — same trick as
  map-side combine, made explicit;
* the mapping join back onto nodes uses a plain equi-join on the key —
  AQE handles residual skew (skewJoin enabled in session config).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .regime import maybe_broadcast

# Salt buckets per link key in the two-stage group minimum: a hot key's
# partial mins spread over this many reducers before the final min.
SALT_BUCKETS = 16


def normalized_label(col):
    """IRI-normalization for linking: local name, lowercased, with
    separators collapsed ('MyClass' / 'my_class' / 'my-class' match)."""
    return F.lower(F.regexp_replace(col, "[_\\-]", ""))


def mention_keys(nodes: DataFrame) -> DataFrame:
    return nodes.withColumn("link_key", F.concat_ws("|", "kind", normalized_label(F.col("name"))))


def _group_min(m: DataFrame) -> DataFrame:
    """(link_key, n_mentions, canonical_iri) of an (iri, link_key)
    mention frame: canonical = min iri of the key's group, via a
    two-stage aggregate salted on ``hash(iri)``. A caller that drops
    ``n_mentions`` has its count pruned from both stages."""
    partial = (
        m.withColumn("salt", F.pmod(F.hash("iri"), F.lit(SALT_BUCKETS)))
        .groupBy("link_key", "salt")
        .agg(F.min("iri").alias("min_iri"), F.count("*").alias("n"))
    )
    return partial.groupBy("link_key").agg(
        F.sum("n").alias("n_mentions"), F.min("min_iri").alias("canonical_iri")
    )


def canonical_mapping(nodes: DataFrame) -> DataFrame:
    """(iri, link_key, canonical_iri): canonical = min iri in the
    (kind, normalized name) group, via salted two-stage aggregation."""
    m = mention_keys(nodes).select("iri", "link_key")
    return m.join(_group_min(m), "link_key").select("iri", "link_key", "canonical_iri")


def link_key_stats(nodes: DataFrame) -> DataFrame:
    """(link_key, n_mentions, canonical_iri) — the per-group linking
    summary, computed in the SAME two-stage salted aggregation that
    finds the canonical (min + count ride one partial aggregate).
    Equivalent to ``canonical_mapping(...).groupBy(link_key,
    canonical_iri).count()`` — the canonical is unique per key — but
    with no join of the full mention table and one fewer shuffle of it
    (r7, guide §2.3 aggregate-before-shuffle)."""
    return _group_min(mention_keys(nodes).select("iri", "link_key"))


def canonical_nodes(nodes: DataFrame) -> DataFrame:
    """nodes + ``canonical_id`` after alias merging (linking + CC).

    CC matters only when alias groups OVERLAP — one iri carrying
    several link keys (e.g. declared a class in one document and an
    individual in another, or multiple normalizations). When every iri
    maps to exactly one group, the alias graph is a disjoint union of
    stars and CC is the identity on it: comp(node) = its group minimum.
    That case is detected with one aggregation (does any iri have >1
    canonical candidate?) and the iterative CC pass — the dominant cost
    at corpus scale — is skipped; the mapping IS the component table.
    """
    from .cc import connected_components

    # lazy: the aggregate below fills the checkpoint as it reads it
    mapping = canonical_mapping(nodes).localCheckpoint(eager=False)
    # ONE aggregate on the checkpointed mapping answers both dispatch
    # questions: the row count sizes the broadcast of the rewrite join
    # below (comp has at most one row per mapping row), and "some iri
    # has >1 distinct canonical" is exactly distinct(iri, canonical) >
    # distinct(iri).
    stats = mapping.agg(
        F.count("*").alias("n"),
        F.countDistinct("iri").alias("ni"),
        F.countDistinct("iri", "canonical_iri").alias("nic"),
    ).head()
    overlapping = stats["nic"] > stats["ni"]
    if overlapping:
        edges = mapping.filter(F.col("iri") != F.col("canonical_iri")).select(
            F.col("iri").alias("src"), F.col("canonical_iri").alias("dst")
        )
        comp = connected_components(edges, "src", "dst")
    else:
        comp = mapping.select(
            F.col("iri").alias("node"), F.col("canonical_iri").alias("component")
        ).distinct()
    comp = comp.withColumnRenamed("node", "iri")
    return (
        nodes.join(maybe_broadcast(comp, stats["n"]), "iri", "left")
        .withColumn("canonical_id", F.coalesce("component", "iri"))
        .drop("component")
    )


def canonical_edges(edges: DataFrame, canonical: DataFrame) -> DataFrame:
    """Rewrite an edge table onto canonical ids — src, dst AND the
    predicate (properties are nodes too; without this, fork copies of
    the same logical edge keep distinct per-document predicate IRIs and
    never collapse)."""
    # snapshot once: the mapping feeds THREE joins below and would
    # otherwise re-run its distinct (a full shuffle) per join (r7)
    mapping = canonical.select("iri", "canonical_id").distinct().localCheckpoint(eager=False)
    # ONE count fills the lazy checkpoint and sizes all three rewrites:
    # under the broadcast bound each left join is a BroadcastHashJoin
    # over one reused broadcast and the edge table is never shuffled
    # (a shuffle plan exchanges it once per join key)
    n = mapping.count()

    def side(key: str) -> DataFrame:
        return maybe_broadcast(mapping.withColumnRenamed("iri", key), n)

    return (
        edges.join(side("src_id"), "src_id", "left")
        .withColumnRenamed("canonical_id", "src_canon")
        .join(side("dst_id"), "dst_id", "left")
        .withColumnRenamed("canonical_id", "dst_canon")
        .join(side("pred"), "pred", "left")
        .withColumnRenamed("canonical_id", "pred_canon")
        .select(
            F.coalesce("src_canon", F.col("src_id")).alias("src_id"),
            F.coalesce("pred_canon", F.col("pred")).alias("pred"),
            F.coalesce("dst_canon", F.col("dst_id")).alias("dst_id"),
        )
    )
