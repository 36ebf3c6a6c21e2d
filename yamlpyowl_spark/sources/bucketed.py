"""Bucketed-table co-location for the linking joins.

At 100 TB the dominant shuffle is the canonical-mapping join: every
mention row moves by ``link_key`` hash. Persisting the nodes table
BUCKETED on ``link_key`` (``bucketBy`` + ``sortBy``) makes that join
co-located — the mention side is read pre-partitioned and never
shuffles again; only the (aggregated, much smaller) canonical side
moves. Zero ``Exchange hashpartitioning`` on the big side, verified by
``tests/test_bucketed.py``.

This is the storage-layout half of the skew story: salting handles hot
keys at compute time (operators/linking.py), bucketing removes the
recurring shuffle for every downstream consumer of the same key."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.linking import _group_min, mention_keys

DEFAULT_BUCKETS = 64


def save_nodes_bucketed(
    nodes: DataFrame, table: str = "kg_nodes_bucketed", buckets: int = DEFAULT_BUCKETS
) -> str:
    """Persist nodes (+ their ``link_key``) bucketed for co-located
    linking joins. Returns the table name."""
    spark = nodes.sparkSession
    # a table dropped from a fresh (in-memory) catalog can leave its
    # warehouse location behind; saveAsTable refuses to reuse it
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{table}")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)
    except Exception:
        pass
    (
        mention_keys(nodes)
        .write.mode("overwrite")
        .bucketBy(buckets, "link_key")
        .sortBy("link_key")
        .saveAsTable(table)
    )
    return table


def bucketed_canonical_mapping(spark: SparkSession, table: str) -> DataFrame:
    """(iri, link_key, canonical_iri) like
    :func:`operators.linking.canonical_mapping`, but reading the
    pre-bucketed table: the mention side of the mapping join carries
    its bucketing through — no shuffle of the big side."""
    m = spark.table(table).select("iri", "link_key")
    return m.join(_group_min(m), "link_key").select("iri", "link_key", "canonical_iri")
