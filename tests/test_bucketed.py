"""Bucketed nodes table → co-located linking join: the mention side of
the canonical-mapping join must not shuffle (zero Exchange
hashpartitioning feeding it), and results must equal the unbucketed
operator exactly."""

import re

import pytest
from pyspark.sql import functions as F

from yamlpyowl_spark.operators.linking import canonical_mapping, link_key_stats
from yamlpyowl_spark.plans.pipeline import KGPipeline
from yamlpyowl_spark.sources.bucketed import bucketed_canonical_mapping, save_nodes_bucketed
from yamlpyowl_spark.sources.corpus import corpus_df


@pytest.fixture(scope="module")
def nodes(spark):
    pipe = KGPipeline(spark, parse_partitions=4)
    src = corpus_df(spark, n_forks=6)
    return pipe.nodes(pipe.triples(pipe.parsed(src))).persist()


def test_bucketed_mapping_equals_operator(spark, nodes):
    table = save_nodes_bucketed(nodes, table="t_nodes_bucketed", buckets=8)
    got = bucketed_canonical_mapping(spark, table)
    want = canonical_mapping(nodes)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_link_key_stats_equals_mapping_group_count(nodes):
    stats = link_key_stats(nodes).select("link_key", "canonical_iri", "n_mentions")
    got = {tuple(r) for r in stats.collect()}
    want = {
        tuple(r)
        for r in canonical_mapping(nodes).groupBy("link_key", "canonical_iri").count().collect()
    }
    assert got == want and len(got) > 0


def test_bucketed_join_is_shuffle_free_on_big_side(spark, nodes):
    table = save_nodes_bucketed(nodes, table="t_nodes_bucketed2", buckets=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a sort-merge join so bucketing (not broadcast) is what
        # saves the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = bucketed_canonical_mapping(spark, table)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
        # the aggregation chain shuffles the SMALL aggregated side
        # (link_key,salt -> link_key); the big mention scan feeds the
        # final join directly from its buckets. Unbucketed, the same
        # plan carries one more hashpartitioning exchange.
        base = canonical_mapping(spark.table(table).drop("link_key"))
        base.count()
        base_plan = base._jdf.queryExecution().executedPlan().toString()
        n_base = len(re.findall(r"Exchange hashpartitioning", base_plan))
        assert n_shuffles < n_base, (n_shuffles, n_base)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
