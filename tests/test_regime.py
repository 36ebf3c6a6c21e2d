"""Measured-size dispatch (operators.regime): the two primitives at
their bounds, the closure's shared round budget, and no operator
writing session conf in any regime."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from yamlpyowl_spark import vocab as V
from yamlpyowl_spark.operators import regime, swrl
from yamlpyowl_spark.operators.cc import connected_components
from yamlpyowl_spark.operators.closure import transitive_closure
from yamlpyowl_spark.operators.linking import canonical_edges, canonical_nodes


def test_driver_rows_at_bound(spark):
    n = 5
    assert len(regime.driver_rows(spark.range(n - 1), n)) == n - 1
    assert len(regime.driver_rows(spark.range(n), n)) == n
    assert regime.driver_rows(spark.range(n + 1), n) is None


def test_maybe_broadcast_at_bound(spark):
    # both sides far past autoBroadcastJoinThreshold by their size
    # estimate, so only the hint can make the join a broadcast; the
    # plans are built, never run
    big = spark.range(10**9)
    side = spark.range(10**9).withColumnRenamed("id", "k")

    def plan(rows):
        joined = big.join(regime.maybe_broadcast(side, rows), F.col("id") == F.col("k"))
        return joined._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan(regime.BROADCAST_ROWS)
    assert "BroadcastHashJoin" not in plan(regime.BROADCAST_ROWS + 1)


def test_closure_loops_share_max_iter(spark, monkeypatch):
    """A 40-node chain on the distributed path: the squaring loop runs
    one round (78 → 115 rows passes the patched broadcast bound of 100)
    and hands off to the semi-naive loop. Every round doubles the
    covered path length, so 3 rounds in total close exactly the pairs
    at distance ≤ 8."""
    monkeypatch.setattr(regime, "DRIVER_EDGES", 0)
    monkeypatch.setattr(regime, "BROADCAST_ROWS", 100)
    chain = spark.createDataFrame(
        [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(39)], "src string, dst string"
    )
    got = {(r["src"], r["dst"]) for r in transitive_closure(chain, max_iter=3).collect()}
    want = {
        (f"c{i:02d}", f"c{j:02d}") for i in range(40) for j in range(i + 1, min(i + 8, 39) + 1)
    }
    assert got == want


_REGIMES = {
    "driver": {},
    "distributed": {"DRIVER_EDGES": 0, "_DRIVER_RULE_ROWS": 0},
    "distributed_shuffle": {"DRIVER_EDGES": 0, "_DRIVER_RULE_ROWS": 0, "BROADCAST_ROWS": -1},
}


@pytest.mark.parametrize("name", sorted(_REGIMES))
def test_operators_write_no_session_conf(spark, monkeypatch, name):
    for attr, value in _REGIMES[name].items():
        monkeypatch.setattr(swrl if attr == "_DRIVER_RULE_ROWS" else regime, attr, value)
    writes = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        writes.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(6)] + [("m0", "m1")], "src string, dst string"
    )
    assert transitive_closure(edges).count() == 6 * 7 // 2 + 1
    assert connected_components(edges).select("component").distinct().count() == 2

    # c#x is both a class and an individual: it bridges two alias
    # groups, so canonical_nodes runs CC
    nodes = spark.createDataFrame(
        [
            ("http://e/a#x", "x", "class"),
            ("http://e/c#x", "x", "class"),
            ("http://e/b#x", "x", "individual"),
            ("http://e/c#x", "x", "individual"),
        ],
        "iri string, name string, kind string",
    )
    canon = canonical_nodes(nodes)
    assert {r["canonical_id"] for r in canon.collect()} == {"http://e/a#x"}
    kg_edges = spark.createDataFrame(
        [("http://e/b#x", "http://e/c#x", "http://e/c#x")], "src_id string, pred string, dst_id string"
    )
    assert canonical_edges(kg_edges, canon).collect()[0]["src_id"] == "http://e/a#x"

    d = "http://ex.org/d#"
    triples = spark.createDataFrame(
        [
            (f"{d}rule1", V.YPO_RULE_SRC, "p(?x, ?y) -> q(?x, ?y)", True, None, d),
            (f"{d}a0", f"{d}p", f"{d}a1", False, None, d),
        ],
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_datatype string, doc_iri string",
    )
    assert [r["pred"] for r in swrl.forward_chain(triples).collect()] == [f"{d}q"]

    assert writes == []
