"""Physical-plan assertions: the properties that matter at 100 TB.

These pin the *shape* of the plans, not timings: filters reach the
parquet scan (PushedFilters), only needed columns are read
(ReadSchema), exactly one Python stage exists in the parse pipeline,
and the small side of the linking join broadcasts.
"""

import re

import pytest
from pyspark.sql import functions as F

from yamlpyowl_spark.plans.pipeline import KGPipeline, ontology_document_filter
from yamlpyowl_spark.sources.artifacts import ensure_artifacts


@pytest.fixture(scope="module")
def corpus(spark):
    paths = ensure_artifacts()
    return spark.read.parquet(paths["corpus"])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_filter_pushed_down(corpus):
    df = ontology_document_filter(corpus)
    plan = _plan(df)
    assert "PushedFilters" in plan
    # the lang equality is a pushable predicate; EndsWith pushes as
    # StringEndsWith on parquet
    assert "IsNotNull(lang)" in plan or "EqualTo(lang,yaml)" in plan, plan
    assert "StringEndsWith(path" in plan, plan


def test_parse_prunes_columns(spark, corpus):
    """content dominates bytes — but the scan must NOT read content for
    queries that don't need it."""
    meta_only = ontology_document_filter(corpus).select("repo", "path")
    plan = _plan(meta_only)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "content" not in read_schema[0], read_schema


def test_single_python_stage(spark, corpus):
    # a parse of the same corpus persisted earlier in the session would
    # surface here as an InMemoryTableScan carrying its own MapInArrow
    spark.catalog.clearCache()
    pipe = KGPipeline(spark, parse_partitions=8)
    plan = _plan(pipe.parsed(corpus))
    assert plan.count("MapInArrow") == 1
    # no row-at-a-time python UDFs anywhere
    assert "BatchEvalPython" not in plan


def test_parse_reads_only_needed_columns(spark, corpus):
    pipe = KGPipeline(spark, parse_partitions=8)
    plan = _plan(pipe.parsed(corpus))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema
    # lang is filter-only; commit/repo/path/content feed the UDF
    assert "content" in read_schema[0]


def test_linking_join_broadcasts(spark, corpus):
    from yamlpyowl_spark.operators.linking import canonical_mapping

    pipe = KGPipeline(spark, parse_partitions=8)
    parsed = pipe.parsed(corpus)
    nodes = pipe.nodes(pipe.triples(parsed))
    plan = _plan(canonical_mapping(nodes))
    # the per-key canonical table is tiny relative to mentions → AQE or
    # static planning must choose a broadcast join, not sort-merge
    assert "BroadcastHashJoin" in plan or "broadcast" in plan.lower(), plan


def test_docops_stay_jvm_side(spark):
    from yamlpyowl_spark.operators import docops

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    for fn in (docops.simhash, docops.quality_scores, docops.token_counts, docops.language_id):
        plan = _plan(fn(docs))
        # higher-order array lambdas run JVM-side (interpreted exprs, no
        # codegen span) — what matters is that NO Python stage exists
        assert "MapInArrow" not in plan and "BatchEvalPython" not in plan, fn.__name__
        assert "ArrowEvalPython" not in plan, fn.__name__
    # plain-expression ops keep whole-stage codegen ("*(n)" spans)
    plan = _plan(docops.fingerprints(docs))
    assert "*(1)" in plan


def test_exact_dedup_partial_aggregation(spark):
    from yamlpyowl_spark.operators.docops import exact_dedup_groups

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = _plan(exact_dedup_groups(docs))
    # map-side combine: two HashAggregate levels around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_dl_model_search_plan_shape(spark, corpus):
    """DL and OWL-RL: the fact rows shuffle once, on ``doc_iri``, into
    one stage that deduplicates each document on the JVM and then runs
    the Arrow-grouped engine — no row-level distinct shuffle keyed on
    the fact columns (DL's only other exchanges carry the facet-document
    list it broadcasts), no duplicate row reaching Python, and no
    row-at-a-time Python anywhere."""
    from yamlpyowl_spark.operators.dlreason import dl_model_search
    from yamlpyowl_spark.operators.owlrl import owlrl_materialize

    pipe = KGPipeline(spark, parse_partitions=8)
    triples = pipe.triples(pipe.parsed(corpus))
    for op in (dl_model_search, owlrl_materialize):
        plan = _plan(op(triples))
        assert "FlatMapGroupsInPandas" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # exactly one grouped-Python stage: the per-document engine
        assert plan.count("FlatMapGroupsInPandas") == 1
        keyed_on_subj = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln
            and "subj#" in ln.split("hashpartitioning(", 1)[1].split(")", 1)[0]
        ]
        assert not keyed_on_subj, (op.__name__, keyed_on_subj)
        # the distinct runs below the engine, inside the doc_iri stage
        below = plan.split("FlatMapGroupsInPandas", 1)[1]
        assert re.search(r"HashAggregate\(keys=\[[^\]]*subj#", below), op.__name__


def test_centroid_assign_partial_aggregation(spark):
    """Argmin via min(struct(...)): partial HashAggregate before the
    exchange, no per-vec_id window sort (r2 verdict #8)."""
    from yamlpyowl_spark.operators.embops import centroid_assign

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    plan = _plan(centroid_assign(emb))
    # map-side combine: a partial_min aggregate runs BEFORE the exchange
    # (struct-min lowers to SortAggregate — still partial+final)
    assert "partial_min" in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_minhash_single_shuffle(spark):
    """MinHash signatures shuffle ONCE (the doc_id groupBy with map-side
    partial min): the shingle explode must NOT pay a distinct() shuffle
    of the full exploded relation — min is duplicate-insensitive (r4;
    the distinct was a second full-width exchange of every shingle
    occurrence and capped dedup-family scaling)."""
    from yamlpyowl_spark.operators import docops

    docs = spark.createDataFrame(
        [(i, "w%d x y z a b c d e f" % i) for i in range(20)], ["doc_id", "text"]
    )
    plan = _plan(docops.minhash_signatures(docs))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # and the one aggregate is partial (map-side combine) then final
    assert "partial_min" in plan or "HashAggregate" in plan


def test_describe_broadcasts_resource_side(spark):
    """DESCRIBE = distinct resource set + left-semi join: the small
    resource side must BROADCAST (never shuffle the triples table by
    subj just to probe a handful of described resources)."""
    from pyspark.sql import types as T

    from yamlpyowl_spark.operators.sparql import make_query

    schema = T.StructType([
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("obj_is_literal", T.BooleanType()),
        T.StructField("obj_datatype", T.StringType()),
        T.StructField("doc_iri", T.StringType()),
    ])
    E = "http://ex.org/"
    t = spark.createDataFrame(
        [(E + "a", E + "p", E + "b", False, None, E)], schema
    )
    df = make_query(t, f"PREFIX e: <{E}> DESCRIBE ?x WHERE {{ ?x e:p ?o }}")
    df.collect()  # let AQE finalize the physical plan
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_filter_companion_columns_never_leak(spark):
    """DATATYPE()/isLiteral() metadata rides hidden __-columns bound at
    pattern time — they must be dropped before the frame surfaces
    (never in the output schema, never UNION-arity-breaking)."""
    from pyspark.sql import types as T

    from yamlpyowl_spark.operators.sparql import make_query

    schema = T.StructType([
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("obj_is_literal", T.BooleanType()),
        T.StructField("obj_datatype", T.StringType()),
        T.StructField("doc_iri", T.StringType()),
    ])
    E = "http://ex.org/"
    t = spark.createDataFrame(
        [(E + "a", E + "p", "5", True,
          "http://www.w3.org/2001/XMLSchema#integer", E)], schema
    )
    df = make_query(
        t,
        f"PREFIX e: <{E}> SELECT ?x ?v WHERE "
        f"{{ ?x e:p ?v . FILTER(isLiteral(?v)) }}",
    )
    assert df.columns == ["x", "v"]
    assert not [c for c in df.columns if c.startswith("__")]


def test_negated_path_is_filter_not_antijoin(spark):
    """!(p1|p2) must compile to ONE `pred NOT IN` filter over the edge
    frame — never an anti-join of the frame against itself — and the
    only exchange is the final distinct."""
    from pyspark.sql import types as T

    from yamlpyowl_spark.operators.sparql import make_query

    schema = T.StructType([
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("obj_is_literal", T.BooleanType()),
        T.StructField("obj_datatype", T.StringType()),
        T.StructField("doc_iri", T.StringType()),
    ])
    E = "http://ex.org/"
    t = spark.createDataFrame(
        [(E + "a", E + "p", E + "b", False, None, E),
         (E + "a", E + "q", E + "c", False, None, E)], schema
    )
    df = make_query(t, f"PREFIX e: <{E}> SELECT ?s ?o WHERE {{ ?s !(e:p) ?o }}")
    df.collect()
    plan = _plan(df)
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # partial+final distinct only


def test_exprs_gate_single_shuffle_partial_agg(spark):
    """GROUP_CONCAT/COUNT/SAMPLE share one groupBy with MAP-SIDE
    partials; the post-agg (expr AS ?alias) is a Project, adding no
    exchange."""
    ensure_artifacts()
    from yamlpyowl_spark.queries import QUERIES

    df = QUERIES["kg_sparql_exprs"](spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    assert "partial_collect_list" in plan, plan
    # one logical exchange for the groupBy; the cached parse relation
    # contributes its own internal exchanges, so count only the tail
    # section after the InMemoryTableScan
    tail = plan.split("InMemoryTableScan", 1)[0]
    assert tail.count("Exchange") <= 1, tail


def test_final_values_broadcasts_inline_side(spark):
    """The query-level final VALUES joins a tiny inline relation —
    Catalyst must broadcast it into the solutions, never shuffle the
    big side on the VALUES key."""
    from pyspark.sql import types as T

    from yamlpyowl_spark.operators.sparql import make_query

    schema = T.StructType([
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("obj_is_literal", T.BooleanType()),
        T.StructField("obj_datatype", T.StringType()),
        T.StructField("doc_iri", T.StringType()),
    ])
    E = "http://ex.org/"
    t = spark.createDataFrame(
        [(E + "a", E + "p", E + "b", False, None, E),
         (E + "c", E + "p", E + "d", False, None, E)], schema
    )
    df = make_query(
        t,
        f"SELECT ?s WHERE {{ ?s <{E}p> ?o }} VALUES ?s {{ <{E}a> }}",
    )
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_per_graph_topk_single_window(spark):
    """Per-graph LIMIT under GRAPH ?g compiles to ONE Window
    (row_number partitioned by the graph column) — no per-graph driver
    loop, no self-join."""
    from pyspark.sql import types as T

    from yamlpyowl_spark.operators.sparql import make_query

    schema = T.StructType([
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("obj_is_literal", T.BooleanType()),
        T.StructField("obj_datatype", T.StringType()),
        T.StructField("doc_iri", T.StringType()),
    ])
    E = "http://ex.org/"
    t = spark.createDataFrame(
        [(E + "a", E + "p", E + "b", False, None, E + "g1"),
         (E + "b", E + "p", E + "c", False, None, E + "g2")], schema
    )
    df = make_query(
        t,
        f"SELECT ?g ?s WHERE {{ GRAPH ?g {{ {{ SELECT ?s WHERE "
        f"{{ ?s <{E}p> ?o }} ORDER BY ?s LIMIT 1 }} }} }}",
    )
    df.collect()
    # AQE prints Final + Initial sections; count operators once
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("+- Window ") == 1, plan
    assert "row_number" in plan, plan
    # Spark 4 pushes the per-partition limit BELOW the shuffle
    # (partial WindowGroupLimit): each task forwards at most k rows
    # per graph before the exchange — the 100-TB-safe shape
    assert "WindowGroupLimit" in plan, plan
