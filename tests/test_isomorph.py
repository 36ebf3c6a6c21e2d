"""Solve-once-per-isomorphism-class wrapper: the wrapped reasoner must
produce EXACTLY the per-document output while invoking the underlying
operator on one representative per content class."""

import pytest

from yamlpyowl_spark.operators.dlreason import (
    OWL,
    OWL_ON_CLASS,
    OWL_ON_PROPERTY,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDFS_RANGE,
    dl_model_search,
)
from yamlpyowl_spark.operators.isomorph import reason_per_isomorph
from yamlpyowl_spark.operators.owlrl import owlrl_materialize
from yamlpyowl_spark import vocab as V

SCHEMA = (
    "subj string, pred string, obj string, obj_is_literal boolean, "
    "obj_datatype string, doc_iri string"
)


def _qualified_doc(base):
    """The kg_dl_qualified fixture shape, rebased onto `base`."""
    def enum(cls, *members):
        e, rows = f"_:e_{cls}", []
        rows.append((base + cls, V.OWL_EQUIVALENT_CLASS, e))
        rows.append((e, OWL + "oneOf", f"_:l_{cls}0"))
        for i, mbr in enumerate(members):
            nxt = f"_:l_{cls}{i + 1}" if i + 1 < len(members) else RDF_NIL
            rows.append((f"_:l_{cls}{i}", RDF_FIRST, base + mbr))
            rows.append((f"_:l_{cls}{i}", RDF_REST, nxt))
        return rows

    rows = (
        enum("Man", "alice")
        + enum("House", "h1", "h2")
        + enum("Warm", "h1")
        + [(base + "q", RDFS_RANGE, base + "House")]
        + [
            (base + "alice", V.RDF_TYPE, "_:r1"),
            ("_:r1", OWL_ON_PROPERTY, base + "q"),
            ("_:r1", OWL + "qualifiedCardinality", "1"),
            ("_:r1", OWL_ON_CLASS, base + "Warm"),
        ]
    )
    return [(s, p, o, False, None, base) for s, p, o in rows]


def _symp_doc(base):
    rows = [
        (base + "p", V.RDF_TYPE, OWL + "SymmetricProperty"),
        (base + "a", base + "p", base + "b"),
    ]
    return [(s, p, o, False, None, base) for s, p, o in rows]


@pytest.fixture(scope="module")
def forked(spark):
    # three IRI-rewritten forks of the CSP doc + one distinct rule doc
    rows = []
    for k in range(3):
        rows += _qualified_doc(f"https://w3id.org/forks/qual/{k}#")
    rows += _symp_doc("https://ex.org/symp#")
    return spark.createDataFrame(rows, SCHEMA)


def test_isomorph_dl_output_equals_per_doc(forked):
    direct = {tuple(r) for r in dl_model_search(forked).collect()}
    wrapped = {
        tuple(r)
        for r in reason_per_isomorph(forked, dl_model_search).collect()
    }
    assert wrapped == direct
    # duplicated input rows are deduplicated before the engine runs
    doubled = dl_model_search(forked.unionByName(forked)).collect()
    assert {tuple(r) for r in doubled} == direct
    # the entailment really instantiates per fork
    assert any(
        s.endswith("alice") and p.endswith("q") and "forks/qual/2#" in s
        for s, p, o, *_ in wrapped
    )


def test_isomorph_owlrl_output_equals_per_doc(forked):
    direct = {tuple(r) for r in owlrl_materialize(forked).collect()}
    wrapped = {
        tuple(r)
        for r in reason_per_isomorph(forked, owlrl_materialize).collect()
    }
    assert wrapped == direct
    # duplicated input rows are deduplicated before the engine runs
    doubled = owlrl_materialize(forked.unionByName(forked)).collect()
    assert {tuple(r) for r in doubled} == direct


def test_isomorph_solves_one_rep_per_class(forked):
    seen = {}

    def op(df):
        seen["n_docs"] = df.select("doc_iri").distinct().count()
        return dl_model_search(df)

    reason_per_isomorph(forked, op).count()
    # 3 forks collapse to 1 representative; the symp doc is its own
    assert seen["n_docs"] == 2


def test_isomorph_distinct_contents_stay_separate(spark):
    # two docs whose contents differ (not just rebased) must NOT merge
    rows = _symp_doc("https://ex.org/s1#") + [
        (
            "https://ex.org/s2#p",
            V.RDF_TYPE,
            OWL + "SymmetricProperty",
            False,
            None,
            "https://ex.org/s2#",
        ),
        (
            "https://ex.org/s2#a",
            "https://ex.org/s2#p",
            "https://ex.org/s2#c",  # different object -> different class
            False,
            None,
            "https://ex.org/s2#",
        ),
    ]
    t = spark.createDataFrame(rows, SCHEMA)
    direct = {tuple(r) for r in owlrl_materialize(t).collect()}
    wrapped = {tuple(r) for r in reason_per_isomorph(t, owlrl_materialize).collect()}
    assert wrapped == direct
    assert any(o.endswith("s2#a") for _s, _p, o, *_ in wrapped)
