"""DL model enumeration (OneOf/Functional/InverseFunctional/
AllDifferent) reproduces the reference's POST-Pellet zebra-puzzle
assertions (reference tests/test_core.py:171-263) with a per-document
CSP solve distributed over applyInPandas."""

import pytest
from pyspark.sql import functions as F

from yamlpyowl_spark.operators.dlreason import _solve_doc, dl_model_search
from yamlpyowl_spark.parser import parse_document
from yamlpyowl_spark.schema import SOURCE_SCHEMA
from yamlpyowl_spark.plans.pipeline import KGPipeline
from yamlpyowl_spark.sources.fixtures import load_fixture_texts, reference_available

# only the zebra fixture and the tests that read it need the reference
# mount; every other test builds its document inline
needs_reference = pytest.mark.skipif(
    not reference_available(), reason="reference fixtures not mounted"
)

Z = "https://w3id.org/yet/undefined/einstein-zebra-puzzle-ontology#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# the puzzle's (publicly known) unique solution
SOLUTION = {
    ("Englishman", "drinks", "milk"),
    ("Englishman", "lives_in", "house_3"),
    ("Englishman", "owns", "snails"),
    ("Englishman", "smokes", "Old_Gold"),
    ("Japanese", "drinks", "coffee"),
    ("Japanese", "lives_in", "house_5"),
    ("Japanese", "owns", "zebra"),
    ("Japanese", "smokes", "Parliaments"),
    ("Norwegian", "drinks", "water"),
    ("Norwegian", "lives_in", "house_1"),
    ("Norwegian", "owns", "fox"),
    ("Norwegian", "smokes", "Kools"),
    ("Spaniard", "drinks", "orange_juice"),
    ("Spaniard", "lives_in", "house_4"),
    ("Spaniard", "owns", "dog"),
    ("Spaniard", "smokes", "Lucky_Strike"),
    ("Ukrainian", "drinks", "tea"),
    ("Ukrainian", "lives_in", "house_2"),
    ("Ukrainian", "owns", "horse"),
    ("Ukrainian", "smokes", "Chesterfields"),
    ("house_1", "has_color", "yellow"),
    ("house_2", "has_color", "blue"),
    ("house_3", "has_color", "red"),
    ("house_4", "has_color", "ivory"),
    ("house_5", "has_color", "green"),
}

BASE_PROPS = {"drinks", "lives_in", "owns", "smokes", "has_color"}


@pytest.fixture(scope="module")
def zebra_rows():
    if not reference_available():
        pytest.skip("reference fixtures not mounted")
    text = load_fixture_texts()["examples/einsteins_zebra_riddle.owl.yml"]
    res = parse_document(text)
    return [(t[0], t[1], t[2]) for t in res.triples if not t[3]]


def test_zebra_unique_model_and_solution(zebra_rows):
    stats = {}
    inferred = _solve_doc(zebra_rows, stats=stats, max_models=50)
    assert stats["n_models"] == 1  # the puzzle has exactly one model
    got = {
        (s.replace(Z, ""), p.replace(Z, ""), o.replace(Z, ""))
        for s, p, o in inferred
        if p.replace(Z, "") in BASE_PROPS
    }
    assert got == SOLUTION


def test_zebra_oneof_memberships(zebra_rows):
    # reference test_core.py:187-189 — dog/fox are Pets only AFTER the
    # reasoner (asserted only as owl:Thing)
    inferred = _solve_doc(zebra_rows)
    assert (Z + "dog", RDF_TYPE, Z + "Pet") in inferred
    assert (Z + "fox", RDF_TYPE, Z + "Pet") in inferred
    assert (Z + "Japanese", RDF_TYPE, Z + "Man") in inferred


def test_zebra_inverse_images(zebra_rows):
    inferred = _solve_doc(zebra_rows)
    assert (Z + "zebra", Z + "inv_owns", Z + "Japanese") in inferred


@needs_reference
def test_distributed_solve_via_spark(spark):
    text = load_fixture_texts()["examples/einsteins_zebra_riddle.owl.yml"]
    src = spark.createDataFrame(
        [("org/zebra", "examples/einsteins_zebra_riddle.owl.yml", "0" * 40, "yaml", text)],
        SOURCE_SCHEMA,
    )
    pipe = KGPipeline(spark, parse_partitions=2)
    triples, _ = pipe.parse(src)
    out = dl_model_search(triples)
    rows = {(r["subj"], r["pred"], r["obj"]) for r in out.collect()}
    assert (Z + "Japanese", Z + "owns", Z + "zebra") in rows
    # asserted facts are NOT in the delta
    assert (Z + "Norwegian", Z + "lives_in", Z + "house_1") not in rows
    assert (Z + "dog", RDF_TYPE, Z + "Pet") in rows


def test_ambiguous_doc_emits_only_deterministic(spark):
    # two individuals, one functional prop, NO constraints -> multiple
    # models -> no property entailment, but OneOf memberships emitted
    yml = """\
- iri: http://ex.org/amb#
- owl_multiple_individuals:
      names: [a, b]
      types: ["owl:Thing"]
- owl_class:
      Tgt:
          EquivalentTo:
              OneOf: [a, b]
- owl_class:
      Src:
          EquivalentTo:
              OneOf: [a]
- owl_object_property:
    p:
        Characteristics: [Functional, InverseFunctional]
        Domain: [Src]
        Range: [Tgt]
"""
    res = parse_document(yml)
    rows = [(t[0], t[1], t[2]) for t in res.triples if not t[3]]
    inferred = _solve_doc(rows)
    A = "http://ex.org/amb#"
    preds = {p for _, p, _ in inferred}
    assert A + "p" not in preds  # ambiguous: p(a) could be a or b (or absent)
    assert (A + "a", RDF_TYPE, A + "Tgt") in inferred


def test_no_csp_doc_is_noop():
    res = parse_document(
        "- iri: http://ex.org/plain#\n- owl_class:\n      C:\n          SubClassOf: \"owl:Thing\"\n"
    )
    rows = [(t[0], t[1], t[2]) for t in res.triples if not t[3]]
    assert _solve_doc(rows) == set()


@needs_reference
def test_sync_reasoner_solves_zebra(spark):
    # the reference's own flow: OntologyManager + sync_reasoner
    # (tests/test_core.py:186, 263)
    import os

    from yamlpyowl_spark.api import OntologyManager
    from yamlpyowl_spark.sources.fixtures import REFERENCE_DIR

    om = OntologyManager(
        os.path.join(REFERENCE_DIR, "examples/einsteins_zebra_riddle.owl.yml"), spark
    )
    n = om.sync_reasoner()
    assert n > 0
    rows = {
        (r["subj"], r["pred"], r["obj"])
        for r in om.triples.filter(F.col("pred") == Z + "owns").collect()
    }
    assert (Z + "Japanese", Z + "owns", Z + "zebra") in rows
    # forward chain contributes the inverse-axiom closure on the
    # asserted right_to chain
    lt = {
        (r["subj"], r["obj"])
        for r in om.triples.filter(F.col("pred") == Z + "left_to").collect()
    }
    assert (Z + "house_1", Z + "house_2") in lt


@needs_reference
def test_facade_zebra_parity_assertions(spark):
    """The reference's exact post-reasoner surface (tests/test_core.py:
    171-263): n.Pet in n.dog.is_a, n.Ukrainian.drinks == n.tea,
    n.Japanese.owns == n.zebra — through om.n attribute access."""
    import os

    from yamlpyowl_spark.api import OntologyManager
    from yamlpyowl_spark.sources.fixtures import REFERENCE_DIR

    om = OntologyManager(
        os.path.join(REFERENCE_DIR, "examples/einsteins_zebra_riddle.owl.yml"), spark
    )
    n = om.n
    # pre-reasoner: dog is created as a Thing, not a Pet (test_core.py:178)
    assert n.Pet not in n.dog.is_a
    assert n.house_2.right_to == n.house_1

    om.sync_reasoner()
    assert n.Pet in n.dog.is_a  # test_core.py:187
    assert n.Pet in n.fox.is_a  # test_core.py:188
    assert n.Ukrainian.drinks == n.tea  # clue 5, test_core.py:210
    assert n.Norwegian.lives_in == n.house_1  # clue 10, test_core.py:227
    assert n.Japanese.smokes == n.Parliaments  # clue 14, test_core.py:252
    assert n.Japanese.owns == n.zebra  # "solved completely", test_core.py:263


def test_corrupt_inputs_do_not_hang_or_crash():
    """Cyclic RDF lists and dangling restriction nodes must degrade to
    no-ops, never hang an executor task."""
    from yamlpyowl_spark.vocab import OWL_EQUIVALENT_CLASS, OWL_ONE_OF

    E = "http://ex.org/bad#"
    FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
    REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
    rows = [
        # cyclic oneOf list: _:l1 -> _:l2 -> _:l1
        (E + "C", OWL_EQUIVALENT_CLASS, "_:e0"),
        ("_:e0", OWL_ONE_OF, "_:l1"),
        ("_:l1", FIRST, E + "a"),
        ("_:l1", REST, "_:l2"),
        ("_:l2", FIRST, E + "b"),
        ("_:l2", REST, "_:l1"),
        # restriction node with onProperty but neither some nor value
        (E + "a", RDF_TYPE, "_:r1"),
        ("_:r1", "http://www.w3.org/2002/07/owl#onProperty", E + "p"),
    ]
    inferred = _solve_doc(rows)
    # the cycle-guarded list still yields both members once
    assert (E + "a", RDF_TYPE, E + "C") in inferred
    assert (E + "b", RDF_TYPE, E + "C") in inferred


def test_step_cap_degrades_to_deterministic_only():
    # a large unconstrained CSP trips max_steps -> only OneOf
    # memberships come back (conservative: no over-claimed entailments)
    E = "http://ex.org/big#"
    from yamlpyowl_spark import vocab as V

    members = [f"{E}m{i}" for i in range(10)]
    rows = []
    # enum class over 10 members
    rows.append((E + "C", V.OWL_EQUIVALENT_CLASS, "_:e0"))
    rows.append(("_:e0", V.OWL_ONE_OF, "_:l0"))
    for i, m in enumerate(members):
        rows.append((f"_:l{i}", V.RDF_FIRST, m))
        rows.append((f"_:l{i}", V.RDF_REST, f"_:l{i+1}" if i < 9 else V.RDF_NIL))
        rows.append((m, V.RDF_TYPE, V.OWL_THING))
    # functional+invfunctional prop over the enum in both slots
    rows.append((E + "p", V.RDF_TYPE, V.OWL_FUNCTIONAL))
    rows.append((E + "p", V.RDF_TYPE, V.OWL_INVERSE_FUNCTIONAL))
    rows.append((E + "p", V.RDFS_DOMAIN, E + "C"))
    rows.append((E + "p", V.RDFS_RANGE, E + "C"))
    stats = {}
    inferred = _solve_doc(rows, max_steps=50, stats=stats)
    assert stats["steps"] > 50 or stats["n_models"] >= 8
    preds = {p for _, p, _ in inferred}
    assert preds == {RDF_TYPE}  # memberships only, no property claims


@needs_reference
def test_many_documents_solve_in_parallel(spark):
    """The applyInPandas fan-out: N independent copies of the puzzle
    under distinct doc_iris all solve, one CSP per group."""
    text = load_fixture_texts()["examples/einsteins_zebra_riddle.owl.yml"]
    rows = [
        (f"org/z{i}", f"z{i}/puzzle.owl.yml", "0" * 40, "yaml",
         text.replace(
             "https://w3id.org/yet/undefined/einstein-zebra-puzzle-ontology#",
             f"https://w3id.org/yet/undefined/zebra-{i}#",
         ))
        for i in range(6)
    ]
    src = spark.createDataFrame(rows, SOURCE_SCHEMA)
    pipe = KGPipeline(spark, parse_partitions=4)
    triples, _ = pipe.parse(src)
    out = dl_model_search(triples)
    got = {(r["doc_iri"], r["subj"], r["obj"]) for r in out.filter(
        F.col("pred").endswith("#owns") & F.col("obj").endswith("#zebra")).collect()}
    assert got == {
        (f"https://w3id.org/yet/undefined/zebra-{i}#",
         f"https://w3id.org/yet/undefined/zebra-{i}#Japanese",
         f"https://w3id.org/yet/undefined/zebra-{i}#zebra")
        for i in range(6)
    }


_TWO_MEN_YML = """\
- iri: http://ex.org/una#
- owl_multiple_individuals:
      names: [a, b]
      types: ["owl:Thing"]
- owl_multiple_individuals:
      names: [h1, h2]
      types: ["owl:Thing"]
- owl_class:
      Man:
          EquivalentTo:
              OneOf: [a, b]
- owl_class:
      House:
          EquivalentTo:
              OneOf: [h1, h2]
- owl_object_property:
    lives_in:
        Characteristics: [Functional, InverseFunctional]
        Domain: [Man]
        Range: [House]
- property_facts:
    lives_in:
        Facts:
            - a: h1
- restriction:
    Subject: Man
    Body:
      lives_in:
        some: House
{AD}"""


def _solve_yml(yml):
    res = parse_document(yml)
    rows = [(t[0], t[1], t[2]) for t in res.triples if not t[3]]
    return _solve_doc(rows)


def test_no_una_without_alldifferent():
    # ADVICE r02: OWL is non-UNA — without an AllDifferent axiom the
    # model where b = a (so b also lives in h1) is consistent, so
    # lives_in(b) = h2 must NOT be entailed
    inferred = _solve_yml(_TWO_MEN_YML.format(AD=""))
    U = "http://ex.org/una#"
    assert (U + "b", U + "lives_in", U + "h2") not in inferred


def test_alldifferent_restores_injectivity():
    # with the axiom, inverse-functional injectivity applies and the
    # puzzle-style deduction goes through: b must live in h2
    ad = "- different_individuals:\n    - __all__\n"
    inferred = _solve_yml(_TWO_MEN_YML.format(AD=ad))
    U = "http://ex.org/una#"
    assert (U + "b", U + "lives_in", U + "h2") in inferred


def _no_dl_diagnostic(pred):
    """Whether the Spark-free DL engine, on a document with one entity
    row using ``pred``, emits no ypo:dlUnsupportedConstruct row."""
    from yamlpyowl_spark.operators.dlreason import YPO_DL_UNSUPPORTED, dl_document

    E = "http://ex.org/fragment#"
    out = dl_document(
        E,
        [(E + "r", pred, E + "c", False, None)],
        max_models=8,
        max_steps=500_000,
        on_unsupported="warn",
    )
    return not [r for r in out if r[1] == YPO_DL_UNSUPPORTED]


def test_unsupported_construct_is_loud(spark):
    # r6b: hasKey and disjointUnionOf entered the fragment too; the
    # loud boundary moved to the datatype-restriction vocabulary —
    # hand-authorable constructs neither reasoner draws conclusions
    # from
    from yamlpyowl_spark.vocab import OWL
    from yamlpyowl_spark.operators.dlreason import UnsupportedDLError, YPO_DL_UNSUPPORTED

    assert _no_dl_diagnostic(OWL + "minCardinality")
    assert _no_dl_diagnostic(OWL + "cardinality")
    assert _no_dl_diagnostic(OWL + "qualifiedCardinality")
    assert _no_dl_diagnostic(OWL + "minQualifiedCardinality")
    assert _no_dl_diagnostic(OWL + "onClass")
    assert _no_dl_diagnostic(OWL + "hasSelf")
    assert _no_dl_diagnostic(OWL + "disjointWith")
    assert _no_dl_diagnostic(OWL + "propertyDisjointWith")
    assert _no_dl_diagnostic(OWL + "hasKey")
    assert _no_dl_diagnostic(OWL + "disjointUnionOf")
    E = "http://ex.org/card#"
    rows = [
        # a facet-restricted data range can only arrive via
        # om.add_fact (the YAML grammar never emits it) — the CSP
        # must flag, not silently ignore it
        (E + "r", OWL + "onDataRange", E + "positiveInt", False, None, E),
    ]
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    triples = spark.createDataFrame(rows, schema)
    # warn (default): a diagnostic row names the construct
    got = dl_model_search(triples).collect()
    diags = {(r["subj"], r["pred"], r["obj"]) for r in got}
    assert (E, YPO_DL_UNSUPPORTED, OWL + "onDataRange") in diags
    # raise: fails loudly naming the document
    with pytest.raises(Exception) as ei:
        dl_model_search(triples, on_unsupported="raise").collect()
    assert "onDataRange" in str(ei.value)
    # ignore: the silent legacy behavior
    assert dl_model_search(triples, on_unsupported="ignore").count() == 0


# ---------------------------------------------------------------------------
# round 5: unqualified cardinality restrictions inside the CSP
# ---------------------------------------------------------------------------

CE = "http://ex.org/card#"


def _enum(cls, *members):
    """RDF-encode `cls ≡ OneOf{members}`."""
    from yamlpyowl_spark.vocab import (
        OWL_EQUIVALENT_CLASS, OWL_ONE_OF, RDF_FIRST, RDF_REST, RDF_NIL,
    )

    e, l0 = f"_:e_{cls.rsplit('#', 1)[-1]}", f"_:l_{cls.rsplit('#', 1)[-1]}0"
    out = [(cls, OWL_EQUIVALENT_CLASS, e), (e, OWL_ONE_OF, l0)]
    for i, mem in enumerate(members):
        cur = f"_:l_{cls.rsplit('#', 1)[-1]}{i}"
        nxt = (
            f"_:l_{cls.rsplit('#', 1)[-1]}{i + 1}"
            if i + 1 < len(members)
            else RDF_NIL
        )
        out += [(cur, RDF_FIRST, mem), (cur, RDF_REST, nxt)]
    return out


def test_cardinality_exactly_one_forces_unique_value():
    # `q exactly 1` on m with a one-member range: q(m) = h1 holds in
    # every model — entailed (min side prunes the Nothing branch)
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ON_PROPERTY, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Man", CE + "m"),
        *_enum(CE + "House", CE + "h1"),
        (CE + "q", RDFS_RANGE, CE + "House"),
        (CE + "m", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "q"),
        ("_:r", OWL + "cardinality", "1"),
    ]
    inferred = _solve_doc(rows)
    assert (CE + "m", CE + "q", CE + "h1") in inferred


def test_max_cardinality_alone_does_not_force_existence():
    # `q max 1` admits the no-value model: with two range candidates
    # plus Nothing, models disagree — nothing entailed
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ON_PROPERTY, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Man", CE + "m"),
        *_enum(CE + "House", CE + "h1", CE + "h2"),
        (CE + "q", RDFS_RANGE, CE + "House"),
        (CE + "m", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "q"),
        ("_:r", OWL + "maxCardinality", "1"),
    ]
    inferred = _solve_doc(rows)
    assert not {t for t in inferred if t[1] == CE + "q"}


def test_max_cardinality_violation_prunes_models():
    # two asserted q-successors DECLARED different + `q max 1` is a
    # certain violation: no model exists (non-UNA: without the
    # AllDifferent axiom the two names could merge and satisfy max 1)
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ALL_DIFFERENT, OWL_DISTINCT_MEMBERS, OWL_ON_PROPERTY,
        RDFS_RANGE, RDF_FIRST, RDF_REST, RDF_NIL,
    )

    base = [
        *_enum(CE + "Man", CE + "m"),
        *_enum(CE + "House", CE + "h1", CE + "h2"),
        (CE + "q", RDFS_RANGE, CE + "House"),
        (CE + "m", CE + "q", CE + "h1"),
        (CE + "m", CE + "q", CE + "h2"),
        (CE + "m", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "q"),
        ("_:r", OWL + "maxCardinality", "1"),
    ]
    ad = [
        ("_:ad", RDF_TYPE, OWL_ALL_DIFFERENT),
        ("_:ad", OWL_DISTINCT_MEMBERS, "_:adl0"),
        ("_:adl0", RDF_FIRST, CE + "h1"), ("_:adl0", RDF_REST, "_:adl1"),
        ("_:adl1", RDF_FIRST, CE + "h2"), ("_:adl1", RDF_REST, RDF_NIL),
    ]
    stats = {}
    _solve_doc(base + ad, stats=stats)
    assert stats.get("n_models", -1) == 0
    # without AllDifferent the names may merge: models exist
    stats2 = {}
    _solve_doc(base, stats=stats2)
    assert stats2.get("n_models", 0) > 0


def test_min_cardinality_two_on_single_valued_prop_unsat():
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ON_PROPERTY, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Man", CE + "m"),
        *_enum(CE + "House", CE + "h1", CE + "h2"),
        (CE + "q", RDFS_RANGE, CE + "House"),
        (CE + "m", CE + "q", CE + "h1"),
        (CE + "m", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "q"),
        ("_:r", OWL + "cardinality", "1"),
        (CE + "m", RDF_TYPE, "_:r2"),
        ("_:r2", OWL_ON_PROPERTY, CE + "q"),
        ("_:r2", OWL + "minCardinality", "2"),
    ]
    stats = {}
    _solve_doc(rows, stats=stats)
    # min 2 can never hold for the single-valued representation with
    # one asserted successor: every model is pruned, nothing entailed
    assert stats.get("n_models", -1) == 0


# ---------------------------------------------------------------------------
# round 6: onClass-QUALIFIED cardinality inside the CSP
# ---------------------------------------------------------------------------


def test_qualified_exactly_one_entails_the_single_c_member():
    # `q exactly 1 Warm` where Warm = OneOf{h1}: every model must give
    # m exactly one Warm successor — with a single candidate, q(m)=h1
    # is entailed (the Nothing branch fails the lower bound)
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ON_PROPERTY, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Man", CE + "m"),
        *_enum(CE + "House", CE + "h1", CE + "h2"),
        *_enum(CE + "Warm", CE + "h1"),
        (CE + "q", RDFS_RANGE, CE + "House"),
        (CE + "m", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "q"),
        ("_:r", OWL + "qualifiedCardinality", "1"),
        ("_:r", OWL + "onClass", CE + "Warm"),
    ]
    inferred = _solve_doc(rows)
    assert (CE + "m", CE + "q", CE + "h1") in inferred


def test_qualified_exactly_one_with_two_members_entails_nothing():
    # two Warm candidates: models disagree on which — no entailment,
    # but models DO exist (the restriction is satisfiable)
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ON_PROPERTY, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Man", CE + "m"),
        *_enum(CE + "House", CE + "h1", CE + "h2"),
        *_enum(CE + "Warm", CE + "h1", CE + "h2"),
        (CE + "q", RDFS_RANGE, CE + "House"),
        (CE + "m", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "q"),
        ("_:r", OWL + "qualifiedCardinality", "1"),
        ("_:r", OWL + "onClass", CE + "Warm"),
    ]
    stats = {}
    inferred = _solve_doc(rows, stats=stats)
    assert stats.get("n_models", 0) == 2
    assert not {t for t in inferred if t[1] == CE + "q"}


def test_max_qualified_counts_only_c_successors():
    # two asserted successors declared different, but only ONE is in
    # Cold: `q max 1 Cold` is satisfied (the unqualified max 1 would
    # be violated) — models exist
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ALL_DIFFERENT, OWL_DISTINCT_MEMBERS, OWL_ON_PROPERTY,
        RDFS_RANGE, RDF_FIRST, RDF_REST, RDF_NIL,
    )

    def with_onclass(members):
        return [
            *_enum(CE + "Man", CE + "m"),
            *_enum(CE + "House", CE + "h1", CE + "h2"),
            *_enum(CE + "Cold", *members),
            (CE + "q", RDFS_RANGE, CE + "House"),
            (CE + "m", CE + "q", CE + "h1"),
            (CE + "m", CE + "q", CE + "h2"),
            (CE + "m", RDF_TYPE, "_:r"),
            ("_:r", OWL_ON_PROPERTY, CE + "q"),
            ("_:r", OWL + "maxQualifiedCardinality", "1"),
            ("_:r", OWL + "onClass", CE + "Cold"),
            ("_:ad", RDF_TYPE, OWL_ALL_DIFFERENT),
            ("_:ad", OWL_DISTINCT_MEMBERS, "_:adl0"),
            ("_:adl0", RDF_FIRST, CE + "h1"), ("_:adl0", RDF_REST, "_:adl1"),
            ("_:adl1", RDF_FIRST, CE + "h2"), ("_:adl1", RDF_REST, RDF_NIL),
        ]

    # only h1 is Cold: max 1 Cold holds — satisfiable
    stats = {}
    _solve_doc(with_onclass([CE + "h1"]), stats=stats)
    assert stats.get("n_models", 0) > 0
    # both are Cold AND declared different: certain violation — unsat
    stats2 = {}
    _solve_doc(with_onclass([CE + "h1", CE + "h2"]), stats=stats2)
    assert stats2.get("n_models", -1) == 0


def test_min_qualified_two_prunes_single_valued_models():
    # `q min 2 Warm` can never hold in the single-valued
    # representation with one asserted successor: unsat
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ON_PROPERTY, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Man", CE + "m"),
        *_enum(CE + "House", CE + "h1", CE + "h2"),
        *_enum(CE + "Warm", CE + "h1", CE + "h2"),
        (CE + "q", RDFS_RANGE, CE + "House"),
        (CE + "m", CE + "q", CE + "h1"),
        (CE + "m", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "q"),
        ("_:r", OWL + "minQualifiedCardinality", "2"),
        ("_:r", OWL + "onClass", CE + "Warm"),
        (CE + "m", RDF_TYPE, "_:r2"),
        ("_:r2", OWL_ON_PROPERTY, CE + "q"),
        ("_:r2", OWL + "cardinality", "1"),
    ]
    stats = {}
    _solve_doc(rows, stats=stats)
    assert stats.get("n_models", -1) == 0


def test_allvaluesfrom_supported():
    # p only Good (+ p some House to force existence) pins p(a) = h1 —
    # allValuesFrom is now inside the fragment, not a diagnostic
    from yamlpyowl_spark.vocab import OWL, OWL_ON_PROPERTY, OWL_SOME_VALUES_FROM
    from yamlpyowl_spark.operators.dlreason import OWL_ALL_VALUES_FROM

    assert _no_dl_diagnostic(OWL_ALL_VALUES_FROM)
    U = "http://ex.org/only#"
    yml = f"""\
- iri: {U}
- owl_multiple_individuals:
      names: [a, h1, h2]
      types: ["owl:Thing"]
- owl_class:
      Man:
          EquivalentTo:
              OneOf: [a]
- owl_class:
      House:
          EquivalentTo:
              OneOf: [h1, h2]
- owl_class:
      Good:
          EquivalentTo:
              OneOf: [h1]
- owl_object_property:
    lives_in:
        Characteristics: [Functional]
        Domain: [Man]
        Range: [House]
- restriction:
    Subject: Man
    Body:
      lives_in:
        some: House
"""
    res = parse_document(yml)
    rows = [(t[0], t[1], t[2]) for t in res.triples if not t[3]]
    # graft an allValuesFrom restriction (the YAML grammar has no
    # `only`, matching the reference — external RDF does)
    rows += [
        (U + "a", RDF_TYPE, "_:only1"),
        ("_:only1", OWL_ON_PROPERTY, U + "lives_in"),
        ("_:only1", OWL_ALL_VALUES_FROM, U + "Good"),
    ]
    inferred = _solve_doc(rows)
    assert (U + "a", U + "lives_in", U + "h1") in inferred

    # without the `some`, absence remains a model -> no entailment
    rows_no_some = [
        r for r in rows
        if not (r[1] == OWL_SOME_VALUES_FROM or (r[0] == U + "Man" and r[2].startswith("_:")))
    ]
    inferred2 = _solve_doc(rows_no_some)
    assert (U + "a", U + "lives_in", U + "h1") not in inferred2


# ---------------------------------------------------------------------------
# round 6: hasSelf checker + irreflexive/asymmetric characteristics
# ---------------------------------------------------------------------------


def test_has_self_entails_self_loop():
    # `p hasSelf` on n with p functional over Person={n}: every model
    # must set p(n) = n (NOTHING and non-self branches fail) — entailed
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ON_PROPERTY, RDFS_DOMAIN, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Person", CE + "n"),
        (CE + "p", RDF_TYPE, OWL + "FunctionalProperty"),
        (CE + "p", RDFS_DOMAIN, CE + "Person"),
        (CE + "p", RDFS_RANGE, CE + "Person"),
        (CE + "n", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "p"),
        ("_:r", OWL + "hasSelf", "true"),
    ]
    inferred = _solve_doc(rows)
    assert (CE + "n", CE + "p", CE + "n") in inferred


def test_irreflexive_asserted_self_loop_is_unsat():
    from yamlpyowl_spark.vocab import (
        OWL, RDFS_DOMAIN, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Person", CE + "a", CE + "b"),
        (CE + "p", RDF_TYPE, OWL + "FunctionalProperty"),
        (CE + "p", RDF_TYPE, OWL + "IrreflexiveProperty"),
        (CE + "p", RDFS_DOMAIN, CE + "Person"),
        (CE + "p", RDFS_RANGE, CE + "Person"),
        (CE + "a", CE + "p", CE + "a"),
    ]
    stats = {}
    _solve_doc(rows, stats=stats)
    assert stats.get("n_models", -1) == 0


def test_irreflexive_prunes_self_assignments():
    # no assertion: the CSP may still assign p(x) — but never x itself
    from yamlpyowl_spark.vocab import (
        OWL, RDFS_DOMAIN, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Person", CE + "a", CE + "b"),
        (CE + "p", RDF_TYPE, OWL + "FunctionalProperty"),
        (CE + "p", RDF_TYPE, OWL + "IrreflexiveProperty"),
        (CE + "p", RDFS_DOMAIN, CE + "Person"),
        (CE + "p", RDFS_RANGE, CE + "Person"),
    ]
    stats = {}
    _solve_doc(rows, stats=stats)
    for model in stats.get("models", []):
        for (p, s), o in model.items():
            assert o != s, "irreflexive property assigned a self-loop"


def test_asymmetric_prunes_reverse_assignment():
    from yamlpyowl_spark.vocab import (
        OWL, RDFS_DOMAIN, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Person", CE + "a", CE + "b"),
        (CE + "p", RDF_TYPE, OWL + "FunctionalProperty"),
        (CE + "p", RDF_TYPE, OWL + "AsymmetricProperty"),
        (CE + "p", RDFS_DOMAIN, CE + "Person"),
        (CE + "p", RDFS_RANGE, CE + "Person"),
        (CE + "a", CE + "p", CE + "b"),
    ]
    stats = {}
    inferred = _solve_doc(rows, stats=stats)
    assert (CE + "b", CE + "p", CE + "a") not in inferred
    for model in stats.get("models", []):
        assert model.get((CE + "p", CE + "b")) != CE + "a", (
            "asymmetric property assigned the reverse edge"
        )
    assert stats.get("n_models", 0) > 0


# ---------------------------------------------------------------------------
# round 6: disjointness pruning inside the CSP (was the loud boundary)
# ---------------------------------------------------------------------------


def _card1(subject, prop, rnode):
    """RDF-encode `subject rdf:type [onProperty prop, cardinality 1]`."""
    from yamlpyowl_spark.vocab import OWL, OWL_ON_PROPERTY

    return [
        (subject, RDF_TYPE, rnode),
        (rnode, OWL_ON_PROPERTY, prop),
        (rnode, OWL + "cardinality", "1"),
    ]


def test_disjoint_with_restriction_defined_class_prunes_and_entails():
    # A ⊥ B, B ≡ hasCol.value(red), x ∈ A, x under `hasCol exactly 1`
    # over Color = {red, blue}: the red model would put x in both A and
    # B → pruned; Nothing pruned by the cardinality → entail blue
    from yamlpyowl_spark.vocab import (
        OWL, OWL_EQUIVALENT_CLASS, OWL_ON_PROPERTY, RDFS_RANGE,
    )

    base = [
        *_enum(CE + "Color", CE + "red", CE + "blue"),
        (CE + "hasCol", RDFS_RANGE, CE + "Color"),
        *_card1(CE + "x", CE + "hasCol", "_:r"),
        (CE + "x", RDF_TYPE, CE + "A"),
        (CE + "B", OWL_EQUIVALENT_CLASS, "_:rb"),
        ("_:rb", OWL_ON_PROPERTY, CE + "hasCol"),
        ("_:rb", OWL + "hasValue", CE + "red"),
    ]
    # control: without the disjointness axiom both colors are models —
    # nothing entailed for hasCol
    inferred = _solve_doc(base)
    assert not {t for t in inferred if t[1] == CE + "hasCol"}
    # with the axiom: red is pruned, blue entailed
    inferred = _solve_doc(base + [(CE + "A", OWL + "disjointWith", CE + "B")])
    assert (CE + "x", CE + "hasCol", CE + "blue") in inferred
    assert (CE + "x", CE + "hasCol", CE + "red") not in inferred


def test_disjoint_asserted_both_sides_is_unsat():
    from yamlpyowl_spark.vocab import (
        OWL, RDFS_DOMAIN, RDFS_RANGE,
    )

    rows = [
        *_enum(CE + "Person", CE + "a", CE + "b"),
        (CE + "p", RDF_TYPE, OWL + "FunctionalProperty"),
        (CE + "p", RDFS_DOMAIN, CE + "Person"),
        (CE + "p", RDFS_RANGE, CE + "Person"),
        (CE + "a", RDF_TYPE, CE + "A"),
        (CE + "a", RDF_TYPE, CE + "B"),
        (CE + "A", OWL + "disjointWith", CE + "B"),
    ]
    stats = {}
    _solve_doc(rows, stats=stats)
    assert stats.get("n_models", -1) == 0


def test_disjoint_unknown_membership_never_prunes():
    # B has no enumeration, no assertions and no defining restriction:
    # membership is UNKNOWN for every entity — the axiom must not
    # shrink the model set (three-valued semantics, non-UNA-safe)
    from yamlpyowl_spark.vocab import (
        OWL, RDFS_DOMAIN, RDFS_RANGE,
    )

    base = [
        *_enum(CE + "Person", CE + "a", CE + "b"),
        (CE + "p", RDF_TYPE, OWL + "FunctionalProperty"),
        (CE + "p", RDFS_DOMAIN, CE + "Person"),
        (CE + "p", RDFS_RANGE, CE + "Person"),
        (CE + "a", RDF_TYPE, CE + "A"),
    ]
    stats_base, stats_disj = {}, {}
    _solve_doc(base, stats=stats_base)
    _solve_doc(
        base + [(CE + "A", OWL + "disjointWith", CE + "B")], stats=stats_disj
    )
    assert stats_base["n_models"] > 0
    assert stats_disj["n_models"] == stats_base["n_models"]


def test_property_disjoint_prunes_equal_values_and_entails():
    # p1(x) = red asserted, p1 ⊥p p2 (pairwise or as an n-ary
    # AllDisjointProperties axiom), x under `p2 exactly 1` over
    # {red, blue}: the p2(x) = red model violates disjointness → blue
    from yamlpyowl_spark.vocab import OWL, RDFS_RANGE, RDF_FIRST, RDF_REST, RDF_NIL

    base = [
        *_enum(CE + "Color", CE + "red", CE + "blue"),
        (CE + "p2", RDFS_RANGE, CE + "Color"),
        *_card1(CE + "x", CE + "p2", "_:r"),
        (CE + "x", CE + "p1", CE + "red"),
    ]
    inferred = _solve_doc(base)
    assert not {t for t in inferred if t[1] == CE + "p2"}
    pairwise = [(CE + "p1", OWL + "propertyDisjointWith", CE + "p2")]
    n_ary = [
        ("_:adp", RDF_TYPE, OWL + "AllDisjointProperties"),
        ("_:adp", OWL + "members", "_:m0"),
        ("_:m0", RDF_FIRST, CE + "p1"),
        ("_:m0", RDF_REST, "_:m1"),
        ("_:m1", RDF_FIRST, CE + "p2"),
        ("_:m1", RDF_REST, RDF_NIL),
    ]
    for axiom in (pairwise, n_ary):
        inferred = _solve_doc(base + axiom)
        assert (CE + "x", CE + "p2", CE + "blue") in inferred
        assert (CE + "x", CE + "p2", CE + "red") not in inferred


def test_property_disjoint_asserted_violation_is_unsat():
    from yamlpyowl_spark.vocab import OWL, RDFS_RANGE

    rows = [
        *_enum(CE + "Color", CE + "red", CE + "blue"),
        (CE + "p2", RDFS_RANGE, CE + "Color"),
        *_card1(CE + "x", CE + "p2", "_:r"),
        (CE + "x", CE + "p1", CE + "red"),
        (CE + "x", CE + "p2", CE + "red"),
        (CE + "p1", OWL + "propertyDisjointWith", CE + "p2"),
    ]
    stats = {}
    _solve_doc(rows, stats=stats)
    assert stats.get("n_models", -1) == 0


# ---------------------------------------------------------------------------
# round 6b: hasKey / disjointUnionOf / n-ary axioms / NPA in the CSP
# ---------------------------------------------------------------------------


def _key(cls, *props):
    """RDF-encode `cls owl:hasKey (props)`."""
    from yamlpyowl_spark.vocab import (
        OWL, RDF_FIRST, RDF_REST, RDF_NIL,
    )

    k0 = f"_:k_{cls.rsplit('#', 1)[-1]}0"
    out = [(cls, OWL + "hasKey", k0)]
    for i, p in enumerate(props):
        cur = f"_:k_{cls.rsplit('#', 1)[-1]}{i}"
        nxt = (
            f"_:k_{cls.rsplit('#', 1)[-1]}{i + 1}"
            if i + 1 < len(props)
            else RDF_NIL
        )
        out += [(cur, RDF_FIRST, p), (cur, RDF_REST, nxt)]
    return out


def _alldiff(*members, by="distinctMembers"):
    """RDF-encode `AllDifferent(members)`, the list under `owl:<by>`."""
    from yamlpyowl_spark.vocab import OWL, OWL_ALL_DIFFERENT, RDF_FIRST, RDF_REST, RDF_NIL

    out = [("_:ad", RDF_TYPE, OWL_ALL_DIFFERENT), ("_:ad", OWL + by, "_:ad0")]
    for i, mem in enumerate(members):
        nxt = f"_:ad{i + 1}" if i + 1 < len(members) else RDF_NIL
        out += [(f"_:ad{i}", RDF_FIRST, mem), (f"_:ad{i}", RDF_REST, nxt)]
    return out


def test_haskey_prunes_shared_key_value_and_entails():
    # Person = {x, y} keyed on hasID over ID = {id1, id2}; y hasID id1
    # asserted; x under `hasID exactly 1`; x ≠ y declared. The id1
    # model makes x,y share the key → pruned; entail x hasID id2.
    from yamlpyowl_spark.vocab import OWL, RDFS_RANGE

    base = [
        *_enum(CE + "Person", CE + "x", CE + "y"),
        *_enum(CE + "ID", CE + "id1", CE + "id2"),
        (CE + "hasID", RDFS_RANGE, CE + "ID"),
        *_card1(CE + "x", CE + "hasID", "_:r"),
        (CE + "y", CE + "hasID", CE + "id1"),
        *_key(CE + "Person", CE + "hasID"),
    ]
    # control: without declared difference, x = y is a legal model —
    # nothing entailed (non-UNA)
    inferred = _solve_doc(base)
    assert (CE + "x", CE + "hasID", CE + "id2") not in inferred
    # with AllDifferent(x, y): key forces distinct values
    inferred = _solve_doc(base + _alldiff(CE + "x", CE + "y"))
    assert (CE + "x", CE + "hasID", CE + "id2") in inferred
    assert (CE + "x", CE + "hasID", CE + "id1") not in inferred


def test_haskey_asserted_shared_value_is_unsat():
    # both key facts asserted, zero CSP variables: statically unsat
    stats = {}
    _solve_doc(
        [
            *_enum(CE + "Person", CE + "x", CE + "y"),
            (CE + "x", CE + "hasID", CE + "id1"),
            (CE + "y", CE + "hasID", CE + "id1"),
            *_key(CE + "Person", CE + "hasID"),
            *_alldiff(CE + "x", CE + "y"),
        ],
        stats=stats,
    )
    assert stats["n_models"] == 0


def test_haskey_two_property_key_needs_both_shared():
    # sharing hasID but not hasOrg: no contradiction, models survive
    stats = {}
    _solve_doc(
        [
            *_enum(CE + "Person", CE + "x", CE + "y"),
            (CE + "x", CE + "hasID", CE + "id1"),
            (CE + "y", CE + "hasID", CE + "id1"),
            (CE + "x", CE + "hasOrg", CE + "o1"),
            (CE + "y", CE + "hasOrg", CE + "o2"),
            *_key(CE + "Person", CE + "hasID", CE + "hasOrg"),
            *_alldiff(CE + "x", CE + "y"),
        ],
        stats=stats,
    )
    assert stats["n_models"] > 0


def test_haskey_unknown_membership_never_prunes():
    # y's Person membership is not provable (typed elsewhere): even a
    # shared asserted key value must not prune (three-valued, non-UNA)
    stats = {}
    _solve_doc(
        [
            *_enum(CE + "Person", CE + "x"),
            (CE + "y", RDF_TYPE, CE + "Robot"),
            (CE + "x", CE + "hasID", CE + "id1"),
            (CE + "y", CE + "hasID", CE + "id1"),
            *_key(CE + "Person", CE + "hasID"),
            *_alldiff(CE + "x", CE + "y"),
        ],
        stats=stats,
    )
    assert stats["n_models"] > 0


def test_disjoint_union_prunes_via_pairwise_decomposition():
    # Parent disjointUnionOf (A, B); x asserted in both → unsat
    from yamlpyowl_spark.vocab import (
        OWL, RDF_FIRST, RDF_REST, RDF_NIL, RDFS_DOMAIN, RDFS_RANGE,
    )

    stats = {}
    _solve_doc(
        [
            (CE + "Parent", OWL + "disjointUnionOf", "_:du0"),
            ("_:du0", RDF_FIRST, CE + "A"),
            ("_:du0", RDF_REST, "_:du1"),
            ("_:du1", RDF_FIRST, CE + "B"),
            ("_:du1", RDF_REST, RDF_NIL),
            (CE + "x", RDF_TYPE, CE + "A"),
            (CE + "x", RDF_TYPE, CE + "B"),
        ],
        stats=stats,
    )
    assert stats["n_models"] == 0


def test_all_disjoint_classes_asserted_overlap_is_unsat():
    from yamlpyowl_spark.vocab import (
        OWL, RDF_FIRST, RDF_REST, RDF_NIL,
    )

    stats = {}
    _solve_doc(
        [
            ("_:adc", RDF_TYPE, OWL + "AllDisjointClasses"),
            ("_:adc", OWL + "members", "_:m0"),
            ("_:m0", RDF_FIRST, CE + "A"),
            ("_:m0", RDF_REST, "_:m1"),
            ("_:m1", RDF_FIRST, CE + "B"),
            ("_:m1", RDF_REST, "_:m2"),
            ("_:m2", RDF_FIRST, CE + "C"),
            ("_:m2", RDF_REST, RDF_NIL),
            (CE + "x", RDF_TYPE, CE + "A"),
            (CE + "x", RDF_TYPE, CE + "C"),
        ],
        stats=stats,
    )
    assert stats["n_models"] == 0


def test_npa_asserted_denied_fact_is_unsat():
    from yamlpyowl_spark.vocab import OWL

    stats = {}
    _solve_doc(
        [
            ("_:npa", RDF_TYPE, OWL + "NegativePropertyAssertion"),
            ("_:npa", OWL + "sourceIndividual", CE + "a"),
            ("_:npa", OWL + "assertionProperty", CE + "p"),
            ("_:npa", OWL + "targetIndividual", CE + "b"),
            (CE + "a", CE + "p", CE + "b"),
        ],
        stats=stats,
    )
    assert stats["n_models"] == 0


def test_npa_prunes_model_assignments_and_entails():
    # `p exactly 1` over Val = {v1, v2}; NPA denies p(x, v1) → v2
    from yamlpyowl_spark.vocab import OWL, RDFS_RANGE

    base = [
        *_enum(CE + "Val", CE + "v1", CE + "v2"),
        (CE + "p", RDFS_RANGE, CE + "Val"),
        *_card1(CE + "x", CE + "p", "_:r"),
    ]
    inferred = _solve_doc(base)
    assert (CE + "x", CE + "p", CE + "v2") not in inferred  # control
    inferred = _solve_doc(base + [
        ("_:npa", RDF_TYPE, OWL + "NegativePropertyAssertion"),
        ("_:npa", OWL + "sourceIndividual", CE + "x"),
        ("_:npa", OWL + "assertionProperty", CE + "p"),
        ("_:npa", OWL + "targetIndividual", CE + "v1"),
    ])
    assert (CE + "x", CE + "p", CE + "v2") in inferred


def test_pairwise_differentfrom_prunes_like_alldifferent():
    # r6b: `h1 owl:differentFrom h2` is a 2-member distinctness group —
    # same certain-violation pruning as the AllDifferent axiom form
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ON_PROPERTY, RDFS_RANGE,
    )

    base = [
        *_enum(CE + "Man", CE + "m"),
        *_enum(CE + "House", CE + "h1", CE + "h2"),
        (CE + "q", RDFS_RANGE, CE + "House"),
        (CE + "m", CE + "q", CE + "h1"),
        (CE + "m", CE + "q", CE + "h2"),
        (CE + "m", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "q"),
        ("_:r", OWL + "maxCardinality", "1"),
    ]
    stats = {}
    _solve_doc(base + [(CE + "h1", OWL + "differentFrom", CE + "h2")], stats=stats)
    assert stats.get("n_models", -1) == 0
    # an AllDifferent axiom may list its members with owl:members
    # instead of owl:distinctMembers
    stats_members = {}
    _solve_doc(base + _alldiff(CE + "h1", CE + "h2", by="members"), stats=stats_members)
    assert stats_members.get("n_models", -1) == 0
    stats2 = {}
    _solve_doc(base, stats=stats2)
    assert stats2.get("n_models", 0) > 0


# ---------------------------------------------------------------------------
# r6c: facet-constrained data ranges enter the CSP (operators/facets)
# ---------------------------------------------------------------------------

XSD_NS = "http://www.w3.org/2001/XMLSchema#"


def _facet_range(node, base, facet_rows):
    """Entity rows + literal rows for `node onDatatype base;
    withRestrictions (...)` — returns (ent_rows, lit_rows)."""
    from yamlpyowl_spark.vocab import OWL, RDF_FIRST, RDF_REST, RDF_NIL

    ent = [
        (node, OWL + "onDatatype", base),
        (node, OWL + "withRestrictions", node + "_l0"),
    ]
    lit = []
    for i, (facet, bound) in enumerate(facet_rows):
        nxt = node + f"_l{i + 1}" if i + 1 < len(facet_rows) else RDF_NIL
        ent += [
            (node + f"_l{i}", RDF_FIRST, node + f"_f{i}"),
            (node + f"_l{i}", RDF_REST, nxt),
        ]
        lit.append((node + f"_f{i}", facet, bound))
    return ent, lit


def _csp_scaffold():
    """A minimal var-bearing doc so _solve_doc actually searches."""
    from yamlpyowl_spark.vocab import OWL, RDFS_DOMAIN, RDFS_RANGE

    return [
        *_enum(CE + "Person", CE + "a", CE + "b"),
        (CE + "p", RDF_TYPE, OWL + "FunctionalProperty"),
        (CE + "p", RDFS_DOMAIN, CE + "Person"),
        (CE + "p", RDFS_RANGE, CE + "Person"),
    ]


def test_avf_facet_violation_prunes_all_models():
    # x typed by [∀hasAge.(integer < 65)] with hasAge "70": the data
    # value is outside the range in EVERY model → unsat (Pellet raises)
    from yamlpyowl_spark.vocab import OWL, OWL_ON_PROPERTY
    from yamlpyowl_spark.operators.dlreason import _solve_doc

    ent_r, lit_r = _facet_range("_:dr", XSD_NS + "integer",
                                [(XSD_NS + "maxExclusive", "65")])
    rows = [
        *_csp_scaffold(),
        (CE + "x", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "hasAge"),
        ("_:r", OWL + "allValuesFrom", "_:dr"),
        *ent_r,
    ]
    stats = {}
    _solve_doc(rows, stats=stats, lit_rows=lit_r + [(CE + "x", CE + "hasAge", "70")])
    assert stats["n_models"] == 0
    stats = {}
    _solve_doc(rows, stats=stats, lit_rows=lit_r + [(CE + "x", CE + "hasAge", "30")])
    assert stats["n_models"] > 0


def test_svf_facet_witness_decides_models():
    # x typed by [∃hasAge.(integer ≥ 18)]: "30" witnesses (models
    # survive); "7" fails and the conservative dialect withholds models
    from yamlpyowl_spark.vocab import OWL, OWL_ON_PROPERTY, OWL_SOME_VALUES_FROM
    from yamlpyowl_spark.operators.dlreason import _solve_doc

    ent_r, lit_r = _facet_range("_:dr", XSD_NS + "integer",
                                [(XSD_NS + "minInclusive", "18")])
    rows = [
        *_csp_scaffold(),
        (CE + "x", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "hasAge"),
        ("_:r", OWL_SOME_VALUES_FROM, "_:dr"),
        *ent_r,
    ]
    stats = {}
    _solve_doc(rows, stats=stats, lit_rows=lit_r + [(CE + "x", CE + "hasAge", "30")])
    assert stats["n_models"] > 0
    stats = {}
    _solve_doc(rows, stats=stats, lit_rows=lit_r + [(CE + "x", CE + "hasAge", "7")])
    assert stats["n_models"] == 0


def test_max_qualified_data_range_counts_canonical_values():
    # [hasAge max 1 over (integer ≥ 0)]: "30" + "40" = two provably
    # different in-range values → unsat; "30" + "30.00" denote ONE
    # canonical value → fine
    from yamlpyowl_spark.vocab import OWL, OWL_ON_PROPERTY
    from yamlpyowl_spark.operators.dlreason import _solve_doc

    ent_r, lit_r = _facet_range("_:dr", XSD_NS + "integer",
                                [(XSD_NS + "minInclusive", "0")])
    rows = [
        *_csp_scaffold(),
        (CE + "x", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, CE + "hasAge"),
        ("_:r", OWL + "onDataRange", "_:dr"),
    ]
    lit_card = [("_:r", OWL + "maxQualifiedCardinality", "1")]
    rows_full = rows + ent_r
    stats = {}
    _solve_doc(rows_full, stats=stats, lit_rows=lit_r + lit_card + [
        (CE + "x", CE + "hasAge", "30"), (CE + "x", CE + "hasAge", "40")])
    assert stats["n_models"] == 0
    stats = {}
    _solve_doc(rows_full, stats=stats, lit_rows=lit_r + lit_card + [
        (CE + "x", CE + "hasAge", "30"), (CE + "x", CE + "hasAge", "30.00")])
    assert stats["n_models"] > 0


def test_parseable_facet_range_not_flagged_unparseable_still_is(spark):
    # a decodable range produces NO dlUnsupportedConstruct diagnostic;
    # an unknown facet on the same shape still flags loudly
    from yamlpyowl_spark.vocab import OWL
    from yamlpyowl_spark.operators.dlreason import YPO_DL_UNSUPPORTED, dl_model_search

    E2 = "http://ex.org/facetdoc#"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")

    def doc(facet):
        return [
            ("_:dr", OWL + "onDatatype", XSD_NS + "integer", False, None, E2),
            ("_:dr", OWL + "withRestrictions", "_:l0", False, None, E2),
            ("_:l0", "http://www.w3.org/1999/02/22-rdf-syntax-ns#first", "_:f0", False, None, E2),
            ("_:l0", "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest",
             "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil", False, None, E2),
            ("_:f0", facet, "18", True, None, E2),
        ]

    ok = dl_model_search(spark.createDataFrame(doc(XSD_NS + "minInclusive"), schema)).collect()
    assert not [r for r in ok if r["pred"] == YPO_DL_UNSUPPORTED]
    bad = dl_model_search(spark.createDataFrame(doc(XSD_NS + "totalDigits"), schema)).collect()
    flagged = {r["obj"] for r in bad if r["pred"] == YPO_DL_UNSUPPORTED}
    assert flagged == {OWL + "onDatatype", OWL + "withRestrictions"}


def test_backtracking_recheck_after_prune():
    """r7 watched-constraint regression: the hasValue constraint on
    `a` fails for the first candidate (h1) and must be RE-evaluated
    (not treated as cached-clean) after the backtrack assigns h2;
    injectivity then pins b away from h2. Exact model set asserted —
    a stale-verdict bug would add or drop a model."""
    from yamlpyowl_spark.vocab import (
        OWL, OWL_ALL_DIFFERENT, OWL_DISTINCT_MEMBERS, OWL_FUNCTIONAL,
        OWL_HAS_VALUE, OWL_INVERSE_FUNCTIONAL, OWL_ON_PROPERTY, OWL_NOTHING,
        RDF_FIRST, RDF_NIL, RDF_REST, RDFS_DOMAIN, RDFS_RANGE,
    )

    P = CE + "p"
    rows = [
        *_enum(CE + "Man", CE + "a", CE + "b"),
        *_enum(CE + "House", CE + "h1", CE + "h2"),
        (P, RDF_TYPE, OWL_FUNCTIONAL),
        (P, RDF_TYPE, OWL_INVERSE_FUNCTIONAL),
        (P, RDFS_DOMAIN, CE + "Man"),
        (P, RDFS_RANGE, CE + "House"),
        (CE + "a", RDF_TYPE, "_:r"),
        ("_:r", OWL_ON_PROPERTY, P),
        ("_:r", OWL_HAS_VALUE, CE + "h2"),
        ("_:ad", RDF_TYPE, OWL_ALL_DIFFERENT),
        ("_:ad", OWL_DISTINCT_MEMBERS, "_:adl0"),
        ("_:adl0", RDF_FIRST, CE + "a"), ("_:adl0", RDF_REST, "_:adl1"),
        ("_:adl1", RDF_FIRST, CE + "b"), ("_:adl1", RDF_REST, RDF_NIL),
    ]
    stats = {}
    inferred = _solve_doc(rows, stats=stats, max_models=50)
    got_models = {
        tuple(sorted((k, v) for k, v in mdl.items())) for mdl in stats["models"]
    }
    va, vb = (P, CE + "a"), (P, CE + "b")
    want_models = {
        tuple(sorted([(va, CE + "h2"), (vb, CE + "h1")])),
        tuple(sorted([(va, CE + "h2"), (vb, OWL_NOTHING)])),
    }
    assert got_models == want_models
    assert (CE + "a", P, CE + "h2") in inferred
    assert (CE + "b", P, CE + "h1") not in inferred
