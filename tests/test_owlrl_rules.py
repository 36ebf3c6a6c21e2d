"""Pure-Python unit tests for the OWL-RL per-document rule engine
(operators/owlrl._infer_doc): property rules prp-trp / prp-symp /
prp-inv / prp-spo1 run to a joint fixpoint, then domain/range typing
(prp-dom / prp-rng) over the final fact base. No Spark session needed
— the distributed wrapper (applyInPandas) is gated separately by the
kg_owlrl_inferences / kg_owlrl_prop_rules driver oracles."""

from yamlpyowl_spark import vocab as V
from yamlpyowl_spark.operators.owlrl import _infer_doc

E = "http://ex.org/"
OWL = "http://www.w3.org/2002/07/owl#"


def rows(*triples):
    return [(s, p, o, il) for s, p, o, il in triples]


def T(s, p, o, il=False):
    return (s, p, o, il)


def test_prp_trp_transitive_closure():
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, V.OWL_TRANSITIVE),
        T(E + "a", E + "p", E + "b"),
        T(E + "b", E + "p", E + "c"),
        T(E + "c", E + "p", E + "d"),
    ))
    assert {(s, o) for s, p, o, _ in got if p == E + "p"} == {
        (E + "a", E + "c"), (E + "a", E + "d"), (E + "b", E + "d"),
    }


def test_prp_symp():
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, V.OWL_SYMMETRIC),
        T(E + "a", E + "p", E + "b"),
    ))
    assert (E + "b", E + "p", E + "a", False) in got


def test_prp_inv_both_directions():
    got = _infer_doc(rows(
        T(E + "p", V.OWL_INVERSE_OF, E + "q"),
        T(E + "a", E + "p", E + "b"),
        T(E + "x", E + "q", E + "y"),
    ))
    assert (E + "b", E + "q", E + "a", False) in got
    assert (E + "y", E + "p", E + "x", False) in got


def test_inverse_of_transitive_gets_transposed_closure():
    # the joint fixpoint: q receives the transpose of p's CLOSURE,
    # not just of its asserted edges
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, V.OWL_TRANSITIVE),
        T(E + "p", V.OWL_INVERSE_OF, E + "q"),
        T(E + "a", E + "p", E + "b"),
        T(E + "b", E + "p", E + "c"),
    ))
    assert (E + "c", E + "q", E + "a", False) in got


def test_prp_spo1_propagates_literals():
    got = _infer_doc(rows(
        T(E + "nick", V.RDFS_SUBPROPERTYOF, E + "label"),
        T(E + "a", E + "nick", "Al", True),
    ))
    assert (E + "a", E + "label", "Al", True) in got


def test_spo1_chain_closed():
    got = _infer_doc(rows(
        T(E + "p1", V.RDFS_SUBPROPERTYOF, E + "p2"),
        T(E + "p2", V.RDFS_SUBPROPERTYOF, E + "p3"),
        T(E + "a", E + "p1", E + "b"),
    ))
    preds = {p for _, p, _, _ in got}
    assert {E + "p2", E + "p3"} <= preds


def test_symmetric_and_transitive_on_literal_facts_skipped():
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, V.OWL_SYMMETRIC),
        T(E + "p", V.RDF_TYPE, V.OWL_TRANSITIVE),
        T(E + "a", E + "p", "lit", True),
    ))
    assert not {t for t in got if t[1] == E + "p"}


def test_prp_dom_rng_typing():
    got = _infer_doc(rows(
        T(E + "p", V.RDFS_DOMAIN, E + "D"),
        T(E + "p", V.RDFS_RANGE, E + "R"),
        T(E + "a", E + "p", E + "b"),
    ))
    assert (E + "a", V.RDF_TYPE, E + "D", False) in got
    assert (E + "b", V.RDF_TYPE, E + "R", False) in got


def test_dom_rng_fire_on_rule_derived_facts():
    # typing runs AFTER the property fixpoint: the transitively derived
    # a-p-c fact types c even though only b was a direct object... and
    # the inverse-derived facts type their subjects
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, V.OWL_TRANSITIVE),
        T(E + "p", V.RDFS_RANGE, E + "R"),
        T(E + "a", E + "p", E + "b"),
        T(E + "b", E + "p", E + "c"),
    ))
    assert (E + "c", V.RDF_TYPE, E + "R", False) in got


def test_dom_rng_skips_asserted_types_thing_and_datatypes():
    got = _infer_doc(rows(
        T(E + "p", V.RDFS_DOMAIN, E + "D"),
        T(E + "q", V.RDFS_DOMAIN, V.OWL_THING),
        T(E + "d", V.RDFS_RANGE, V.XSD + "integer"),
        T(E + "a", V.RDF_TYPE, E + "D"),
        T(E + "a", E + "p", E + "b"),
        T(E + "a", E + "q", E + "b"),
        T(E + "a", E + "d", "5", True),
    ))
    types = {t for t in got if t[1] == V.RDF_TYPE}
    assert not types  # already-typed, owl:Thing, and datatype ranges


def test_or_domain_blank_node_never_flattened():
    got = _infer_doc(rows(
        T(E + "p", V.RDFS_DOMAIN, "_:or1"),
        T(E + "a", E + "p", E + "b"),
    ))
    assert not {t for t in got if t[1] == V.RDF_TYPE}


def test_no_axioms_no_property_inferences():
    got = _infer_doc(rows(T(E + "a", E + "p", E + "b")))
    assert got == set()


def test_cax_sco_type_inheritance():
    got = _infer_doc(rows(
        T(E + "City", V.RDFS_SUBCLASSOF, E + "Geo"),
        T(E + "Geo", V.RDFS_SUBCLASSOF, E + "Entity"),
        T(E + "dresden", V.RDF_TYPE, E + "City"),
    ))
    assert (E + "dresden", V.RDF_TYPE, E + "Geo", False) in got
    assert (E + "dresden", V.RDF_TYPE, E + "Entity", False) in got


def test_cax_sco_lifts_inferred_types():
    # a range-typed object inherits through the subclass graph too
    got = _infer_doc(rows(
        T(E + "p", V.RDFS_RANGE, E + "City"),
        T(E + "City", V.RDFS_SUBCLASSOF, E + "Geo"),
        T(E + "a", E + "p", E + "b"),
    ))
    assert (E + "b", V.RDF_TYPE, E + "City", False) in got
    assert (E + "b", V.RDF_TYPE, E + "Geo", False) in got


def test_cax_sco_skips_asserted_vocab_and_thing():
    got = _infer_doc(rows(
        T(E + "City", V.RDFS_SUBCLASSOF, V.OWL_THING),
        T(E + "dresden", V.RDF_TYPE, E + "City"),
        T(E + "dresden", V.RDF_TYPE, V.OWL + "NamedIndividual"),
    ))
    assert not {t for t in got if t[1] == V.RDF_TYPE}


def test_cax_eqc_types_across_equivalence():
    got = _infer_doc(rows(
        T(E + "C", OWL + "equivalentClass", E + "D"),
        T(E + "D", V.RDFS_SUBCLASSOF, E + "Sup"),
        T(E + "x", V.RDF_TYPE, E + "C"),
    ))
    # membership crosses the equivalence AND inherits from there
    assert (E + "x", V.RDF_TYPE, E + "D", False) in got
    assert (E + "x", V.RDF_TYPE, E + "Sup", False) in got


# ---------------------------------------------------------------------------
# round 5: prp-spo2 (property chains) + cax-sco over inferred subclass edges
# ---------------------------------------------------------------------------


def _chain(p, *steps):
    """RDF-encode `p owl:propertyChainAxiom (steps...)`."""
    out = [T(p, OWL + "propertyChainAxiom", "_:c0")]
    for i, s in enumerate(steps):
        out.append(("_:c%d" % i, V.RDF + "first", s, False))
        rest = "_:c%d" % (i + 1) if i + 1 < len(steps) else V.RDF_NIL
        out.append(("_:c%d" % i, V.RDF + "rest", rest, False))
    return out


def test_prp_spo2_two_step_chain():
    # uncle: brother ∘ father⁻¹?  keep it simple: hasGrandparent =
    # hasParent ∘ hasParent
    got = _infer_doc(rows(
        *_chain(E + "hasGrandparent", E + "hasParent", E + "hasParent"),
        T(E + "a", E + "hasParent", E + "b"),
        T(E + "b", E + "hasParent", E + "c"),
        T(E + "b", E + "hasParent", E + "d"),
    ))
    gp = {(s, o) for s, p, o, _ in got if p == E + "hasGrandparent"}
    assert gp == {(E + "a", E + "c"), (E + "a", E + "d")}


def test_prp_spo2_three_step_chain():
    got = _infer_doc(rows(
        *_chain(E + "ggp", E + "hasParent", E + "hasParent", E + "hasParent"),
        T(E + "a", E + "hasParent", E + "b"),
        T(E + "b", E + "hasParent", E + "c"),
        T(E + "c", E + "hasParent", E + "d"),
    ))
    assert (E + "a", E + "ggp", E + "d", False) in got


def test_prp_spo2_composes_with_other_rules_in_fixpoint():
    # the chain consumes facts produced by prp-inv: q = inverse of p,
    # chain r = q ∘ q fires over INFERRED q edges
    got = _infer_doc(rows(
        *_chain(E + "r", E + "q", E + "q"),
        T(E + "p", V.OWL_INVERSE_OF, E + "q"),
        T(E + "a", E + "p", E + "b"),
        T(E + "b", E + "p", E + "c"),
    ))
    # inv: c-q-b, b-q-a → chain: c-r-a
    assert (E + "c", E + "r", E + "a", False) in got


def test_prp_spo2_chain_then_transitive():
    # facts produced by a chain feed a transitive target property
    got = _infer_doc(rows(
        *_chain(E + "anc", E + "hasParent", E + "hasParent"),
        T(E + "anc", V.RDF_TYPE, V.OWL_TRANSITIVE),
        T(E + "a", E + "hasParent", E + "b"),
        T(E + "b", E + "hasParent", E + "c"),
        T(E + "c", E + "hasParent", E + "d"),
        T(E + "d", E + "hasParent", E + "e"),
    ))
    anc = {(s, o) for s, p, o, _ in got if p == E + "anc"}
    # chain gives a-c, b-d, c-e; transitivity composes a-e
    assert {(E + "a", E + "c"), (E + "b", E + "d"), (E + "c", E + "e"),
            (E + "a", E + "e")} <= anc


def test_prp_spo2_literals_never_chain():
    got = _infer_doc(rows(
        *_chain(E + "r", E + "p", E + "q"),
        T(E + "a", E + "p", E + "b"),
        T(E + "b", E + "q", "lit", True),
    ))
    assert not {t for t in got if t[1] == E + "r"}


def test_cax_sco_lifts_through_inferred_subclass_edge():
    # domain subsumption infers C ⊑ D (C ≡ ∃p.Thing, domain(p)=D);
    # an individual typed C must then ALSO be typed D (r4 advice #4:
    # inferred subclass edges join the closure graph)
    got = _infer_doc(rows(
        T(E + "C", OWL + "equivalentClass", "_:r0"),
        ("_:r0", OWL + "onProperty", E + "p", False),
        ("_:r0", OWL + "someValuesFrom", OWL + "Thing", False),
        T(E + "p", V.RDFS_DOMAIN, E + "D"),
        T(E + "x", V.RDF_TYPE, E + "C"),
        T(E + "x", V.RDF_TYPE, OWL + "NamedIndividual"),
    ))
    assert (E + "C", V.RDFS_SUBCLASSOF, E + "D", False) in got
    assert (E + "x", V.RDF_TYPE, E + "D", False) in got


def test_prp_eqp_facts_flow_both_ways():
    got = _infer_doc(rows(
        T(E + "p", OWL + "equivalentProperty", E + "q"),
        T(E + "a", E + "p", E + "b"),
        T(E + "x", E + "q", E + "y"),
    ))
    assert (E + "a", E + "q", E + "b", False) in got
    assert (E + "x", E + "p", E + "y", False) in got


def test_prp_eqp_chains_with_subproperty():
    # p ≡ q, q ⊑ r: p-facts reach r through the mixed chain
    got = _infer_doc(rows(
        T(E + "p", OWL + "equivalentProperty", E + "q"),
        T(E + "q", V.RDFS_SUBPROPERTYOF, E + "r"),
        T(E + "a", E + "p", E + "b"),
    ))
    assert (E + "a", E + "r", E + "b", False) in got


def test_prp_eqp_propagates_literals():
    got = _infer_doc(rows(
        T(E + "nick", OWL + "equivalentProperty", E + "alias"),
        T(E + "a", E + "nick", "Al", True),
    ))
    assert (E + "a", E + "alias", "Al", True) in got


def test_cax_dw_disjoint_violation_diagnostics():
    # x typed both C and D with C disjointWith D: loud diagnostics,
    # checked over the final (post-inheritance) type set
    got = _infer_doc(rows(
        T(E + "C", OWL + "disjointWith", E + "D"),
        T(E + "SubC", V.RDFS_SUBCLASSOF, E + "C"),
        T(E + "x", V.RDF_TYPE, E + "SubC"),
        T(E + "x", V.RDF_TYPE, E + "D"),
        T(E + "x", V.RDF_TYPE, OWL + "NamedIndividual"),
    ))
    assert (E + "x", V.YPO + "disjointViolation", E + "C", False) in got
    assert (E + "x", V.YPO + "disjointViolation", E + "D", False) in got


def test_cax_dw_no_violation_no_diagnostics():
    got = _infer_doc(rows(
        T(E + "C", OWL + "disjointWith", E + "D"),
        T(E + "x", V.RDF_TYPE, E + "C"),
        T(E + "y", V.RDF_TYPE, E + "D"),
    ))
    assert not {t for t in got if t[1] == V.YPO + "disjointViolation"}


# ---------------------------------------------------------------------------
# r6: property-consistency diagnostics prp-irp / prp-asyp / prp-pdw
# ---------------------------------------------------------------------------


def test_prp_irp_self_loop_diagnostic():
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, OWL + "IrreflexiveProperty"),
        T(E + "a", E + "p", E + "a"),
        T(E + "b", E + "p", E + "c"),
    ))
    assert (E + "a", V.YPO + "propertyViolation", E + "p", False) in got
    assert not {
        t for t in got
        if t[1] == V.YPO + "propertyViolation" and t[0] != E + "a"
    }


def test_prp_irp_catches_fixpoint_derived_loop():
    # the self-loop arrives via SYMMETRY (a p b, b p a asserted? no —
    # via inverseOf propagation): q(a,a) asserted, p inverseOf q gives
    # p(a,a) — the check runs POST-fixpoint, so it sees it
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, OWL + "IrreflexiveProperty"),
        T(E + "p", V.OWL_INVERSE_OF, E + "q"),
        T(E + "a", E + "q", E + "a"),
    ))
    assert (E + "a", V.YPO + "propertyViolation", E + "p", False) in got


def test_prp_asyp_reverse_pair_diagnostic():
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, OWL + "AsymmetricProperty"),
        T(E + "a", E + "p", E + "b"),
        T(E + "b", E + "p", E + "a"),
        T(E + "c", E + "p", E + "d"),
    ))
    assert (E + "a", V.YPO + "propertyViolation", E + "p", False) in got
    assert (E + "b", V.YPO + "propertyViolation", E + "p", False) in got
    assert (E + "c", V.YPO + "propertyViolation", E + "p", False) not in got


def test_prp_pdw_disjoint_properties_diagnostic():
    got = _infer_doc(rows(
        T(E + "p1", OWL + "propertyDisjointWith", E + "p2"),
        T(E + "a", E + "p1", E + "b"),
        T(E + "a", E + "p2", E + "b"),
        T(E + "x", E + "p1", E + "y"),
    ))
    assert (E + "a", V.YPO + "propertyViolation", E + "p1", False) in got
    assert (E + "a", V.YPO + "propertyViolation", E + "p2", False) in got
    assert not {
        t for t in got
        if t[1] == V.YPO + "propertyViolation" and t[0] == E + "x"
    }


def test_no_property_violations_no_diagnostics():
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, OWL + "IrreflexiveProperty"),
        T(E + "p", V.RDF_TYPE, OWL + "AsymmetricProperty"),
        T(E + "a", E + "p", E + "b"),
    ))
    assert not {t for t in got if t[1] == V.YPO + "propertyViolation"}


# ---------------------------------------------------------------------------
# round 6b: prp-key / sameAs closure, disjointUnionOf, n-ary axioms, NPA
# ---------------------------------------------------------------------------


def test_prp_key_infers_same_as():
    key_list = [
        T("_:k0", V.RDF + "first", E + "ssn"),
        T("_:k0", V.RDF + "rest", V.RDF + "nil"),
    ]
    got = _infer_doc(rows(
        T(E + "Person", OWL + "hasKey", "_:k0"),
        *key_list,
        T(E + "a", V.RDF_TYPE, E + "Person"),
        T(E + "b", V.RDF_TYPE, E + "Person"),
        T(E + "a", E + "ssn", "123", True),
        T(E + "b", E + "ssn", "123", True),
    ))
    assert (E + "a", OWL + "sameAs", E + "b", False) in got
    assert (E + "b", OWL + "sameAs", E + "a", False) in got


def test_prp_key_requires_all_key_properties_shared():
    # two-property key: sharing only one of them is NOT a match
    got = _infer_doc(rows(
        T(E + "Person", OWL + "hasKey", "_:k0"),
        T("_:k0", V.RDF + "first", E + "ssn"),
        T("_:k0", V.RDF + "rest", "_:k1"),
        T("_:k1", V.RDF + "first", E + "dob"),
        T("_:k1", V.RDF + "rest", V.RDF + "nil"),
        T(E + "a", V.RDF_TYPE, E + "Person"),
        T(E + "b", V.RDF_TYPE, E + "Person"),
        T(E + "a", E + "ssn", "123", True),
        T(E + "b", E + "ssn", "123", True),
        T(E + "a", E + "dob", "1990", True),
        T(E + "b", E + "dob", "1991", True),
    ))
    assert not {t for t in got if t[1] == OWL + "sameAs"}


def test_prp_key_scoped_to_the_key_class():
    # same ssn but only one of the pair is in the keyed class
    got = _infer_doc(rows(
        T(E + "Person", OWL + "hasKey", "_:k0"),
        T("_:k0", V.RDF + "first", E + "ssn"),
        T("_:k0", V.RDF + "rest", V.RDF + "nil"),
        T(E + "a", V.RDF_TYPE, E + "Person"),
        T(E + "b", V.RDF_TYPE, E + "Robot"),
        T(E + "a", E + "ssn", "123", True),
        T(E + "b", E + "ssn", "123", True),
    ))
    assert not {t for t in got if t[1] == OWL + "sameAs"}


def test_prp_key_cascades_through_merges():
    # merging a,b (shared ssn) completes the entity-valued key overlap
    # of x,y: x worksAt a / y worksAt b only match AFTER a=b
    got = _infer_doc(rows(
        T(E + "Person", OWL + "hasKey", "_:k0"),
        T("_:k0", V.RDF + "first", E + "ssn"),
        T("_:k0", V.RDF + "rest", V.RDF + "nil"),
        T(E + "Emp", OWL + "hasKey", "_:k2"),
        T("_:k2", V.RDF + "first", E + "worksAt"),
        T("_:k2", V.RDF + "rest", V.RDF + "nil"),
        T(E + "a", V.RDF_TYPE, E + "Person"),
        T(E + "b", V.RDF_TYPE, E + "Person"),
        T(E + "a", E + "ssn", "123", True),
        T(E + "b", E + "ssn", "123", True),
        T(E + "x", V.RDF_TYPE, E + "Emp"),
        T(E + "y", V.RDF_TYPE, E + "Emp"),
        T(E + "x", E + "worksAt", E + "a"),
        T(E + "y", E + "worksAt", E + "b"),
    ))
    assert (E + "x", OWL + "sameAs", E + "y", False) in got


def test_same_as_eq_rep_replicates_facts_and_types():
    got = _infer_doc(rows(
        T(E + "a", OWL + "sameAs", E + "b"),
        T(E + "a", V.RDF_TYPE, E + "C"),
        T(E + "a", E + "p", E + "v"),
        T(E + "w", E + "q", E + "b"),
    ))
    assert (E + "b", OWL + "sameAs", E + "a", False) in got  # eq-sym
    assert (E + "b", V.RDF_TYPE, E + "C", False) in got
    assert (E + "b", E + "p", E + "v", False) in got  # eq-rep-s
    assert (E + "w", E + "q", E + "a", False) in got  # eq-rep-o


def test_same_as_transitive_clique():
    got = _infer_doc(rows(
        T(E + "a", OWL + "sameAs", E + "b"),
        T(E + "b", OWL + "sameAs", E + "c"),
    ))
    assert (E + "a", OWL + "sameAs", E + "c", False) in got
    assert (E + "c", OWL + "sameAs", E + "a", False) in got


def test_disjoint_union_decomposes_to_subclass_and_disjoint():
    got = _infer_doc(rows(
        T(E + "Parent", OWL + "disjointUnionOf", "_:l0"),
        T("_:l0", V.RDF + "first", E + "A"),
        T("_:l0", V.RDF + "rest", "_:l1"),
        T("_:l1", V.RDF + "first", E + "B"),
        T("_:l1", V.RDF + "rest", V.RDF + "nil"),
        T(E + "x", V.RDF_TYPE, E + "A"),
        T(E + "y", V.RDF_TYPE, E + "A"),
        T(E + "y", V.RDF_TYPE, E + "B"),
    ))
    # Ci ⊑ C edges materialized and cax-sco lifts members into Parent
    assert (E + "A", V.RDFS_SUBCLASSOF, E + "Parent", False) in got
    assert (E + "x", V.RDF_TYPE, E + "Parent", False) in got
    # pairwise disjointness diagnosed on the double member
    assert (E + "y", V.YPO + "disjointViolation", E + "A", False) in got
    assert (E + "y", V.YPO + "disjointViolation", E + "B", False) in got
    # the clean member draws no violation
    assert not {t for t in got if t[0] == E + "x" and "Violation" in t[1]}


def test_all_disjoint_classes_pairwise():
    got = _infer_doc(rows(
        T("_:adc", V.RDF_TYPE, OWL + "AllDisjointClasses"),
        T("_:adc", OWL + "members", "_:m0"),
        T("_:m0", V.RDF + "first", E + "A"),
        T("_:m0", V.RDF + "rest", "_:m1"),
        T("_:m1", V.RDF + "first", E + "B"),
        T("_:m1", V.RDF + "rest", "_:m2"),
        T("_:m2", V.RDF + "first", E + "C"),
        T("_:m2", V.RDF + "rest", V.RDF + "nil"),
        T(E + "x", V.RDF_TYPE, E + "A"),
        T(E + "x", V.RDF_TYPE, E + "C"),
    ))
    assert (E + "x", V.YPO + "disjointViolation", E + "A", False) in got
    assert (E + "x", V.YPO + "disjointViolation", E + "C", False) in got


def test_all_disjoint_properties_pairwise():
    got = _infer_doc(rows(
        T("_:adp", V.RDF_TYPE, OWL + "AllDisjointProperties"),
        T("_:adp", OWL + "members", "_:m0"),
        T("_:m0", V.RDF + "first", E + "p"),
        T("_:m0", V.RDF + "rest", "_:m1"),
        T("_:m1", V.RDF + "first", E + "q"),
        T("_:m1", V.RDF + "rest", V.RDF + "nil"),
        T(E + "x", E + "p", E + "v"),
        T(E + "x", E + "q", E + "v"),
    ))
    assert (E + "x", V.YPO + "propertyViolation", E + "p", False) in got
    assert (E + "x", V.YPO + "propertyViolation", E + "q", False) in got


def test_negative_property_assertion_violation():
    got = _infer_doc(rows(
        T("_:npa", V.RDF_TYPE, OWL + "NegativePropertyAssertion"),
        T("_:npa", OWL + "sourceIndividual", E + "a"),
        T("_:npa", OWL + "assertionProperty", E + "p"),
        T("_:npa", OWL + "targetIndividual", E + "b"),
        T(E + "a", E + "p", E + "b"),
    ))
    assert (E + "a", V.YPO + "propertyViolation", E + "p", False) in got
    # a data NPA names its denied literal with owl:targetValue
    got = _infer_doc(rows(
        T("_:npa", V.RDF_TYPE, OWL + "NegativePropertyAssertion"),
        T("_:npa", OWL + "sourceIndividual", E + "a"),
        T("_:npa", OWL + "assertionProperty", E + "age"),
        T("_:npa", OWL + "targetValue", "42", True),
        T(E + "a", E + "age", "42", True),
    ))
    assert (E + "a", V.YPO + "propertyViolation", E + "age", False) in got


def test_negative_property_assertion_catches_derived_fact():
    # denied fact arrives via inverseOf propagation, not assertion
    got = _infer_doc(rows(
        T("_:npa", V.RDF_TYPE, OWL + "NegativePropertyAssertion"),
        T("_:npa", OWL + "sourceIndividual", E + "a"),
        T("_:npa", OWL + "assertionProperty", E + "p"),
        T("_:npa", OWL + "targetIndividual", E + "b"),
        T(E + "p", V.OWL_INVERSE_OF, E + "q"),
        T(E + "b", E + "q", E + "a"),
    ))
    assert (E + "a", V.YPO + "propertyViolation", E + "p", False) in got


def test_negative_property_assertion_no_violation_when_absent():
    got = _infer_doc(rows(
        T("_:npa", V.RDF_TYPE, OWL + "NegativePropertyAssertion"),
        T("_:npa", OWL + "sourceIndividual", E + "a"),
        T("_:npa", OWL + "assertionProperty", E + "p"),
        T("_:npa", OWL + "targetIndividual", E + "b"),
        T(E + "a", E + "p", E + "c"),
    ))
    assert not {t for t in got if "Violation" in t[1]}


# ---- r6b: RL-profile completion (prp-fp/ifp, cls-*, scm-*, eq-diff1) ----

from yamlpyowl_spark.operators.owlrl import infer_doc_fixpoint


def rdflist(tag, *items):
    out = []
    for i, it in enumerate(items):
        node = f"_:{tag}{i}"
        nxt = f"_:{tag}{i + 1}" if i + 1 < len(items) else V.RDF_NIL
        out.append(T(node, V.RDF_FIRST, it))
        out.append(T(node, V.RDF_REST, nxt))
    return out


def test_prp_fp_merges_entity_values():
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, V.OWL_FUNCTIONAL),
        T(E + "a", E + "p", E + "b"),
        T(E + "a", E + "p", E + "c"),
        T(E + "b", E + "q", E + "v"),
    ))
    assert (E + "b", OWL + "sameAs", E + "c", False) in got
    assert (E + "c", OWL + "sameAs", E + "b", False) in got
    # eq-rep: the merged twin shares b's facts
    assert (E + "c", E + "q", E + "v", False) in got


def test_prp_fp_skips_literal_values():
    # two lexical forms may denote one value — never merged, never
    # diagnosed (documented boundary)
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, V.OWL_FUNCTIONAL),
        T(E + "a", E + "p", "1", True),
        T(E + "a", E + "p", "1.0", True),
    ))
    assert not {t for t in got if t[1] == OWL + "sameAs"}
    assert not {t for t in got if "Violation" in t[1]}


def test_prp_ifp_merges_subjects():
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, V.OWL_INVERSE_FUNCTIONAL),
        T(E + "a", E + "p", "mail@x.org", True),
        T(E + "b", E + "p", "mail@x.org", True),
    ))
    assert (E + "a", OWL + "sameAs", E + "b", False) in got


def test_cls_hv1_subclass_direction_feeds_property_fixpoint():
    # C ⊑ hasValue(p, v); x ∈ C ⇒ p(x, v); p symmetric ⇒ p(v, x) too
    got = _infer_doc(rows(
        T(E + "C", V.RDFS_SUBCLASSOF, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "p"),
        T("_:r", V.OWL_HAS_VALUE, E + "v"),
        T(E + "p", V.RDF_TYPE, V.OWL_SYMMETRIC),
        T(E + "x", V.RDF_TYPE, E + "C"),
    ))
    assert (E + "x", E + "p", E + "v", False) in got
    assert (E + "v", E + "p", E + "x", False) in got


def test_cls_hv1_literal_value_keeps_flag():
    got = _infer_doc(rows(
        T(E + "C", V.OWL_EQUIVALENT_CLASS, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "p"),
        T("_:r", V.OWL_HAS_VALUE, "805", True),
        T(E + "x", V.RDF_TYPE, E + "C"),
    ))
    assert (E + "x", E + "p", "805", True) in got


def test_cls_avf_types_successors_of_inherited_members():
    # Sub ⊑ C ⊑ ∀p.D; x ∈ Sub, p(x,y) ⇒ y ∈ D
    got = _infer_doc(rows(
        T(E + "Sub", V.RDFS_SUBCLASSOF, E + "C"),
        T(E + "C", V.RDFS_SUBCLASSOF, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "p"),
        T("_:r", OWL + "allValuesFrom", E + "D"),
        T(E + "x", V.RDF_TYPE, E + "Sub"),
        T(E + "x", E + "p", E + "y"),
    ))
    assert (E + "y", V.RDF_TYPE, E + "D", False) in got


def test_cls_maxc2_merges_successors():
    got = _infer_doc(rows(
        T(E + "C", V.RDFS_SUBCLASSOF, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "p"),
        T("_:r", OWL + "maxCardinality", "1", True),
        T(E + "x", V.RDF_TYPE, E + "C"),
        T(E + "x", E + "p", E + "y1"),
        T(E + "x", E + "p", E + "y2"),
    ))
    assert (E + "y1", OWL + "sameAs", E + "y2", False) in got


def test_cls_maxqc3_merges_only_provably_qualified():
    # max 1 D: only the two successors provably in D merge; y3 stays
    got = _infer_doc(rows(
        T(E + "C", V.RDFS_SUBCLASSOF, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "p"),
        T("_:r", OWL + "maxQualifiedCardinality", "1", True),
        T("_:r", OWL + "onClass", E + "D"),
        T(E + "x", V.RDF_TYPE, E + "C"),
        T(E + "x", E + "p", E + "y1"),
        T(E + "x", E + "p", E + "y2"),
        T(E + "x", E + "p", E + "y3"),
        T(E + "y1", V.RDF_TYPE, E + "D"),
        T(E + "y2", V.RDF_TYPE, E + "D"),
    ))
    assert (E + "y1", OWL + "sameAs", E + "y2", False) in got
    assert not {t for t in got if t[0] == E + "y3" and t[1] == OWL + "sameAs"}


def test_cls_maxc1_zero_successor_is_loud():
    got = _infer_doc(rows(
        T(E + "C", V.RDFS_SUBCLASSOF, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "p"),
        T("_:r", OWL + "maxCardinality", "0", True),
        T(E + "x", V.RDF_TYPE, E + "C"),
        T(E + "x", E + "p", E + "y"),
    ))
    assert (E + "x", V.YPO + "propertyViolation", E + "p", False) in got


def test_cls_oo_types_enumerated_individuals():
    got = _infer_doc(rows(
        T(E + "C", V.OWL_EQUIVALENT_CLASS, "_:e"),
        T("_:e", V.OWL_ONE_OF, "_:l0"),
        *rdflist("l", E + "a", E + "b"),
    ))
    assert (E + "a", V.RDF_TYPE, E + "C", False) in got
    assert (E + "b", V.RDF_TYPE, E + "C", False) in got


def test_scm_uni_emits_part_edges_and_types_members():
    got = _infer_doc(rows(
        T(E + "C", V.OWL_EQUIVALENT_CLASS, "_:u"),
        T("_:u", V.OWL + "unionOf", "_:l0"),
        *rdflist("l", E + "A", E + "B"),
        T(E + "x", V.RDF_TYPE, E + "A"),
    ))
    assert (E + "A", V.RDFS_SUBCLASSOF, E + "C", False) in got
    assert (E + "B", V.RDFS_SUBCLASSOF, E + "C", False) in got
    assert (E + "x", V.RDF_TYPE, E + "C", False) in got


def test_scm_int_subclass_direction():
    # C ⊑ (A ⊓ B) ⇒ C ⊑ A, C ⊑ B; member of C typed both
    got = _infer_doc(rows(
        T(E + "C", V.RDFS_SUBCLASSOF, "_:i"),
        T("_:i", V.OWL + "intersectionOf", "_:l0"),
        *rdflist("l", E + "A", E + "B"),
        T(E + "x", V.RDF_TYPE, E + "C"),
    ))
    assert (E + "C", V.RDFS_SUBCLASSOF, E + "A", False) in got
    assert (E + "C", V.RDFS_SUBCLASSOF, E + "B", False) in got
    assert (E + "x", V.RDF_TYPE, E + "A", False) in got
    assert (E + "x", V.RDF_TYPE, E + "B", False) in got


def test_cls_com_co_membership_is_loud():
    got = _infer_doc(rows(
        T(E + "A", OWL + "complementOf", E + "B"),
        T(E + "x", V.RDF_TYPE, E + "A"),
        T(E + "x", V.RDF_TYPE, E + "B"),
    ))
    assert (E + "x", V.YPO + "disjointViolation", E + "A", False) in got
    assert (E + "x", V.YPO + "disjointViolation", E + "B", False) in got


def test_cls_nothing2_is_loud():
    got = _infer_doc(rows(
        T(E + "x", V.RDF_TYPE, V.OWL_NOTHING),
    ))
    assert (E + "x", V.YPO + "disjointViolation", V.OWL_NOTHING, False) in got


def test_eq_diff1_asserted_sameas_vs_differentfrom():
    got = _infer_doc(rows(
        T(E + "a", OWL + "sameAs", E + "b"),
        T(E + "a", OWL + "differentFrom", E + "b"),
    ))
    assert (E + "a", V.YPO + "identityViolation", E + "b", False) in got
    assert (E + "b", V.YPO + "identityViolation", E + "a", False) in got


def test_eq_diff1_fp_derived_merge_vs_alldifferent():
    # the merge comes from prp-fp, the distinctness from an
    # owl:AllDifferent member list — still loud
    got = _infer_doc(rows(
        T(E + "p", V.RDF_TYPE, V.OWL_FUNCTIONAL),
        T(E + "x", E + "p", E + "a"),
        T(E + "x", E + "p", E + "b"),
        T("_:ad", V.RDF_TYPE, OWL + "AllDifferent"),
        T("_:ad", OWL + "distinctMembers", "_:l0"),
        *rdflist("l", E + "a", E + "b"),
    ))
    assert (E + "a", V.YPO + "identityViolation", E + "b", False) in got


def test_fixpoint_cascades_avf_into_defined_class():
    # pass 1: avf types y ∈ D; pass 2: D-membership satisfies the
    # someValuesFrom definition of C2 — only the OUTER fixpoint sees it
    rs = rows(
        T(E + "C", V.RDFS_SUBCLASSOF, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "p"),
        T("_:r", OWL + "allValuesFrom", E + "D"),
        T(E + "x", V.RDF_TYPE, E + "C"),
        T(E + "x", E + "p", E + "y"),
        T(E + "C2", V.OWL_EQUIVALENT_CLASS, "_:s"),
        T("_:s", V.OWL_ON_PROPERTY, E + "q"),
        T("_:s", V.OWL_SOME_VALUES_FROM, E + "D"),
        T(E + "z", E + "q", E + "y"),
    )
    got = infer_doc_fixpoint(rs)
    assert (E + "y", V.RDF_TYPE, E + "D", False) in got
    assert (E + "z", V.RDF_TYPE, E + "C2", False) in got


def test_fixpoint_never_replicates_diagnostics():
    # ypo: diagnostic rows are outputs, never rule inputs: on the
    # fixpoint re-pass eq-rep must not copy a violation onto merged
    # twins (the bug produced (a, idv, a) self-rows)
    got = infer_doc_fixpoint(rows(
        T(E + "a", OWL + "sameAs", E + "b"),
        T(E + "a", OWL + "differentFrom", E + "b"),
    ))
    idv = sorted(t for t in got if t[1] == V.YPO + "identityViolation")
    assert idv == [
        (E + "a", V.YPO + "identityViolation", E + "b", False),
        (E + "b", V.YPO + "identityViolation", E + "a", False),
    ]


# ---------------------------------------------------------------------------
# r6c: facet-constrained data ranges (owl:onDatatype + owl:withRestrictions)
# ---------------------------------------------------------------------------

XSD = "http://www.w3.org/2001/XMLSchema#"


def _facet_range_rows(node, base, facet_rows):
    """node onDatatype base; withRestrictions ( _:fN facet bound ... )."""
    out = [
        T(node, OWL + "onDatatype", base),
        T(node, OWL + "withRestrictions", node + "_l0"),
    ]
    for i, (facet, bound) in enumerate(facet_rows):
        nxt = node + f"_l{i + 1}" if i + 1 < len(facet_rows) else V.RDF + "nil"
        out += [
            T(node + f"_l{i}", V.RDF_FIRST, node + f"_f{i}"),
            T(node + f"_l{i}", V.RDF_REST, nxt),
            T(node + f"_f{i}", facet, bound, True),
        ]
    return out


def test_svf_facet_range_membership():
    # Adult ≡ ∃hasAge.(integer ≥ 18): alice(30) in, bob(7) out
    rs = rows(
        T(E + "Adult", V.OWL_EQUIVALENT_CLASS, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "hasAge"),
        T("_:r", V.OWL_SOME_VALUES_FROM, "_:dr"),
        *_facet_range_rows("_:dr", XSD + "integer", [(XSD + "minInclusive", "18")]),
        T(E + "alice", V.RDF_TYPE, OWL + "NamedIndividual"),
        T(E + "bob", V.RDF_TYPE, OWL + "NamedIndividual"),
        T(E + "alice", E + "hasAge", "30", True),
        T(E + "bob", E + "hasAge", "7", True),
    )
    got = _infer_doc(rs)
    assert (E + "alice", V.RDF_TYPE, E + "Adult", False) in got
    assert (E + "bob", V.RDF_TYPE, E + "Adult", False) not in got


def test_svf_plain_xsd_datatype_membership():
    # Numbered ≡ ∃hasCode.xsd:integer — witnessed by a parsing literal
    rs = rows(
        T(E + "Numbered", V.OWL_EQUIVALENT_CLASS, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "hasCode"),
        T("_:r", V.OWL_SOME_VALUES_FROM, XSD + "integer"),
        T(E + "x", V.RDF_TYPE, OWL + "NamedIndividual"),
        T(E + "y", V.RDF_TYPE, OWL + "NamedIndividual"),
        T(E + "x", E + "hasCode", "42", True),
        T(E + "y", E + "hasCode", "forty-two", True),
    )
    got = _infer_doc(rs)
    assert (E + "x", V.RDF_TYPE, E + "Numbered", False) in got
    assert (E + "y", V.RDF_TYPE, E + "Numbered", False) not in got


def test_avf_facet_range_violation():
    # C ⊑ ∀hasAge.(integer < 65): a 70 on a member is a loud violation
    rs = rows(
        T(E + "C", V.RDFS_SUBCLASSOF, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "hasAge"),
        T("_:r", OWL + "allValuesFrom", "_:dr"),
        *_facet_range_rows("_:dr", XSD + "integer", [(XSD + "maxExclusive", "65")]),
        T(E + "ok", V.RDF_TYPE, E + "C"),
        T(E + "bad", V.RDF_TYPE, E + "C"),
        T(E + "ok", E + "hasAge", "30", True),
        T(E + "bad", E + "hasAge", "70", True),
    )
    got = _infer_doc(rs)
    fv = {(s, o) for s, p, o, _ in got if p == V.YPO + "facetViolation"}
    assert fv == {(E + "bad", E + "hasAge")}


def test_range_facet_violation():
    # rdfs:range (string, pattern [A-Z]+): lowercase value flags subject
    rs = rows(
        T(E + "code", V.RDFS_RANGE, "_:dr"),
        *_facet_range_rows("_:dr", XSD + "string", [(XSD + "pattern", "[A-Z]+")]),
        T(E + "a", E + "code", "ABC", True),
        T(E + "b", E + "code", "abc", True),
    )
    got = _infer_doc(rs)
    fv = {(s, o) for s, p, o, _ in got if p == V.YPO + "facetViolation"}
    assert fv == {(E + "b", E + "code")}


def test_unparseable_facet_range_is_inert_in_owlrl():
    # unknown facet (totalDigits): no membership, no violation — the
    # loud unsupported diagnostic is dlreason's (gated there)
    rs = rows(
        T(E + "Adult", V.OWL_EQUIVALENT_CLASS, "_:r"),
        T("_:r", V.OWL_ON_PROPERTY, E + "hasAge"),
        T("_:r", V.OWL_SOME_VALUES_FROM, "_:dr"),
        *_facet_range_rows("_:dr", XSD + "integer", [(XSD + "totalDigits", "2")]),
        T(E + "alice", V.RDF_TYPE, OWL + "NamedIndividual"),
        T(E + "alice", E + "hasAge", "30", True),
    )
    got = _infer_doc(rs)
    assert (E + "alice", V.RDF_TYPE, E + "Adult", False) not in got
    assert not any(p == V.YPO + "facetViolation" for _, p, _, _ in got)


def test_dt_not_type_ill_typed_literal(spark):
    """r6d dt-not-type: an asserted literal outside its declared
    datatype's lexical/value space yields ypo:datatypeViolation on the
    fact's subject; well-typed and unknown-datatype literals do not."""
    from pyspark.sql import functions as F

    from yamlpyowl_spark import vocab as V
    from yamlpyowl_spark.operators.owlrl import owlrl_materialize

    X = "http://www.w3.org/2001/XMLSchema#"
    E = "http://ex.org/dt#"
    rows = [
        (E + "a", E + "v", "999", True, X + "byte", E),        # out of range
        (E + "b", E + "v", "apple", True, X + "integer", E),   # bad lexical
        (E + "c", E + "v", "42", True, X + "integer", E),      # fine
        (E + "d", E + "v", "zzz", True, E + "customType", E),  # unknown → alone
        (E + "e", E + "v", "2024-99-99", True, X + "date", E), # bad date
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_datatype string, doc_iri string",
    )
    got = {
        (r["subj"], r["obj"])
        for r in owlrl_materialize(t)
        .filter(F.col("pred") == V.YPO + "datatypeViolation")
        .collect()
    }
    assert got == {
        (E + "a", E + "v"),
        (E + "b", E + "v"),
        (E + "e", E + "v"),
    }
