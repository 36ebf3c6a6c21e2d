"""SWRL rule compilation and the per-document engine: one
``compile_rule`` walk turns a rule (or a property axiom written as a
rule) into the engine's atoms, evaluation never crosses ``doc_iri``,
the engine agrees with the sequential oracle on every builtin, and
unsupported fragments are rejected up front (ADVICE r01)."""

import pytest
from pyspark.sql import functions as F, types as T

from yamlpyowl_spark import vocab as V
from yamlpyowl_spark.operators import swrl
from yamlpyowl_spark.operators.swrl import (
    UnsupportedSWRLError,
    compile_rule,
    forward_chain,
)
from yamlpyowl_spark.parser.document import _parse_swrl

TRIPLE_COLS = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("obj_is_literal", T.BooleanType()),
        T.StructField("obj_datatype", T.StringType()),
        T.StructField("doc_iri", T.StringType()),
    ]
)


def _doc(iri, n=3):
    """One synthetic doc: a chain a0-p->a1-p->...-p->a{n}, a rule
    'p(?x,?y) -> q(?x,?y)', and one typed individual."""
    rows = [
        (f"{iri}rule1", V.YPO_RULE_SRC, "p(?x, ?y) -> q(?x, ?y)", True, None, iri),
        (f"{iri}a0", V.RDF_TYPE, f"{iri}Thing", False, None, iri),
    ]
    for i in range(n):
        rows.append((f"{iri}a{i}", f"{iri}p", f"{iri}a{i+1}", False, None, iri))
    return rows


def test_synth_keys_match_encoder():
    # the rules a TransitiveProperty / inverseOf row stands for are the
    # rules compile_rule makes of the same shapes written as text
    def text(src):
        return compile_rule("D#", *_parse_swrl(src))

    rules = list(swrl._doc_rules([("D#", V.RDF_TYPE, "D#p", V.OWL_TRANSITIVE)]))
    assert rules == [("D#", text("p(?x, ?y), p(?y, ?z) -> p(?x, ?z)"), None)]
    rules = list(swrl._doc_rules([("D#", V.OWL_INVERSE_OF, "D#q", "D#p")]))
    assert rules == [
        ("D#", text("p(?x, ?y) -> q(?y, ?x)"), None),
        ("D#", text("q(?x, ?y) -> p(?y, ?x)"), None),
    ]


def test_hundred_docs_one_template(spark):
    rows = []
    for i in range(120):
        rows.extend(_doc(f"http://ex.org/d{i}#"))
    triples = spark.createDataFrame(rows, TRIPLE_COLS)

    rules = list(swrl._doc_rules(swrl._rule_rel(triples).collect()))
    # 120 documents, 120 rule instances, each compiled for its document
    assert all(rule and why is None for _, rule, why in rules)
    assert len(rules) == 120

    inferred = forward_chain(triples)
    # every doc gets its own q-facts, none cross documents
    got = inferred.filter(F.col("doc_iri") == "http://ex.org/d7#")
    objs = {(r["subj"], r["pred"], r["obj"]) for r in got.collect()}
    P = "http://ex.org/d7#"
    assert objs == {(f"{P}a{i}", f"{P}q", f"{P}a{i+1}") for i in range(3)}
    assert inferred.count() == 120 * 3


def test_builtin_first_rejected_up_front(spark):
    rows = [
        ("http://e#r", V.YPO_RULE_SRC, "greaterThan(?v, 1), p(?x, ?v) -> q(?x, ?x)",
         True, None, "http://e#"),
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    with pytest.raises(UnsupportedSWRLError, match="must follow an atom binding"):
        forward_chain(triples)
    # skip mode drops the rule with a warning instead of crashing
    with pytest.warns(UserWarning, match="skipping unsupported"):
        out = forward_chain(triples, on_unsupported="skip")
    assert out.count() == 0
    # any other mode is a caller error, not a silent skip
    with pytest.raises(ValueError, match="raise|skip"):
        forward_chain(triples, on_unsupported="skp")


def test_unbound_head_var_rejected():
    with pytest.raises(UnsupportedSWRLError, match="not bound in body"):
        compile_rule("D#", [("p", ["?x", "?y"])], [("q", ["?x", "?z"])])


def test_class_atom_head(spark):
    # Person(?x) -> Adult(?x): standard SWRL the old engine crashed on
    rows = [
        ("http://e#r", V.YPO_RULE_SRC, "Person(?x) -> Adult(?x)", True, None, "http://e#"),
        ("http://e#bob", V.RDF_TYPE, "http://e#Person", False, None, "http://e#"),
        # chains: a second rule consumes the inferred class membership
        ("http://e#r2", V.YPO_RULE_SRC, "Adult(?x) -> canVote(?x, ?x)", True, None, "http://e#"),
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    inferred = forward_chain(triples)
    got = {(r["subj"], r["pred"], r["obj"]) for r in inferred.collect()}
    assert ("http://e#bob", V.RDF_TYPE, "http://e#Adult") in got
    assert ("http://e#bob", "http://e#canVote", "http://e#bob") in got


def test_class_atom_chain_multi_round(spark):
    # A 3-round type chain (Person -> Adult -> Voter -> canVote fact)
    # plus a mixed body consuming a round-2 type: exercises the
    # types-DELTA semi-naive path (r2 verdict #1 — class atoms now
    # evaluate in delta position instead of full re-evaluation)
    E = "http://e#"
    rows = [
        (f"{E}r1", V.YPO_RULE_SRC, "Person(?x) -> Adult(?x)", True, None, E),
        (f"{E}r2", V.YPO_RULE_SRC, "Adult(?x) -> Voter(?x)", True, None, E),
        (f"{E}r3", V.YPO_RULE_SRC, "Voter(?x), likes(?x, ?y) -> endorses(?x, ?y)", True, None, E),
        (f"{E}bob", V.RDF_TYPE, f"{E}Person", False, None, E),
        (f"{E}ann", V.RDF_TYPE, f"{E}Adult", False, None, E),
        (f"{E}bob", f"{E}likes", f"{E}ann", False, None, E),
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in forward_chain(triples).collect()
    }
    assert got == {
        (f"{E}bob", V.RDF_TYPE, f"{E}Adult"),
        (f"{E}bob", V.RDF_TYPE, f"{E}Voter"),
        (f"{E}ann", V.RDF_TYPE, f"{E}Voter"),
        (f"{E}bob", f"{E}endorses", f"{E}ann"),
    }


def test_subclass_closure_feeds_delta_types(spark):
    # an inferred type must trigger class atoms over its SUPERCLASS in
    # a later round (the types delta is closed before the anti-join)
    E = "http://e#"
    rows = [
        (f"{E}r1", V.YPO_RULE_SRC, "seed(?x, ?y) -> Cat(?y)", True, None, E),
        (f"{E}r2", V.YPO_RULE_SRC, "Animal(?x) -> Tracked(?x)", True, None, E),
        (f"{E}Cat", V.RDFS_SUBCLASSOF, f"{E}Animal", False, None, E),
        (f"{E}a", f"{E}seed", f"{E}tom", False, None, E),
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in forward_chain(triples).collect()
    }
    assert (f"{E}tom", V.RDF_TYPE, f"{E}Tracked") in got


def test_subclass_edges_stay_in_their_document(spark):
    # document B's subClassOf edge must not type document A's
    # individual: the closure is per document, like the oracle's
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    A, B, S = "http://a#", "http://b#", "http://shared#"
    rows = [
        (f"{A}r", V.YPO_RULE_SRC, "Animal(?x) -> Tracked(?x)", True, None, A),
        (f"{A}i", V.RDF_TYPE, f"{S}Cat", False, None, A),
        (f"{S}Cat", V.RDFS_SUBCLASSOF, f"{A}Animal", False, None, B),
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    got = {tuple(r) for r in forward_chain(triples).collect()}
    assert got == set(sequential_forward_chain(rows))


def test_bad_rule_collect_is_bounded(spark):
    # 10k systematically-bad rules. The rule list is collected and
    # parsed on the driver whole; what stays bounded is the message,
    # which lists the first five and reports the true remainder
    E = "http://e#"
    rows = [
        # unique srcs (the rule list de-dups on src), each invalid up front
        (f"{E}r{i}", V.YPO_RULE_SRC,
         f"greaterThan(?v, 1), p{i}(?x, ?v) -> q(?x, ?x)", True, None, E)
        for i in range(10_000)
    ]
    triples = spark.createDataFrame(rows, TRIPLE_COLS)
    with pytest.raises(UnsupportedSWRLError, match=r"\(\+9995 more\)"):
        forward_chain(triples)


# ---------------------------------------------------------------------------
# property-based: variable numbering and engine-vs-oracle parity
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st

_names = st.sampled_from(["p", "q", "hasPart", "owns", "rel_x"])
_vars = st.sampled_from(["?x", "?y", "?z", "?v"])
_consts = st.sampled_from(["bob", "dresden", "42"])


@st.composite
def _rules(draw):
    """Random rules within the supported fragment: property/class body
    atoms, optional trailing builtin over a bound variable, property or
    class head over bound variables/constants."""
    n_body = draw(st.integers(1, 4))
    body, bound = [], []
    for _ in range(n_body):
        kind = draw(st.sampled_from(["prop", "prop", "cls"]))
        if kind == "cls":
            a = draw(st.one_of(_vars, _consts))
            body.append((draw(_names).capitalize(), [a]))
        else:
            s = draw(st.one_of(_vars, _consts))
            o = draw(st.one_of(_vars, _consts))
            body.append((draw(_names), [s, o]))
        bound.extend(x for x in body[-1][1] if x.startswith("?"))
    if bound and draw(st.booleans()):
        body.append(("greaterThan", [draw(st.sampled_from(bound)), "0.5"]))
    if not bound:
        head_args = [draw(_consts), draw(_consts)]
    else:
        head_args = [draw(st.sampled_from(bound)), draw(st.one_of(st.sampled_from(bound), _consts))]
    head = [(draw(_names), head_args)]
    return body, head


_QUOTED = ['"a,b"', '", Esq."', '"-v2"', '"al"', '""']


@st.composite
def _builtin_rules(draw):
    """Random in-fragment rules over the data properties of
    ``_literal_rows()``: one or two property atoms bind values of one
    subject, then builtins of every compile branch read the bound
    variables (a result variable is fresh, or bound for the check
    form); the head uses bound variables only."""
    body, bound = [], ["?x"]
    for _ in range(draw(st.integers(1, 2))):
        o = draw(st.sampled_from(["?v", "?w"]))
        body.append((draw(st.sampled_from(["hasV", "hasW", "hasN"])), ["?x", o]))
        if o not in bound:
            bound.append(o)
    var = st.sampled_from(bound)
    result = st.one_of(st.sampled_from(["?r", "?t"]), var)
    num = st.one_of(var, st.sampled_from(["0", "2", "-3", "5"]))
    text = st.one_of(var, st.sampled_from(_QUOTED))
    for _ in range(draw(st.integers(1, 2))):
        kind = draw(st.sampled_from(["arith", "concat", "unary", "substring", "check", "compare"]))
        if kind == "arith":
            name = draw(st.sampled_from(["add", "subtract", "multiply", "mod"]))
            args = [draw(result), draw(num), draw(num)]
        elif kind == "concat":
            args = [draw(result)] + draw(st.lists(text, min_size=2, max_size=3))
            name = "stringConcat"
        elif kind == "unary":
            name = draw(st.sampled_from(["stringLength", "upperCase", "lowerCase", "booleanNot"]))
            args = [draw(result), draw(var)]
        elif kind == "substring":
            name = "substring"
            args = [draw(result), draw(text)] + draw(st.lists(num, min_size=1, max_size=2))
        elif kind == "check":
            name = draw(st.sampled_from(["contains", "startsWith", "endsWith"]))
            args = [draw(text), draw(text)]
        else:
            name = draw(st.sampled_from(sorted(swrl._COMPARE)))
            args = [draw(var), draw(st.one_of(var, st.sampled_from(["10", "0.5", "-2"])))]
        body.append((name, args))
        if args[0].startswith("?") and kind not in ("check", "compare") and args[0] not in bound:
            bound.append(args[0])
    var = st.sampled_from(bound)
    if draw(st.booleans()):
        head = [(draw(st.sampled_from(["hasV", "hasN", "out"])), [draw(var), draw(var)])]
    else:
        head = [("Out", [draw(var)])]
    return body, head


@settings(max_examples=200, deadline=None)
@given(st.one_of(_rules(), _builtin_rules()))
def test_compile_rule_numbers_variables_in_binding_order(rule):
    """``_join`` extends a binding tuple by appending: every variable's
    index is the number of variables bound before it, and the head
    reads bound indices only — for ANY rule in the fragment."""
    body, head = compile_rule("http://d#", *rule)
    n = 0

    def bind(t):
        nonlocal n
        if t[0] == "v" and t[1] >= n:
            assert t[1] == n
            n += 1

    for a in body:
        if a[0] in ("facts", "types"):
            bind(a[2])
            bind(a[3])
        else:
            terms = a[2] if a[0] == "test" else a[3]
            assert all(t[1] < n for t in terms if t[0] == "v")
            if a[0] == "eval":
                bind(("v", a[2]))
    assert n == len({x for _, args in rule[0] for x in args if x.startswith("?")})
    for s, _, o, _, _ in head:
        assert all(t[1] < n for t in (s, o) if t[0] == "v")


_ents = st.sampled_from(["bob", "dresden", "42", "ann"])
_lexicals = st.sampled_from(["42", "0.5", "bob", "7"])


@st.composite
def _doc_rows(draw):
    """A random document over the vocabulary of ``_rules()``: property
    facts (entity or literal objects), rdf:type facts, subClassOf edges,
    and transitive / inverseOf axioms that synthesize more rules."""
    D = "http://d#"
    cls = _names.map(lambda n: D + n.capitalize())
    prop = _names.map(lambda n: D + n)
    rows = []
    for s, p, o, lit in draw(st.lists(st.tuples(_ents, prop, _ents, _lexicals), max_size=16)):
        if draw(st.booleans()):
            rows.append((D + s, p, lit, True, draw(st.sampled_from([None, V.XSD_STRING]))))
        else:
            rows.append((D + s, p, D + o, False, None))
    for s, c in draw(st.lists(st.tuples(_ents, cls), max_size=5)):
        rows.append((D + s, V.RDF_TYPE, c, False, None))
    for c1, c2 in draw(st.lists(st.tuples(cls, cls), max_size=4)):
        rows.append((c1, V.RDFS_SUBCLASSOF, c2, False, None))
    for p in draw(st.lists(prop, max_size=2)):
        rows.append((p, V.RDF_TYPE, V.OWL_TRANSITIVE, False, None))
    for p, q in draw(st.lists(st.tuples(prop, prop), max_size=2)):
        rows.append((p, V.OWL_INVERSE_OF, q, False, None))
    return rows


def _rule_src(body, head):
    atoms = lambda xs: ", ".join(f"{n}({', '.join(a)})" for n, a in xs)  # noqa: E731
    return f"{atoms(body)} -> {atoms(head)}"


def _class_head(rule):
    # p(a, b) -> P(a): derived class memberships feed class atoms
    body, [(name, args)] = rule
    return body, [(name.capitalize(), args[:1])]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.one_of(_rules(), _rules().map(_class_head)), min_size=1, max_size=3),
    _doc_rows(),
    st.integers(1, 4),
)
def test_chain_document_equals_sequential_oracle(rules, facts, max_iter):
    """The per-document engine, called without Spark, derives exactly
    the oracle's facts, including when ``max_iter`` cuts the rounds."""
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    D = "http://d#"
    rows = [
        (f"{D}rule{i}", V.YPO_RULE_SRC, _rule_src(*r), True, None)
        for i, r in enumerate(rules)
    ] + facts
    want = {r[:5] for r in sequential_forward_chain([r + (D,) for r in rows], max_iter)}
    assert swrl.chain_document(D, rows, max_iter) == want


@st.composite
def _literal_rows(draw):
    """Data-property facts whose values exercise the builtins: integers,
    decimals, booleans, words and strings with commas."""
    D = "http://d#"
    values = st.sampled_from(
        ["0", "1", "2", "-7", "30", "0.5", "true", "false", "alice", "Bob", "al", "a,b", ""]
    )
    subj = st.sampled_from(["a", "b", "c"]).map(lambda x: D + x)
    prop = st.sampled_from(["hasV", "hasW", "hasN"]).map(lambda x: D + x)
    return [
        (s, p, v, True, draw(st.sampled_from([None, V.XSD_STRING])))
        for s, p, v in draw(st.lists(st.tuples(subj, prop, values), min_size=3, max_size=12))
    ]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(_builtin_rules(), min_size=1, max_size=3),
    _literal_rows(),
    st.integers(1, 4),
)
def test_chain_document_builtins_equal_sequential_oracle(rules, facts, max_iter):
    """Every builtin compile branch (arithmetic, n-ary stringConcat, the
    unary string builtins, 3- and 4-ary substring, the string checks,
    all six comparisons with var-var operands, quoted constants with
    commas) derives exactly the oracle's facts."""
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    D = "http://d#"
    rows = [
        (f"{D}rule{i}", V.YPO_RULE_SRC, _rule_src(*r), True, None)
        for i, r in enumerate(rules)
    ] + facts
    want = {r[:5] for r in sequential_forward_chain([r + (D,) for r in rows], max_iter)}
    assert swrl.chain_document(D, rows, max_iter) == want


def test_builtin_comparison_skips_non_numeric_bindings(spark):
    """A greaterThan builtin over a property that ALSO has non-numeric
    values must drop those bindings (the sequential oracle skips them
    on ValueError) — ANSI mode's throwing cast would kill the job."""
    from yamlpyowl_spark.operators.swrl import forward_chain

    E = "http://ex.org/bi#"
    SWRL = "http://www.w3.org/2003/11/swrl#"
    rows = [
        # rule: hasV(?x, ?v) ^ greaterThan(?v, 10) -> Big(?x)
        (E, "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc",
         "hasV(?x, ?v), greaterThan(?v, 10) -> Big(?x)", True, None, E),
        (E + "a", E + "hasV", "30", True,
         "http://www.w3.org/2001/XMLSchema#integer", E),
        (E + "b", E + "hasV", "not-a-number", True,
         "http://www.w3.org/2001/XMLSchema#string", E),
    ]
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["pred"], r["obj"]) for r in forward_chain(t).collect()}
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert (E + "a", RDF_TYPE, E + "Big") in got
    assert not any(s == E + "b" for s, _, _ in got)


def test_extended_builtin_codes(spark):
    """r6: greaterThanOrEqual / lessThanOrEqual / equal / notEqual and
    var-var builtin operands run through the same join pipeline."""
    from yamlpyowl_spark.operators.swrl import forward_chain

    E = "http://ex.org/bi#"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"
    rows = [
        (E, SRC, "hasV(?x, ?v), greaterThanOrEqual(?v, 30) -> BigEnough(?x)",
         True, None, E),
        (E, SRC, "hasV(?x, ?v), equal(?v, 7) -> Lucky(?x)", True, None, E),
        (E, SRC, "hasV(?x, ?v), notEqual(?v, 7) -> NotLucky(?x)", True, None, E),
        (E, SRC, "hasV(?x, ?v), hasW(?x, ?w), lessThanOrEqual(?v, ?w) "
                 "-> Balanced(?x)", True, None, E),
        (E + "a", E + "hasV", "30", True, None, E),
        (E + "a", E + "hasW", "45", True, None, E),
        (E + "b", E + "hasV", "7", True, None, E),
        (E + "b", E + "hasW", "5", True, None, E),
    ]
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["obj"]) for r in forward_chain(t).collect()
           if r["pred"] == RDF_TYPE}
    assert (E + "a", E + "BigEnough") in got
    assert (E + "b", E + "BigEnough") not in got
    assert (E + "b", E + "Lucky") in got
    assert (E + "a", E + "Lucky") not in got
    assert (E + "a", E + "NotLucky") in got
    # equal is NUMERIC: "7" == 7.0 — lexical variants match too
    assert (E + "b", E + "NotLucky") not in got
    # var-var: v <= w holds for a (30 <= 45), not for b (7 <= 5)
    assert (E + "a", E + "Balanced") in got
    assert (E + "b", E + "Balanced") not in got


def test_builtin_rhs_var_must_be_bound():
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, compile_rule

    with pytest.raises(UnsupportedSWRLError, match="binding"):
        compile_rule(
            "http://d#",
            [("p", ["?x", "?v"]), ("greaterThan", ["?v", "?unbound"])],
            [("q", ["?x", "?x"])],
        )


def test_arith_builtins_bind_and_check(spark):
    """r6b swrlb arithmetic: add/subtract/multiply/mod bind the
    result-first argument; a pre-bound result argument becomes an
    equality check; non-integral operands and mod-by-zero drop rows;
    mod is truncation-based on negatives. Spark pipeline and the
    sequential oracle must agree exactly."""
    from yamlpyowl_spark.operators.swrl import forward_chain
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    E = "http://ex.org/ar#"
    SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    rows = [
        (E, SRC, "hasV(?x, ?v), add(?z, ?v, 5) -> hasPlus5(?x, ?z)",
         True, None, E),
        (E, SRC, "hasV(?x, ?v), hasW(?x, ?w), multiply(?z, ?v, ?w) "
                 "-> hasProduct(?x, ?z)", True, None, E),
        (E, SRC, "hasV(?x, ?v), mod(?z, ?v, 4) -> hasMod4(?x, ?z)",
         True, None, E),
        # check form: ?w already bound — subtract(?w, ?v, 5) filters to
        # subjects where w == v - 5
        (E, SRC, "hasV(?x, ?v), hasW(?x, ?w), subtract(?w, ?v, 5) "
                 "-> Shifted(?x)", True, None, E),
        (E, SRC, "hasV(?x, ?v), mod(?z, ?v, 0) -> ModZero(?x)",
         True, None, E),
        (E + "a", E + "hasV", "30", True, None, E),
        (E + "a", E + "hasW", "25", True, None, E),
        (E + "b", E + "hasV", "-7", True, None, E),
        (E + "b", E + "hasW", "3", True, None, E),
        (E + "c", E + "hasV", "not-a-number", True, None, E),
    ]
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["pred"], r["obj"]) for r in forward_chain(t).collect()}
    assert (E + "a", E + "hasPlus5", "35") in got
    assert (E + "b", E + "hasPlus5", "-2") in got
    assert (E + "a", E + "hasProduct", "750") in got
    assert (E + "b", E + "hasProduct", "-21") in got
    assert (E + "a", E + "hasMod4", "2") in got
    # truncation-based mod: -7 % 4 = -3 (Java), NOT 1 (Python floor)
    assert (E + "b", E + "hasMod4", "-3") in got
    assert (E + "a", V.RDF_TYPE, E + "Shifted") in got      # 25 == 30-5
    assert (E + "b", V.RDF_TYPE, E + "Shifted") not in got  # 3 != -12
    # mod-by-zero: NULL result drops the row, never raises under ANSI
    assert not any(p == V.RDF_TYPE and o == E + "ModZero" for _, p, o in got)
    # non-integral binding drops out of every arithmetic atom
    assert not any(s == E + "c" for s, _, _ in got)
    # engine parity: sequential oracle derives the identical delta
    seq = {(s, p, o) for s, p, o, il, dt, d in sequential_forward_chain(rows)}
    assert seq == got


def test_arith_builtin_rejects_bad_shapes():
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, compile_rule

    with pytest.raises(UnsupportedSWRLError, match="3 args"):
        compile_rule("http://d#", [("p", ["?x", "?v"]), ("add", ["?z", "?v"])],
                     [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="must be a variable"):
        compile_rule("http://d#", [("p", ["?x", "?v"]), ("add", ["9", "?v", "1"])],
                     [("q", ["?x", "?v"])])
    with pytest.raises(UnsupportedSWRLError, match="binding"):
        compile_rule("http://d#", [("p", ["?x", "?v"]), ("add", ["?z", "?u", "1"])],
                     [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="integer fragment"):
        compile_rule("http://d#", [("p", ["?x", "?v"]), ("add", ["?z", "?v", "0.5"])],
                     [("q", ["?x", "?z"])])


def test_string_builtins_bind_check_and_filter(spark):
    """r6c swrlb strings: stringConcat (n-ary), stringLength,
    upperCase/lowerCase bind result-first (pre-bound result = equality
    check); contains/startsWith/endsWith filter. Spark pipeline and
    the sequential oracle must agree exactly — including a quoted
    constant containing a comma."""
    from yamlpyowl_spark.operators.swrl import forward_chain
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    E = "http://ex.org/str#"
    SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    rows = [
        (E, SRC, 'hasName(?x, ?n), stringConcat(?z, ?n, "-v2") '
                 "-> hasTag(?x, ?z)", True, None, E),
        (E, SRC, "hasName(?x, ?n), stringLength(?l, ?n) "
                 "-> hasNameLen(?x, ?l)", True, None, E),
        (E, SRC, "hasName(?x, ?n), upperCase(?u, ?n) -> hasUpper(?x, ?u)",
         True, None, E),
        (E, SRC, 'hasName(?x, ?n), startsWith(?n, "al") -> AlPrefixed(?x)',
         True, None, E),
        (E, SRC, 'hasName(?x, ?n), contains(?n, "ob") -> HasOb(?x)',
         True, None, E),
        # check form: ?t bound, concat must equal it
        (E, SRC, "hasName(?x, ?n), hasTitle(?x, ?t), "
                 'stringConcat(?t, "Dr. ", ?n) -> Doctor(?x)', True, None, E),
        # quoted constant containing a comma survives the arg split
        (E, SRC, 'hasName(?x, ?n), stringConcat(?z, ?n, ", Esq.") '
                 "-> hasLegal(?x, ?z)", True, None, E),
        (E + "a", E + "hasName", "alice", True, None, E),
        (E + "b", E + "hasName", "bob", True, None, E),
        (E + "a", E + "hasTitle", "Dr. alice", True, None, E),
        (E + "b", E + "hasTitle", "Mr. bob", True, None, E),
    ]
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["pred"], r["obj"]) for r in forward_chain(t).collect()}
    assert (E + "a", E + "hasTag", "alice-v2") in got
    assert (E + "a", E + "hasNameLen", "5") in got
    assert (E + "b", E + "hasNameLen", "3") in got
    assert (E + "a", E + "hasUpper", "ALICE") in got
    assert (E + "a", V.RDF_TYPE, E + "AlPrefixed") in got
    assert (E + "b", V.RDF_TYPE, E + "AlPrefixed") not in got
    assert (E + "b", V.RDF_TYPE, E + "HasOb") in got
    assert (E + "a", V.RDF_TYPE, E + "Doctor") in got   # "Dr. alice" matches
    assert (E + "b", V.RDF_TYPE, E + "Doctor") not in got  # "Mr. bob" doesn't
    assert (E + "a", E + "hasLegal", "alice, Esq.") in got
    seq = {(s, p, o) for s, p, o, il, dt, d in sequential_forward_chain(rows)}
    assert seq == got


def test_string_builtin_rejects_bad_shapes():
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, compile_rule

    with pytest.raises(UnsupportedSWRLError, match="args"):
        compile_rule("http://d#", [("p", ["?x", "?v"]), ("stringLength", ["?z"])],
                     [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="must be a variable"):
        compile_rule("http://d#",
                     [("p", ["?x", "?v"]), ("upperCase", ['"A"', "?v"])],
                     [("q", ["?x", "?v"])])
    with pytest.raises(UnsupportedSWRLError, match="binding"):
        compile_rule("http://d#",
                     [("p", ["?x", "?v"]), ("stringConcat", ["?z", "?u", '"s"'])],
                     [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="binding"):
        compile_rule("http://d#",
                     [("p", ["?x", "?v"]), ("endsWith", ["?u", '"s"'])],
                     [("q", ["?x"])])


def test_substring_builtin_integer_fragment(spark):
    """r6d swrlb:substring — XPath integer positions [start,
    start+length), 1-based; negative start shifts the window; a
    non-integral start (bound from a fact) drops the row via
    try_cast; 2-arg form takes everything from max(start, 1); check
    form compares against a pre-bound result. Spark pipeline ==
    sequential oracle on every case."""
    from yamlpyowl_spark.operators.swrl import forward_chain
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    E = "http://ex.org/ss#"
    SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    rows = [
        # plain: chars 2..4 of the name
        (E, SRC, "hasName(?x, ?n), substring(?z, ?n, 2, 3) -> hasMid(?x, ?z)",
         True, None, E),
        # negative start: positions [-1, 2) ∩ [1, ..] = {1} → first char
        (E, SRC, "hasName(?x, ?n), substring(?z, ?n, -1, 3) -> hasNeg(?x, ?z)",
         True, None, E),
        # zero/negative effective length → empty string, not a drop
        (E, SRC, "hasName(?x, ?n), substring(?z, ?n, 3, 0) -> hasNil(?x, ?z)",
         True, None, E),
        # 2-arg form: suffix from position 3
        (E, SRC, "hasName(?x, ?n), substring(?z, ?n, 3) -> hasSfx(?x, ?z)",
         True, None, E),
        # start bound from a data fact; non-integral binding drops
        (E, SRC, "hasName(?x, ?n), hasOff(?x, ?o), substring(?z, ?n, ?o, 2) "
                 "-> hasAt(?x, ?z)", True, None, E),
        # check form: bound ?p must equal the computed prefix
        (E, SRC, "hasName(?x, ?n), hasPfx(?x, ?p), substring(?p, ?n, 1, 2) "
                 "-> PfxOk(?x)", True, None, E),
        (E + "a", E + "hasName", "alice", True, None, E),
        (E + "b", E + "hasName", "bob", True, None, E),
        (E + "a", E + "hasOff", "2", True, None, E),
        (E + "b", E + "hasOff", "1.5", True, None, E),   # drops via try_cast
        (E + "a", E + "hasPfx", "al", True, None, E),
        (E + "b", E + "hasPfx", "xx", True, None, E),
    ]
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["pred"], r["obj"]) for r in forward_chain(t).collect()}
    assert (E + "a", E + "hasMid", "lic") in got
    assert (E + "b", E + "hasMid", "ob") in got           # past-end truncates
    assert (E + "a", E + "hasNeg", "a") in got
    assert (E + "a", E + "hasNil", "") in got
    assert (E + "a", E + "hasSfx", "ice") in got
    assert (E + "b", E + "hasSfx", "b") in got
    assert (E + "a", E + "hasAt", "li") in got
    assert not any(p == E + "hasAt" and s == E + "b" for s, p, _ in got)
    assert (E + "a", V.RDF_TYPE, E + "PfxOk") in got
    assert (E + "b", V.RDF_TYPE, E + "PfxOk") not in got
    seq = {(s, p, o) for s, p, o, il, dt, d in sequential_forward_chain(rows)}
    assert seq == got


def test_substring_rejects_float_and_bad_arity():
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, compile_rule

    with pytest.raises(UnsupportedSWRLError, match="integer fragment"):
        compile_rule("http://d#",
                     [("p", ["?x", "?v"]), ("substring", ["?z", "?v", "1.5"])],
                     [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="3 or 4 args"):
        compile_rule("http://d#",
                     [("p", ["?x", "?v"]), ("substring", ["?z", "?v"])],
                     [("q", ["?x", "?z"])])
    with pytest.raises(UnsupportedSWRLError, match="3 or 4 args"):
        compile_rule("http://d#",
                     [("p", ["?x", "?v"]),
                      ("substring", ["?z", "?v", "1", "2", "3"])],
                     [("q", ["?x", "?z"])])


# ---------------------------------------------------------------------------
# fuzz: arbitrary rule text must parse or raise ParseError /
# UnsupportedSWRLError — never another exception type, never hang
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as hy_st


@settings(max_examples=300, deadline=None)
@given(hy_st.text(max_size=120))
def test_swrl_fuzz_arbitrary_text(src):
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, compile_rule
    from yamlpyowl_spark.parser.document import ParseError, _parse_swrl

    try:
        body, head = _parse_swrl(src)
        compile_rule("http://d#", body, head)
    except (ParseError, UnsupportedSWRLError):
        pass


_RULE_SOUP = hy_st.lists(
    hy_st.sampled_from(
        ["P", "Q", "hasName", "greaterThan", "add", "mod", "stringConcat",
         "substring", "upperCase", "contains", "stringLength",
         "(", ")", ",", "->", "?x", "?y", "?z", "const", "3", "1.5",
         '"s"', '"a,b"', "differentFrom", "A", " "]
    ),
    max_size=18,
)


@settings(max_examples=300, deadline=None)
@given(_RULE_SOUP)
def test_swrl_fuzz_token_soup(parts):
    from yamlpyowl_spark.operators.swrl import UnsupportedSWRLError, compile_rule
    from yamlpyowl_spark.parser.document import ParseError, _parse_swrl

    try:
        body, head = _parse_swrl(" ".join(parts))
        compile_rule("http://d#", body, head)
    except (ParseError, UnsupportedSWRLError):
        pass


def test_boolean_not_builtin(spark):
    """r6d swrlb:booleanNot — result-first: binds the flipped boolean
    lexical ("1"/"0" accepted, canonical "true"/"false" emitted),
    drops non-boolean bindings, checks when the result is pre-bound.
    Spark pipeline == sequential oracle."""
    from yamlpyowl_spark.operators.swrl import forward_chain
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    E = "http://ex.org/bn#"
    SRC = "https://w3id.org/yamlpyowl-spark/vocab#ruleSrc"
    schema = ("subj string, pred string, obj string, obj_is_literal boolean, "
              "obj_datatype string, doc_iri string")
    rows = [
        (E, SRC, "hasFlag(?x, ?f), booleanNot(?g, ?f) -> hasUnflag(?x, ?g)",
         True, None, E),
        (E, SRC, "hasFlag(?x, ?f), hasOther(?x, ?o), booleanNot(?o, ?f) "
                 "-> Opposite(?x)", True, None, E),
        (E + "a", E + "hasFlag", "true", True, None, E),
        (E + "b", E + "hasFlag", "0", True, None, E),
        (E + "c", E + "hasFlag", "maybe", True, None, E),  # drops
        (E + "a", E + "hasOther", "false", True, None, E),
        (E + "b", E + "hasOther", "0", True, None, E),
    ]
    t = spark.createDataFrame(rows, schema)
    got = {(r["subj"], r["pred"].split("#")[-1], r["obj"])
           for r in forward_chain(t).collect()}
    assert (E + "a", "hasUnflag", "false") in got
    assert (E + "b", "hasUnflag", "true") in got
    assert not any(s == E + "c" for s, _, _ in got)
    # check form: a's other ("false") == not(true) ✓; b's ("0") is the
    # lexical "0", not the canonical "true" → no match
    assert (E + "a", "type", E + "Opposite") in got
    assert not any(s == E + "b" and p == "type" for s, p, _ in got)
    seq = {(s, p.split("#")[-1], o)
           for s, p, o, il, dt, d in sequential_forward_chain(rows)}
    assert seq == got
