"""DL model enumeration for the OneOf / Functional / InverseFunctional
/ AllDifferent fragment — what actually *solves* the zebra puzzle
(reference tests/test_core.py:171-263, where core.py:1342-1343 shells
out to Java Pellet).

Scale architecture: a 100-TB corpus is millions of small ontology
documents, and each document's constraint problem is local — so the
distributed dimension is ``doc_iri``: :func:`dl_model_search` hands
each document to :func:`.isomorph.per_document` (one Arrow-batched
group per document, deduplicated on the JVM inside the ``doc_iri``
stage), and the payload is :func:`dl_document`, a bounded CSP solve
in plain Python that runs without a Spark session. No join, row-level
shuffle or driver loop grows with the corpus; a single monster
document is bounded by ``max_steps``.

Per document:

1. decode enumerated classes (``C equivalentClass [oneOf l]``),
   functional / inverse-functional properties, ``inverseOf`` pairs,
   domains / ranges, asserted facts, ``AllDifferent`` axioms, and
   restriction blank-node trees (``someValuesFrom`` / ``hasValue`` /
   ``allValuesFrom``, possibly over anonymous ``Inverse(p)``
   properties);
2. compile to a CSP: one variable per (functional property, subject in
   its enumerated domain) with the enumerated range as domain;
   InverseFunctional injectivity applies between subjects covered by
   an explicit ``AllDifferent`` axiom (OWL is non-UNA: without the
   axiom, two names may denote one individual, so equal values are
   consistent); restriction trees become three-valued constraint
   closures;
3. enumerate models by backtracking (MRV + all-diff forward checking,
   step-capped); **emit facts entailed in every found model** (Pellet
   semantics: inference = truth in all models) minus asserted facts —
   plus the deterministic part (OneOf memberships, inverse-property
   images of functional assignments).

Cardinality restrictions are inside the fragment — unqualified (r5)
and ``onClass``-qualified (r6): ``p exactly 1`` / ``p max 1`` /
``p exactly 1 C`` give the restricted subject a CSP variable (the
functional logic generalized per subject; the qualified variable's
domain is C's enumeration), and min / max / exactly become
three-valued checkers — the lower bound counts distinct names present
in the model (closed over the enumerated fragment, like
some-restrictions; qualified: only successors PROVABLY in C), the
upper bound is violated only by successors pairwise DECLARED
different (non-UNA; qualified: and provably in C).

Disjointness prunes models (r6): ``owl:disjointWith`` compiles to a
per-entity check list — membership is three-valued (asserted types and
closed OneOf enumerations are static; restriction-DEFINED classes,
``C equivalentClass [onProperty ...]``, are decided per model via the
``holds`` closure), and a model dies only when an entity is PROVABLY in
both sides. ``owl:propertyDisjointWith`` is a val-equality check over
the single-valued representation. An ASSERTED violation makes the
document unsatisfiable (zero models → deterministic inferences only);
owlrl's cax-dw / prp-pdw additionally emit the diagnostic rows.

Keys and axiom decomposition (r6b): ``owl:hasKey`` prunes models in
which two DECLARED-different members of the keyed class provably
share a value for every key property (owlrl's prp-key infers the
sameAs twin); ``owl:disjointUnionOf`` and n-ary
``owl:AllDisjointClasses`` / ``owl:AllDisjointProperties`` decompose
into the pairwise disjointness checks above;
``owl:NegativePropertyAssertion`` prunes any model assigning the
denied fact (asserted occurrences are statically unsatisfiable).

Facet-constrained data ranges entered the fragment in r6c via the
shared evaluator (:mod:`.facets`): ``∀p.(range)`` over asserted
literal values is two-valued (a failing value kills every model —
the Pellet analog raises), ``∃p.(range)`` is witnessed by a passing
asserted value (unwitnessed stays unknown — conservative: models are
withheld, never over-claimed), and ``onDataRange``-qualified
cardinality counts DISTINCT CANONICAL literal values (provably
pairwise-different and in-range, so the upper bound prunes with
certainty; the lower bound stays open-world). Literal rows ship only
for documents that use the facet vocabulary (broadcast semi-join).

Documents outside the fragment contribute no variables, and the
boundary is LOUD: a range the evaluator cannot decode (unknown facet
such as ``totalDigits``, user-defined datatype, malformed bound)
yields per-document diagnostic rows or an :class:`UnsupportedDLError`
(``on_unsupported=``), never a silent no-op. This operator composes
with :mod:`swrl`'s forward chain in
``api.OntologyManager.sync_reasoner``.
"""

from __future__ import annotations

from functools import partial
from typing import Dict, List, Optional, Set, Tuple

from pyspark.sql import DataFrame, functions as F

from .. import vocab as V
from . import facets as _FX
from .isomorph import per_document

RDF_FIRST = V.RDF + "first"
RDF_REST = V.RDF + "rest"
RDF_NIL = V.RDF + "nil"
OWL = "http://www.w3.org/2002/07/owl#"
OWL_EQUIVALENT_CLASS = OWL + "equivalentClass"
OWL_ONE_OF = OWL + "oneOf"
OWL_ON_PROPERTY = OWL + "onProperty"
OWL_SOME_VALUES_FROM = OWL + "someValuesFrom"
OWL_ALL_VALUES_FROM = OWL + "allValuesFrom"
OWL_HAS_VALUE = OWL + "hasValue"
OWL_ALL_DIFFERENT = OWL + "AllDifferent"
OWL_DISTINCT_MEMBERS = OWL + "distinctMembers"
OWL_NAMED_INDIVIDUAL = OWL + "NamedIndividual"
OWL_NOTHING = OWL + "Nothing"
OWL_THING = OWL + "Thing"
OWL_FUNCTIONAL = OWL + "FunctionalProperty"
OWL_INV_FUNCTIONAL = OWL + "InverseFunctionalProperty"
RDFS_DOMAIN = V.RDFS + "domain"
RDFS_RANGE = V.RDFS + "range"

# DL constructs the CSP fragment does NOT reason over produce an
# explicit diagnostic triple (doc_iri ypo:dlUnsupportedConstruct
# <construct>) or a raise, never a silent fall-through with only
# deterministic inferences (r2 verdict #4).
#
# History of the shrinking boundary: unqualified cardinality joined in
# r5; qualified cardinality, hasSelf, disjointWith/propertyDisjointWith
# in r6; hasKey/disjointUnionOf/NPA/n-ary AllDisjoint in r6b; and in
# r6c the last members — the datatype-restriction vocabulary
# (onDatatype/withRestrictions/onDataRange) — moved to CONDITIONAL
# support: ranges the shared facet evaluator (operators/facets) can
# decide are reasoned over, anything it cannot parse (unknown facet,
# user-defined datatype, malformed bound) is still flagged loudly.
# No predicate is unsupported outright; _FACET_VOCAB below drives the
# parse-dependent diagnostics.
_FACET_VOCAB = frozenset(
    (_FX.ON_DATATYPE, _FX.WITH_RESTRICTIONS, _FX.ON_DATA_RANGE)
)

OWL_CARDINALITY = OWL + "cardinality"
OWL_MIN_CARDINALITY = OWL + "minCardinality"
OWL_MAX_CARDINALITY = OWL + "maxCardinality"
OWL_QUALIFIED_CARDINALITY = OWL + "qualifiedCardinality"
OWL_MIN_QUALIFIED_CARDINALITY = OWL + "minQualifiedCardinality"
OWL_MAX_QUALIFIED_CARDINALITY = OWL + "maxQualifiedCardinality"
OWL_ON_CLASS = OWL + "onClass"
OWL_HAS_SELF = OWL + "hasSelf"
OWL_IRREFLEXIVE = OWL + "IrreflexiveProperty"
OWL_ASYMMETRIC = OWL + "AsymmetricProperty"


def _card_int(m: "_DocModel", node: str, key: str) -> Optional[int]:
    v = m.obj(node, key)
    if v is None:
        return None
    try:
        return int(v)
    except ValueError:
        return None


YPO_DL_UNSUPPORTED = V.YPO + "dlUnsupportedConstruct"


class UnsupportedDLError(ValueError):
    """A document uses a DL construct outside the supported fragment
    (mirror of swrl.UnsupportedSWRLError for the model-search side)."""


class _DocModel:
    """Decoded view of one document's triples. The CSP core builds it
    over entity triples only; the facet path (r6c) builds a second,
    combined instance (``fm``) that also holds the literal rows —
    facet bounds and data values."""

    def __init__(self, rows: List[Tuple[str, str, str]]):
        self.spo: Dict[Tuple[str, str], List[str]] = {}
        self.po: Dict[Tuple[str, str], List[str]] = {}
        for s, p, o in rows:
            self.spo.setdefault((s, p), []).append(o)
            self.po.setdefault((p, o), []).append(s)

    def objs(self, s: str, p: str) -> List[str]:
        return self.spo.get((s, p), [])

    def obj(self, s: str, p: str) -> Optional[str]:
        v = self.spo.get((s, p))
        return v[0] if v else None

    def subjects(self, p: str, o: str) -> List[str]:
        return self.po.get((p, o), [])

    def rdf_list(self, node: str) -> List[str]:
        out, seen = [], set()
        while node and node != RDF_NIL:
            if node in seen:  # corrupt/cyclic list must not hang a task
                break
            seen.add(node)
            head = self.obj(node, RDF_FIRST)
            if head is not None:
                out.append(head)
            node = self.obj(node, RDF_REST)
        return out


def _decode(rows):
    """→ (enums, functional, invfunctional, inverse_pairs, domains,
    ranges, facts, restrictions, all_different)"""
    m = _DocModel(rows)

    enums: Dict[str, List[str]] = {}
    for (s, p), objs in list(m.spo.items()):
        if p != OWL_EQUIVALENT_CLASS:
            continue
        for o in objs:
            one = m.obj(o, OWL_ONE_OF)
            if one:
                enums[s] = m.rdf_list(one)

    functional = {s for s in m.subjects(V.RDF_TYPE, OWL_FUNCTIONAL)}
    invfunctional = {s for s in m.subjects(V.RDF_TYPE, OWL_INV_FUNCTIONAL)}
    # named_inverse: declared property↔property pairs only — anonymous
    # Inverse(p) blank nodes (from restriction trees) must NOT shadow
    # the declared inverse of p
    inverse_of: Dict[str, str] = {}
    for (s, p), objs in m.spo.items():
        if p == V.OWL_INVERSE_OF:
            for o in objs:
                if not s.startswith("_:"):
                    inverse_of[s] = o
                    inverse_of.setdefault(o, s)

    domains = {s: m.obj(s, RDFS_DOMAIN) for s in functional | invfunctional}
    ranges = {s: m.obj(s, RDFS_RANGE) for s in functional | invfunctional}

    # restriction trees: individual rdf:type _:r  /  class subClassOf _:r
    restrictions: List[Tuple[str, str]] = []  # (subject entity/class-member, blank root)
    members_of: Dict[str, List[str]] = {}
    for cls, mem in enums.items():
        members_of[cls] = mem
    for (s, p), objs in m.spo.items():
        if p == V.RDF_TYPE and not s.startswith("_:"):
            for o in objs:
                if o.startswith("_:") and m.obj(o, OWL_ON_PROPERTY):
                    restrictions.append((s, o))
        elif p == V.RDFS_SUBCLASSOF and not s.startswith("_:"):
            for o in objs:
                if o.startswith("_:") and m.obj(o, OWL_ON_PROPERTY):
                    for member in members_of.get(s, []):
                        restrictions.append((member, o))

    # disjointness axioms (r6): class pairs, property pairs, and the
    # restriction-DEFINED classes (C equivalentClass [onProperty ...])
    # whose membership is dynamic — decided per model via `holds`
    disjoint_pairs: List[Tuple[str, str]] = []
    prop_disjoint: List[Tuple[str, str]] = []
    equiv_restr: Dict[str, str] = {}
    keys: List[Tuple[str, List[str]]] = []  # C owl:hasKey (p1..pn)
    for (s, p), objs in m.spo.items():
        if s.startswith("_:"):
            continue
        for o in objs:
            if p == OWL + "disjointWith" and not o.startswith("_:"):
                disjoint_pairs.append((s, o))
            elif p == OWL + "propertyDisjointWith" and not o.startswith("_:"):
                prop_disjoint.append((s, o))
            elif p == OWL + "disjointUnionOf" and o.startswith("_:"):
                # r6b: the pairwise-disjointness half of cls-duo (the
                # Ci ⊑ C half lives in owlrl's cax-sco feed)
                parts = [c for c in m.rdf_list(o) if not c.startswith("_:")]
                for i1 in range(len(parts)):
                    for i2 in range(i1 + 1, len(parts)):
                        disjoint_pairs.append((parts[i1], parts[i2]))
            elif p == OWL + "hasKey":
                ps = m.rdf_list(o) if o.startswith("_:") else [o]
                if ps and not any(k.startswith("_:") for k in ps):
                    keys.append((s, ps))
            elif p == OWL_EQUIVALENT_CLASS and o.startswith("_:"):
                if m.obj(o, OWL_ON_PROPERTY):
                    equiv_restr[s] = o

    # n-ary axiom nodes (blank subjects typed with the axiom class)
    npas: List[Tuple[str, str, str]] = []
    for node in m.subjects(V.RDF_TYPE, OWL + "AllDisjointClasses"):
        lst = m.obj(node, OWL + "members")
        members = [c for c in (m.rdf_list(lst) if lst else []) if not c.startswith("_:")]
        for i1 in range(len(members)):
            for i2 in range(i1 + 1, len(members)):
                disjoint_pairs.append((members[i1], members[i2]))
    for node in m.subjects(V.RDF_TYPE, OWL + "AllDisjointProperties"):
        lst = m.obj(node, OWL + "members")
        members = [c for c in (m.rdf_list(lst) if lst else []) if not c.startswith("_:")]
        for i1 in range(len(members)):
            for i2 in range(i1 + 1, len(members)):
                prop_disjoint.append((members[i1], members[i2]))
    for node in m.subjects(V.RDF_TYPE, OWL + "NegativePropertyAssertion"):
        src = m.obj(node, OWL + "sourceIndividual")
        ap = m.obj(node, OWL + "assertionProperty")
        tgt = m.obj(node, OWL + "targetIndividual")
        if src and ap and tgt:
            npas.append((src, ap, tgt))

    # asserted entity facts for the declared properties — including the
    # (named) properties of restriction trees, so cardinality-created
    # variables get pinned by asserted facts like functional ones do;
    # disjoint-property pairs route through val() too, so their asserted
    # facts must reach the ground-fact map
    props = functional | invfunctional | set(inverse_of)
    for p1, p2 in prop_disjoint:
        props.add(p1)
        props.add(p2)
    for _cls, ps in keys:
        props.update(ps)
    for _src, ap, _tgt in npas:
        props.add(ap)
    for _s, rnode in restrictions:
        on_p = m.obj(rnode, OWL_ON_PROPERTY)
        if on_p and not on_p.startswith("_:"):
            props.add(on_p)
    facts: Dict[Tuple[str, str], str] = {}
    for (s, p), objs in m.spo.items():
        if p in props:
            for o in objs:
                facts[(p, s)] = o

    all_different: List[List[str]] = []
    for ad in m.subjects(V.RDF_TYPE, OWL_ALL_DIFFERENT):
        lst = m.obj(ad, OWL_DISTINCT_MEMBERS) or m.obj(ad, OWL + "members")
        if lst:
            all_different.append(m.rdf_list(lst))
    # pairwise owl:differentFrom = a 2-member AllDifferent group (r6b)
    for (s, p), objs in m.spo.items():
        if p == OWL + "differentFrom" and not s.startswith("_:"):
            for o in objs:
                if not o.startswith("_:"):
                    all_different.append([s, o])

    irreflexive = set(m.subjects(V.RDF_TYPE, OWL_IRREFLEXIVE))
    asymmetric = set(m.subjects(V.RDF_TYPE, OWL_ASYMMETRIC))

    return (
        m, enums, functional, invfunctional, inverse_of, domains, ranges,
        facts, restrictions, all_different, irreflexive, asymmetric,
        disjoint_pairs, prop_disjoint, equiv_restr, keys, npas,
    )


def _solve_doc(
    rows,
    max_models: int = 8,
    max_steps: int = 500_000,
    stats: Optional[dict] = None,
    lit_rows=(),
):
    """Returns the set of (subj, pred, obj) facts entailed in all found
    models, minus nothing (caller subtracts asserted). Empty when the
    doc has no CSP structure.

    ``lit_rows`` (r6c) carries the document's LITERAL-valued triples —
    the CSP core stays entity-only (variables range over enumerations),
    but facet-constrained data ranges (operators/facets) need the
    asserted data values and the facet bound literals: they feed the
    ``holds`` checkers for ∀/∃/cardinality over data ranges and never
    enter ``ground``/``variables``."""
    # data facts (p, s) -> [lexical...] + a model over ALL rows for
    # decoding facet lists (bounds are literals, list spine is entity)
    lit_facts: Dict[Tuple[str, str], List[str]] = {}
    for s_l, p_l, o_l in lit_rows:
        lit_facts.setdefault((p_l, s_l), []).append(o_l)
    fm = _DocModel([*rows, *lit_rows])

    _rng_memo: dict = {}
    _RNG_MISS = object()

    def data_range_of(node: Optional[str]):
        """Parsed data range for an allValuesFrom / someValuesFrom /
        onDataRange target: a blank node decodes via the facet
        evaluator; a bare supported XSD datatype is the facet-free
        range (lexical-space membership only). Memoized — the node
        graph is static per solve."""
        if node is None:
            return None
        r = _rng_memo.get(node, _RNG_MISS)
        if r is _RNG_MISS:
            if node.startswith("_:"):
                r = _FX.parse_data_range(fm, node)
            elif node in _FX.SUPPORTED_BASES:
                r = (node, ())
            else:
                r = None
            _rng_memo[node] = r
        return r

    (
        m,
        enums,
        functional,
        invfunctional,
        inverse_of,
        domains,
        ranges,
        facts,
        restrictions,
        all_different,
        irreflexive,
        asymmetric,
        disjoint_pairs,
        prop_disjoint,
        equiv_restr,
        keys,
        npas,
    ) = _decode(rows)

    inferred: Set[Tuple[str, str, str]] = set()

    # deterministic: OneOf members are instances of the enum class
    for cls, members in enums.items():
        for x in members:
            inferred.add((x, V.RDF_TYPE, cls))

    # variables: (p, s) for functional p with enumerated domain+range.
    # Each inverse PAIR gets ONE canonical variable direction — a
    # declared inverse q of an already-variable-bearing p is routed
    # through p by val() rather than given its own (unlinked) vars.
    variables: Dict[Tuple[str, str], List[str]] = {}
    var_props: Set[str] = set()
    for p in sorted(functional):
        dom_cls, rng_cls = domains.get(p), ranges.get(p)
        if dom_cls in enums and rng_cls in enums:
            if inverse_of.get(p) in var_props:
                continue
            var_props.add(p)
            for s in enums[dom_cls]:
                variables[(p, s)] = list(enums[rng_cls])

    # r5: a subject under a cardinality-1 / maxCardinality-1
    # restriction gets a variable for that property too — the
    # functional logic generalized PER SUBJECT (max-1 is exactly the
    # single-valued representation; the min side of `exactly 1` is
    # enforced by the cardinality checker pruning the Nothing branch)
    for s, rnode in sorted(restrictions):
        on_p = m.obj(rnode, OWL_ON_PROPERTY)
        if not on_p or on_p.startswith("_:") or (on_p, s) in variables:
            continue
        if inverse_of.get(on_p) in var_props:
            continue
        card = _card_int(m, rnode, OWL_CARDINALITY)
        maxc = _card_int(m, rnode, OWL_MAX_CARDINALITY)
        qmaxc = _card_int(m, rnode, OWL_MAX_QUALIFIED_CARDINALITY)
        on_c = m.obj(rnode, OWL_ON_CLASS)
        eff_max = card if card is not None else maxc
        if eff_max == 1 or (qmaxc == 1 and on_c is not None):
            # (qualified) max-1: the single-valued representation over
            # the property's enumerated range
            rng_cls = m.obj(on_p, RDFS_RANGE)
            if rng_cls in enums:
                var_props.add(on_p)
                variables[(on_p, s)] = list(enums[rng_cls])
            continue
        # r6: `p exactly 1 C` (onClass-qualified) — in the
        # single-valued representation the subject's one p-value IS the
        # required C-member, so the variable's domain is C's enumeration
        qcard = _card_int(m, rnode, OWL_QUALIFIED_CARDINALITY)
        if qcard == 1 and on_c in enums:
            var_props.add(on_p)
            variables[(on_p, s)] = list(enums[on_c])

    if not variables and not (
        disjoint_pairs or prop_disjoint or keys or npas or irreflexive or asymmetric
    ):
        # no CSP structure AND no consistency axioms to check
        # statically — deterministic inferences only
        return inferred

    # pin asserted facts (directly and through the declared inverse);
    # ground facts for non-variable subjects stay as context
    assignment: Dict[Tuple[str, str], Optional[str]] = {v: None for v in variables}
    pinned: Set[Tuple[str, str]] = set()
    for (p, s), o in facts.items():
        if (p, s) in variables:
            variables[(p, s)] = [] if o == OWL_NOTHING else [o]
            pinned.add((p, s))
        q = inverse_of.get(p)
        if q is not None and o != OWL_NOTHING and (q, o) in variables:
            variables[(q, o)] = [s]
            pinned.add((q, o))

    ground = dict(facts)  # (p, s) -> o, includes owl:Nothing rows

    # static hot-path indexes (r7, guide §4 — init once per solve, not
    # per search step): m, ground, the variable KEY set and the
    # restriction graph never change during search — only `assignment`
    # does — so val()'s full-table scans and holds()'s repeated node
    # decodes fold into one-time inversions. Iteration order of the
    # source dicts is preserved, so every first-match lookup returns
    # the same row the linear scans did.
    ground_inv: Dict[Tuple[str, str], str] = {}
    for (_gp, _gs), _go in ground.items():
        ground_inv.setdefault((_gp, _go), _gs)
    vars_by_prop: Dict[str, List[Tuple[str, str]]] = {}
    for _v in variables:
        vars_by_prop.setdefault(_v[0], []).append(_v)
    prop_subjects_memo: Dict[str, List[str]] = {}

    # watched-variable read recording (r7): while a constraint is being
    # evaluated, `_reads_box[0]` is a set collecting every variable CELL
    # the evaluation read. A constraint's three-valued verdict under an
    # assignment depends only on the cells it read, so it needs
    # re-evaluation only after one of those cells is written (classic
    # watched-literals argument; see consistent()).
    _reads_box: list = [None]

    def _rd(v):
        rs = _reads_box[0]
        if rs is not None:
            rs.add(v)
        return assignment[v]

    def val(p: str, s: str):
        """Current value of p(s): assigned var, else ground fact, else
        via declared inverse; None if unknown, OWL_NOTHING if absent."""
        if (p, s) in variables:
            return _rd((p, s))
        if (p, s) in ground:
            return ground[(p, s)]
        q = inverse_of.get(p)
        if q is not None:
            # p(s) = x  <=>  q(x) = s for functional inverses
            x = ground_inv.get((q, s))
            if x is not None:
                return x
            qvars = vars_by_prop.get(q, ())
            for qv in qvars:
                if _rd(qv) == s:
                    return qv[1]
            # unknown only if some q-var could still take value s
            for qv in qvars:
                if _rd(qv) is None and s in variables[qv]:
                    return None
            return OWL_NOTHING
        return None

    def prop_subjects(p: str) -> List[str]:
        """Candidate subjects x for which p(x) may exist (static per
        solve; memoized)."""
        out = prop_subjects_memo.get(p)
        if out is None:
            out = [s for (pp, s) in variables if pp == p]
            out += [s for (pp, s) in ground if pp == p and s not in out]
            prop_subjects_memo[p] = out
        return out

    def _max_distinct(names) -> int:
        """Size of the largest successor subset that is PAIRWISE
        declared different (non-UNA: only such a subset certainly
        violates an upper cardinality bound). Successor sets are tiny
        per doc; exact search with a size guard."""
        items = sorted(names)
        if len(items) <= 1:
            return len(items)
        if len(items) > 10:
            # degenerate doc: greedy clique — a certain LOWER bound.
            # (An overestimate would falsely prune satisfiable models,
            # SHRINKING the model set and inflating the entailment
            # intersection — the unsafe direction. An underestimate only
            # lets more models survive → fewer entailments.)
            clique: list = []
            for x in items:
                if all(declared_different(x, y) for y in clique):
                    clique.append(x)
            return len(clique)
        from itertools import combinations

        for k in range(len(items), 1, -1):
            for subset in combinations(items, k):
                if all(
                    declared_different(a, b)
                    for a, b in combinations(subset, 2)
                ):
                    return k
        return 1

    # static decode caches for holds(): the restriction-node structure
    # and the asserted type extents never change during search, so each
    # node's property/value/bound reads run once, not per search step
    _type_sets: Dict[str, Set[str]] = {}
    _node_decode: Dict[str, tuple] = {}
    _card_decode: Dict[str, tuple] = {}

    # compile restriction trees into three-valued checkers
    def holds(entity: str, node: str):
        """True/False/None(=unknown) — does `entity` satisfy the class
        expression rooted at `node`?"""
        if not node.startswith("_:"):
            if node == OWL_THING:
                return True
            if node in enums:
                return entity in enums[node]
            ts = _type_sets.get(node)
            if ts is None:
                ts = set(m.subjects(V.RDF_TYPE, node))
                _type_sets[node] = ts
            return entity in ts or None
        dec = _node_decode.get(node)
        if dec is None:
            on_p0 = m.obj(node, OWL_ON_PROPERTY)
            # anonymous Inverse(q): on_p is a blank node with owl:inverseOf q
            iq = (
                m.obj(on_p0, V.OWL_INVERSE_OF)
                if on_p0 is not None and on_p0.startswith("_:")
                else None
            )
            dec = (
                on_p0,
                iq,
                m.obj(node, OWL_HAS_VALUE),
                m.obj(node, OWL_HAS_SELF),
                m.obj(node, OWL_ALL_VALUES_FROM),
                m.obj(node, OWL_SOME_VALUES_FROM),
            )
            _node_decode[node] = dec
        on_p, inv_q, hv, hs, av, sv = dec
        if on_p is None:
            return None
        if hv is not None:
            if inv_q:
                # Inverse(q).value(v): q(v) == entity
                got = val(inv_q, hv)
                return None if got is None else got == entity
            got = val(on_p, entity)
            return None if got is None else got == hv
        if hs is not None and hs.lower() in ("true", "1"):
            # r6: p hasSelf — the entity relates to ITSELF via p
            if inv_q:
                # Inverse(q).hasSelf ≡ q.hasSelf
                got = val(inv_q, entity)
            else:
                got = val(on_p, entity)
            return None if got is None else got == entity
        if av is not None:
            # r6c — only(data range): every asserted LITERAL value must
            # be in the range; data values are given, so this is
            # two-valued (vacuously true with no values). Blank nodes
            # that do NOT decode as a data range fall through to the
            # class-expression recursion below.
            rng_av = data_range_of(av)
            if rng_av is not None:
                if m.objs(entity, on_p):
                    return False  # entity value under a data-only range
                return all(
                    _FX.literal_in_range(lex, rng_av)
                    for lex in lit_facts.get((on_p, entity), ())
                )
            # only(C): every value of the property satisfies C; a
            # functional property has at most one — absent is vacuous
            if inv_q:
                # Inverse(q).only(C): every y with q(y) = entity is a C
                unknown = False
                for y in prop_subjects(inv_q):
                    got = val(inv_q, y)
                    if got is None:
                        unknown = True
                        continue
                    if got == entity:
                        sub = holds(y, av)
                        if sub is False:
                            return False
                        if sub is None:
                            unknown = True
                return None if unknown else True
            got = val(on_p, entity)
            if got is None:
                return None
            if got == OWL_NOTHING:
                return True
            return holds(got, av)
        if sv is not None:
            # r6c — some(data range): an asserted literal in the range
            # is a witness (True); with none, the open world still
            # allows an unstated value — unknown, never False
            rng_sv = data_range_of(sv)
            if rng_sv is not None:
                if any(
                    _FX.literal_in_range(lex, rng_sv)
                    for lex in lit_facts.get((on_p, entity), ())
                ):
                    return True
                return None
            if inv_q:
                # Inverse(q).some(C). If q has a declared functional
                # inverse r, then Inverse(q) ≡ r and the witness is
                # simply r(entity) — this also covers the case where
                # canonicalization dropped q's own variables.
                r = inverse_of.get(inv_q)
                if r is not None and r in functional:
                    got = val(r, entity)
                    if got is None:
                        return None
                    if got == OWL_NOTHING:
                        return False
                    return holds(got, sv)
                # fallback: enumerate candidate subjects y of q
                unknown = False
                for y in prop_subjects(inv_q):
                    got = val(inv_q, y)
                    if got is None:
                        unknown = True
                        continue
                    if got == entity:
                        sub = holds(y, sv)
                        if sub is True:
                            return True
                        if sub is None:
                            unknown = True
                return None if unknown else False
            got = val(on_p, entity)
            if got is None:
                return None
            if got == OWL_NOTHING:
                return False
            return holds(got, sv)
        # bounds read through fm: hand-authored cardinality numbers
        # are LITERAL rows, which only facet-using docs ship — for all
        # other docs fm and m hold identical rows
        cd = _card_decode.get(node)
        if cd is None:
            cd = (
                _card_int(fm, node, OWL_MIN_CARDINALITY),
                _card_int(fm, node, OWL_MAX_CARDINALITY),
                _card_int(fm, node, OWL_CARDINALITY),
                _card_int(fm, node, OWL_QUALIFIED_CARDINALITY),
                _card_int(fm, node, OWL_MIN_QUALIFIED_CARDINALITY),
                _card_int(fm, node, OWL_MAX_QUALIFIED_CARDINALITY),
                m.obj(node, OWL_ON_CLASS),
                m.obj(node, _FX.ON_DATA_RANGE),
            )
            _card_decode[node] = cd
        minc, maxc, card, qcard, qmin, qmax, on_c, on_dr = cd
        if card is not None or minc is not None or maxc is not None:
            # dialect (conservative both ways, documented): the lower
            # bound counts DISTINCT NAMES present in the model (closed
            # over the enumerated fragment, like some-restrictions);
            # the upper bound is violated only by successors pairwise
            # DECLARED different (non-UNA: undeclared names may merge)
            if inv_q:
                return None  # inverse cardinality: undecidable here
            lo = card if card is not None else minc
            hi = card if card is not None else maxc
            names = set(m.objs(entity, on_p))
            unknown = False
            if (on_p, entity) in variables:
                a = _rd((on_p, entity))
                if a is None:
                    unknown = True
                elif a != OWL_NOTHING:
                    names.add(a)
            elif inverse_of.get(on_p) is not None:
                got = val(on_p, entity)
                if got is None:
                    unknown = True
                elif got != OWL_NOTHING:
                    names.add(got)
            if hi is not None and _max_distinct(names) > hi:
                return False
            if unknown:
                return None
            if lo is not None and len(names) < lo:
                return False
            return True
        if qcard is not None or qmin is not None or qmax is not None:
            # r6 qualified cardinality: count only successors IN the
            # onClass — lower bound over successors PROVABLY in C,
            # upper bound violated only by a pairwise-declared-
            # different subset provably in C (non-UNA both ways, the
            # unqualified checkers' logic relativized to C membership)
            if inv_q:
                return None  # inverse qualified cardinality: undecidable here
            if on_c is None:
                # r6c — onDataRange-qualified: count DISTINCT CANONICAL
                # literal values in the range (distinct canonical
                # values are provably pairwise different AND provably
                # in the range — UNA is irrelevant for literals), so
                # the upper bound prunes with certainty; the lower
                # bound stays open-world (an unstated value may exist
                # in another model — unknown, never False)
                rng_q = data_range_of(on_dr)
                if rng_q is None:
                    return None
                lo2 = qcard if qcard is not None else qmin
                hi2 = qcard if qcard is not None else qmax
                vals = lit_facts.get((on_p, entity), ())
                canon_vals = {
                    _FX.canon(lex, rng_q[0])
                    for lex in vals
                    if _FX.literal_in_range(lex, rng_q)
                }
                if hi2 is not None and len(canon_vals) > hi2:
                    return False
                if lo2 is not None and len(canon_vals) < lo2:
                    return None
                return True
            lo = qcard if qcard is not None else qmin
            hi = qcard if qcard is not None else qmax
            names = set(m.objs(entity, on_p))
            unknown = False
            if (on_p, entity) in variables:
                a = _rd((on_p, entity))
                if a is None:
                    unknown = True
                elif a != OWL_NOTHING:
                    names.add(a)
            elif inverse_of.get(on_p) is not None:
                got = val(on_p, entity)
                if got is None:
                    unknown = True
                elif got != OWL_NOTHING:
                    names.add(got)
            member = {y: holds(y, on_c) for y in names}
            provably = [y for y, h in member.items() if h is True]
            if hi is not None and _max_distinct(provably) > hi:
                return False
            if unknown or any(h is None for h in member.values()):
                return None
            if lo is not None and len(provably) < lo:
                return False
            return True
        return None

    constraints = [(s, r) for s, r in restrictions]

    # InverseFunctional p entails s1 = s2 whenever p(s1) = p(s2); under
    # OWL's open-world non-UNA semantics that is a CONTRADICTION only
    # when s1 and s2 are explicitly declared different — so the
    # injectivity (all-diff) constraint applies exactly between subject
    # pairs covered by an owl:AllDifferent axiom, never by name alone
    diff_sets = [set(g) for g in all_different]

    def declared_different(a: str, b: str) -> bool:
        return a != b and any(a in g and b in g for g in diff_sets)

    alldiff_groups: Dict[str, List[Tuple[str, str]]] = {}
    for (p, s) in variables:
        if p in invfunctional:
            alldiff_groups.setdefault(p, []).append((p, s))

    # r6 disjointness: precompile each owl:disjointWith pair into a
    # bounded per-entity check list so consistent() stays cheap.
    # Membership is three-valued: STATIC (asserted rdf:type, or OneOf
    # enumeration — closed, so absence is a definite False) vs DYNAMIC
    # (the class is restriction-DEFINED via equivalentClass, so
    # membership depends on the current assignment — `holds`).  A spec
    # of True means "statically a member"; a spec that is a blank-node
    # id means "evaluate holds(x, node) under the assignment".
    def _static_members(cls: str) -> Set[str]:
        out = set(m.subjects(V.RDF_TYPE, cls)) | set(enums.get(cls, ()))
        return {x for x in out if not x.startswith("_:")}

    individuals: Set[str] = set()
    for members in enums.values():
        individuals.update(members)
    for (s, p), objs in m.spo.items():
        if p == V.RDF_TYPE and not s.startswith("_:"):
            if any(not o.startswith("_:") for o in objs):
                individuals.add(s)

    static_unsat = False
    disjoint_checks: List[Tuple[str, object, object]] = []
    for c, d in disjoint_pairs:
        mc, md = _static_members(c), _static_members(d)
        if mc & md:
            # an entity is ASSERTED into both sides: no model exists
            # (owlrl's cax-dw additionally emits the diagnostic rows)
            static_unsat = True
            continue
        rc, rd = equiv_restr.get(c), equiv_restr.get(d)
        if rd is not None:
            disjoint_checks.extend((x, True, rd) for x in sorted(mc))
        if rc is not None:
            disjoint_checks.extend((x, rc, True) for x in sorted(md))
        if rc is not None and rd is not None:
            disjoint_checks.extend(
                (x, rc, rd) for x in sorted(individuals - mc - md)
            )

    # owl:propertyDisjointWith — in the single-valued representation a
    # violation is exactly val(p1, x) == val(p2, x) (both known, not
    # Nothing); asserted multi-valued overlaps are a static check
    for p1, p2 in prop_disjoint:
        for (s, p), objs in m.spo.items():
            if p == p1 and not s.startswith("_:"):
                if set(objs) & set(m.objs(s, p2)):
                    static_unsat = True

    pd_subjects: List[Tuple[str, str, str]] = []
    if prop_disjoint:
        for p1, p2 in prop_disjoint:
            for x in sorted(set(prop_subjects(p1)) | set(prop_subjects(p2))):
                pd_subjects.append((p1, p2, x))

    # r6b hasKey: precompile the DECLARED-different candidate pairs of
    # each keyed class (membership three-valued, like disjoint_checks:
    # True = static member, blank-node spec = holds() per model) — a
    # model dies only when both are PROVABLY in C and PROVABLY share a
    # value for EVERY key property. The sameAs inference itself lives
    # in owlrl's prp-key; the CSP contributes the consistency half.
    key_checks: List[Tuple[str, str, List[str], object, object]] = []
    for cls, ps in keys:
        if not ps:
            continue
        mc = _static_members(cls)
        rc = equiv_restr.get(cls)
        cand = sorted(mc | (individuals if rc is not None else set()))
        for i1 in range(len(cand)):
            for i2 in range(i1 + 1, len(cand)):
                a, b = cand[i1], cand[i2]
                if not declared_different(a, b):
                    continue
                sa = True if a in mc else rc
                sb = True if b in mc else rc
                # ASSERTED overlap on every key property between two
                # static members is a static contradiction (covers
                # zero-variable documents, where consistent() never
                # runs; asserted facts are provable in every model)
                if (
                    sa is True
                    and sb is True
                    and all(set(m.objs(a, p)) & set(m.objs(b, p)) for p in ps)
                ):
                    static_unsat = True
                key_checks.append((a, b, ps, sa, sb))

    # r6b NegativePropertyAssertion: the ASSERTED denied fact is a
    # static contradiction; model values are checked in consistent()
    for src, ap, tgt in npas:
        if tgt in m.objs(src, ap):
            static_unsat = True

    order = sorted(variables, key=lambda v: (len(variables[v]), v))
    models: List[Dict[Tuple[str, str], str]] = []
    steps = 0

    # incremental constraint checking (r7, the watched-variables
    # argument): a constraint evaluated under assignment A with read
    # set R has the same three-valued verdict under ANY assignment
    # agreeing with A on R — so it is re-evaluated only after one of
    # its watched cells is written. Every constraint starts dirty; a
    # constraint that returns False STAYS dirty (the prune forces a
    # write before the next consistent() call, but the write need not
    # touch the new read set). consistent() only ever returns True
    # when every constraint is provably not-False under the current
    # assignment — exactly the original full-loop contract.
    _n_con = len(constraints)
    _con_dirty = [True] * _n_con
    _con_watch: List[set] = [set() for _ in range(_n_con)]
    _watchers: Dict[Tuple[str, str], set] = {}

    def _touch(v):
        for ci in _watchers.get(v, ()):
            _con_dirty[ci] = True

    def consistent() -> bool:
        if static_unsat:
            return False
        # r6 disjointness: prune when an entity is PROVABLY a member of
        # both sides of a disjoint pair (three-valued: unknown
        # membership never prunes — non-UNA-safe, like cardinality)
        for x, sc, sd in disjoint_checks:
            if (True if sc is True else holds(x, sc)) is not True:
                continue
            if (True if sd is True else holds(x, sd)) is True:
                return False
        for p1, p2, x in pd_subjects:
            v1 = val(p1, x)
            if v1 is None or v1 == OWL_NOTHING:
                continue
            if v1 == val(p2, x):
                return False
        # r6b hasKey: declared-different pair, both provably in the
        # keyed class, provably sharing EVERY key value → contradiction
        # (unknown membership or unknown values never prune — non-UNA)
        for a, b, ps, sa, sb in key_checks:
            if (True if sa is True else holds(a, sa)) is not True:
                continue
            if (True if sb is True else holds(b, sb)) is not True:
                continue
            shared_all = True
            for p in ps:
                va = val(p, a)
                if va is None or va == OWL_NOTHING or va != val(p, b):
                    shared_all = False
                    break
            if shared_all:
                return False
        # r6b NegativePropertyAssertion: a model assigning the denied
        # fact dies (asserted occurrences are static_unsat above)
        for src, ap, tgt in npas:
            if val(ap, src) == tgt:
                return False
        # r6: irreflexive / asymmetric characteristics prune models on
        # CERTAIN violations (three-valued: unknown values never prune)
        for p in irreflexive:
            for s in prop_subjects(p):
                if val(p, s) == s:
                    return False
        for p in asymmetric:
            for s in prop_subjects(p):
                got = val(p, s)
                if got not in (None, OWL_NOTHING) and got != s:
                    if val(p, got) == s:
                        return False
        for p, group in alldiff_groups.items():
            by_val: Dict[str, List[str]] = {}
            for v in group:
                a = assignment[v]
                if a is None or a == OWL_NOTHING:
                    continue
                for other_subj in by_val.get(a, ()):
                    if declared_different(v[1], other_subj):
                        return False
                by_val.setdefault(a, []).append(v[1])
        for ci in range(_n_con):
            if not _con_dirty[ci]:
                continue
            s, r = constraints[ci]
            _reads_box[0] = rs = set()
            h = holds(s, r)
            _reads_box[0] = None
            old_watch = _con_watch[ci]
            for v in old_watch - rs:
                _watchers[v].discard(ci)
            for v in rs - old_watch:
                _watchers.setdefault(v, set()).add(ci)
            _con_watch[ci] = rs
            if h is False:
                return False  # stays dirty: next state must re-check it
            _con_dirty[ci] = False
        return True

    def search(i: int):
        nonlocal steps
        if len(models) >= max_models or steps > max_steps:
            return
        if i == len(order):
            # a full assignment: every constraint must now be decided
            for s, r in constraints:
                if holds(s, r) is not True:
                    return
            models.append(dict(assignment))
            return
        var = order[i]
        # OWL_NOTHING = "no value" (open world: a functional prop need
        # not have a value unless a some-restriction forces one, in
        # which case consistent() prunes the branch) — except for vars
        # pinned by an asserted fact, which certainly HAVE that value
        cands = variables[var] if var in pinned else variables[var] + [OWL_NOTHING]
        for cand in cands:
            steps += 1
            if steps > max_steps:
                return
            assignment[var] = cand
            _touch(var)
            if consistent():
                search(i + 1)
            assignment[var] = None
            _touch(var)

    # a statically-unsatisfiable doc has NO models even when it
    # creates no CSP variables (consistent() never runs for the empty
    # assignment) — skip the search outright
    if not static_unsat:
        search(0)
    if stats is not None:
        stats.update(n_models=len(models), steps=steps, n_vars=len(order), models=models)

    # conservative entailment: if either cap was hit, the model set is
    # incomplete and an intersection could over-claim — emit only the
    # deterministic inferences
    if models and steps <= max_steps and len(models) < max_models:
        entailed = None
        for model in models:
            fs = set()
            for (p, s), o in model.items():
                if o and o != OWL_NOTHING:
                    fs.add((s, p, o))
                    q = inverse_of.get(p)
                    if q is not None and not q.startswith("_:"):
                        fs.add((o, q, s))
            entailed = fs if entailed is None else (entailed & fs)
        inferred |= entailed or set()

    return inferred


def dl_document(
    doc_iri: str,
    rows,
    *,
    max_models: int,
    max_steps: int,
    on_unsupported: str,
) -> List[Tuple[str, str, str, bool, None]]:
    """The facts DL model search derives for one document, Spark-free:
    ``rows`` are its (subj, pred, obj, obj_is_literal, obj_datatype)
    tuples; the result is the entailed entity facts not among them plus
    the unsupported-construct diagnostics. The options are
    :func:`dl_model_search`'s, which holds their defaults and checks
    ``on_unsupported``."""
    facts = dict.fromkeys((s, p, o, il) for s, p, o, il, _ in rows)
    rows = [(s, p, o) for s, p, o, il in facts if not il]
    lit_rows = [(s, p, o) for s, p, o, il in facts if il]
    unsupported = set()
    # facet vocabulary is CONDITIONALLY supported: a range node the
    # shared evaluator decodes is reasoned over; anything it cannot
    # parse (unknown facet, user datatype, malformed bound) keeps
    # the loud diagnostic naming the construct
    facet_nodes = {(s, p, o) for s, p, o in rows if p in _FACET_VOCAB}
    if facet_nodes:
        fm = _DocModel(rows + lit_rows)
        for s, p, o in facet_nodes:
            if p == _FX.ON_DATA_RANGE:
                ok = (
                    _FX.parse_data_range(fm, o) is not None
                    if o.startswith("_:")
                    else o in _FX.SUPPORTED_BASES
                )
            else:
                ok = _FX.parse_data_range(fm, s) is not None
            if not ok:
                unsupported.add(p)
    unsupported = sorted(unsupported)
    if unsupported and on_unsupported == "raise":
        raise UnsupportedDLError(
            f"{doc_iri} uses DL constructs outside the supported "
            f"fragment: {', '.join(unsupported)}"
        )
    asserted = set(rows)
    inferred = _solve_doc(
        rows, max_models=max_models, max_steps=max_steps, lit_rows=lit_rows
    )
    out = sorted(t for t in inferred if t not in asserted)
    if unsupported and on_unsupported == "warn":
        out.extend((doc_iri, YPO_DL_UNSUPPORTED, c) for c in unsupported)
    return [(s, p, o, False, None) for s, p, o in out]


def dl_model_search(
    triples: DataFrame,
    max_models: int = 8,
    max_steps: int = 500_000,
    on_unsupported: str = "warn",
) -> DataFrame:
    """Distributed DL model search: one :func:`dl_document` CSP solve
    per document through :func:`.isomorph.per_document`. Returns the
    inferred delta with the standard fact schema. Entity facts only —
    literal triples never participate in this fragment.

    The supported-fragment boundary is OBSERVABLE, never silent
    (r2 verdict #4): a document using a construct the fragment ignores
    (a datatype restriction the facet evaluator cannot decode) yields,
    per distinct construct, one diagnostic row ``(doc_iri,
    ypo:dlUnsupportedConstruct, <construct>)`` in the output
    (``on_unsupported="warn"``, default);
    ``"raise"`` fails the job with :class:`UnsupportedDLError` naming
    the document; ``"ignore"`` restores the silent fall-through."""
    if on_unsupported not in ("warn", "raise", "ignore"):
        raise ValueError(f"on_unsupported must be warn|raise|ignore: {on_unsupported!r}")
    # r6c: literal rows travel too — facet-constrained data ranges need
    # the asserted data values and facet bound literals; the CSP core
    # stays entity-only (split per doc in dl_document). Only docs that
    # actually USE the facet vocabulary ship their literals (broadcast
    # semi-join on a pushdown-filtered scan) — for the common corpus
    # the literal volume added to the DL shuffle is exactly zero.
    facet_docs = (
        triples.filter(F.col("pred").isin(*sorted(_FACET_VOCAB)))
        .select("doc_iri")
        .distinct()
        .withColumn("__facet_doc", F.lit(True))
    )
    ent = triples.join(F.broadcast(facet_docs), "doc_iri", "left").filter(
        ~F.col("obj_is_literal") | F.col("__facet_doc").isNotNull()
    )
    return per_document(
        ent,
        partial(
            dl_document,
            max_models=max_models,
            max_steps=max_steps,
            on_unsupported=on_unsupported,
        ),
    )
