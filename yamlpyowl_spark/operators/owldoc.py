"""One OWL document as the reasoners read it: its triples indexed by
``(subj, pred)`` (:class:`DocModel`), the axioms whose OWL 2 RDF
encoding every engine shares (:func:`axioms`) and graph reachability
(:func:`reach`).

:mod:`.owlrl`, :mod:`.dlreason`, :mod:`.facets`, :mod:`.swrl` and the
facade's class-expression decode (``api.OntologyManager``) read a
document through this module, so how an axiom is spelled in triples
is decided here once. Plain Python: no Spark session needed.
"""

from __future__ import annotations

from itertools import combinations
from typing import Dict, Iterable, List, NamedTuple, Optional, Tuple

from .. import vocab as V


def _named(nodes: Iterable[str]) -> List[str]:
    return [x for x in nodes if not x.startswith("_:")]


class DocModel:
    """A document's ``(subj, pred, obj, obj_is_literal)`` rows: ``spo``
    maps ``(subj, pred)`` to its ``(obj, obj_is_literal)`` pairs in row
    order. The ``(pred, obj) -> subjects`` index behind
    :meth:`subjects` is built on first use."""

    def __init__(self, rows):
        self.spo: Dict[Tuple[str, str], List[Tuple[str, bool]]] = {}
        for s, p, o, il in rows:
            self.spo.setdefault((s, p), []).append((o, il))
        self._po: Optional[Dict[Tuple[str, str], List[str]]] = None

    def objs(self, s: str, p: str) -> List[str]:
        return [o for o, _ in self.spo.get((s, p), ())]

    def obj(self, s: str, p: str) -> Optional[str]:
        v = self.spo.get((s, p))
        return v[0][0] if v else None

    def subjects(self, p: str, o: str) -> List[str]:
        if self._po is None:
            self._po = {}
            for (s, p2), objs in self.spo.items():
                for o2, _ in objs:
                    self._po.setdefault((p2, o2), []).append(s)
        return self._po.get((p, o), [])

    def rdf_list(self, node: str) -> List[str]:
        """The members of the ``rdf:List`` at ``node``; a cyclic list
        ends where it meets itself."""
        out, seen = [], set()
        while node and node != V.RDF_NIL and node not in seen:
            seen.add(node)
            head = self.obj(node, V.RDF_FIRST)
            if head is not None:
                out.append(head)
            node = self.obj(node, V.RDF_REST)
        return out


# the predicates :func:`axioms` reads off named subjects: axioms, so
# never facts
AXIOM_PREDS = frozenset(
    V.OWL + n
    for n in ("disjointWith", "propertyDisjointWith", "differentFrom", "disjointUnionOf", "hasKey")
)
_AXIOM_TYPES = frozenset(
    V.OWL + n
    for n in ("NegativePropertyAssertion", "AllDifferent", "AllDisjointClasses", "AllDisjointProperties")
)


class Axioms(NamedTuple):
    """The axioms of one document both reasoners decode the same way."""

    # named class pairs: disjointWith, disjointUnionOf parts,
    # AllDisjointClasses members
    disjoint: List[Tuple[str, str]]
    # named property pairs: propertyDisjointWith, AllDisjointProperties
    prop_disjoint: List[Tuple[str, str]]
    # (C, named parts) of C owl:disjointUnionOf (parts)
    unions: List[Tuple[str, List[str]]]
    # (C, named properties) of C owl:hasKey (p1 .. pn)
    keys: List[Tuple[str, List[str]]]
    # member lists of AllDifferent nodes (distinctMembers or members,
    # blank members kept) and [a, b] per a owl:differentFrom b
    different: List[List[str]]
    # (node, sourceIndividual, assertionProperty) per
    # NegativePropertyAssertion node; the targets stay on the node
    npas: List[Tuple[str, str, str]]


def axioms(m: DocModel) -> Axioms:
    ax = Axioms([], [], [], [], [], [])
    for (s, p), objs in m.spo.items():
        if p == V.RDF_TYPE:
            # n-ary axioms and NPAs live on nodes typed with the axiom
            types = {o for o, _ in objs if o in _AXIOM_TYPES}
            if not types:
                continue
            if V.OWL + "NegativePropertyAssertion" in types:
                src = m.obj(s, V.OWL + "sourceIndividual")
                ap = m.obj(s, V.OWL + "assertionProperty")
                if src and ap:
                    ax.npas.append((s, src, ap))
            if V.OWL_ALL_DIFFERENT in types:
                lst = m.obj(s, V.OWL_DISTINCT_MEMBERS) or m.obj(s, V.OWL + "members")
                if lst:
                    ax.different.append(m.rdf_list(lst))
            for kind, pairs in (
                ("AllDisjointClasses", ax.disjoint),
                ("AllDisjointProperties", ax.prop_disjoint),
            ):
                if V.OWL + kind in types:
                    lst = m.obj(s, V.OWL + "members")
                    pairs.extend(combinations(_named(m.rdf_list(lst) if lst else ()), 2))
            continue
        if p not in AXIOM_PREDS or s.startswith("_:"):
            continue
        for o, _ in objs:
            blank = o.startswith("_:")
            if p == V.OWL + "disjointWith" and not blank:
                ax.disjoint.append((s, o))
            elif p == V.OWL + "propertyDisjointWith" and not blank:
                ax.prop_disjoint.append((s, o))
            elif p == V.OWL + "differentFrom" and not blank:
                ax.different.append([s, o])
            elif p == V.OWL + "disjointUnionOf" and blank:
                parts = _named(m.rdf_list(o))
                ax.unions.append((s, parts))
                ax.disjoint.extend(combinations(parts, 2))
            elif p == V.OWL + "hasKey":
                # a bare named property is a 1-element key
                ps = m.rdf_list(o) if blank else [o]
                if ps and not any(k.startswith("_:") for k in ps):
                    ax.keys.append((s, ps))
    return ax


def reach(adj: Dict[str, Iterable[str]], starts: Iterable[str]) -> set:
    """``starts`` and every node reachable from them along ``adj``."""
    out = set(starts)
    todo = list(out)
    while todo:
        for nxt in adj.get(todo.pop(), ()):
            if nxt not in out:
                out.add(nxt)
                todo.append(nxt)
    return out
