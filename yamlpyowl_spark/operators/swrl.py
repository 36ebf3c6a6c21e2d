"""SWRL-rule forward chaining, one document per task.

The reference applies SWRL rules by shelling out to a Java/Pellet
reasoner (core.py:1342-1343, sync_reasoner_pellet). Rule names resolve
against the document IRI (the parser emits rules as ``(rule_iri,
ypo:ruleSrc, src)`` literals), so chaining never crosses ``doc_iri``.

* Driver: :func:`forward_chain` collects the rule-bearing triples once
  and validates every rule with :func:`compile_rule`, so a rule outside
  the fragment raises (or is skipped with a warning) when
  ``forward_chain`` is called, before any evaluation job. Only the
  documents that carry a valid rule are shuffled, one
  :func:`.isomorph.per_document` group per document.
* Executor: :func:`chain_document`, plain Python, compiles the
  document's rules from its rows with the same :func:`compile_rule`
  walk, straight into the atoms the engine matches. Round 0
  evaluates every rule in full; round r re-joins only the bindings in
  which one body atom matches a fact or a closed type new in round
  r-1, against the facts present at the start of round r, so
  ``max_iter`` caps the rounds. Every atom is a hash lookup keyed on
  the variables already bound. A large document is one task.

Supported (everything the reference fixtures use, plus class-atom
heads which the reference's Pellet path also accepts):

* class atoms        ``C(?x)``        — with rdfs:subClassOf-closure
                                        semantics (a District is a
                                        GeographicEntity), in body AND
                                        head position;
* property atoms     ``p(?x, ?y)``    — object or data properties,
                                        constants allowed in any slot;
                                        a constant object matches a
                                        literal's lexical form or the
                                        entity IRI;
* arithmetic atoms   ``add/subtract/multiply/mod(?z, ?x, ?y)`` —
  swrlb result-first convention; binds ``?z`` (or checks it when
  already bound); INTEGER fragment with try-cast semantics (r6b): a
  non-integral operand, int64 overflow and mod-by-zero drop the
  binding, and mod truncates toward zero;
* string atoms       ``stringConcat(?z, ?a, ?b, ...)`` (n-ary),
  ``stringLength/upperCase/lowerCase(?z, ?x)`` — result-first, bind
  or check like the arithmetic batch; ``contains/startsWith/
  endsWith(?x, ?y)`` filter; double-quoted constants allowed (commas
  inside quotes survive the arg split) (r6c);
  ``booleanNot(?z, ?x)`` flips the boolean lexicals ("1"/"0"
  accepted, canonical "true"/"false" emitted; non-boolean bindings
  drop) (r6d);
  ``substring(?z, ?s, start[, length])`` in the INTEGER fragment
  (r6d): XPath character positions ``p >= start`` and
  ``p < start + length`` (1-based; a negative/zero ``start`` shifts
  the window, never wraps), start/length are integer constants or
  previously-bound variables — non-integral bindings drop like the
  arithmetic batch. XPath's FLOAT-argument rounding stays outside the
  fragment (a Java-vs-Python formatting parity trap) and raises up
  front;
* builtin atoms      ``greaterThan/lessThan/greaterThanOrEqual/
  lessThanOrEqual/equal/notEqual(?v, const-or-?w)`` (numeric
  comparison; a non-numeric binding drops; r6 adds the OrEqual/equal/
  notEqual names and var-var operands);
* owl:TransitiveProperty — expanded to ``p(?x,?y), p(?y,?z) → p(?x,?z)``;
* owl:inverseOf      — ``p(?x,?y) → q(?y,?x)`` in both directions.

Anything outside the fragment (unknown builtins, builtins over unbound
variables, >2-ary atoms, head variables not bound in the body) raises
``UnsupportedSWRLError`` up front with the offending rule source —
never an opaque mid-fixpoint crash; pass ``on_unsupported="skip"`` to
drop such rules with a warning instead.

NOT a DL reasoner: OneOf/Functional/AllDifferent model enumeration
(the zebra puzzle's solution step) lives in ``operators/dlreason.py``;
``api.OntologyManager.sync_reasoner`` composes the two. The
triple-parity contract is on asserted triples (SURVEY.md §2.5).
"""

from __future__ import annotations

import operator
import warnings
from functools import partial

from pyspark.sql import DataFrame, functions as F

from .. import vocab as V
from ..parser.document import _parse_swrl
from ..parser.model import ParseError
from ..schema import FACT_SCHEMA, arrow_local_df
from .isomorph import per_document
from .owldoc import reach

_I64 = 2**63
_I32 = 2**31


def _int(x: str):
    """``try_cast(x AS BIGINT)``: the integer, or None."""
    try:
        n = int(x)
    except ValueError:
        return None
    return n if -_I64 <= n < _I64 else None


def _num_test(f, x: str, y: str) -> bool:
    # numeric comparison; a non-numeric operand fails the test
    try:
        return f(float(x), float(y))
    except ValueError:
        return False


def _int_op(f, x: str, y: str):
    # BIGINT arithmetic over lexical forms: None (the binding drops) on
    # a non-integral operand, int64 overflow or mod-by-zero
    a, b = _int(x), _int(y)
    r = None if a is None or b is None else f(a, b)
    return None if r is None or not -_I64 <= r < _I64 else str(r)


def _tmod(a: int, b: int):
    # Java's %: truncates toward zero, the sign follows the dividend
    if b == 0:
        return None
    r = abs(a) % abs(b)
    return r if a >= 0 else -r


def _substring(s: str, start: str, length: str = None):
    """XPath integer substring: the characters at 1-based positions
    ``p >= start`` and ``p < start + length``; None where a BIGINT or
    INT try-cast of a bound fails."""
    st = _int(start)
    if st is None:
        return None
    lo = max(st, 1)
    if length is None:
        return s[lo - 1 :] if lo < _I32 else None
    ln = _int(length)
    if ln is None or not -_I64 <= st + ln < _I64:
        return None
    n = st + ln - lo
    if not -_I64 <= n < _I64:
        return None
    if n <= 0:
        return ""
    return s[lo - 1 : lo - 1 + n] if lo < _I32 and n < _I32 else None


def _boolean_not(x: str):
    if x in ("true", "1"):
        return "false"
    if x in ("false", "0"):
        return "true"
    return None


# swrlb comparisons: numeric, a non-numeric binding drops (r6 adds the
# OrEqual/equal/notEqual names and var-var operands)
_COMPARE = {
    name: partial(_num_test, op)
    for name, op in (
        ("greaterThan", operator.gt),
        ("lessThan", operator.lt),
        ("greaterThanOrEqual", operator.ge),
        ("lessThanOrEqual", operator.le),
        ("equal", operator.eq),
        ("notEqual", operator.ne),
    )
}
# swrlb arithmetic, result-first (r6b). Division stays outside the
# fragment (its value is non-integral almost surely; a float dialect
# would hitch engine parity to Java-vs-Python double formatting).
_ARITH = {
    name: partial(_int_op, fn)
    for name, fn in (
        ("add", operator.add),
        ("subtract", operator.sub),
        ("multiply", operator.mul),
        ("mod", _tmod),
    )
}
# swrlb string builtins, result-first (r6c, r6d): stringLength binds
# the decimal lexical of the CHARACTER count; upperCase/lowerCase follow
# Python default-locale casing (the corpus dialect is ASCII)
_STR_FN = {
    "stringConcat": lambda *parts: "".join(parts),
    "stringLength": lambda x: str(len(x)),
    "upperCase": str.upper,
    "lowerCase": str.lower,
    "substring": _substring,
    "booleanNot": _boolean_not,
}
_STR_CHECK = {
    "contains": operator.contains,
    "startsWith": str.startswith,
    "endsWith": str.endswith,
}


def _int_same(bound: str, r: str) -> bool:
    # an arithmetic atom whose result is already bound: integer equality
    return _int(bound) == int(r)


def _unquote(a: str) -> str:
    """Strip surrounding double quotes from a SWRL string constant
    (backslash escapes unescaped); bare words pass through."""
    if len(a) >= 2 and a[0] == '"' and a[-1] == '"':
        return a[1:-1].replace('\\"', '"').replace("\\\\", "\\")
    return a


class UnsupportedSWRLError(ParseError):
    """A rule uses a construct outside the supported SWRL fragment."""


def _int_lexical(a: str, what: str) -> str:
    try:
        return str(int(a))
    except ValueError:
        raise UnsupportedSWRLError(
            f"non-integer {what} constant {a!r} (integer fragment)"
        ) from None


def _numeric(a: str) -> str:
    try:
        float(a)
    except ValueError:
        raise UnsupportedSWRLError(f"non-numeric builtin constant {a!r}") from None
    return a


def _head_literal(o: str):
    """A head constant's (lexical, datatype) when it reads as a number."""
    try:
        return str(int(o)), V.XSD_INTEGER
    except ValueError:
        try:
            return str(float(o)), V.XSD_DOUBLE
        except ValueError:
            return None


_ARITH_CONST = partial(_int_lexical, what="arithmetic")
# substring's start/length: XPath INTEGER fragment (a float needs XPath
# round() parity — loud-out)
_SUBSTRING_CONST = partial(_int_lexical, what="substring")


# --------------------------------------------------------------------------
# rule compilation: (body, head) atom lists -> the engine's atoms
# --------------------------------------------------------------------------


def compile_rule(doc_iri: str, body: list, head: list):
    """One parsed rule as the engine's (body, head) atoms, names
    resolved against ``doc_iri``. Variables are ``("v", i)``, numbered
    in order of first binding, constants ``("c", value)``.

    Body atoms: ``("facts" | "types", pred, subj, obj)`` is matched
    against an index, where a constant object is ``("k", ((value,
    obj_is_literal), ...))`` (a class atom reads the closed types as
    ``(inst, rdf:type, cls)`` facts); ``("test", fn, terms)`` filters;
    ``("eval", fn, out, terms, same)`` binds ``out`` to ``fn(terms)``,
    or keeps the binding if ``same(out, fn(terms))`` when ``out`` is
    already bound. Head atoms: ``(subj, pred, obj, obj_is_literal,
    obj_datatype)`` with terms in the subject and object.

    Raises :class:`UnsupportedSWRLError` on rules outside the fragment
    (validated up front so a bad rule can never abort a running
    fixpoint — ADVICE r01 item on builtin-first / unary-head crashes).
    """
    varmap: dict = {}

    def var(a: str):
        return ("v", varmap.setdefault(a, len(varmap)))

    def operand(name: str, args: list, a: str, const=_unquote):
        # a builtin reads a variable only once an atom has bound it;
        # with no ``const``, a constant fails the same check
        if a.startswith("?") or const is None:
            if a not in varmap:
                raise UnsupportedSWRLError(
                    f"builtin {name}({', '.join(args)}) must follow an atom binding {a}"
                )
            return ("v", varmap[a])
        return ("c", const(a))

    def result(name: str, args: list):
        if not args[0].startswith("?"):
            raise UnsupportedSWRLError(
                f"builtin {name}({', '.join(args)}): the result argument must be a variable"
            )

    cbody = []
    for name, args in body:
        if name in _ARITH:
            if len(args) != 3:
                raise UnsupportedSWRLError(f"builtin {name} needs 3 args, got {args}")
            result(name, args)
            terms = [operand(name, args, a, _ARITH_CONST) for a in args[1:]]
            # a result NEW at this point binds, one already bound checks
            cbody.append(("eval", _ARITH[name], var(args[0])[1], terms, _int_same))
        elif name in _STR_FN:
            if name == "stringConcat":
                ok, want = len(args) >= 3, ">= 3"
            elif name == "substring":
                ok, want = len(args) in (3, 4), "3 or 4"
            else:
                ok, want = len(args) == 2, "2"
            if not ok:
                raise UnsupportedSWRLError(f"builtin {name} needs {want} args, got {args}")
            result(name, args)
            int_from = 2 if name == "substring" else len(args)  # start/length
            terms = [
                operand(name, args, a, _SUBSTRING_CONST if i >= int_from else _unquote)
                for i, a in enumerate(args[1:], 1)
            ]
            cbody.append(("eval", _STR_FN[name], var(args[0])[1], terms, operator.eq))
        elif name in _STR_CHECK:
            if len(args) != 2:
                raise UnsupportedSWRLError(f"builtin {name} needs 2 args, got {args}")
            cbody.append(("test", _STR_CHECK[name], [operand(name, args, a) for a in args]))
        elif name in _COMPARE:
            if len(args) != 2:
                raise UnsupportedSWRLError(f"builtin {name} needs 2 args, got {args}")
            terms = [operand(name, args, args[0], None), operand(name, args, args[1], _numeric)]
            cbody.append(("test", _COMPARE[name], terms))
        elif len(args) == 1:
            a = args[0]
            t = var(a) if a.startswith("?") else ("c", doc_iri + a)
            cbody.append(("types", V.RDF_TYPE, t, ("k", ((doc_iri + name, False),))))
        elif len(args) == 2:
            s, o = args
            st = var(s) if s.startswith("?") else ("c", doc_iri + s)
            # a constant object matches a literal lexical form OR a
            # local entity name
            ot = var(o) if o.startswith("?") else ("k", ((o, True), (doc_iri + o, False)))
            cbody.append(("facts", doc_iri + name, st, ot))
        else:
            raise UnsupportedSWRLError(f"atom {name}({', '.join(args)}) has arity {len(args)}")
    if not cbody:
        raise UnsupportedSWRLError("rule has an empty body")

    def bound(a: str):
        if not a.startswith("?"):
            return ("c", doc_iri + a)
        if a not in varmap:
            raise UnsupportedSWRLError(f"head variable {a} not bound in body")
        return ("v", varmap[a])

    chead = []
    for name, args in head:
        if name in _COMPARE:
            raise UnsupportedSWRLError(f"builtin {name} not allowed in rule head")
        if len(args) == 1:
            chead.append((bound(args[0]), V.RDF_TYPE, ("c", doc_iri + name), False, None))
        elif len(args) == 2:
            s, o = args
            st = bound(s)
            lit = None if o.startswith("?") else _head_literal(o)
            if lit is None:
                chead.append((st, doc_iri + name, bound(o), False, None))
            else:
                chead.append((st, doc_iri + name, ("c", lit[0]), True, lit[1]))
        else:
            raise UnsupportedSWRLError(f"head atom {name}({', '.join(args)}) has arity {len(args)}")
    if not chead:
        raise UnsupportedSWRLError("rule has an empty head")
    return cbody, chead


# the rules that property axioms stand for, written as rule atoms
_XY, _YX, _YZ, _XZ = ["?x", "?y"], ["?y", "?x"], ["?y", "?z"], ["?x", "?z"]


# --------------------------------------------------------------------------
# rule sources
# --------------------------------------------------------------------------


def _rule_rel(triples: DataFrame) -> DataFrame:
    """The three rule sources (rule srcs, transitive-property axioms,
    inverseOf axioms) in one filtered pass with ONE wide distinct."""
    return (
        triples.filter(
            (F.col("pred") == V.YPO_RULE_SRC)
            | ((F.col("pred") == V.RDF_TYPE) & (F.col("obj") == V.OWL_TRANSITIVE))
            | (F.col("pred") == V.OWL_INVERSE_OF)
        )
        .select("doc_iri", "pred", "subj", "obj")
        .distinct()
    )


def _doc_rules(rel_rows):
    """Compile the rules of distinct ``(doc_iri, pred, subj, obj)`` rows
    — the collected ``_rule_rel`` rows on the driver, a document's rows
    in :func:`chain_document` — one at a time: yields ``(doc_iri,
    (body, head), None)`` per distinct rule src and per rule synthesized
    from an owl:TransitiveProperty or owl:inverseOf axiom (inverseOf
    fires both directions), and ``(doc_iri, None, (reason, src))`` per
    rule src :func:`compile_rule` rejects; other rows are ignored."""
    seen_srcs = set()
    for d, p, s, o in rel_rows:
        if p == V.YPO_RULE_SRC:
            # two rule NODES (distinct subj) can carry the same src text
            if (d, o) in seen_srcs:
                continue
            seen_srcs.add((d, o))
            try:
                yield d, compile_rule(d, *_parse_swrl(o)), None
            except Exception as e:  # noqa: BLE001 — reported by the driver
                yield d, None, (f"{type(e).__name__}: {e}", o)
        elif p == V.OWL_INVERSE_OF:
            yield d, compile_rule("", [(o, _XY)], [(s, _YX)]), None
            yield d, compile_rule("", [(s, _XY)], [(o, _YX)]), None
        elif p == V.RDF_TYPE and o == V.OWL_TRANSITIVE:
            yield d, compile_rule("", [(s, _XY), (s, _YZ)], [(s, _XZ)]), None


# --------------------------------------------------------------------------
# per-document engine: plain Python, one call per document
# --------------------------------------------------------------------------


def _val(t, b: tuple) -> str:
    return b[t[1]] if t[0] == "v" else t[1]


class _Index:
    """(subj, pred, obj, obj_is_literal) facts, hashed on every way a
    body atom can have its subject and object bound."""

    def __init__(self, rows):
        self.p: dict = {}  # pred -> {(subj, obj)}
        self.ps: dict = {}  # (pred, subj) -> {obj}
        self.po: dict = {}  # (pred, obj, obj_is_literal) -> {subj}
        self.add(rows)

    def add(self, rows):
        for s, p, o, il, _ in rows:
            self.p.setdefault(p, set()).add((s, o))
            self.ps.setdefault((p, s), set()).add(o)
            self.po.setdefault((p, o, il), set()).add(s)

    def subjects(self, p: str, objs) -> set:
        return set().union(*(self.po.get((p, o, il), ()) for o, il in objs))

    def holds(self, p: str, o) -> bool:
        """Whether a delta-position atom over ``p`` / ``o`` can match."""
        if o[0] == "k":
            return any((p, v, il) in self.po for v, il in o[1])
        return p in self.p


def _join(bs: list, ix: _Index, p: str, s, o) -> list:
    """Extend every binding by the facts of ``ix`` that match one atom.
    Bindings are tuples and a new variable's index is the tuple's
    length, so which of ``s``/``o`` is bound is the same for all."""
    n = len(bs[0])
    s_new = s[0] == "v" and s[1] >= n
    if o[0] == "k":
        subs = ix.subjects(p, o[1])
        if s_new:
            return [b + (x,) for b in bs for x in subs]
        return [b for b in bs if _val(s, b) in subs]
    oi = o[1]
    if oi < n:
        if s_new:
            lookup = ix.subjects
            return [b + (x,) for b in bs for x in lookup(p, ((b[oi], True), (b[oi], False)))]
        return [b for b in bs if b[oi] in ix.ps.get((p, _val(s, b)), ())]
    if not s_new:
        return [b + (y,) for b in bs for y in ix.ps.get((p, _val(s, b)), ())]
    pairs = ix.p.get(p, ())
    if oi == s[1]:  # p(?x, ?x)
        return [b + (x,) for b in bs for x, y in pairs if x == y]
    return [b + (x, y) for b in bs for x, y in pairs]


def _match(body: list, full: dict, delta: dict = None, pos: int = -1) -> list:
    """Bindings of ``body``; atom ``pos`` reads ``delta``, every other
    atom reads ``full`` (both keyed "facts" / "types")."""
    bs = [()]
    for j, a in enumerate(body):
        kind = a[0]
        if kind == "test":
            bs = [b for b in bs if a[1](*[_val(t, b) for t in a[2]])]
        elif kind == "eval":
            _, fn, out, terms, same = a
            nb = []
            for b in bs:
                r = fn(*[_val(t, b) for t in terms])
                if r is None:
                    continue
                if out < len(b):
                    if same(b[out], r):
                        nb.append(b)
                else:
                    nb.append(b + (r,))
            bs = nb
        else:
            bs = _join(bs, (delta if j == pos else full)[kind], *a[1:])
        if not bs:
            break
    return bs


def _superclasses(rows) -> dict:
    """rdfs:subClassOf closure of the document: class -> all ancestors."""
    up: dict = {}
    for s, p, o, _, _ in rows:
        if p == V.RDFS_SUBCLASSOF:
            up.setdefault(s, set()).add(o)
    return {c: reach(up, parents) for c, parents in up.items()}


def _memberships(rows, sup: dict) -> set:
    """The class memberships that ``rows`` assert, closed upward, as
    (inst, rdf:type, cls) facts."""
    out = set()
    for s, p, o, _, _ in rows:
        if p == V.RDF_TYPE and not s.startswith("_:") and not o.startswith("_:"):
            for c in (o, *sup.get(o, ())):
                out.add((s, V.RDF_TYPE, c, False, None))
    return out


def chain_document(doc_iri: str, rows, max_iter: int = 15) -> set:
    """The facts SWRL derives for one document: ``rows`` are the
    document's (subj, pred, obj, obj_is_literal, obj_datatype) triples,
    blank nodes included (an anonymous ``Inverse(p)`` node carries
    owl:inverseOf); the result is the set of derived 5-tuples that are
    not among its non-blank facts. Rules that fail validation are
    dropped (the driver has already raised or warned)."""
    rows = set(rows)
    rules = [r for _, r, _ in _doc_rules({(doc_iri, p, s, o) for s, p, o, _, _ in rows}) if r]
    known = {r for r in rows if not r[0].startswith("_:") and not r[2].startswith("_:")}
    sup = _superclasses(known)
    known_types = _memberships(known, sup)
    full = {"facts": _Index(known), "types": _Index(known_types)}
    delta = None
    derived: set = set()
    for _ in range(max_iter):
        new = set()
        for body, head in rules:
            if delta is None:
                positions = [-1]
            else:
                positions = [
                    j
                    for j, a in enumerate(body)
                    if a[0] in delta and delta[a[0]].holds(a[1], a[3])
                ]
            for j in positions:
                for b in _match(body, full, delta, j):
                    for s, p, o, il, dt in head:
                        new.add((_val(s, b), p, _val(o, b), il, dt))
        new -= known
        if not new:
            break
        known |= new
        derived |= new
        new_types = _memberships(new, sup) - known_types
        known_types |= new_types
        delta = {"facts": _Index(new), "types": _Index(new_types)}
        full["facts"].add(new)
        full["types"].add(new_types)
    return derived


# --------------------------------------------------------------------------
# evaluation
# --------------------------------------------------------------------------


def forward_chain(
    triples: DataFrame, max_iter: int = 15, on_unsupported: str = "raise"
) -> DataFrame:
    """Returns the INFERRED facts (subj, pred, obj, obj_is_literal,
    obj_datatype, doc_iri) — the delta the Pellet step would add for
    the supported fragment.

    On the driver, one collect of the rule-bearing triples validates
    every rule. ``on_unsupported``: "raise" (default) fails fast
    listing the bad rules; "skip" drops them with a warning; any other
    value is a ``ValueError``. The result is lazy: each document that
    carries a valid rule runs :func:`chain_document` for at most
    ``max_iter`` rounds through :func:`.isomorph.per_document`."""
    if on_unsupported not in ("raise", "skip"):
        raise ValueError(f"on_unsupported must be raise|skip: {on_unsupported!r}")
    spark = triples.sparkSession
    # the driver keeps only the documents with a valid rule and the
    # rejected srcs, never the compiled rules themselves
    docs, bad = set(), []
    for d, rule, why in _doc_rules(_rule_rel(triples).collect()):
        if rule:
            docs.add(d)
        else:
            bad.append((d, *why))
    bad.sort()
    if bad:
        msgs = [f"{d}: {why} in rule {src!r}" for d, why, src in bad[:5]]
        msg = "; ".join(msgs) + (f" (+{len(bad) - 5} more)" if len(bad) > 5 else "")
        if on_unsupported == "raise":
            raise UnsupportedSWRLError("unsupported SWRL fragment: " + msg)
        warnings.warn("skipping unsupported SWRL rules: " + msg)
    if not docs:
        return arrow_local_df(spark, [], FACT_SCHEMA)
    rule_docs = arrow_local_df(spark, [(d,) for d in sorted(docs)], "doc_iri string")
    return per_document(
        triples.join(F.broadcast(rule_docs), "doc_iri", "left_semi"),
        partial(chain_document, max_iter=max_iter),
    )
