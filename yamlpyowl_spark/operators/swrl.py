"""SWRL-rule forward chaining, one document per task.

The reference applies SWRL rules by shelling out to a Java/Pellet
reasoner (core.py:1342-1343, sync_reasoner_pellet). Rule names resolve
against the document IRI (the parser emits rules as ``(rule_iri,
ypo:ruleSrc, src)`` literals), so chaining never crosses ``doc_iri``.

* Driver: :func:`forward_chain` collects the rule-bearing triples once
  and validates every rule with :func:`encode_rule`, so a rule outside
  the fragment raises (or is skipped with a warning) when
  ``forward_chain`` is called, before any evaluation job. Only the
  documents that carry a valid rule are shuffled, one
  :func:`.isomorph.per_document` group per document.
* Executor: :func:`chain_document`, plain Python, re-derives the
  document's rules from its rows and substitutes each rule's slot
  values into its decoded template (:func:`_parse_template`). Round 0
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
  notEqual codes and var-var operands);
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
import re
import warnings
from functools import lru_cache, partial
from typing import List, Tuple

from pyspark.sql import DataFrame, functions as F

from .. import vocab as V
from ..parser.document import _parse_swrl
from ..parser.model import ParseError
from ..schema import FACT_SCHEMA, arrow_local_df
from .isomorph import per_document

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


_BUILTINS = {
    "greaterThan": "gt",
    "lessThan": "lt",
    "greaterThanOrEqual": "ge",
    "lessThanOrEqual": "le",
    "equal": "eq",
    "notEqual": "ne",
}
_CMP = {
    "gt": operator.gt,
    "lt": operator.lt,
    "ge": operator.ge,
    "le": operator.le,
    "eq": operator.eq,
    "ne": operator.ne,
}
# swrlb arithmetic, result-first (r6b). Division stays outside the
# fragment (its value is non-integral almost surely; a float dialect
# would hitch engine parity to Java-vs-Python double formatting).
_ARITH = {"add": "ad", "subtract": "sb", "multiply": "ml", "mod": "md"}
_AR_FN = {"ad": operator.add, "sb": operator.sub, "ml": operator.mul, "md": _tmod}
# swrlb string builtins, result-first (r6c, r6d): stringLength binds
# the decimal lexical of the CHARACTER count; upperCase/lowerCase follow
# Python default-locale casing (the corpus dialect is ASCII)
_STR_FN = {
    "stringConcat": "sc",
    "stringLength": "sl",
    "upperCase": "uc",
    "lowerCase": "lc",
    "substring": "ss",
    "booleanNot": "bn",
}
_SF_FN = {
    "sc": lambda *parts: "".join(parts),
    "sl": lambda x: str(len(x)),
    "uc": str.upper,
    "lc": str.lower,
    "ss": _substring,
    "bn": _boolean_not,
}
_STR_CHECK = {"contains": "ct", "startsWith": "sw", "endsWith": "ew"}
_SCK_FN = {"ct": operator.contains, "sw": str.startswith, "ew": str.endswith}
_INVALID = "!unsupported"


def _unquote(a: str) -> str:
    """Strip surrounding double quotes from a SWRL string constant
    (backslash escapes unescaped); bare words pass through."""
    if len(a) >= 2 and a[0] == '"' and a[-1] == '"':
        return a[1:-1].replace('\\"', '"').replace("\\\\", "\\")
    return a


# fixed templates for rules synthesized from property axioms; unit
# tests assert these equal encode_rule() output for the same shapes
TRANSITIVE_KEY = "P(v0,v1);P(v1,v2)=>P(v0,v2)"
INVERSE_KEY = "P(v0,v1)=>P(v1,v0)"


class UnsupportedSWRLError(ParseError):
    """A rule uses a construct outside the supported SWRL fragment."""


# --------------------------------------------------------------------------
# rule encoding: (body, head) atom lists -> (template_key, slots)
# --------------------------------------------------------------------------


def encode_rule(doc_iri: str, body: list, head: list) -> Tuple[str, List[str]]:
    """Encode one parsed rule as a structural template key plus the
    flat list of concrete slot values (full IRIs / literal lexical
    forms). Two rules from different documents with the same structure
    share a key; :func:`_compile` substitutes the slots back in.

    Raises :class:`UnsupportedSWRLError` on rules outside the fragment
    (validated up front so a bad rule can never abort a running
    fixpoint — ADVICE r01 item on builtin-first / unary-head crashes).
    """
    varmap: dict = {}

    def v(a: str) -> str:
        if a not in varmap:
            varmap[a] = len(varmap)
        return f"v{varmap[a]}"

    sig, slots = [], []
    for name, args in body:
        if name in _ARITH:
            if len(args) != 3:
                raise UnsupportedSWRLError(f"builtin {name} needs 3 args, got {args}")
            out, a1, a2 = args
            if not out.startswith("?"):
                raise UnsupportedSWRLError(
                    f"builtin {name}({', '.join(args)}): the result argument "
                    "must be a variable"
                )
            opsigs = []
            for a in (a1, a2):
                if a.startswith("?"):
                    if a not in varmap:
                        raise UnsupportedSWRLError(
                            f"builtin {name}({', '.join(args)}) must follow "
                            f"an atom binding {a}"
                        )
                    opsigs.append(v(a))
                else:
                    try:
                        slots.append(str(int(a)))
                    except ValueError:
                        raise UnsupportedSWRLError(
                            f"non-integer arithmetic constant {a!r} "
                            "(integer fragment)"
                        )
                    opsigs.append("C")
            # out NEW at this point in the walk -> binding form; out
            # already bound -> equality check (eval mirrors via its own
            # bound-set walk)
            sig.append(f"{_ARITH[name]}({v(out)},{opsigs[0]},{opsigs[1]})")
        elif name in _STR_FN:
            if name == "stringConcat":
                ok, want = len(args) >= 3, ">= 3"
            elif name == "substring":
                ok, want = len(args) in (3, 4), "3 or 4"
            else:
                ok, want = len(args) == 2, "2"
            if not ok:
                raise UnsupportedSWRLError(
                    f"builtin {name} needs {want} args, got {args}"
                )
            out = args[0]
            if not out.startswith("?"):
                raise UnsupportedSWRLError(
                    f"builtin {name}({', '.join(args)}): the result argument "
                    "must be a variable"
                )
            opsigs = []
            for pos, a in enumerate(args[1:]):
                if a.startswith("?"):
                    if a not in varmap:
                        raise UnsupportedSWRLError(
                            f"builtin {name}({', '.join(args)}) must follow "
                            f"an atom binding {a}"
                        )
                    opsigs.append(v(a))
                else:
                    if name == "substring" and pos >= 1:
                        # XPath INTEGER fragment: a float start/length
                        # needs XPath round() parity — loud-out
                        try:
                            slots.append(str(int(a)))
                        except ValueError:
                            raise UnsupportedSWRLError(
                                f"non-integer substring constant {a!r} "
                                "(integer fragment)"
                            )
                    else:
                        slots.append(_unquote(a))
                    opsigs.append("C")
            sig.append(f"{_STR_FN[name]}({v(out)},{','.join(opsigs)})")
        elif name in _STR_CHECK:
            if len(args) != 2:
                raise UnsupportedSWRLError(f"builtin {name} needs 2 args, got {args}")
            opsigs = []
            for a in args:
                if a.startswith("?"):
                    if a not in varmap:
                        raise UnsupportedSWRLError(
                            f"builtin {name}({', '.join(args)}) must follow "
                            f"an atom binding {a}"
                        )
                    opsigs.append(v(a))
                else:
                    slots.append(_unquote(a))
                    opsigs.append("C")
            sig.append(f"{_STR_CHECK[name]}({opsigs[0]},{opsigs[1]})")
        elif name in _BUILTINS:
            if len(args) != 2:
                raise UnsupportedSWRLError(f"builtin {name} needs 2 args, got {args}")
            var, rhs = args
            if not var.startswith("?") or var not in varmap:
                raise UnsupportedSWRLError(
                    f"builtin {name}({', '.join(args)}) must follow an atom binding {var}"
                )
            if rhs.startswith("?"):
                # var-var comparison (r6): both sides must already be
                # bound by earlier atoms
                if rhs not in varmap:
                    raise UnsupportedSWRLError(
                        f"builtin {name}({', '.join(args)}) must follow an "
                        f"atom binding {rhs}"
                    )
                sig.append(f"{_BUILTINS[name]}({v(var)},{v(rhs)})")
            else:
                try:
                    float(rhs)
                except ValueError:
                    raise UnsupportedSWRLError(f"non-numeric builtin constant {rhs!r}")
                sig.append(f"{_BUILTINS[name]}({v(var)},C)")
                slots.append(rhs)
        elif len(args) == 1:
            a = args[0]
            slots.append(doc_iri + name)
            if a.startswith("?"):
                sig.append(f"T({v(a)})")
            else:
                sig.append("T(C)")
                slots.append(doc_iri + a)
        elif len(args) == 2:
            s, o = args
            slots.append(doc_iri + name)
            if s.startswith("?"):
                ssig = v(s)
            else:
                ssig = "C"
                slots.append(doc_iri + s)
            if o.startswith("?"):
                osig = v(o)
            else:
                # constant object matches a literal lexical form OR a
                # local entity name — keep both resolutions as slots
                osig = "C"
                slots.extend([o, doc_iri + o])
            sig.append(f"P({ssig},{osig})")
        else:
            raise UnsupportedSWRLError(f"atom {name}({', '.join(args)}) has arity {len(args)}")

    if not sig:
        raise UnsupportedSWRLError("rule has an empty body")

    hsig = []
    for name, args in head:
        if name in _BUILTINS:
            raise UnsupportedSWRLError(f"builtin {name} not allowed in rule head")
        if len(args) == 1:
            a = args[0]
            slots.append(doc_iri + name)
            if a.startswith("?"):
                if a not in varmap:
                    raise UnsupportedSWRLError(f"head variable {a} not bound in body")
                hsig.append(f"T({v(a)})")
            else:
                hsig.append("T(CE)")
                slots.append(doc_iri + a)
        elif len(args) == 2:
            s, o = args
            slots.append(doc_iri + name)
            if s.startswith("?"):
                if s not in varmap:
                    raise UnsupportedSWRLError(f"head variable {s} not bound in body")
                ssig = v(s)
            else:
                ssig = "CE"
                slots.append(doc_iri + s)
            if o.startswith("?"):
                if o not in varmap:
                    raise UnsupportedSWRLError(f"head variable {o} not bound in body")
                osig = v(o)
            else:
                lit = None
                try:
                    lit = (str(int(o)), V.XSD_INTEGER)
                except ValueError:
                    try:
                        lit = (str(float(o)), V.XSD_DOUBLE)
                    except ValueError:
                        pass
                if lit is not None:
                    osig = "CL"
                    slots.extend(lit)
                else:
                    osig = "CE"
                    slots.append(doc_iri + o)
            hsig.append(f"P({ssig},{osig})")
        else:
            raise UnsupportedSWRLError(f"head atom {name}({', '.join(args)}) has arity {len(args)}")
    if not hsig:
        raise UnsupportedSWRLError("rule has an empty head")

    return ";".join(sig) + "=>" + ";".join(hsig), slots


_ATOM_RE = re.compile(r"(P|T|gt|lt|ge|le|eq|ne|ad|sb|ml|md|sc|sl|uc|lc|ss|bn|ct|sw|ew)\(([^)]*)\)")


@lru_cache(maxsize=4096)
def _parse_template(key: str):
    """Inverse of :func:`encode_rule`'s key: atom descriptors with
    slot indices assigned by the identical walk. Cached: the documents
    of a corpus share a few rule shapes (callers never mutate the
    result)."""
    body_s, head_s = key.split("=>")
    slot = 0

    def term(a: str, two: str = None):
        # a variable, or a constant taking the next slot — or the next
        # two: a body object's ("c2": lexical, IRI) or a head literal's
        # ("lit": lexical, datatype)
        nonlocal slot
        if a[0] == "v":
            return ("v", int(a[1:]))
        slot += 2 if two else 1
        return (two, slot - 2, slot - 1) if two else ("c", slot - 1)

    body = []
    for m in _ATOM_RE.finditer(body_s):
        kind, args = m.group(1), m.group(2).split(",")
        if kind in _CMP:
            body.append(("bi", kind, int(args[0][1:]), term(args[1])))
        elif kind in _AR_FN:
            body.append(("ar", kind, int(args[0][1:]), term(args[1]), term(args[2])))
        elif kind in _SF_FN:
            body.append(("sf", kind, int(args[0][1:]), [term(a) for a in args[1:]]))
        elif kind in _SCK_FN:
            body.append(("sck", kind, term(args[0]), term(args[1])))
        elif kind == "T":
            body.append(("cls", term("C")[1], term(args[0])))
        else:
            body.append(("prop", term("C")[1], term(args[0]), term(args[1], "c2")))
    head = []
    for m in _ATOM_RE.finditer(head_s):
        kind, args = m.group(1), m.group(2).split(",")
        if kind == "T":
            head.append(("cls", term("C")[1], term(args[0])))
        else:
            lit = "lit" if args[1] == "CL" else None
            head.append(("prop", term("C")[1], term(args[0]), term(args[1], lit)))
    return body, head, slot


# --------------------------------------------------------------------------
# rule table
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


def _local_rule_rows(rel_rows) -> list:
    """The sorted (doc_iri, template_key, slots) rule list of distinct
    ``(doc_iri, pred, subj, obj)`` rows — the collected ``_rule_rel``
    rows on the driver, a document's rows in :func:`chain_document`:
    one row per distinct rule src, plus the rules synthesized from
    owl:TransitiveProperty and owl:inverseOf axioms (inverseOf fires
    both directions); other rows are ignored. An invalid rule becomes
    the ``!unsupported`` diagnostic row with ``slots = [reason, src]``."""
    out = []
    seen_srcs = set()
    for d, p, s, o in rel_rows:
        if p == V.YPO_RULE_SRC:
            # two rule NODES (distinct subj) can carry the same src text
            if (d, o) in seen_srcs:
                continue
            seen_srcs.add((d, o))
            try:
                key, slots = encode_rule(d, *_parse_swrl(o))
            except Exception as e:  # noqa: BLE001 — recorded as a row
                key, slots = _INVALID, [f"{type(e).__name__}: {e}", o]
            out.append((d, key, list(slots)))
        elif p == V.OWL_INVERSE_OF:
            out.append((d, INVERSE_KEY, [o, s]))
            out.append((d, INVERSE_KEY, [s, o]))
        elif p == V.RDF_TYPE and o == V.OWL_TRANSITIVE:
            out.append((d, TRANSITIVE_KEY, [s, s, s]))
    out.sort()
    return out


# --------------------------------------------------------------------------
# per-document engine: plain Python, one call per document
# --------------------------------------------------------------------------


def _compile(key: str, slots: list):
    """One rule as (body, head), its slot values substituted into the
    atoms :func:`_parse_template` decodes from ``key``. Variables stay
    ``("v", i)``, numbered in order of first binding.

    Body atoms: ``("facts" | "types", pred, subj, obj)`` is matched
    against an index, where a constant object is ``("k", ((value,
    obj_is_literal), ...))`` (a class atom reads the closed types as
    ``(inst, rdf:type, cls)`` facts); ``("test", fn, terms)`` filters;
    ``("eval", fn, out, terms, same)`` binds ``out`` to ``fn(terms)``,
    or keeps the binding if ``same(out, fn(terms))`` when ``out`` is
    already bound. Head atoms: ``(subj, pred, obj, obj_is_literal,
    obj_datatype)`` with terms in the subject and object."""
    body_t, head_t, _ = _parse_template(key)

    def sub(t):
        return t if t[0] == "v" else (t[0],) + tuple(slots[i] for i in t[1:])

    body = []
    for a in body_t:
        kind = a[0]
        if kind == "prop":
            o = sub(a[3])
            if o[0] == "c2":  # a literal's lexical form OR the entity IRI
                o = ("k", ((o[1], True), (o[2], False)))
            body.append(("facts", slots[a[1]], sub(a[2]), o))
        elif kind == "cls":
            cls = ("k", ((slots[a[1]], False),))
            body.append(("types", V.RDF_TYPE, sub(a[2]), cls))
        elif kind == "bi":
            body.append(("test", partial(_num_test, _CMP[a[1]]), [("v", a[2]), sub(a[3])]))
        elif kind == "sck":
            body.append(("test", _SCK_FN[a[1]], [sub(a[2]), sub(a[3])]))
        elif kind == "ar":
            same = lambda bound, r: _int(bound) == int(r)  # noqa: E731
            fn = partial(_int_op, _AR_FN[a[1]])
            body.append(("eval", fn, a[2], [sub(a[3]), sub(a[4])], same))
        else:  # sf
            body.append(("eval", _SF_FN[a[1]], a[2], [sub(t) for t in a[3]], operator.eq))
    head = []
    for a in head_t:
        if a[0] == "cls":
            head.append((sub(a[2]), V.RDF_TYPE, ("c", slots[a[1]]), False, None))
        else:
            o = sub(a[3])
            if o[0] == "lit":
                head.append((sub(a[2]), slots[a[1]], ("c", o[1]), True, o[2]))
            else:
                head.append((sub(a[2]), slots[a[1]], o, False, None))
    return body, head


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
    closure = {}
    for c, parents in up.items():
        seen, todo = set(), list(parents)
        while todo:
            x = todo.pop()
            if x not in seen:
                seen.add(x)
                todo.extend(up.get(x, ()))
        closure[c] = seen
    return closure


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
    rules = [
        _compile(key, slots)
        for _, key, slots in _local_rule_rows({(doc_iri, p, s, o) for s, p, o, _, _ in rows})
        if key != _INVALID
    ]
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
    local_rules = _local_rule_rows(_rule_rel(triples).collect())
    bad = [(d, slots) for d, k, slots in local_rules if k == _INVALID]
    if bad:
        msgs = [f"{d}: {slots[0]} in rule {slots[1]!r}" for d, slots in bad[:5]]
        msg = "; ".join(msgs) + (f" (+{len(bad) - 5} more)" if len(bad) > 5 else "")
        if on_unsupported == "raise":
            raise UnsupportedSWRLError("unsupported SWRL fragment: " + msg)
        warnings.warn("skipping unsupported SWRL rules: " + msg)
    docs = sorted({d for d, k, _ in local_rules if k != _INVALID})
    if not docs:
        return arrow_local_df(spark, [], FACT_SCHEMA)
    rule_docs = arrow_local_df(spark, [(d,) for d in docs], "doc_iri string")
    return per_document(
        triples.join(F.broadcast(rule_docs), "doc_iri", "left_semi"),
        partial(chain_document, max_iter=max_iter),
    )
