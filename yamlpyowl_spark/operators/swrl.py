"""SWRL-rule forward chaining as an iterative DataFrame fixpoint.

The reference applies SWRL rules by shelling out to a Java/Pellet
reasoner (core.py:1342-1343, sync_reasoner_pellet). Here rule bodies
become chains of equi-joins over the triples table and the fixpoint is
a driver loop with ``localCheckpoint`` per round — the classic
(semi-)naive Datalog evaluation mapped onto Spark.

Scale shape: rules are grouped by **template** (the rule's structural
signature — atom kinds, variable pattern, constant positions — with
concrete predicate/class names abstracted into slot columns). The
driver builds ONE join pipeline per distinct template per round; the
rules themselves stay in a distributed DataFrame and reach the plan as
join columns keyed on ``(doc_iri, pred)``. Work on the driver is
O(#distinct rule shapes), not O(#documents × #rules): 10^9 documents
that all carry the same five rule structures cost five plans per
round, same as one document.

Supported (everything the reference fixtures use, plus class-atom
heads which the reference's Pellet path also accepts):

* class atoms        ``C(?x)``        — with rdfs:subClassOf-closure
                                        semantics (a District is a
                                        GeographicEntity), in body AND
                                        head position;
* property atoms     ``p(?x, ?y)``    — object or data properties,
                                        constants allowed in any slot;
* arithmetic atoms   ``add/subtract/multiply/mod(?z, ?x, ?y)`` —
  swrlb result-first convention; binds ``?z`` (or checks it when
  already bound); INTEGER fragment via try_cast/try_add & co (r6b)
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
  previously-bound variables — non-integral bindings drop the row
  via try_cast exactly like the arithmetic batch. XPath's
  FLOAT-argument rounding stays outside the fragment (a
  Java-vs-Python formatting parity trap) and raises up front;
* builtin atoms      ``greaterThan/lessThan/greaterThanOrEqual/
  lessThanOrEqual/equal/notEqual(?v, const-or-?w)`` (numeric
  comparison; r6 adds the OrEqual/equal/notEqual codes and var-var
  operands);
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

Rule names are resolved against the document IRI (rules are emitted by
the parser as ``(rule_iri, ypo:ruleSrc, src)`` literals), and chaining
is doc-scoped: all joins carry ``doc_iri``.
"""

from __future__ import annotations

import re
import warnings
from functools import lru_cache, reduce
from typing import List, Tuple

from pyspark.sql import DataFrame, functions as F, types as T

from .. import vocab as V
from ..parser.document import _parse_swrl
from ..parser.model import ParseError
from . import regime
from .closure import transitive_closure
from ..schema import arrow_local_df

_BUILTINS = {
    "greaterThan": "gt",
    "lessThan": "lt",
    "greaterThanOrEqual": "ge",
    "lessThanOrEqual": "le",
    "equal": "eq",
    "notEqual": "ne",
}
_BI_SQL = {"gt": ">", "lt": "<", "ge": ">=", "le": "<=", "eq": "=", "ne": "!="}
# swrlb arithmetic (r6b): add/subtract/multiply/mod with the FIRST
# argument as the result (swrlb argument convention). INTEGER fragment:
# operands try_cast to BIGINT (a non-integral binding drops the row,
# the comparison-builtin skip semantics) and the try_* forms return
# NULL instead of raising under ANSI mode on overflow / mod-by-zero —
# NULL results are filtered, never emitted. Division stays outside the
# fragment (its value is non-integral almost surely; a float dialect
# would hitch engine parity to Java-vs-Python double formatting).
_ARITH = {"add": "ad", "subtract": "sb", "multiply": "ml", "mod": "md"}
_AR_SQL = {"ad": "try_add", "sb": "try_subtract", "ml": "try_multiply", "md": "try_mod"}
# swrlb string builtins (r6c): result-first like the arithmetic batch.
# stringConcat is n-ary (result + >=2 operands); stringLength binds the
# decimal lexical of the CHARACTER count; upperCase/lowerCase follow
# Python/Java default-locale casing (identical over ASCII — the corpus
# dialect; engine parity asserted in tests). contains/startsWith/
# endsWith are check builtins over bound strings/constants. substring
# (r6d) is the XPath INTEGER fragment: start/length must be integer
# constants or bound variables (try_cast semantics — non-integral
# drops the row); float arguments would need XPath round() parity and
# stay loud-out.
_STR_FN = {
    "stringConcat": "sc",
    "stringLength": "sl",
    "upperCase": "uc",
    "lowerCase": "lc",
    "substring": "ss",
    # swrlb:booleanNot — result-first over the boolean lexicals
    # ("true"/"false"/"1"/"0"; a non-boolean binding drops the row);
    # binds the canonical lexical of the flipped value
    "booleanNot": "bn",
}
_SF_SQL = frozenset(("sc", "sl", "uc", "lc", "ss", "bn"))
_STR_CHECK = {"contains": "ct", "startsWith": "sw", "endsWith": "ew"}
_SCK_SQL = {"ct": "contains", "sw": "startswith", "ew": "endswith"}
_INVALID = "!unsupported"

# driver-rules regime bound, in rule-bearing triples (a unit of its
# own: rule srcs and axiom rows, not edges): when they fit one
# regime.driver_rows probe, the rule table is parsed on the driver with
# the same _encode_one and shipped back as a local relation — saving
# the pandas parse stage plus the bad-rule and distinct-rule collect
# jobs. Past the bound forward_chain parses the probed relation
# distributed.
_DRIVER_RULE_ROWS = 10_000


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
    share a key and are evaluated by one join pipeline.

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
    """Driver-side inverse of :func:`encode_rule`'s key: atom
    descriptors with slot indices assigned by the identical walk.
    Cached: the fixpoint re-parses each template once per round per
    delta position otherwise (callers never mutate the result)."""
    body_s, head_s = key.split("=>")
    slot = 0
    body = []
    for m in _ATOM_RE.finditer(body_s):
        kind, args = m.group(1), m.group(2).split(",")
        if kind in _BI_SQL:
            if args[1] == "C":
                body.append(("bi", kind, int(args[0][1:]), ("c", slot)))
                slot += 1
            else:
                body.append(("bi", kind, int(args[0][1:]), ("v", int(args[1][1:]))))
        elif kind in _AR_SQL:
            outv = int(args[0][1:])
            ops = []
            for a in args[1:]:
                if a == "C":
                    ops.append(("c", slot))
                    slot += 1
                else:
                    ops.append(("v", int(a[1:])))
            body.append(("ar", kind, outv, ops[0], ops[1]))
        elif kind in _SF_SQL:
            outv = int(args[0][1:])
            ops = []
            for a in args[1:]:
                if a == "C":
                    ops.append(("c", slot))
                    slot += 1
                else:
                    ops.append(("v", int(a[1:])))
            body.append(("sf", kind, outv, ops))
        elif kind in _SCK_SQL:
            ops = []
            for a in args:
                if a == "C":
                    ops.append(("c", slot))
                    slot += 1
                else:
                    ops.append(("v", int(a[1:])))
            body.append(("sck", kind, ops[0], ops[1]))
        elif kind == "T":
            cls_slot = slot
            slot += 1
            if args[0] == "C":
                inst = ("c", slot)
                slot += 1
            else:
                inst = ("v", int(args[0][1:]))
            body.append(("cls", cls_slot, inst))
        else:
            pred_slot = slot
            slot += 1
            s, o = args
            if s == "C":
                ssub = ("c", slot)
                slot += 1
            else:
                ssub = ("v", int(s[1:]))
            if o == "C":
                osub = ("c2", slot, slot + 1)
                slot += 2
            else:
                osub = ("v", int(o[1:]))
            body.append(("prop", pred_slot, ssub, osub))
    head = []
    for m in _ATOM_RE.finditer(head_s):
        kind, args = m.group(1), m.group(2).split(",")
        if kind == "T":
            cls_slot = slot
            slot += 1
            if args[0] == "CE":
                inst = ("c", slot)
                slot += 1
            else:
                inst = ("v", int(args[0][1:]))
            head.append(("cls", cls_slot, inst))
        else:
            pred_slot = slot
            slot += 1
            s, o = args
            if s == "CE":
                ssub = ("c", slot)
                slot += 1
            else:
                ssub = ("v", int(s[1:]))
            if o == "CL":
                osub = ("lit", slot, slot + 1)
                slot += 2
            elif o == "CE":
                osub = ("c", slot)
                slot += 1
            else:
                osub = ("v", int(o[1:]))
            head.append(("prop", pred_slot, ssub, osub))
    return body, head, slot


# --------------------------------------------------------------------------
# distributed rule table
# --------------------------------------------------------------------------

_RULES_SCHEMA = T.StructType(
    [
        T.StructField("doc_iri", T.StringType()),
        T.StructField("template_key", T.StringType()),
        T.StructField("slots", T.ArrayType(T.StringType())),
    ]
)


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


def _encode_one(doc_iri: str, src: str):
    """(template_key, slots) for one rule src — invalid rules become
    the `!unsupported` diagnostic row (same contract as rule_table)."""
    try:
        body, head = _parse_swrl(src)
        return encode_rule(doc_iri, body, head)
    except Exception as e:  # noqa: BLE001 — recorded as a row
        return _INVALID, [f"{type(e).__name__}: {e}", src]


def _report_bad_rules(bad: list, n_bad: int, on_unsupported: str) -> None:
    """Raise (``on_unsupported="raise"``) or warn about the
    ``!unsupported`` rule rows; ``bad`` holds (doc_iri, slots) of at
    least the first five of ``n_bad``. No-op when ``bad`` is empty."""
    if not bad:
        return
    msgs = [f"{d}: {slots[0]} in rule {slots[1]!r}" for d, slots in bad[:5]]
    more = f" (+{n_bad - 5} more)" if n_bad > 5 else ""
    if on_unsupported == "raise":
        raise UnsupportedSWRLError("unsupported SWRL fragment: " + "; ".join(msgs) + more)
    warnings.warn("skipping unsupported SWRL rules: " + "; ".join(msgs) + more)


def _local_rule_rows(rel_rows) -> list:
    """Driver-rules regime: the sorted (doc_iri, template_key, slots)
    rule list built from the probed ``_rule_rel`` rows with the SAME
    encode function the distributed parse maps."""
    out = []
    seen_srcs = set()
    for r in rel_rows:
        d, p, s, o = r["doc_iri"], r["pred"], r["subj"], r["obj"]
        if p == V.YPO_RULE_SRC:
            if (d, o) in seen_srcs:
                continue
            seen_srcs.add((d, o))
            key, slots = _encode_one(d, o)
            out.append((d, key, list(slots)))
        elif p == V.OWL_INVERSE_OF:
            out.append((d, INVERSE_KEY, [o, s]))
            out.append((d, INVERSE_KEY, [s, o]))
        else:  # rdf:type owl:TransitiveProperty
            out.append((d, TRANSITIVE_KEY, [s, s, s]))
    out.sort()
    return out


def rule_table(triples: DataFrame) -> DataFrame:
    """``(doc_iri, template_key, slots)`` — one row per rule instance,
    fully distributed (Arrow-batched parse; nothing is collected).
    Invalid rules get ``template_key = '!unsupported'`` with
    ``slots = [reason, src]`` so the caller can raise or skip.

    Includes rules synthesized from owl:TransitiveProperty and
    owl:inverseOf axioms, built with pure column expressions.

    One scan: the three rule sources (rule srcs, transitive-property
    axioms, inverseOf axioms) ride a single filtered pass over the
    triple table with ONE wide distinct; the per-branch projections
    dedupe on the resulting tiny frame (r7, guide §2.2 — it was three
    full scans + three full-width shuffles of the triple table)."""
    return _parse_rules(_rule_rel(triples).localCheckpoint(eager=False))


def _parse_rules(rel: DataFrame) -> DataFrame:
    """:func:`rule_table` over an already built (checkpointed)
    ``_rule_rel`` relation."""
    srcs = rel.filter(F.col("pred") == V.YPO_RULE_SRC).select("doc_iri", "obj").distinct()

    def batches(it):
        import pandas as pd

        for pdf in it:
            out = {"doc_iri": [], "template_key": [], "slots": []}
            for d, s in zip(pdf["doc_iri"], pdf["obj"]):
                key, slots = _encode_one(d, s)
                out["doc_iri"].append(d)
                out["template_key"].append(key)
                out["slots"].append(slots)
            yield pd.DataFrame(out)

    parsed = srcs.mapInPandas(batches, _RULES_SCHEMA)

    # pred (and obj, for the transitive branch) are constants inside
    # each branch, so the wide distinct above already dedupes them —
    # no per-branch re-shuffle needed. srcs keeps its distinct: two
    # rule NODES (distinct subj) can carry the same src text.
    trans = (
        rel.filter((F.col("pred") == V.RDF_TYPE) & (F.col("obj") == V.OWL_TRANSITIVE))
        .select("doc_iri", "subj")
        .select(
            "doc_iri",
            F.lit(TRANSITIVE_KEY).alias("template_key"),
            F.array("subj", "subj", "subj").alias("slots"),
        )
    )
    # inverseOf rows are (subj=q, obj=p); fire both directions
    inv = rel.filter(F.col("pred") == V.OWL_INVERSE_OF).select("doc_iri", "subj", "obj")
    inv_both = inv.select(
        "doc_iri",
        F.lit(INVERSE_KEY).alias("template_key"),
        F.array("obj", "subj").alias("slots"),
    ).unionByName(
        inv.select(
            "doc_iri",
            F.lit(INVERSE_KEY).alias("template_key"),
            F.array("subj", "obj").alias("slots"),
        )
    )
    return parsed.unionByName(trans).unionByName(inv_both)


# --------------------------------------------------------------------------
# evaluation
# --------------------------------------------------------------------------


def _closure_pairs(triples: DataFrame) -> DataFrame:
    sub = triples.filter(
        (F.col("pred") == V.RDFS_SUBCLASSOF)
        & ~F.col("subj").startswith("_:")
        & ~F.col("obj").startswith("_:")
    ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return transitive_closure(sub)


def _closed_types(facts: DataFrame, closure: DataFrame) -> DataFrame:
    """(doc_iri, inst, cls) with rdfs:subClassOf closure applied."""
    types = facts.filter(
        (F.col("pred") == V.RDF_TYPE)
        & ~F.col("subj").startswith("_:")
        & ~F.col("obj").startswith("_:")
    ).select("doc_iri", F.col("subj").alias("inst"), F.col("obj").alias("cls"))
    inherited = types.join(closure, types.cls == closure.src).select(
        "doc_iri", "inst", F.col("dst").alias("cls")
    )
    return types.unionByName(inherited).distinct()


def _eval_template(
    key: str,
    rules: DataFrame,
    facts: DataFrame,
    types: DataFrame,
    delta: DataFrame = None,
    types_delta: DataFrame = None,
    live_positions: list = None,
) -> DataFrame:
    """One join pipeline evaluating EVERY rule of this template across
    all documents at once; rule slots ride along as columns.

    Semi-naive mode (``delta`` given): returns the union over body-atom
    positions i of the plan where atom i reads the DELTA — property
    atoms read the round's new FACTS, class atoms the round's new
    closed TYPES — and the other atoms read the full sets. A binding
    is re-derived this round only if at least one body atom matches
    something new, so round cost tracks |delta| for EVERY template
    shape, including class-atom bodies (classic semi-naive Datalog;
    the r2 verdict's full-re-evaluation fallback is gone)."""
    body, head, n_slots = _parse_template(key)
    if delta is not None:
        outs = [
            _eval_template_once(key, body, head, n_slots, rules, facts, types, delta, j)
            for j, a in enumerate(body)
            if a[0] == "prop"
            and (live_positions is None or j in live_positions)
        ]
        if types_delta is not None:
            outs.extend(
                _eval_template_once(
                    key, body, head, n_slots, rules, facts, types, None, -1,
                    types_delta=types_delta, types_delta_pos=j,
                )
                for j, a in enumerate(body)
                if a[0] == "cls"
            )
        if not outs:
            # either the body is all class atoms with no type-inferring
            # template in play (types_delta is None), or relevance
            # filtering proved every delta-position plan empty:
            # nothing can re-trigger this rule this round — return None
            # so the caller skips it (building even a limit(0) plan
            # costs py4j round-trips and optimizer time per round)
            return None
        return reduce(lambda a, c: a.unionByName(c), outs)
    return _eval_template_once(key, body, head, n_slots, rules, facts, types, None, -1)


def _eval_template_once(
    key, body, head, n_slots, rules, facts, types, delta, delta_pos,
    types_delta=None, types_delta_pos=-1,
) -> DataFrame:
    # The pipeline is composed from SQL-string expressions (filter/
    # selectExpr/F.expr), ONE py4j round-trip per condition or select —
    # composing the same plan from Column objects costs a JVM socket
    # call per `F.col`/`&`/`==`/`.alias` (~20k per round across the
    # template × delta-position variants, ~2.5s of pure driver latency,
    # measured). Column references are name-based and never collide:
    # the b side owns doc_iri/_s*/v*, the fact/type side is renamed to
    # __* before every join. Slot VALUES stay data (join columns);
    # only fixed identifiers and the template's structure reach SQL.
    b = rules.filter(f"template_key = '{key}'").selectExpr(
        "doc_iri", *[f"slots[{i}] AS _s{i}" for i in range(n_slots)]
    )
    bcols = ["doc_iri"] + [f"_s{i}" for i in range(n_slots)]
    bound: set = set()
    for atom_idx, atom in enumerate(body):
        if atom[0] == "bi":
            _, op, vi, rhs = atom
            sign = _BI_SQL[op]
            rexpr = f"_s{rhs[1]}" if rhs[0] == "c" else f"v{rhs[1]}"
            # try_cast: a non-numeric binding DROPS OUT of the builtin
            # comparison (matching the sequential oracle's
            # skip-on-ValueError) — ANSI mode's plain cast would kill
            # the whole fixpoint job instead
            b = b.filter(f"try_cast(v{vi} as double) {sign} try_cast({rexpr} as double)")
            continue
        if atom[0] == "ar":
            _, op, outv, o1, o2 = atom
            es = [
                f"try_cast({'_s' if k == 'c' else 'v'}{i} AS BIGINT)"
                for k, i in (o1, o2)
            ]
            expr = f"{_AR_SQL[op]}({es[0]}, {es[1]})"
            if outv in bound:
                # check form: the result variable was bound earlier
                b = b.filter(f"try_cast(v{outv} AS BIGINT) = {expr}")
            else:
                # binding form: compute, DROP NULL results (non-integral
                # operand, overflow, mod-by-zero), bind the lexical form
                bound.add(outv)
                b = (
                    b.selectExpr(*bcols, f"CAST({expr} AS STRING) AS v{outv}")
                    .filter(f"v{outv} IS NOT NULL")
                )
                bcols.append(f"v{outv}")
            continue
        if atom[0] == "sf":
            _, op, outv, ops = atom
            es = [f"{'_s' if k == 'c' else 'v'}{i}" for k, i in ops]
            if op == "sc":
                expr = f"concat({', '.join(es)})"
            elif op == "sl":
                expr = f"CAST(length({es[0]}) AS STRING)"
            elif op == "uc":
                expr = f"upper({es[0]})"
            elif op == "ss":
                # XPath integer substring: keep positions p with
                # p >= start and p < start + length (1-based). All
                # bound checks go through try_cast/try_add so a
                # non-integral binding or an INT-range overflow
                # yields NULL — dropped below, never an ANSI error.
                stc = f"try_cast({es[1]} AS BIGINT)"
                base = f"greatest({stc}, 1)"
                if len(es) == 3:
                    lnc = f"try_cast({es[2]} AS BIGINT)"
                    n = f"try_subtract(try_add({stc}, {lnc}), {base})"
                    expr = (
                        f"CASE WHEN {n} <= 0 THEN '' "
                        f"ELSE substring({es[0]}, try_cast({base} AS INT), "
                        f"try_cast({n} AS INT)) END"
                    )
                else:
                    # greatest() IGNORES NULLs, so a failed start cast
                    # must be caught explicitly or it silently becomes 1
                    expr = (
                        f"CASE WHEN {stc} IS NULL THEN NULL "
                        f"ELSE substring({es[0]}, try_cast({base} AS INT)) END"
                    )
            elif op == "bn":
                # boolean lexicals only; anything else yields NULL and
                # the row drops (comparison-builtin skip semantics)
                expr = (
                    f"CASE WHEN {es[0]} IN ('true', '1') THEN 'false' "
                    f"WHEN {es[0]} IN ('false', '0') THEN 'true' END"
                )
            else:
                expr = f"lower({es[0]})"
            if outv in bound:
                b = b.filter(f"v{outv} = {expr}")
            else:
                bound.add(outv)
                b = b.selectExpr(*bcols, f"{expr} AS v{outv}")
                if op in ("ss", "bn"):
                    b = b.filter(f"v{outv} IS NOT NULL")
                bcols.append(f"v{outv}")
            continue
        if atom[0] == "sck":
            _, op, o1, o2 = atom
            e1, e2 = (f"{'_s' if k == 'c' else 'v'}{i}" for k, i in (o1, o2))
            b = b.filter(f"{_SCK_SQL[op]}({e1}, {e2})")
            continue
        if atom[0] == "cls":
            _, cls_slot, inst = atom
            t_src = types_delta if atom_idx == types_delta_pos else types
            t = t_src.selectExpr(
                "doc_iri AS __d", "inst AS __i", "cls AS __c"
            )
            conds = ["doc_iri = __d", f"__c = _s{cls_slot}"]
            newv = None
            if inst[0] == "c":
                conds.append(f"__i = _s{inst[1]}")
            elif inst[1] in bound:
                conds.append(f"__i = v{inst[1]}")
            else:
                newv = inst[1]
            cond = F.expr(" AND ".join(conds))
            if newv is None:
                # pure filter: semi-join — no duplication, no dedup pass
                b = b.join(t, cond, "left_semi")
            else:
                bound.add(newv)
                b = b.join(t, cond).selectExpr(*bcols, f"__i AS v{newv}")
                bcols.append(f"v{newv}")
            continue
        _, pred_slot, ssub, osub = atom
        src = delta if (delta is not None and atom_idx == delta_pos) else facts
        fa = src.selectExpr(
            "doc_iri AS __d",
            "pred AS __p",
            "subj AS __s",
            "obj AS __o",
            "obj_is_literal AS __ol",
        )
        conds = ["doc_iri = __d", f"__p = _s{pred_slot}"]
        newvars = []
        if ssub[0] == "c":
            conds.append(f"__s = _s{ssub[1]}")
        elif ssub[1] in bound:
            conds.append(f"__s = v{ssub[1]}")
        else:
            newvars.append((ssub[1], "__s"))
        if osub[0] == "c2":
            conds.append(f"IF(__ol, __o = _s{osub[1]}, __o = _s{osub[2]})")
        elif osub[1] in bound:
            conds.append(f"__o = v{osub[1]}")
        elif any(vi == osub[1] for vi, _ in newvars):
            # p(?x, ?x): same unbound var in both slots of one atom
            conds.append("__o = __s")
        else:
            newvars.append((osub[1], "__o"))
        cond = F.expr(" AND ".join(conds))
        if not newvars:
            # pure filter: semi-join — one matching fact is enough, and
            # multiplicities never duplicate bindings (the per-atom
            # distinct this replaces was a shuffle per atom per variant)
            b = b.join(fa, cond, "left_semi")
        else:
            bound.update(vi for vi, _ in newvars)
            b = b.join(fa, cond).selectExpr(
                *bcols, *[f"{srcc} AS v{vi}" for vi, srcc in newvars]
            )
            bcols.extend(f"v{vi}" for vi, _ in newvars)

    outs = []
    for atom in head:
        if atom[0] == "cls":
            _, cls_slot, inst = atom
            subj = f"v{inst[1]}" if inst[0] == "v" else f"_s{inst[1]}"
            outs.append(
                b.selectExpr(
                    f"{subj} AS subj",
                    f"'{V.RDF_TYPE}' AS pred",
                    f"_s{cls_slot} AS obj",
                    "false AS obj_is_literal",
                    "CAST(NULL AS STRING) AS obj_datatype",
                    "doc_iri",
                )
            )
        else:
            _, pred_slot, ssub, osub = atom
            subj = f"v{ssub[1]}" if ssub[0] == "v" else f"_s{ssub[1]}"
            if osub[0] == "v":
                obj, il, dt = f"v{osub[1]}", "false", "CAST(NULL AS STRING)"
            elif osub[0] == "lit":
                obj, il, dt = f"_s{osub[1]}", "true", f"_s{osub[2]}"
            else:
                obj, il, dt = f"_s{osub[1]}", "false", "CAST(NULL AS STRING)"
            outs.append(
                b.selectExpr(
                    f"{subj} AS subj",
                    f"_s{pred_slot} AS pred",
                    f"{obj} AS obj",
                    f"{il} AS obj_is_literal",
                    f"{dt} AS obj_datatype",
                    "doc_iri",
                )
            )
    # no per-head distinct: the caller's single union-wide distinct
    # dedups with map-side partial aggregation — one shuffle instead of
    # one per head per variant (duplicates collapse in the combiner
    # before they ever hit the wire)
    return reduce(lambda a, c: a.unionByName(c), outs)


def forward_chain(
    triples: DataFrame, max_iter: int = 15, on_unsupported: str = "raise"
) -> DataFrame:
    """Returns the INFERRED facts (subj, pred, obj, obj_is_literal,
    obj_datatype, doc_iri) — the delta the Pellet step would add for
    the supported fragment. Fixpoint: rounds of template-grouped rule
    application until no new facts; lineage cut per round. Driver work
    per round is O(#distinct templates), independent of document count.

    ``on_unsupported``: "raise" (default) fails fast listing the bad
    rules; "skip" drops them with a warning."""
    spark = triples.sparkSession

    fact_cols = ["subj", "pred", "obj", "obj_is_literal", "obj_datatype", "doc_iri"]
    base = (
        triples.filter(~F.col("subj").startswith("_:") & ~F.col("obj").startswith("_:"))
        .select(*fact_cols)
        .distinct()
    )

    # ONE bounded probe of the checkpointed rule relation picks the
    # regime; the distributed parse reads the same checkpoint
    rel = _rule_rel(triples).localCheckpoint(eager=False)
    probe = regime.driver_rows(rel, _DRIVER_RULE_ROWS)
    if probe is not None:
        # driver-rules regime: the rule list is already on the driver —
        # the bad-rule diagnostic, template list and relevance index
        # need no further jobs
        local_rules = _local_rule_rows(probe)
        bad = [(d, slots) for d, k, slots in local_rules if k == _INVALID]
        _report_bad_rules(bad, len(bad), on_unsupported)
        local_rules = [r for r in local_rules if r[1] != _INVALID]
        distinct_pairs = sorted({(k, tuple(slots)) for _, k, slots in local_rules})
        # checkpointed once: the fixpoint joins read it per template per
        # round, and a plain local relation measured 2× slower there
        rules = arrow_local_df(spark, local_rules, _RULES_SCHEMA).localCheckpoint()
    else:
        rules = _parse_rules(rel).localCheckpoint()
        # bounded diagnostic: collect at most 6 bad rules (5 to show +
        # 1 to know there are more), never the full set — 10^9
        # documents with a systematic bad rule must not become an
        # unbounded driver collect
        bad_df = rules.filter(F.col("template_key") == _INVALID).select(
            "doc_iri", "slots"
        )
        bad = [(r["doc_iri"], r["slots"]) for r in bad_df.limit(6).collect()]
        if bad:
            _report_bad_rules(
                bad, bad_df.count() if len(bad) >= 6 else len(bad), on_unsupported
            )
            rules = rules.filter(F.col("template_key") != _INVALID)

        # ONE bounded collect serves both the template list and the
        # relevance index below
        distinct_pairs = sorted(
            {
                (r["template_key"], tuple(r["slots"]))
                for r in rules.select("template_key", "slots").distinct().collect()
            }
        )
    templates = sorted({k for k, _ in distinct_pairs})
    if not templates:
        return arrow_local_df(spark, [], base.schema)

    # derive the closure and type tables from the CHECKPOINTED fact
    # base, not the raw triple table (r7, guide §2.2): both operators
    # filter out blank-node participants themselves, and base is
    # exactly the distinct non-blank triples — identical inputs, but
    # the scans read the tiny materialized snapshot instead of
    # re-scanning and re-shuffling the full parse twice. (The rule
    # probe above must NOT do this: anonymous Inverse(p) blank nodes
    # legitimately carry owl:inverseOf rows.)
    facts = base.localCheckpoint()
    closure = _closure_pairs(facts).localCheckpoint()
    types = _closed_types(facts, closure).localCheckpoint()
    had_type_heads = any("T(" in k.split("=>")[1] for k in templates)

    # ONE count on the checkpointed base sizes the fact/type/delta sides
    # of every per-atom join: under the broadcast bound each atom join
    # is a BroadcastHashJoin instead of a sort-merge join — on the bench
    # corpus ~30 fewer AQE shuffle-stage jobs per fixpoint round (the
    # cost of a tiny-data fixpoint is job count, not bytes)
    n_facts = facts.count()

    def _minus(a: DataFrame, b: DataFrame) -> DataFrame:
        # null-safe anti-join: obj_datatype is NULL for non-literals
        # and a plain equi-join would never match NULLs
        cond = None
        aa, bb = a.alias("a"), b.alias("b")
        for c in fact_cols:
            eq = F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
            cond = eq if cond is None else cond & eq
        return aa.join(bb, cond, "left_anti").select(*fact_cols)

    # driver-side relevance index (r4, datalog relevance filtering):
    # for each (template, prop-atom position), the set of predicate
    # IRIs any rule of that template binds at that slot. One bounded
    # job — the result is ≤ #templates × #distinct properties rows no
    # matter the corpus size. In rounds ≥ 1 a delta-position plan whose
    # atom cannot bind ANY delta predicate is provably empty (the plan
    # joins that atom against the delta on pred = slot), so it is
    # skipped instead of scheduled.
    atom_preds: dict = {}
    if templates:
        # slot extraction per template shape happens driver-side on the
        # bounded distinct-rule set collected above (r4 built this as a
        # union of one filter-scan per prop atom — ~2× the whole
        # index's cost in scheduling alone)
        shapes = {k: _parse_template(k)[0] for k in templates}
        for key, slots in distinct_pairs:
            tbody = shapes.get(key)
            if tbody is None:
                continue
            for j, a in enumerate(tbody):
                if a[0] == "prop":
                    atom_preds.setdefault((key, j), set()).add(slots[a[1]])

    # semi-naive: round 1 seeds with a full evaluation; later rounds
    # re-join only bindings touching at least one new fact (property
    # atoms read the facts delta) or one new closed type (class atoms
    # read the TYPES delta — the r2 verdict's full-re-evaluation
    # fallback for class-atom templates is replaced by maintaining the
    # type closure incrementally, so round cost tracks |delta| for all
    # template shapes).
    delta = facts
    delta_preds: set = set()
    types_delta = None
    inferred_acc = None
    for rnd in range(max_iter):
        bfacts = regime.maybe_broadcast(facts, n_facts)
        btypes = regime.maybe_broadcast(types, n_facts)
        if rnd == 0:
            outs = [
                _eval_template(k, rules, bfacts, btypes, delta=None, types_delta=None)
                for k in templates
            ]
        else:
            bdelta = regime.maybe_broadcast(delta, n_facts)
            btypes_delta = (
                None if types_delta is None else regime.maybe_broadcast(types_delta, n_facts)
            )
            # delta_preds was computed by the SAME action that
            # materialized the delta checkpoint (below) — no extra
            # driver round-trip per round (the r4 regression)
            outs = []
            for k in templates:
                live = [
                    j
                    for (tk, j), preds in atom_preds.items()
                    if tk == k and preds & delta_preds
                ]
                out = _eval_template(
                    k, rules, bfacts, btypes,
                    delta=bdelta, types_delta=btypes_delta,
                    live_positions=live,
                )
                if out is not None:
                    outs.append(out)
            if not outs:
                # every template is provably dead this round
                break
        new = reduce(lambda a, c: a.unionByName(c), outs).distinct()
        # lazy checkpoints + ONE action per round: the tagged-union
        # aggregate below materializes the delta checkpoint AND (for
        # type-head rule sets) the types-delta checkpoint, returning
        # the delta's predicate set and the types-delta row count
        # together (pred is never NULL, so empty set <=> empty delta;
        # collect_set skips the NULL-pred tag rows) — replaces the
        # separate per-round types_delta.count() action (r7)
        delta = _minus(new, bfacts).localCheckpoint(eager=False)
        if had_type_heads:
            # inferred class memberships must feed later class atoms —
            # close only the DELTA's types and anti-join against the
            # known set: the increment is what class atoms re-join on
            types_delta = (
                _closed_types(delta, closure)
                .join(types, ["doc_iri", "inst", "cls"], "left_anti")
                .localCheckpoint(eager=False)
            )
            row = (
                delta.select("pred", F.lit(1).alias("__d"))
                .unionByName(
                    types_delta.select(
                        F.lit(None).cast("string").alias("pred"),
                        F.lit(0).alias("__d"),
                    )
                )
                .agg(
                    F.collect_set(F.when(F.col("__d") == 1, F.col("pred"))).alias("p"),
                    F.sum(F.lit(1) - F.col("__d")).alias("nt"),
                )
                .head()
            )
            delta_preds = set(row["p"])
            n_types_delta = row["nt"] or 0
        else:
            delta_preds = set(delta.agg(F.collect_set("pred")).head()[0])
            n_types_delta = 0
        if not delta_preds:
            break
        # facts/types are unions of already-checkpointed frames: lineage
        # stays depth-1 without their own checkpoint jobs (2 fewer
        # materializations per round than r2)
        facts = facts.unionByName(delta)
        inferred_acc = delta if inferred_acc is None else inferred_acc.unionByName(delta)
        if had_type_heads and n_types_delta:
            types = types.unionByName(types_delta)
        else:
            # no new closed types: class-atom delta plans would all be
            # empty — skip them next round
            types_delta = None

    if inferred_acc is None:
        return arrow_local_df(spark, [], base.schema)
    return inferred_acc.distinct()
