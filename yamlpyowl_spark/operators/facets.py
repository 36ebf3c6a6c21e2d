"""XSD facet-constrained data ranges (``owl:onDatatype`` +
``owl:withRestrictions``) — shared by both reasoners.

OWL 2 datatype restrictions describe a data range as a base XSD
datatype narrowed by facets, serialized as::

    _:r  owl:onDatatype        xsd:integer
    _:r  owl:withRestrictions  ( _:f1 _:f2 )
    _:f1 xsd:minInclusive      "18"
    _:f2 xsd:maxExclusive      "65"

The reference delegates all datatype reasoning to Pellet /
owlready2's ``ConstrainedDatatype`` (its YAML grammar never emits
facets — they are hand-authorable via ``om.add_fact``, the same
boundary the r5/r6 verdicts tracked). This module gives both engines
one shared, deliberately small evaluator:

* :func:`parse_data_range` — decode a restriction node into
  ``(base_datatype, ((facet, lexical), ...))``; returns ``None``
  whenever ANY part is outside the supported vocabulary (unknown
  facet, unsupported base, malformed bound), so callers keep the
  loud ``ypo:dlUnsupportedConstruct`` diagnostic for exactly the
  ranges this module cannot decide — never a silent partial read.
* :func:`literal_in_range` — three-valued-free membership: a lexical
  form either IS in the range's value space or is not (ill-typed
  lexicals are not in any range of that base datatype).

Supported facets: ``xsd:minInclusive`` / ``maxInclusive`` /
``minExclusive`` / ``maxExclusive`` (numeric, boolean-excluded,
date/dateTime/time), ``xsd:length`` / ``minLength`` / ``maxLength``
(over the lexical form), ``xsd:pattern`` (anchored full-match;
Python ``re`` dialect — the XML Schema regex subset used in practice
coincides, the divergences are documented here rather than silently
approximated). ``totalDigits`` / ``fractionDigits`` and user-defined
datatypes remain outside — parse fails, boundary stays loud.
"""

from __future__ import annotations

import re
from decimal import Decimal, InvalidOperation
from typing import Optional, Tuple

from .. import vocab as V
from .owldoc import DocModel

ON_DATATYPE = V.OWL + "onDatatype"
WITH_RESTRICTIONS = V.OWL + "withRestrictions"
ON_DATA_RANGE = V.OWL + "onDataRange"

# base datatypes with a decidable order / lexical space here
_NUMERIC = frozenset(
    V.XSD + n
    for n in (
        "integer",
        "int",
        "long",
        "short",
        "byte",
        "nonNegativeInteger",
        "nonPositiveInteger",
        "positiveInteger",
        "negativeInteger",
        "unsignedLong",
        "unsignedInt",
        "unsignedShort",
        "unsignedByte",
        "decimal",
        "float",
        "double",
    )
)
_INTEGRAL = frozenset(d for d in _NUMERIC if "decimal" not in d and "float" not in d and "double" not in d)
# IEEE bases whose lexical space includes NaN/INF/-INF (xsd:decimal's
# does not)
_FLOATY = frozenset((V.XSD + "float", V.XSD + "double"))
_STRINGY = frozenset(V.XSD + n for n in ("string", "normalizedString", "token", "anyURI", "language", "Name", "NCName"))
_TEMPORAL = frozenset(V.XSD + n for n in ("dateTime", "date", "time"))
SUPPORTED_BASES = _NUMERIC | _STRINGY | _TEMPORAL

_ORDER_FACETS = frozenset(
    V.XSD + n for n in ("minInclusive", "maxInclusive", "minExclusive", "maxExclusive")
)
_LENGTH_FACETS = frozenset(V.XSD + n for n in ("length", "minLength", "maxLength"))
_PATTERN = V.XSD + "pattern"
FACET_PREDS = _ORDER_FACETS | _LENGTH_FACETS | frozenset((_PATTERN,))

# range-table bounds for the bounded integer types: value-space
# membership, not just lexical shape (xsd:byte "999" is ill-typed)
_INT_BOUNDS = {
    V.XSD + "byte": (-128, 127),
    V.XSD + "short": (-32768, 32767),
    V.XSD + "int": (-(2**31), 2**31 - 1),
    V.XSD + "long": (-(2**63), 2**63 - 1),
    V.XSD + "unsignedByte": (0, 255),
    V.XSD + "unsignedShort": (0, 65535),
    V.XSD + "unsignedInt": (0, 2**32 - 1),
    V.XSD + "unsignedLong": (0, 2**64 - 1),
    V.XSD + "nonNegativeInteger": (0, None),
    V.XSD + "positiveInteger": (1, None),
    V.XSD + "nonPositiveInteger": (None, 0),
    V.XSD + "negativeInteger": (None, -1),
}


def canon(lex: str, base_dt: str):
    """Canonical comparable value of ``lex`` under ``base_dt`` —
    ``None`` when the lexical form is outside the datatype's lexical
    (or bounded value) space."""
    if base_dt in _NUMERIC:
        s = lex.strip()
        if base_dt in _FLOATY and s in ("NaN", "INF", "-INF"):
            # XSD float/double special lexicals ARE valid (ADVICE r6:
            # rejecting them made dt-not-type flag a consistent
            # ontology). Return the IEEE value; ordered-facet
            # comparisons special-case the non-finite cases.
            return float("nan") if s == "NaN" else float(s.replace("INF", "inf"))
        try:
            v = Decimal(s)
        except (InvalidOperation, ValueError, ArithmeticError):
            return None
        if v.is_nan() or v.is_infinite():
            return None
        if base_dt in _INTEGRAL:
            if v != v.to_integral_value():
                return None
            lo, hi = _INT_BOUNDS.get(base_dt, (None, None))
            if lo is not None and v < lo:
                return None
            if hi is not None and v > hi:
                return None
        return v
    if base_dt in _TEMPORAL:
        import datetime as _dt

        s = lex.strip().replace("Z", "+00:00")
        try:
            if base_dt == V.XSD + "date":
                return _dt.date.fromisoformat(s)
            if base_dt == V.XSD + "time":
                return _dt.time.fromisoformat(s)
            return _dt.datetime.fromisoformat(s)
        except ValueError:
            return None
    if base_dt in _STRINGY:
        return lex
    return None


def parse_data_range(m: DocModel, node: str) -> Optional[Tuple[str, Tuple[Tuple[str, str], ...]]]:
    """Decode the datatype-restriction rooted at blank node ``node``
    of the document ``m``. Returns ``(base_datatype, ((facet_iri,
    bound_lexical), ...))`` or ``None`` when any component is outside
    the supported vocabulary — the caller keeps its loud
    unsupported-construct path."""
    base = m.obj(node, ON_DATATYPE)
    lst = m.obj(node, WITH_RESTRICTIONS)
    if base is None or lst is None or base not in SUPPORTED_BASES:
        return None
    facets = []
    for member in m.rdf_list(lst):
        member_preds = [p for (s, p) in m.spo if s == member]
        got_one = False
        for p in member_preds:
            if p in (V.RDF_FIRST, V.RDF_REST):
                continue
            if p not in FACET_PREDS:
                return None  # unknown facet — stay loud
            bound = m.obj(member, p)
            if bound is None:
                return None
            if p in _ORDER_FACETS:
                if base not in _NUMERIC and base not in _TEMPORAL:
                    return None  # ordering facet on an unordered base
                if canon(bound, base) is None:
                    return None  # malformed bound
            elif p in _LENGTH_FACETS:
                try:
                    if int(bound) < 0:
                        return None
                except ValueError:
                    return None
            else:  # pattern
                try:
                    re.compile(bound)
                except re.error:
                    return None
            facets.append((p, bound))
            got_one = True
        if not got_one:
            return None  # empty member node — malformed list
    if not facets:
        return None
    return (base, tuple(facets))


def literal_in_range(lex: str, rng: Tuple[str, Tuple[Tuple[str, str], ...]]) -> bool:
    """Is the lexical form ``lex`` in the value space of the parsed
    data range? Ill-typed lexicals (not in the base datatype) are NOT
    in the range — the two-valued answer both engines need for
    asserted data facts (there is no unknown: the literal is given)."""
    base, facets = rng
    v = canon(lex, base)
    if v is None:
        return False
    for facet, bound in facets:
        if facet in _ORDER_FACETS:
            b = canon(bound, base)
            name = facet[len(V.XSD):]
            if isinstance(v, float) and v != v:
                # NaN is unordered under every XSD order facet
                return False
            if isinstance(v, float) or isinstance(b, float):
                # a non-finite value or bound: compare in float space
                # (±INF order correctly against any finite bound)
                v, b = float(v), float(b)
            try:
                if name == "minInclusive" and not (v >= b):
                    return False
                if name == "maxInclusive" and not (v <= b):
                    return False
                if name == "minExclusive" and not (v > b):
                    return False
                if name == "maxExclusive" and not (v < b):
                    return False
            except TypeError:
                # naive-vs-aware dateTime: incomparable per XSD partial
                # order — not provably in the range
                return False
        elif facet in _LENGTH_FACETS:
            n = len(lex)
            b2 = int(bound)
            name = facet[len(V.XSD):]
            if name == "length" and n != b2:
                return False
            if name == "minLength" and n < b2:
                return False
            if name == "maxLength" and n > b2:
                return False
        else:  # pattern: anchored per XML Schema
            if re.fullmatch(bound, lex) is None:
                return False
    return True


def lexically_valid(lex: str, datatype: str) -> Optional[bool]:
    """Is ``lex`` in the lexical space of a PLAIN xsd datatype?
    ``None`` when the datatype is outside the supported set (callers
    treat that as unknown, never as a silent yes/no)."""
    if datatype not in SUPPORTED_BASES:
        return None
    return canon(lex, datatype) is not None
