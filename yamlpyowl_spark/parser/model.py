"""Lightweight in-document entity model for the YAML-ontology parser.

The reference (cknoll/yamlpyowl, /root/reference/src/yamlpyowl/core.py)
materializes owlready2 Python classes; we only need enough structure to
(a) replicate its name-resolution / ordering semantics and (b) emit the
OWL 2 RDF triple mapping. Everything here is plain Python — it runs
inside Arrow-batched pandas UDFs on executors, one document at a time
(the reference's semantics are inherently sequential per document,
core.py:1286-1316, so the unit of parallelism is the document).
"""

from __future__ import annotations

from typing import List, Optional, Union


class ParseError(ValueError):
    """Any in-document semantic error (mirrors the reference's raises)."""


class UnknownEntityError(ParseError):
    """reference core.py:47, raised by resolve_name (core.py:481-489)"""


class MissingKeywordError(ParseError):
    """reference core.py:51"""


class Ent:
    """A named entity: class, individual, object/data property, datatype.

    ``iri`` is the absolute IRI. For classes ``parents`` is the resolved
    is_a list (first element = "main parent", reference core.py:595-602).
    """

    __slots__ = (
        "name",
        "kind",
        "iri",
        "parents",
        "main_parent",
        "types",
        "domain",
        "range",
        "characteristics",
        "inverse_of",
        "py_type",
    )

    def __init__(self, name: str, kind: str, iri: str, **kw):
        self.name = name
        self.kind = kind  # class|individual|object_property|data_property|datatype
        self.iri = iri
        self.parents: List = kw.get("parents", [])
        self.main_parent: Optional["Ent"] = kw.get("main_parent")
        self.types: List = kw.get("types", [])
        self.domain: List = kw.get("domain", [])
        self.range: List = kw.get("range", [])
        self.characteristics = kw.get("characteristics", [])
        self.inverse_of: Optional["Ent"] = kw.get("inverse_of")
        self.py_type = kw.get("py_type")

    # -- helpers mirroring reference semantics ---------------------------

    @property
    def is_property(self) -> bool:
        return self.kind in ("object_property", "data_property")

    @property
    def is_functional(self) -> bool:
        # reference: prop.is_functional_for(...) — FunctionalProperty in mro
        return "Functional" in self.characteristics

    def ancestor_chain(self):
        """Walk the main-parent chain (the python-base chain in the
        reference, since only the first parent becomes the python base,
        core.py:598). Used for the issubclass() check in the
        RelationConcept magic (core.py:684)."""
        seen = set()
        node = self
        while node is not None and id(node) not in seen:
            seen.add(id(node))
            yield node
            node = node.main_parent

    def __repr__(self):  # pragma: no cover - debugging aid
        return f"<Ent {self.kind} {self.name}>"

    def __hash__(self):
        return hash((self.kind, self.iri))

    def __eq__(self, other):
        return isinstance(other, Ent) and self.iri == other.iri and self.kind == other.kind


class Construct:
    """Or / And / Not / OneOf over class expressions
    (reference ce_constructors, core.py:168-179)."""

    __slots__ = ("op", "args")

    def __init__(self, op: str, args: list):
        self.op = op  # "Or" | "And" | "Not" | "OneOf"
        self.args = args if isinstance(args, list) else [args]

    def __repr__(self):  # pragma: no cover
        return f"<{self.op}({self.args})>"


class InverseProp:
    """Anonymous inverse of a property, used inside restrictions
    (reference `owl2.Inverse(role)`, core.py:1630-1646)."""

    __slots__ = ("prop",)

    def __init__(self, prop: Ent):
        self.prop = prop

    def __repr__(self):  # pragma: no cover
        return f"<Inverse({self.prop.name})>"


class Restriction:
    """role.some(filler) / role.value(filler) chains
    (reference PropertyRestrictionParser, core.py:1544-1710)."""

    __slots__ = ("prop", "rtype", "filler")

    def __init__(self, prop: Union[Ent, InverseProp], rtype: str, filler):
        assert rtype in ("some", "value")
        self.prop = prop
        self.rtype = rtype
        self.filler = filler  # Ent | Construct | Restriction | int | float | str

    def __repr__(self):  # pragma: no cover
        return f"<{getattr(self.prop, 'name', self.prop)}.{self.rtype}({self.filler})>"


def ensure_list(obj):
    """reference core.py:1346-1362"""
    if isinstance(obj, (list, tuple)):
        return obj
    return [obj]


def unpack_len1_mapping(data_dict: dict):
    """reference core.py:1406-1410"""
    if not isinstance(data_dict, dict) or len(data_dict) != 1:
        raise ParseError(f"expected a length-1 mapping, got: {data_dict!r}")
    return tuple(data_dict.items())[0]
