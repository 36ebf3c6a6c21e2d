"""Pure-Python unit tests for the shared XSD facet evaluator
(operators/facets.py) — no Spark session needed."""

import pytest

from yamlpyowl_spark import vocab as V
from yamlpyowl_spark.operators import facets as FX
from yamlpyowl_spark.operators.owldoc import DocModel

XSD = V.XSD
OWL = V.OWL


def _M(rows):
    """The doc model of (s, p, o) rows; facet bounds are the literals."""
    return DocModel((s, p, o, p in FX.FACET_PREDS) for s, p, o in rows)


def _range_model(base, facet_rows):
    rows = [
        ("_:r", FX.ON_DATATYPE, base),
        ("_:r", FX.WITH_RESTRICTIONS, "_:l0"),
    ]
    for i, (facet, bound) in enumerate(facet_rows):
        rows += [
            (f"_:l{i}", V.RDF_FIRST, f"_:f{i}"),
            (f"_:l{i}", V.RDF_REST, f"_:l{i + 1}" if i + 1 < len(facet_rows) else V.RDF_NIL),
            (f"_:f{i}", facet, bound),
        ]
    return _M(rows)


def test_integer_min_max_inclusive():
    m = _range_model(
        XSD + "integer",
        [(XSD + "minInclusive", "18"), (XSD + "maxExclusive", "65")],
    )
    rng = FX.parse_data_range(m, "_:r")
    assert rng is not None
    assert FX.literal_in_range("18", rng)
    assert FX.literal_in_range("64", rng)
    assert not FX.literal_in_range("65", rng)
    assert not FX.literal_in_range("17", rng)
    assert not FX.literal_in_range("18.5", rng)  # not an integer
    assert not FX.literal_in_range("abc", rng)  # ill-typed


def test_decimal_exclusive_bounds():
    m = _range_model(XSD + "decimal", [(XSD + "minExclusive", "0.5")])
    rng = FX.parse_data_range(m, "_:r")
    assert FX.literal_in_range("0.51", rng)
    assert not FX.literal_in_range("0.5", rng)
    assert FX.literal_in_range("1e2", rng)  # scientific lexical ok for this evaluator


def test_string_length_and_pattern():
    m = _range_model(
        XSD + "string",
        [(XSD + "minLength", "2"), (XSD + "pattern", "[A-Z][a-z]+")],
    )
    rng = FX.parse_data_range(m, "_:r")
    assert FX.literal_in_range("Ab", rng)
    assert not FX.literal_in_range("A", rng)  # too short
    assert not FX.literal_in_range("ab", rng)  # pattern anchored
    assert not FX.literal_in_range("Abc1", rng)  # fullmatch, not search


def test_date_range():
    m = _range_model(
        XSD + "date",
        [(XSD + "minInclusive", "2020-01-01"), (XSD + "maxInclusive", "2020-12-31")],
    )
    rng = FX.parse_data_range(m, "_:r")
    assert FX.literal_in_range("2020-06-15", rng)
    assert not FX.literal_in_range("2021-01-01", rng)
    assert not FX.literal_in_range("not-a-date", rng)


def test_bounded_int_types_value_space():
    m = _range_model(XSD + "byte", [(XSD + "minInclusive", "0")])
    rng = FX.parse_data_range(m, "_:r")
    assert FX.literal_in_range("127", rng)
    assert not FX.literal_in_range("128", rng)  # outside xsd:byte


def test_unknown_facet_fails_parse():
    m = _range_model(XSD + "integer", [(XSD + "totalDigits", "3")])
    assert FX.parse_data_range(m, "_:r") is None


def test_missing_with_restrictions_fails_parse():
    m = _M([("_:r", FX.ON_DATATYPE, XSD + "string")])
    assert FX.parse_data_range(m, "_:r") is None


def test_malformed_bound_fails_parse():
    m = _range_model(XSD + "integer", [(XSD + "minInclusive", "eighteen")])
    assert FX.parse_data_range(m, "_:r") is None


def test_ordering_facet_on_string_fails_parse():
    m = _range_model(XSD + "string", [(XSD + "minInclusive", "a")])
    assert FX.parse_data_range(m, "_:r") is None


def test_bad_regex_fails_parse():
    m = _range_model(XSD + "string", [(XSD + "pattern", "[unclosed")])
    assert FX.parse_data_range(m, "_:r") is None


def test_lexically_valid_plain_datatype():
    assert FX.lexically_valid("42", XSD + "integer") is True
    assert FX.lexically_valid("4.5", XSD + "integer") is False
    assert FX.lexically_valid("anything", XSD + "string") is True
    assert FX.lexically_valid("x", XSD + "hexBinary") is None  # unsupported → unknown


def test_unsupported_base_fails_parse():
    m = _range_model(XSD + "hexBinary", [(XSD + "length", "4")])
    assert FX.parse_data_range(m, "_:r") is None


def test_float_special_lexicals_valid():
    # XSD float/double lexical space includes NaN/INF/-INF (ADVICE r6:
    # rejecting them made dt-not-type flag a consistent ontology)
    for dt in (XSD + "float", XSD + "double"):
        assert FX.lexically_valid("NaN", dt) is True
        assert FX.lexically_valid("INF", dt) is True
        assert FX.lexically_valid("-INF", dt) is True
    # xsd:decimal's does NOT
    assert FX.lexically_valid("NaN", XSD + "decimal") is False
    assert FX.lexically_valid("INF", XSD + "decimal") is False


def test_float_specials_in_ordered_ranges():
    m = _range_model(XSD + "double", [(XSD + "minInclusive", "0")])
    rng = FX.parse_data_range(m, "_:r")
    assert FX.literal_in_range("INF", rng)       # INF >= 0
    assert not FX.literal_in_range("-INF", rng)  # -INF < 0
    assert not FX.literal_in_range("NaN", rng)   # NaN unordered
