"""The document-scoped reasoner contract. :func:`per_document` is the
one place a reasoner crosses into Python: one Arrow-batched pandas
group per ``doc_iri`` hands the document's distinct fact tuples to a
Spark-free engine (``dlreason.dl_document``, ``owlrl.owlrl_document``,
``swrl.chain_document``), so no operator pays a row-level
``distinct()`` shuffle before its ``doc_iri`` shuffle.
:func:`reason_per_isomorph` runs such an operator once per
content-isomorphism class.

A web-scale ontology corpus is fork-heavy: the same document appears
thousands of times with only its base IRI rewritten (the reference's
users vendor/fork ontology files; the synthetic corpus models this —
sources/corpus.py ``_fork_content`` rewrites exactly the base IRI).
Running a per-document CSP solve (:mod:`dlreason`) or rule pass
(:mod:`owlrl`) on every copy multiplies identical Python work by the
fork count — the 10x reasoning soak measured ~25k isomorphic zebra
solves dominating wall-clock (the pre-fix pass did not finish within
30 minutes).

The scale-correct shape is dedup-before-expensive-compute:

1. fingerprint each document's triples NORMALIZED by (a) replacing its
   own ``doc_iri`` with a placeholder and (b) canonicalizing the
   parser's per-document blank-node prefix (``_:<sha256(content)[:16]>_``
   — parser/document.py:18-19 — which necessarily differs between
   forks because the rewritten IRI changes the content hash); one slim
   JVM-side ``groupBy(doc_iri).agg(md5(concat(array_sort(...))))``;
2. run the wrapped operator ONLY on one representative document per
   fingerprint (left-semi join against the tiny representative set);
3. instantiate each class's output for every member document by
   substituting the representative's base IRI and blank prefix with
   the member's (broadcast-friendly join; output volume is unchanged —
   the saving is compute, which drops from O(docs) to O(distinct
   contents)).

Exactness: fingerprint equality means the member's rows are literally
``subst(rep rows)`` for the two-part substitution (base IRI + blank
prefix; the placeholders cannot occur naturally), and both wrapped
operators treat IRIs, blank labels and literals as opaque strings
apart from fixed vocabulary constants (rdf:/owl:/ypo:, which never
contain a document base IRI) — so the operator commutes with the
substitution and the instantiated output equals the per-document run.
The one caveat: a step-capped CSP solve is represented by its class
representative (deterministic, and the cap fallback is conservative
in both worlds).
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame, functions as F

from ..schema import FACT_COLS, FACT_SCHEMA

# placeholder + separators: control chars that cannot occur in IRIs or
# in the YAML dialect's literal values
_PH = "\x02"
_FS = "\x1f"
_RS = "\x1e"

# the parser's deterministic per-document blank prefix (16 hex chars of
# the content sha); docs built by other means (tests, facade writes)
# may use arbitrary labels — those normalize as-is, which is still
# exact (equal fingerprints then require literally equal labels)
_BLANK_RE = "^_:([0-9a-f]{16})_"


def per_document(
    facts: DataFrame,
    engine: Callable[[str, list], Iterable[tuple]],
) -> DataFrame:
    """Run the picklable ``engine(doc_iri, rows)`` once per document on
    the executors: ``rows`` are the document's distinct (subj, pred,
    obj, obj_is_literal, obj_datatype) tuples, and the engine returns
    the 5-tuples to emit, under the standard fact schema.

    The rows are deduplicated on the JVM after the one ``doc_iri``
    shuffle: hash partitioning on ``doc_iri`` already clusters every
    fact column, so the ``distinct`` is a spillable hash aggregate with
    no exchange of its own, and a document whose file is vendored under
    k paths (one ``doc_iri``, k copies of each row) reaches Python
    once, not k times."""

    def run(pdf):
        import pandas as pd

        doc_iri = pdf["doc_iri"].iloc[0]
        rows = list(zip(*(pdf[c].tolist() for c in FACT_COLS[:5])))
        out = [r + (doc_iri,) for r in engine(doc_iri, rows)]
        return pd.DataFrame(out, columns=FACT_COLS)

    return (
        facts.select(*FACT_COLS)
        .repartition("doc_iri")
        .distinct()
        .groupBy("doc_iri")
        .applyInPandas(run, FACT_SCHEMA)
    )


def reason_per_isomorph(
    triples: DataFrame,
    operator: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Apply a doc-scoped ``operator(triples) -> delta`` once per
    content-isomorphism class and instantiate the delta for every
    member document. Both frames carry the standard fact schema
    (subj, pred, obj, obj_is_literal, obj_datatype, doc_iri)."""
    t = triples.select(*FACT_COLS)

    def norm(c: str):
        base_neutral = F.replace(F.col(c), F.col("doc_iri"), F.lit(_PH))
        return F.regexp_replace(base_neutral, _BLANK_RE, f"_:{_PH}_")

    norm_row = F.concat_ws(
        _FS,
        norm("subj"),
        norm("pred"),
        norm("obj"),
        F.col("obj_is_literal").cast("string"),
        F.coalesce(F.col("obj_datatype"), F.lit("")),
    )
    blank_prefix = F.greatest(
        F.regexp_extract(F.col("subj"), _BLANK_RE, 1),
        F.regexp_extract(F.col("obj"), _BLANK_RE, 1),
    )
    fp = (
        t.select("doc_iri", norm_row.alias("r"), blank_prefix.alias("b"))
        .groupBy("doc_iri")
        .agg(
            F.md5(F.concat_ws(_RS, F.array_sort(F.collect_list("r")))).alias("fp"),
            F.max("b").alias("bp"),
        )
    )
    reps = (
        fp.groupBy("fp")
        .agg(F.min(F.struct("doc_iri", "bp")).alias("m"))
        .select("fp", F.col("m.doc_iri").alias("rep"), F.col("m.bp").alias("rep_bp"))
    )
    # every document -> its class representative (rep -> rep included)
    mapping = fp.join(F.broadcast(reps), "fp").select(
        F.col("rep").alias("doc_iri"),
        "rep_bp",
        F.col("doc_iri").alias("target"),
        F.col("bp").alias("target_bp"),
    )
    rep_triples = t.join(
        F.broadcast(reps.select(F.col("rep").alias("doc_iri"))),
        "doc_iri",
        "left_semi",
    )
    delta = operator(rep_triples)

    def inst(c: str):
        col = F.replace(F.col(c), F.col("doc_iri"), F.col("target"))
        # blank-prefix remap — a no-op when the class has no parser
        # blanks (rep_bp = ""), and when rep == target
        return F.when(F.col("rep_bp") == "", col).otherwise(
            F.replace(
                col,
                F.concat(F.lit("_:"), F.col("rep_bp"), F.lit("_")),
                F.concat(F.lit("_:"), F.col("target_bp"), F.lit("_")),
            )
        )

    return delta.join(mapping, "doc_iri").select(
        inst("subj").alias("subj"),
        inst("pred").alias("pred"),
        inst("obj").alias("obj"),
        "obj_is_literal",
        "obj_datatype",
        F.col("target").alias("doc_iri"),
    )
