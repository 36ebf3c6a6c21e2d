"""Reference results the benchmark checks the program's outputs against.

Expected values come from the library's sequential paths (the
per-document parser and the pure-Python SWRL fixpoint) and from small
pure-Python evaluators of the fixed query shapes. Spark-side results
are reduced to an order-independent digest (row count plus two sums of
32-bit slices of each row's SHA-256) in one aggregate, so a check costs
one small job instead of a collect of the whole table.
"""

from __future__ import annotations

import glob
import hashlib
import os
from typing import Dict, Iterable, List, Set, Tuple

TRIPLE_COLS = [
    "subj", "pred", "obj", "obj_is_literal", "obj_datatype",
    "doc_iri", "src_repo", "src_path", "src_commit", "src_sha256",
]
FACT_COLS = ["subj", "pred", "obj", "obj_is_literal", "obj_datatype", "doc_iri"]
_SEP, _NULL = "\x1f", "\x00"

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_SUBCLASSOF = "http://www.w3.org/2000/01/rdf-schema#subClassOf"


def _cell(v) -> str:
    if v is None:
        return _NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def digest(rows: Iterable[tuple]) -> Tuple[int, int, int]:
    n = a = b = 0
    for r in rows:
        h = hashlib.sha256(_SEP.join(_cell(v) for v in r).encode("utf-8")).hexdigest()
        n, a, b = n + 1, a + int(h[:8], 16), b + int(h[8:16], 16)
    return n, a, b


def spark_digest(df, cols: List[str]) -> Tuple[int, int, int]:
    """The same digest as :func:`digest`, computed by Spark."""
    from pyspark.sql import functions as F

    row = F.concat_ws(_SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols])
    h = F.sha2(row, 256)
    r = df.select(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("a"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("b"),
    ).agg(F.count("*"), F.sum("a"), F.sum("b")).head()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def source_docs(src_dir: str) -> List[tuple]:
    """(repo, path, commit, content) of every ontology document of a
    generated source, read with pyarrow (no Spark job)."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(src_dir, "*.parquet"))):
        t = pq.read_table(f).to_pylist()
        out += [
            (r["repo"], r["path"], r["commit"], r["content"])
            for r in t
            if r["lang"] == "yaml" and r["path"].endswith(".owl.yml")
        ]
    return out


def source_rows(src_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(src_dir, "*.parquet")))


def parquet_rows(path: str) -> int:
    """Row count of a Spark parquet output from the file footers."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


class Expected:
    """Sequential-parse view of one source snapshot. ``cache`` maps a
    document key to its parsed records, so successive snapshots of one
    source parse only their new documents."""

    def __init__(self, src_dir: str, cache: Dict[tuple, list] | None = None):
        from yamlpyowl_spark.functions.udfs import parse_rows_to_records

        docs = source_docs(src_dir)
        self.n_docs = len(docs)
        self.n_rows = source_rows(src_dir)
        cache = {} if cache is None else cache
        recs = []
        for doc in docs:
            if doc not in cache:
                cache[doc] = parse_rows_to_records(*([x] for x in doc), import_map={})
            recs += cache[doc]
        # record layout: rec, subj, pred, obj, lit, dt, doc_iri, repo, path, commit, sha, stage, message
        self.triples = [r[1:11] for r in recs if r[0] == "t"]
        self.error_keys = sorted((r[7], r[8]) for r in recs if r[0] == "e")
        self.triple_digest = digest(self.triples)

    def facts(self) -> List[tuple]:
        return [t[:6] for t in self.triples]


def expected_swrl(facts: List[tuple]) -> List[tuple]:
    from yamlpyowl_spark.sources.artifacts import sequential_forward_chain

    return sequential_forward_chain(facts)


# ---------------------------------------------------------------------
# query shapes: SPARQL text plus a pure-Python evaluator over the facts
# ---------------------------------------------------------------------

LIGHT_SHAPES = ("point_bgp", "point_path", "describe", "optional")
HEAVY_SHAPES = ("subclass_closure", "pred_agg")


def query_text(shape: str, ns: str, ind: str, cls: str) -> str:
    if shape == "point_bgp":
        return f"SELECT ?x WHERE {{ ?x <{ns}partOf> <{ind}> }}"
    if shape == "point_path":
        return f"SELECT ?y WHERE {{ <{ind}> <{ns}partOf>+ ?y }}"
    if shape == "describe":
        return f"DESCRIBE <{ind}>"
    if shape == "optional":
        return (
            f"SELECT ?x ?s WHERE {{ ?x <{RDF_TYPE}> <{cls}> . "
            f"OPTIONAL {{ ?x <{ns}score> ?s }} }}"
        )
    if shape == "subclass_closure":
        return f"SELECT ?c ?d WHERE {{ ?c <{RDFS_SUBCLASSOF}>+ ?d }}"
    if shape == "pred_agg":
        return "SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p"
    raise ValueError(shape)


def _closure(pairs: Iterable[Tuple[str, str]]) -> Set[Tuple[str, str]]:
    succ: Dict[str, Set[str]] = {}
    for s, o in pairs:
        succ.setdefault(s, set()).add(o)
    out = set()
    for start in succ:
        seen, stack = set(), list(succ[start])
        while stack:
            n = stack.pop()
            if n not in seen:
                seen.add(n)
                stack.extend(succ.get(n, ()))
        out |= {(start, n) for n in seen}
    return out


def query_expected(shape: str, facts: List[tuple], ns: str, ind: str, cls: str) -> Set[tuple]:
    spo = {(s, p, o, lit, dt) for s, p, o, lit, dt, _d in facts}
    if shape == "point_bgp":
        return {(s,) for s, p, o, _l, _t in spo if p == ns + "partOf" and o == ind}
    if shape == "point_path":
        return {(o,) for s, o in _closure((s, o) for s, p, o, _l, _t in spo if p == ns + "partOf") if s == ind}
    if shape == "describe":
        return {r for r in spo if r[0] == ind}
    if shape == "optional":
        members = {s for s, p, o, _l, _t in spo if p == RDF_TYPE and o == cls}
        scores: Dict[str, Set[str]] = {}
        for s, p, o, _l, _t in spo:
            if p == ns + "score" and s in members:
                scores.setdefault(s, set()).add(o)
        return {(x, v) for x in members for v in (scores.get(x) or {None})}
    if shape == "subclass_closure":
        return _closure((s, o) for s, p, o, _l, _t in spo if p == RDFS_SUBCLASSOF)
    if shape == "pred_agg":
        # COUNT(*) counts every row of the table, duplicates included
        counts: Dict[str, int] = {}
        for _s, p, *_rest in facts:
            counts[p] = counts.get(p, 0) + 1
        return set(counts.items())
    raise ValueError(shape)


def rows_of(shape: str, collected) -> Set[tuple]:
    if shape == "describe":
        return {(r["subj"], r["pred"], r["obj"], r["obj_is_literal"], r["obj_datatype"]) for r in collected}
    if shape == "pred_agg":
        return {(r[0], int(r[1])) for r in collected}
    return {tuple(r) for r in collected}
