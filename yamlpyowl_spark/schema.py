"""Spark StructTypes and column lists of the pipeline tables (see FIXTURES.md §2)."""

from pyspark.sql import types as T

# the only pipeline input — exact shape from BASELINE.json input_hint
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

TRIPLE_FIELDS = [
    T.StructField("subj", T.StringType(), True),
    T.StructField("pred", T.StringType(), True),
    T.StructField("obj", T.StringType(), True),
    T.StructField("obj_is_literal", T.BooleanType(), True),
    T.StructField("obj_datatype", T.StringType(), True),
    T.StructField("doc_iri", T.StringType(), True),
]

# the fact table every reasoner reads and emits (triples minus lineage)
FACT_SCHEMA = T.StructType(TRIPLE_FIELDS)
FACT_COLS = FACT_SCHEMA.fieldNames()

LINEAGE_FIELDS = [
    T.StructField("src_repo", T.StringType(), False),
    T.StructField("src_path", T.StringType(), False),
    T.StructField("src_commit", T.StringType(), False),
    T.StructField("src_sha256", T.StringType(), False),
]

# the triples table (facts plus lineage) and the error table
TRIPLE_COLS = FACT_COLS + [f.name for f in LINEAGE_FIELDS]
ERROR_COLS = [f.name for f in LINEAGE_FIELDS] + ["stage", "message"]

# combined parse-UDF output: one Arrow stream, split relationally afterwards
PARSED_SCHEMA = T.StructType(
    [T.StructField("rec", T.StringType(), False)]  # "t" (triple) | "e" (error)
    + TRIPLE_FIELDS
    + LINEAGE_FIELDS
    + [
        T.StructField("stage", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)


def arrow_local_df(spark, rows, schema):
    """JVM-resident local relation from driver rows (pandas → Arrow →
    LocalTableScan). A tuple-list ``createDataFrame`` plans as a
    pickled Python RDD instead, re-running a Python worker pass on
    EVERY downstream action (~0.4–1.7 s at local[32]) — measurably
    wrong for the small inline relations (VALUES datablocks, ASK
    results, driver-computed closures) queries touch once per action.

    ``schema`` is a DDL string, a StructType, or a plain column-name
    list (types then inferred from the values, as the tuple path
    would). Values must be ones Arrow converts to the schema's types:
    strings, bools, numbers and None, and also bytes and dicts for
    binary and map columns (``multimodal.MEDIA_SCHEMA``)."""
    import pandas as pd

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if isinstance(schema, T.StructType):
        cols = [f.name for f in schema.fields]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=cols), schema=schema
        )
    # plain column-name list: keep the tuple path's type inference
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(schema)))
