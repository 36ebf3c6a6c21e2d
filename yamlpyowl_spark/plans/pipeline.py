"""End-to-end KG construction pipeline.

scan → filter (pushed down) → salted repartition (skew) → Arrow-batched
parse UDF → triples/errors split → relational nodes/edges derivation →
entity linking + connected components → materialize, with a
``_progress`` checkpoint table for resumability.

Scale notes (the point of this design — see SURVEY.md §4.2):

* the ontology-document predicate (``lang = 'yaml' AND path LIKE
  '%.owl.yml'``) is a plain column predicate → Catalyst pushes it into
  the parquet/Iceberg scan (verify with ``.explain``: PushedFilters);
* only (repo, path, commit, content) reach the UDF → column pruning
  keeps the scan narrow;
* parse cost is per-document Python compute, invisible to AQE's
  skew-join handling → we repartition explicitly on
  ``hash(repo, path, salt)`` so one giant monorepo cannot pin a single
  task (AQE only fixes *join/shuffle* skew, not UDF compute skew);
* nodes/edges are derived relationally from the triples DataFrame (one
  shuffle for the aggregate), never via a second parse.
"""

from __future__ import annotations

import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import vocab as V
from ..functions.udfs import make_parse_udf
from ..schema import ERROR_COLS, FACT_COLS, PARSED_SCHEMA, TRIPLE_COLS

_KIND_BY_TYPE = {
    V.OWL_NAMED_INDIVIDUAL: ("individual", 0),
    V.OWL_OBJECT_PROPERTY: ("object_property", 1),
    V.OWL_DATATYPE_PROPERTY: ("data_property", 2),
    V.SWRL_IMP: ("rule", 3),
    V.OWL_CLASS: ("class", 4),
}


def ontology_document_filter(df: DataFrame) -> DataFrame:
    """Scan predicate — plain column expressions so Catalyst pushes them
    into the source scan (PushedFilters) and prunes partitions."""
    return df.filter((F.col("lang") == "yaml") & F.col("path").endswith(".owl.yml"))


class KGPipeline:
    def __init__(
        self,
        spark: SparkSession,
        import_map: Optional[dict] = None,
        parse_partitions: Optional[int] = None,
    ):
        self.spark = spark
        self.import_map = import_map or {}
        self.parse_partitions = parse_partitions

    # ------------------------------------------------------------------
    # parse stage
    # ------------------------------------------------------------------

    def parsed(
        self,
        source: DataFrame,
        already_filtered: bool = False,
        emit_metrics: bool = False,
    ) -> DataFrame:
        """source(repo,path,commit,lang,content) → combined parsed records."""
        df = source if already_filtered else ontology_document_filter(source)
        df = df.select("repo", "path", "commit", "content")
        # 8x parallelism: fine enough that the last wave's straggler
        # tail is small vs the job (measured best at both 4 and 16
        # cores on the bench corpus), coarse enough that per-task
        # overhead stays negligible
        if self.parse_partitions:
            n_parts = self.parse_partitions
        else:
            # default 8x parallelism, but never fan a small input out
            # wider than its scan justifies: a 60-document corpus on
            # one parquet split gains nothing from 256 parse tasks
            # and pays 256 python-worker round-trips (~5s of pure
            # latency, measured). The source's scan partition count
            # is a bytes-proportional size proxy that costs no job.
            cores = self.spark.sparkContext.defaultParallelism
            src_parts = df.rdd.getNumPartitions()
            n_parts = min(cores * 8, max(cores, src_parts * 8))
        # skew-spreading repartition on the FULL (repo, path) key —
        # documents from one giant monorepo scatter across all tasks.
        # NB: do not pre-bucket with pmod(hash(...), n) — Spark hashes
        # the expression value again, and hashing n values into n
        # buckets collides (empty partitions + clumps).
        df = df.repartition(n_parts, F.col("repo"), F.col("path"))
        return df.mapInArrow(
            make_parse_udf(self.import_map, emit_metrics=emit_metrics), schema=PARSED_SCHEMA
        )

    @staticmethod
    def triples(parsed: DataFrame) -> DataFrame:
        return parsed.filter(F.col("rec") == "t").select(*TRIPLE_COLS)

    @staticmethod
    def errors(parsed: DataFrame) -> DataFrame:
        return parsed.filter(F.col("rec") == "e").select(*ERROR_COLS)

    def parse(self, source: DataFrame):
        """Convenience: returns (triples, errors) sharing one cached parse."""
        parsed = self.parsed(source).persist()
        return self.triples(parsed), self.errors(parsed)

    # ------------------------------------------------------------------
    # relational derivations (no second parse, no UDF)
    # ------------------------------------------------------------------

    @staticmethod
    def nodes(triples: DataFrame) -> DataFrame:
        """Typed entity catalog derived from rdf:type triples.

        kind precedence handles multi-typed subjects (an individual also
        has its class-type triple): NamedIndividual < properties < rule
        < Class, encoded as a rank and resolved with one min-aggregate.
        """
        rank = F.create_map(
            *[x for iri, (_k, r) in _KIND_BY_TYPE.items() for x in (F.lit(iri), F.lit(r))]
        )
        typed = (
            triples.filter(
                (F.col("pred") == V.RDF_TYPE)
                & ~F.col("subj").startswith("_:")
                & F.col("obj").isin(*_KIND_BY_TYPE.keys())
            )
            .select(
                "subj",
                "doc_iri",
                "src_repo",
                "src_path",
                "src_commit",
                "src_sha256",
                rank[F.col("obj")].alias("kind_rank"),
            )
        )
        inv_kind = {r: k for (k, r) in _KIND_BY_TYPE.values()}
        kind_expr = F.create_map(
            *[x for r, k in inv_kind.items() for x in (F.lit(r), F.lit(k))]
        )
        return (
            typed.groupBy("subj", "doc_iri", "src_repo", "src_path", "src_commit", "src_sha256")
            .agg(F.min("kind_rank").alias("kind_rank"))
            .select(
                F.col("subj").alias("iri"),
                F.element_at(F.split(F.col("subj"), "[#/]"), -1).alias("name"),
                kind_expr[F.col("kind_rank")].alias("kind"),
                "doc_iri",
                "src_repo",
                "src_path",
                "src_commit",
                "src_sha256",
            )
        )

    @staticmethod
    def edges(triples: DataFrame) -> DataFrame:
        """Object-to-object edges (facts + hierarchy), blank nodes excluded."""
        return (
            triples.filter(
                (~F.col("obj_is_literal"))
                & ~F.col("subj").startswith("_:")
                & ~F.col("obj").startswith("_:")
                & (F.col("pred") != V.RDF_TYPE)
            )
            .select(
                F.col("subj").alias("src_id"),
                "pred",
                F.col("obj").alias("dst_id"),
                "doc_iri",
                "src_sha256",
            )
        )

    @staticmethod
    def literals(triples: DataFrame) -> DataFrame:
        """Attribute table: literal-valued facts."""
        return triples.filter(F.col("obj_is_literal")).select(
            F.col("subj").alias("src_id"),
            "pred",
            F.col("obj").alias("value"),
            "obj_datatype",
            "doc_iri",
            "src_sha256",
        )

    # ------------------------------------------------------------------
    # versioned reads
    # ------------------------------------------------------------------

    @staticmethod
    def current_view(triples: DataFrame, source: DataFrame) -> DataFrame:
        """The materialized output is append-only and versioned: an
        edited document (same path, new commit/sha) re-parses and its
        OLD rows remain, keyed by their ``src_commit``/``src_sha256``.
        This semi-join against the present source snapshot returns only
        rows parsed from content that is still current — the read-side
        complement of resume's write-side anti-join."""
        keys = (
            ontology_document_filter(source)
            .select(
                F.col("repo").alias("src_repo"),
                F.col("path").alias("src_path"),
                F.col("commit").alias("src_commit"),
            )
            .distinct()
        )
        return triples.join(keys, ["src_repo", "src_path", "src_commit"], "left_semi")

    # ------------------------------------------------------------------
    # reasoning (doc-scoped, so it composes with per-run materialization)
    # ------------------------------------------------------------------

    def reasoned(self, triples: DataFrame) -> DataFrame:
        """Inferred-facts delta for the given triples: SWRL forward
        chain (semi-naive, per document) + DL model search (OneOf/
        Functional/AllDifferent CSP per document) + the OWL-RL pass,
        each a Spark-free engine behind ``isomorph.per_document``. All
        are doc-scoped, so running them per materialize-run over only
        the NEW documents is complete — inference never crosses
        ``doc_iri``. Unsupported
        SWRL rules are skipped with a warning (a single bad rule must
        not abort a batch)."""
        from ..operators.dlreason import dl_model_search
        from ..operators.isomorph import reason_per_isomorph
        from ..operators.owlrl import owlrl_materialize
        from ..operators.swrl import forward_chain

        base = triples.select(*FACT_COLS)
        # the per-document Python engines (CSP solve, rule pass) run
        # ONCE per content-isomorphism class — a fork-heavy corpus
        # (thousands of IRI-rewritten copies per document, the
        # web-scale shape) pays O(distinct contents), not O(docs); the
        # r6 10x soak measured ~25k isomorphic zebra CSP solves
        # dominating the reasoning wall-clock before this. Both engines
        # ride one wrapper call, so each document is fingerprinted once.
        per_doc = reason_per_isomorph(
            base, lambda t: dl_model_search(t).unionByName(owlrl_materialize(t))
        )
        return forward_chain(base, on_unsupported="skip").unionByName(per_doc).distinct()

    # ------------------------------------------------------------------
    # checkpointed materialization (resume = anti-join against _progress)
    # ------------------------------------------------------------------

    def _gc_orphan_runs(self, out_dir: str) -> None:
        """Delete ``run_id=<x>`` output directories whose run never
        committed a ``_progress`` row — leftovers of a run killed
        between the data write and the progress append. Storage-agnostic
        via the Hadoop FileSystem API (works on HDFS/S3A, not just
        local). Assumes no concurrent materialize on the same out_dir
        (same contract as before)."""
        spark = self.spark
        import re as _re

        committed: set = set()
        try:
            committed = {
                r[0]
                for r in spark.read.parquet(f"{out_dir}/_progress")
                .select("run_id")
                .distinct()
                .collect()
            }
        except Exception:
            pass
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        for sub in ("triples", "errors", "inferred", "_metrics"):
            p = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/{sub}")
            try:
                fs = p.getFileSystem(conf)
                if not fs.exists(p):
                    continue
                for st in fs.listStatus(p):
                    name = st.getPath().getName()
                    if not name.startswith("run_id="):
                        continue
                    rid = name[len("run_id="):]
                    # GC only ids materialize itself minted (uuid4().hex,
                    # 32 lowercase hex): streaming writes run_id=batch_<n>
                    # into the same layout and commits no _progress rows —
                    # those must never be collected (ADVICE r02)
                    if _re.fullmatch(r"[0-9a-f]{32}", rid) and rid not in committed:
                        fs.delete(st.getPath(), True)
            except Exception:
                pass

    def materialize(
        self,
        source: DataFrame,
        out_dir: str,
        resume: bool = True,
        reason: bool = False,
    ) -> dict:
        """Write triples/errors/nodes/edges + per-document progress rows.

        Re-running with ``resume=True`` skips documents already recorded
        in ``{out_dir}/_progress`` (keyed by repo/path/commit/sha256) and
        appends only the missing ones — kill-and-rerun converges to the
        same output set because all ids are content-deterministic.

        Effectively exactly-once: each run writes its data under a
        ``run_id=<id>`` subdirectory and the ``_progress`` append is the
        commit point; a run killed between the two leaves an orphan
        directory that the next invocation garbage-collects before
        resuming, so its documents re-parse without duplicating rows.
        Readers see ``run_id`` as a partition column on triples/errors.
        """
        spark = self.spark
        run_id = uuid.uuid4().hex
        self._gc_orphan_runs(out_dir)

        docs = ontology_document_filter(source).withColumn(
            "src_sha256_pre", F.sha2(F.col("content"), 256)
        )

        done = None
        if resume:
            try:
                # snapshot eagerly: we append to _progress below, and a lazy
                # plan would re-read its own output on recompute
                done = spark.read.parquet(f"{out_dir}/_progress").localCheckpoint()
            except Exception:
                done = None
        if done is not None:
            docs = docs.join(
                done.select(
                    F.col("src_repo").alias("repo"),
                    F.col("src_path").alias("path"),
                    F.col("src_commit").alias("commit"),
                    F.col("src_sha256").alias("src_sha256_pre"),
                ),
                on=["repo", "path", "commit", "src_sha256_pre"],
                how="left_anti",
            )

        parsed = self.parsed(
            docs.drop("src_sha256_pre"), already_filtered=True, emit_metrics=True
        ).persist()
        try:
            triples = self.triples(parsed)
            errors = self.errors(parsed)
            triples.write.mode("overwrite").parquet(f"{out_dir}/triples/run_id={run_id}")
            errors.write.mode("overwrite").parquet(f"{out_dir}/errors/run_id={run_id}")

            if reason:
                # doc-scoped reasoning over only THIS run's documents is
                # complete (inference never crosses doc_iri) and rides
                # the same run_id commit/GC protocol
                self.reasoned(triples).write.mode("overwrite").parquet(
                    f"{out_dir}/inferred/run_id={run_id}"
                )

            # per-partition lineage/metrics emitted by the parse tasks
            metrics_schema = (
                "partition_id INT, n_docs LONG, n_triples LONG, n_errors LONG, wall_ms LONG"
            )
            metrics = (
                parsed.filter(F.col("rec") == "m")
                .select(F.from_json("message", metrics_schema).alias("m"))
                .select("m.*")
            )
            metrics.write.mode("overwrite").parquet(f"{out_dir}/_metrics/run_id={run_id}")

            progress = (
                parsed.filter(F.col("rec") != "m")  # metrics rows carry no doc key
                .groupBy("src_repo", "src_path", "src_commit", "src_sha256")
                .agg(
                    F.sum(F.when(F.col("rec") == "t", 1).otherwise(0)).alias("n_triples"),
                    F.sum(F.when(F.col("rec") == "e", 1).otherwise(0)).alias("n_errors"),
                )
                .withColumn("run_id", F.lit(run_id))
                .persist()
            )
            n_new_docs = progress.count()  # before the append below
            progress.write.mode("append").parquet(f"{out_dir}/_progress")
            progress.unpersist()

            all_triples = spark.read.parquet(f"{out_dir}/triples").drop("run_id")
            self.nodes(all_triples).write.mode("overwrite").parquet(f"{out_dir}/nodes")
            self.edges(all_triples).write.mode("overwrite").parquet(f"{out_dir}/edges")
        finally:
            parsed.unpersist()
        return {"run_id": run_id, "n_new_docs": n_new_docs, "out_dir": out_dir}
