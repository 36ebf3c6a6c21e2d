#!/usr/bin/env python3
"""KG-construction benchmark: ``build``, ``reason`` and ``update``.

Run from the root of a source checkout::

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0

The seed selects the generated inputs (``gen.py``, parameters in
``workloads.json``); the library only sees the generated parquet
tables. Each workload sets up, runs untimed warm iterations, then
repeats its timed operation for ``--seconds`` seconds, checking every
output against the sequential reference (``check.py``). The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a separate traced run with ``--trace 1``
(``spans.py``). The line before it stamps the box context.

Workloads (one client, closed loop):

* ``build``  — one ``materialize`` into a fresh directory, then canonical
  nodes and edges written;
* ``reason`` — ``reasoned`` over a triples table built during setup,
  inferred rows written;
* ``update`` — append a delta (new, edited and malformed documents),
  ``materialize(resume=True)``, then a seeded query mix over
  ``current_view``; the timed operation is the resume step.

Every workload ends with rounds of seeded queries, one of each light
and heavy shape per round, over the knowledge graph it produced, for
the query metrics. Query cost falls for the first dozen or so queries
of a session as the JVM compiles the planner's hot paths, so setup runs
a warm round first and the metrics are medians over the rounds.

The end-to-end metrics other than ``setup_s`` are CPU seconds of the
process tree, not wall time (``CpuMeter`` says why); the wall times of
the same ops and queries are in the stamp line.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build", "reason")
DRIVER_MEM = "1g"
MIN_OPS = 2  # timed ops per run, however long they take


# ---------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------


_MEASURED = ("java", "python", "python3")
_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict:
    """{pid: (ppid, command name, RSS bytes, CPU s)} of every process;
    CPU s is user + system time, with that of reaped children."""
    out = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
            f = tail.split()
            cpu = sum(int(x) for x in f[11:15]) / _TICK
            out[int(d)] = (int(f[1]), head.split("(", 1)[1], int(f[21]) * page, cpu)
        except (OSError, IndexError, ValueError):
            continue
    return out


def _descendants(root_pid: int, table: dict | None = None) -> list:
    table = _proc_table() if table is None else table
    children: dict = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, stack = [], [root_pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _tree_rss(root_pid: int) -> dict:
    """{pid: (command name, RSS bytes)} of the client Python process, the
    JVM and the Python workers under root_pid. A JVM child between fork and exec
    carries the forking thread's name and the JVM's whole RSS; it is
    skipped, so the transient copy is not counted twice."""
    table = _proc_table()
    return {
        p: table[p][1:3]
        for p in [root_pid] + _descendants(root_pid, table)
        if p in table and table[p][1] in _MEASURED
    }


def _stat_cpu_s(path: str) -> float:
    with open(path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return (int(f[11]) + int(f[12])) / _TICK


class CpuMeter:
    """CPU seconds spent on the program's work so far: the client's main
    thread, the JVM and the Python workers, less the JVM's JIT compiler
    threads.

    The end-to-end metrics are CPU time, not wall time: on a shared
    4-core host the hypervisor hands our cores to other tenants (CPU
    steal of up to 15%), which stretched the wall time of the same op
    by up to 80% and of a light query by up to 2x from run to run. CPU
    time leaves the stolen time out; it still grows, by less, when a
    tenant shares a core's caches. The JIT's compile work, more than
    half the JVM's CPU time even after the warm iterations, is a
    warm-up cost that falls from op to op, so it is left out as well;
    the session keeps every compiler thread alive, so none takes its
    time with it when it ends. The client's other threads (the RSS
    sampler) are not counted."""

    def __init__(self):
        table = _proc_table()
        jvm = next(p for p in _descendants(os.getpid(), table) if table[p][1] == "java")
        self.jit = []
        for tid in os.listdir(f"/proc/{jvm}/task"):
            with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
                if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    self.jit.append(f"/proc/{jvm}/task/{tid}/stat")

    def read(self) -> float:
        table = _proc_table()
        tree = sum(table[p][3] for p in _descendants(os.getpid(), table) if p in table)
        return tree - sum(_stat_cpu_s(f) for f in self.jit) + time.thread_time()


def cpu_steal_share() -> tuple:
    """(steal ticks, all ticks) so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


class RssSampler:
    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0.0
        self.at_peak: dict = {}  # command name -> MB at the peak sample
        self.cost_s = 0.0  # time spent sampling
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            t0 = time.perf_counter()
            tree = _tree_rss(os.getpid())
            self.cost_s += time.perf_counter() - t0
            total = sum(r for _n, r in tree.values()) / 2**20
            if total > self.peak:
                self.peak = total
                self.at_peak = {}
                for name, r in tree.values():
                    self.at_peak[name] = self.at_peak.get(name, 0) + r / 2**20
            self._stop.wait(self.period_s)

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------
# box context
# ---------------------------------------------------------------------


def _steal_share(a: tuple, b: tuple) -> float:
    """Share of CPU time the hypervisor gave to others between a and b."""
    return (b[0] - a[0]) / (b[1] - a[1]) if b[1] > a[1] else 0.0


def box_context(seed: int, load_start, steal_start) -> dict:
    import pyspark

    from yamlpyowl_spark.sources import reference_available

    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30).stderr
        java = next((line for line in out.splitlines() if "version" in line), "unknown")
    except (OSError, subprocess.SubprocessError):
        java = "unknown"
    return {
        "nproc": os.cpu_count(),
        "load_start": load_start,
        "load_end": list(os.getloadavg()),
        "cpu_steal_share": _steal_share(steal_start, cpu_steal_share()),
        "reference_mounted": reference_available(),
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "seed": seed,
    }


# ---------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------


class Workload:
    """Common loop: ``prepare`` (untimed), ``op`` (timed), ``check``
    (untimed). Subclasses fill in the three and ``setup``."""

    def __init__(self, spark, work: str, seed: int, spec: dict, tracer):
        from yamlpyowl_spark.plans import KGPipeline

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.p = spec["params"]
        self.warm = spec["warm_iterations"]
        self.query_warm_rounds = spec["query_warm_rounds"]
        self.query_rounds = spec["query_rounds"]
        self.pipe = KGPipeline(spark, import_map={})
        self.rng = random.Random(f"{seed}:queries")
        self.failures = 0
        self.attempts = 0
        self.query_lat: list = []  # (shape, wall s)
        self.query_cpu: list = []  # CPU s per query, one value per recorded round
        self.cpu = CpuMeter()
        self.layer_counts: dict = {}  # per-iteration counts, summed
        self.once: dict = {}  # counts of the single post-loop phase

    # helpers ----------------------------------------------------------

    def fail(self, what: str):
        self.failures += 1
        print(f"CHECK FAILED: {what}", file=sys.stderr)

    def count(self, key: str, v: float):
        self.layer_counts[key] = self.layer_counts.get(key, 0.0) + v

    def query_params(self, expected):
        """(ns, individual, class) of one seeded kg document."""
        from check import RDF_TYPE

        part = sorted({(t[5], t[0]) for t in expected.facts() if "/kg/" in t[5] and t[1] == t[5] + "partOf"})
        doc, ind = part[self.rng.randrange(len(part))]
        types = sorted(
            t[2] for t in expected.facts()
            if t[0] == ind and t[1] == RDF_TYPE and t[2].startswith(doc)
        )
        return doc, ind, types[0]

    def query_mix(self, triples, expected, shapes) -> float:
        """One query of each shape, each collected and checked. Returns
        the CPU seconds of the group, read around the queries only, so
        the pure-Python expected results and checks stay out of it."""
        from check import query_expected, query_text, rows_of
        from yamlpyowl_spark.operators import sparql

        ns, ind, cls = self.query_params(expected)
        facts = expected.facts()
        wants = [query_expected(shape, facts, ns, ind, cls) for shape in shapes]
        results = []
        c0 = self.cpu.read()
        for shape in shapes:
            self.attempts += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"query.{shape}", shape):
                    got = sparql.make_query(triples, query_text(shape, ns, ind, cls)).collect()
            except Exception as err:  # a failing query is counted, the loop goes on
                print(f"query {shape} raised: {err!r}", file=sys.stderr)
                got = None
            self.query_lat.append((shape, time.perf_counter() - t0))
            results.append(got)
        cpu_s = self.cpu.read() - c0
        for shape, want, got in zip(shapes, wants, results):
            got = None if got is None else rows_of(shape, got)
            if got != want:
                if got is not None:
                    print(f"query {shape}: {len(got)} rows, expected {len(want)}; "
                          f"unexpected {sorted(got - want)[:3]}, missing {sorted(want - got)[:3]}", file=sys.stderr)
                self.fail(f"query {shape}")
        return cpu_s

    def query_mixes(self, triples):
        """``query_rounds`` rounds of one query of every shape. The CPU
        time is read per round, which takes one to two seconds of CPU:
        the 10 ms resolution of the kernel's CPU counters stays below 1%
        of a reading, and a collector pause or a burst of background
        work weighs less than in a reading per query."""
        from check import HEAVY_SHAPES, LIGHT_SHAPES

        shapes = LIGHT_SHAPES + HEAVY_SHAPES
        for _ in range(self.query_rounds):
            self.query_cpu.append(self.query_mix(triples, self.expected, shapes) / len(shapes))

    def warm_queries(self):
        """``query_warm_rounds`` rounds of every shape, unrecorded: the
        first queries of a session compile plans and warm the JVM, which
        would put a falling trend into the latencies."""
        from check import HEAVY_SHAPES, LIGHT_SHAPES

        target = self.query_target()
        for _ in range(self.query_warm_rounds):
            self.query_mix(target, self.expected, LIGHT_SHAPES + HEAVY_SHAPES)
        self.query_lat.clear()

    def materialize_counts(self, out: str, run_id: str, expected):
        """Parse, scan and nodes/edges counts of one materialize run, read
        from its ``_metrics`` output and the source and output footers."""
        import pyarrow.parquet as pq

        from check import parquet_rows

        m = pq.read_table(os.path.join(out, "_metrics", f"run_id={run_id}")).to_pydict()
        for key, col in (("parse.docs", "n_docs"), ("parse.triples", "n_triples"), ("parse.errors", "n_errors")):
            self.count(key, sum(m[col]))
        self.count("scan.rows_in", expected.n_rows)
        self.count("scan.docs_out", expected.n_docs)
        rows = parquet_rows(os.path.join(out, "nodes")) + parquet_rows(os.path.join(out, "edges"))
        self.count("nodes_edges.rows", rows)


class Build(Workload):
    """Timed op: a fresh ``materialize`` plus canonical nodes and edges.
    After the loop: the query mixes over ``current_view`` of the last
    graph, preceded in a traced run by one update step."""

    name = "build"
    layers = ("scan", "parse", "write", "nodes_edges", "resume", "linking", "cc", "closure", "sparql")

    def setup(self):
        import gen
        from check import Expected

        self.distinct, self.forked, bad = gen.document_set(self.seed, self.p)
        self.parsed_docs: dict = {}
        self.src = self.write_source("src")
        self.expected = Expected(self.src, self.parsed_docs)
        self.bad = sorted([("org/demo", b) for b in bad] + [
            ("noise/broken", "ontologies/broken.owl.yml"), ("noise/sem", "ontologies/sem.owl.yml")
        ])
        if self.expected.error_keys != self.bad:
            self.fail("sequential parse errors differ from the injected malformed documents")
        self.n = 0
        self.updated = False

    def write_source(self, name: str) -> str:
        import gen

        src = os.path.join(self.work, name)
        shutil.rmtree(src, ignore_errors=True)
        gen.write_source(src, self.seed, self.distinct, self.forked, self.p)
        return src

    def prepare(self):
        self.n += 1
        self.out = os.path.join(self.work, f"kg{self.n}")

    def op(self) -> int:
        from yamlpyowl_spark.operators import linking

        spark, out = self.spark, self.out
        self.res = self.pipe.materialize(spark.read.parquet(self.src), out, resume=False)
        cn = linking.canonical_nodes(spark.read.parquet(f"{out}/nodes"))
        cn.write.mode("overwrite").parquet(f"{out}/canonical_nodes")
        ce = linking.canonical_edges(spark.read.parquet(f"{out}/edges"), spark.read.parquet(f"{out}/canonical_nodes"))
        ce.write.mode("overwrite").parquet(f"{out}/canonical_edges")
        return len(self.expected.triples)

    def check(self, traced: bool):
        from check import TRIPLE_COLS, parquet_rows, spark_digest

        out, spark = self.out, self.spark
        if spark_digest(spark.read.parquet(f"{out}/triples"), TRIPLE_COLS) != self.expected.triple_digest:
            self.fail("build triples differ from the sequential parse")
        errs = sorted((r[0], r[1]) for r in spark.read.parquet(f"{out}/errors").select("src_repo", "src_path").collect())
        if errs != self.bad:
            self.fail(f"error rows {errs} differ from the injected malformed documents")
        n_nodes = parquet_rows(f"{out}/nodes")
        if parquet_rows(f"{out}/canonical_nodes") != n_nodes or parquet_rows(f"{out}/canonical_edges") != parquet_rows(f"{out}/edges"):
            self.fail("canonicalization changed the node or edge count")
        if traced:
            import pyarrow.parquet as pq

            self.materialize_counts(out, self.res["run_id"], self.expected)
            self.count("linking.mentions", n_nodes)
            ids = pq.read_table(f"{out}/canonical_nodes", columns=["canonical_id"]).column(0).to_pylist()
            self.count("linking.canonical_ids", len(set(ids)))
        if self.n > 1:
            shutil.rmtree(os.path.join(self.work, f"kg{self.n - 1}"), ignore_errors=True)

    def apply_delta(self) -> int:
        """New documents, edited documents (same path, new content, so a
        new commit) and malformed documents; returns the delta size."""
        import gen

        p = dict(self.p)
        p.update(kg_docs=p["delta_new_docs"], fork_sources=0, puzzle_docs=0, punned_groups=0,
                 malformed_docs=p["delta_malformed_docs"])
        new, _f, _b = gen.document_set(self.seed, p, salt="delta")
        rng = random.Random(f"{self.seed}:edits")
        edited = rng.sample(sorted(k for k in self.distinct if k.startswith("kg/")), p["delta_edited_docs"])
        for k in edited:
            self.distinct[k] += f'- owl_class:\n    Edited{rng.randrange(10**6)}:\n        SubClassOf: "owl:Thing"\n'
        self.distinct.update(new)
        return len(new) + len(edited)

    def current_view(self):
        from yamlpyowl_spark.plans import KGPipeline

        spark = self.spark
        return KGPipeline.current_view(spark.read.parquet(f"{self.out}/triples"), spark.read.parquet(self.src))

    def query_target(self):
        """The last graph's triples. After an update step the table also
        holds the superseded rows of edited documents, so the queries go
        through ``current_view``."""
        return self.current_view() if self.updated else self.spark.read.parquet(f"{self.out}/triples")

    def finish(self):
        """The check of ``current_view``, then the query rounds over the
        last graph. In a traced run an update step comes first: a delta
        source and ``materialize(resume=True)``, so the resume layer is
        measured and checked there (timed runs skip it to keep a run
        short)."""
        from check import Expected, TRIPLE_COLS, spark_digest

        spark, traced = self.spark, self.tracer.enabled
        if traced:
            delta = self.apply_delta()
            self.src = self.write_source("src-delta")
            self.expected = Expected(self.src, self.parsed_docs)
            self.attempts += 1
            res = self.pipe.materialize(spark.read.parquet(self.src), self.out, resume=True)
            self.tracer.enabled = False
            self.updated = True
            if res["n_new_docs"] != delta:
                self.fail(f"resume parsed {res['n_new_docs']} docs, the delta is {delta}")
            self.once["resume.docs_scanned"] = self.expected.n_docs
            self.once["resume.docs_new"] = res["n_new_docs"]
        self.tracer.enabled = False
        self.attempts += 1
        if spark_digest(self.current_view(), TRIPLE_COLS) != self.expected.triple_digest:
            self.fail("current_view differs from a fresh parse of the current source")
        self.tracer.enabled = traced
        self.query_mixes(self.query_target())


class Reason(Workload):
    """Timed op: ``reasoned`` over a triples table parsed during setup,
    inferred rows written. After the loop, the query mix over that
    table."""

    name = "reason"
    layers = ("swrl", "isomorph", "dlreason", "owlrl", "closure", "sparql")

    def setup(self):
        import gen
        from check import Expected, digest, expected_swrl

        distinct, forked, _bad = gen.document_set(self.seed, self.p)
        self.src = os.path.join(self.work, "src")
        gen.write_source(self.src, self.seed, distinct, forked, self.p)
        self.expected = Expected(self.src)
        self.base = os.path.join(self.work, "base")
        parsed = self.pipe.parsed(self.spark.read.parquet(self.src))
        self.pipe.triples(parsed).write.parquet(f"{self.base}/triples")
        swrl_rows = expected_swrl(self.expected.facts())
        self.swrl_preds = sorted({r[1] for r in swrl_rows})
        self.swrl_digest = digest(swrl_rows)
        self.dl_facts = self._puzzle_solutions({**distinct, **forked})
        self.n = 0

    @staticmethod
    def _puzzle_solutions(texts):
        """The one livesIn fact per canonical puzzle document that only
        the DL search derives (fork copies carry other IRIs)."""
        import re

        sols = []
        for path, text in texts.items():
            if not path.startswith("puzzle/"):
                continue
            ns = re.search(r'iri: "([^"]+)"', text).group(1)
            people, houses = (x.split(", ") for x in re.findall(r"names: \[([^\]]+)\]", text)[:2])
            given = dict(re.findall(r"- (\w+P\d+): (\w+H\d+)", text))
            p = next(x for x in people if x not in given)
            h = next(x for x in houses if x not in given.values())
            sols.append((ns + p, ns + "livesIn", ns + h))
        return sols

    def prepare(self):
        self.n += 1
        self.out = os.path.join(self.work, f"inferred{self.n}")

    def op(self) -> int:
        triples = self.spark.read.parquet(f"{self.base}/triples")
        self.pipe.reasoned(triples).write.mode("overwrite").parquet(self.out)
        return len(self.expected.triples)

    def check(self, traced: bool):
        from pyspark.sql import functions as F

        from check import FACT_COLS, spark_digest

        inf = self.spark.read.parquet(self.out)
        if spark_digest(inf.filter(F.col("pred").isin(*self.swrl_preds)), FACT_COLS) != self.swrl_digest:
            self.fail("SWRL part of reasoned differs from sequential_forward_chain")
        have = {tuple(r) for r in inf.filter(F.col("pred").endswith("livesIn")).select("subj", "pred", "obj").collect()}
        if not set(self.dl_facts) <= have:
            self.fail("DL model search missed a puzzle solution")
        if self.n > 1:
            shutil.rmtree(os.path.join(self.work, f"inferred{self.n - 1}"), ignore_errors=True)

    def query_target(self):
        return self.spark.read.parquet(f"{self.base}/triples")

    def finish(self):
        self.query_mixes(self.query_target())


# ---------------------------------------------------------------------
# session and loops
# ---------------------------------------------------------------------


def start_session(work: str):
    from yamlpyowl_spark.plans import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        cpus=os.cpu_count(),
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap keeps the JVM's resident size from depending
            # on when the collector chose to grow the heap; see CpuMeter
            # for the compiler threads
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_counts(sc) -> tuple:
    """(jobs, summed job time s) the session launched while starting."""
    store = sc._jsc.sc().statusStore()
    it = store.jobsList(None).iterator()
    n, t = 0, 0.0
    while it.hasNext():
        j = it.next()
        n += 1
        if j.submissionTime().isDefined() and j.completionTime().isDefined():
            t += (j.completionTime().get().getTime() - j.submissionTime().get().getTime()) / 1e3
    return n, t


_T0 = time.perf_counter()


def log(msg: str):
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def iteration(w: Workload, tracer, traced: bool = False):
    """prepare (untimed), op (timed), check (untimed). Returns
    (op s, triples), or None when the op raised."""
    w.prepare()
    w.attempts += 1
    tracer.enabled = traced
    c0, t0 = w.cpu.read(), time.perf_counter()
    try:
        with tracer.span("op", w.name):
            out = w.op()
    except Exception as err:  # the loop keeps measuring; the failure is counted
        print(f"{w.name} op raised: {err!r}", file=sys.stderr)
        w.failures += 1
        return None
    finally:
        tracer.enabled = False
    op_s = time.perf_counter() - t0
    cpu_s = w.cpu.read() - c0
    log(f"op in {op_s:.2f}s")
    w.check(traced)
    if traced:
        tracer.count_captured()
    return op_s, out, cpu_s


def hygiene_probe(w: Workload, label: str) -> int:
    """Jobs of one op run under job group ``label``."""
    sc = w.spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", label)
    try:
        w.prepare()
        w.op()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(label))


def run(args, work: str, res: dict) -> None:
    """Fills ``res`` as it goes, so the caller can stop the session even
    when setup fails."""
    t_setup = time.perf_counter()
    sys.path[:0] = [ROOT, HERE]
    import spans

    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)["workloads"][args.workload]
    t0 = time.perf_counter()
    spark = res["spark"] = start_session(work)
    session_start_s = time.perf_counter() - t0
    log(f"session started in {session_start_s:.2f}s")
    session_jobs, session_warm_s = session_counts(spark.sparkContext)

    tracer = spans.Tracer(spark)
    tracer.install()
    w = res["w"] = {"build": Build, "reason": Reason}[args.workload](spark, work, args.seed, spec, tracer)
    t0 = time.perf_counter()
    w.setup()
    log(f"{w.name} setup in {time.perf_counter() - t0:.2f}s")
    for _ in range(w.warm):
        iteration(w, tracer)
    w.warm_queries()
    log("warm queries done")
    w.failures = w.attempts = 0
    setup_s = time.perf_counter() - t_setup

    if args.trace:
        res["metrics"] = traced_loop(args, w, tracer)
        res["metrics"].update({
            "session.start_s": session_start_s,
            "session.warmup_s": session_warm_s,
            "session.jobs": session_jobs,
        })
    else:
        res["metrics"] = timed_loop(args, w, tracer, setup_s)


def _shape_mean(lat: list, shapes: tuple) -> float:
    """Mean over ``shapes`` of each shape's median latency. The shapes
    differ in cost, so one median over all of them would jump between
    shapes from run to run; the per-shape median drops a mix that a
    stall hit."""
    return statistics.fmean(statistics.median(dt for q, dt in lat if q == shape) for shape in shapes)


def timed_loop(args, w: Workload, tracer, setup_s: float) -> dict:
    """The end-to-end metrics, in CPU seconds (see ``CpuMeter``); the
    wall times of the same ops and queries go into the result stamp."""
    from check import HEAVY_SHAPES, LIGHT_SHAPES

    ops, cpus, rates = [], [], []
    t_end = time.perf_counter() + args.seconds
    while (len(ops) < MIN_OPS and w.failures < MIN_OPS) or time.perf_counter() < t_end:
        r = iteration(w, tracer)
        if r is not None:
            op_s, triples, cpu_s = r
            ops.append(op_s)
            cpus.append(cpu_s)
            rates.append(triples / cpu_s)
    if not ops:
        raise RuntimeError(f"every {w.name} op failed")
    w.finish()
    log("queries done")
    return {
        "setup_s": setup_s,
        "op_cpu_s": statistics.median(cpus),
        "triples_per_cpu_s": statistics.median(rates),
        "query_cpu_s": statistics.median(w.query_cpu),
        "wall": {
            "op_p50_s": statistics.median(ops),
            "query_light_s": _shape_mean(w.query_lat, LIGHT_SHAPES),
            "query_heavy_s": _shape_mean(w.query_lat, HEAVY_SHAPES),
            "ops_s": [round(x, 4) for x in ops],
            "queries_s": [(q, round(dt, 4)) for q, dt in w.query_lat],
        },
        "cpu": {
            "ops_s": [round(x, 3) for x in cpus],
            "query_rounds_s": [round(c, 3) for c in w.query_cpu],
        },
    }


def traced_loop(args, w: Workload, tracer) -> dict:
    """Alternates untraced and traced iterations: the traced ones give
    the per-layer numbers, the pair gives the tracing overhead. The
    post-loop phase (update step, queries) is traced once, and its
    resume and sparql numbers are reported per step and per query."""
    import spans

    # trace hygiene: the installed wrappers with tracing off add no job
    tracer.uninstall()
    raw = hygiene_probe(w, "pb-raw")
    tracer.install()
    off = hygiene_probe(w, "pb-off")
    w.attempts += 1
    if raw != off:
        w.fail(f"wrappers with tracing off changed the job count: {raw} -> {off}")

    walls = {False: [], True: []}
    n_traced, traced_wall, i = 0, 0.0, 0
    t_end = time.perf_counter() + args.seconds
    while (i < 2 * MIN_OPS and w.failures < MIN_OPS) or time.perf_counter() < t_end:
        traced = i % 4 in (1, 2)  # off, on, on, off: the warming trend favours neither
        i += 1
        r = iteration(w, tracer, traced)
        if r is not None:
            walls[traced].append(r[0])
            n_traced += traced
            traced_wall += r[0] if traced else 0.0

    if not (walls[True] and walls[False]):
        raise RuntimeError(f"{w.name} ops failed in the traced loop")
    loop_spans, loop_udf = len(tracer.spans), set(tracer.acc.value)
    tracer.enabled = True
    t0 = time.perf_counter()
    try:
        w.finish()
    finally:
        tracer.enabled = False
    finish_wall = time.perf_counter() - t0
    tracer.count_captured()

    w.attempts += 1
    missing = set(w.layers) - {sp[0] for sp in tracer.spans}
    if missing:
        w.fail(f"no span recorded for layers {sorted(missing)}")

    records = spans.status_records(tracer.sc)
    n = max(1, n_traced)
    m = spans.layer_metrics(tracer, records, range(0, loop_spans), loop_udf, n, traced_wall)
    after = spans.layer_metrics(tracer, records, range(loop_spans, len(tracer.spans)),
                                set(tracer.acc.value) - loop_udf, 1, finish_wall)
    for k, v in after.items():
        if k.startswith(("resume.", "sparql.")) or (not m.get(k) and not k.startswith(("trace.", "spark."))):
            m[k] = v
    m.update({k: v / n for k, v in w.layer_counts.items()})
    m.update({k: v / tracer.per_call.get(k, n) for k, v in tracer.counts.items()})
    m.update(w.once)
    m["resume.useful_ratio"] = m["resume.docs_new"] / m["resume.docs_scanned"] if m.get("resume.docs_scanned") else 0.0
    m["isomorph.useful_ratio"] = m["isomorph.classes"] / m["isomorph.docs"] if m.get("isomorph.docs") else 0.0
    m["trace.overhead"] = statistics.median(walls[True]) / statistics.median(walls[False]) - 1
    return m


def shutdown(spark):
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "yamlpyowl_spark", "plans", "pipeline.py")):
        print("perfbench: no yamlpyowl_spark package beside perfbench/; run from a source checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # JVMs write /tmp/hsperfdata_<user> whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    os.environ.setdefault("YPO_DRIVER_MEM", DRIVER_MEM)
    load_start = list(os.getloadavg())
    steal_start = cpu_steal_share()
    sampler = RssSampler()
    sampler.start()
    res = {}
    try:
        run(args, work, res)
    finally:
        sampler.stop()
        if "spark" in res:
            shutdown(res["spark"])
        shutil.rmtree(work, ignore_errors=True)
    w, metrics = res["w"], res["metrics"]
    info = {k: metrics.pop(k) for k in ("wall", "cpu") if k in metrics}
    if not args.trace:
        metrics["peak_rss_mb"] = sampler.peak
    log(f"memory sampling took {sampler.cost_s:.2f}s; peak by command (MB): " + ", ".join(f"{k}={v:.0f}" for k, v in sorted(sampler.at_peak.items())))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    # exactly the declared metrics; a layer the workload never reaches reads 0
    metrics = {m["name"]: float(metrics.get(m["name"], 0.0)) for m in declared}
    unit_of = {m["name"]: m["unit"] for m in declared}
    for k, v in metrics.items():
        print(f"{k:32s} {v:14.6g} {unit_of[k]}")
    ctx = box_context(args.seed, load_start, steal_start)
    ctx.update(workload=args.workload, trace=args.trace, error_rate=w.failures / max(1, w.attempts), **info)
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": w.failures == 0,
        "attempted": max(1, w.attempts),
        "failed": w.failures,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
