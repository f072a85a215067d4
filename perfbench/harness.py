"""The benchmark's workloads, measurement loop and correctness gates.

One client, closed loop: each operation is started only after the
previous one returned. Spark runs ``local[<cores>]`` with
``spark.sql.shuffle.partitions = <cores>``. A run is:

1. make inputs from the seed (untimed, cached under ``.perfbench``);
2. set-up (timed as ``setup_s``): import the program, ``get_spark``,
   one trivial job;
3. one untimed warm-up operation;
4. whole passes over the workload's operations until ``--seconds``
   have elapsed (at least one pass), each operation checked untimed
   right after it ran; cached data is recorded and dropped between
   operations;
5. end-of-run gates, and with tracing on the per-layer probes.

Workloads (see METRICS.md for the metric -> layer -> workload map):

- ``umls_export``: one operation = ``load_umls_tables`` +
  ``run_pipeline(resume=False)`` over a seeded synthetic release of
  four sources; a pass = one operation;
- ``corpus_curation``: one operation = one LLM-corpus ``queries()``
  key (builder call + full materialization into pandas, whose rows
  the oracle gate then checks); a pass = the 11 keys in seeded order.
  Its traced run also runs ``text_scoring`` once and the dedup-intake
  probe (``intake.py``).
"""

from __future__ import annotations

import glob
import hashlib
import importlib
import inspect
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import tracing as tr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CORES = len(os.sched_getaffinity(0))

# query tables: fixed seed and scale, so their DuckDB oracle is
# computed once per checkout; the run seed orders the operations
DATA_SEED = 20250101
SF = 0.01
# synthetic UMLS size: a quarter of a 200k-concept release. Measured
# cold on 4 cores: 12k concepts export in ~26 s, 50k in ~33 s (the
# ~190 Spark jobs of an export cost more than its data volume).
UMLS_CONCEPTS = 50000

# text_scoring is not in the timed pass: one call takes ~40 s on 4
# cores, which would push every corpus_curation run past a minute. It
# runs once, checked, in the traced run (plans.text_scoring_*,
# engine.text_scoring_*). Its sections are not timed one by one there
# (~40 s more; tools/profile_sections.py does that).
CURATION_KEYS = (
    "dedup_exact dedup_embedding ngram_jaccard ann_cosine_topk ann_lsh_topk "
    "text_features ann_ivf_topk dedup_clusters split_assign corpus_prep "
    "pq_topk"
).split()
CURATION_PROBE = "text_scoring"

# Per-operation percentiles and peak RSS are per-layer metrics only:
# a pass has 11 operations (umls_export: 1), too few for a steady tail,
# and the JVM's heap growth moves peak RSS by ~20% from run to run.
E2E_UNITS = {"setup_s": "s", "pass_s": "s"}
EXPORT_CODES = ("MSH", "SNOMEDCT_US", "NCI", "HL7V3.0")


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s", "session.first_job_s": "s",
        "sources.rrf_scan_s": "s", "sources.rrf_scan_tasks": "count",
        "plans.build_s": "s", "plans.py4j_calls": "count",
        "engine.plan_s": "s", "engine.exec_s": "s", "engine.jobs": "count",
        "engine.stages": "count", "engine.tasks": "count",
        "engine.failed_tasks": "count", "engine.shuffle_write_mb": "MB",
        "engine.spill_mb": "MB", "engine.gc_s": "s",
        "engine.core_busy_share": "ratio", "engine.cached_mb_after_op": "MB",
        "rdf.term_blocks_s": "s", "rdf.ttl_mb": "MB",
        "rdf.ttl_bytes_per_rrf_byte": "ratio", "pipeline.resume_s": "s",
        "trace.pass_s": "s", "trace.op_p50_s": "s", "trace.op_p90_s": "s",
        "trace.peak_rss_mb": "MB",
        "operators.build_s": "s", "operators.calls": "count",
        "streaming.epoch_s": "s", "streaming.intake_s": "s",
        "streaming.state_mb": "MB", "streaming.admit_ratio": "ratio",
    }
    for code in EXPORT_CODES:
        units[f"rdf.write_ontology_s.{code}"] = "s"
    for key in CURATION_KEYS:
        units[f"operators.exec_s.{key}"] = "s"
    units.update({
        "plans.text_scoring_build_s": "s",
        "plans.text_scoring_py4j_calls": "count",
        "engine.text_scoring_exec_s": "s", "engine.text_scoring_jobs": "count",
        "engine.text_scoring_stages": "count",
    })
    return units


PER_LAYER_UNITS = _per_layer_units()


def configure_environment() -> None:
    """Keep Spark's and Python's scratch files inside the checkout, let
    Spark's Python workers import the program, and cap the driver heap
    (the program's default is 8g; the host is shared)."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"


def nearest_rank(values: list[float], q: float) -> float:
    ordered = sorted(values)
    return ordered[max(0, math.ceil(len(ordered) * q / 100) - 1)]


# ── inputs ──────────────────────────────────────────────────────────


def _build_once(path: str, build) -> str:
    """Run ``build(tmp_dir)`` unless ``path`` exists; publish by rename
    so an interrupted build is never reused."""
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.replace(tmp, path)
    return path


def query_tables(sf: float) -> str:
    import tables

    return _build_once(
        os.path.join(STATE, f"tables-sf{sf}-{DATA_SEED}"),
        lambda d: tables.generate(d, DATA_SEED, sf),
    )


def umls_release(seed: int, n_concepts: int) -> str:
    import umls_release as gen

    def build(d: str) -> None:
        gen.generate(d, seed, n_concepts)
        with open(os.path.join(d, "expected.json"), "w") as fh:
            json.dump(gen.class_counts(d), fh)

    return _build_once(
        os.path.join(STATE, f"umls-{seed}-{n_concepts}"), build
    )


def intake_epochs(seed: int, sf: float) -> str:
    import intake

    return _build_once(
        os.path.join(STATE, f"intake-sf{sf}-{seed}"),
        lambda d: intake.make_epochs(
            os.path.join(query_tables(sf), "documents.parquet"), d, seed
        ),
    )


def same_as_reference(name: str, value) -> str | None:
    """Compare ``value`` with the one stored under ``name`` for this
    program version by the first run that made it (and store it if
    there is none), so a gate sees output that changes between runs of
    the same code and inputs."""
    import oracle

    path = os.path.join(STATE, "reference", f"{name}.json")
    stored = {}
    if os.path.exists(path):
        with open(path) as fh:
            stored = json.load(fh)
    version = oracle.program_hash()
    if version in stored:
        return None if stored[version] == value else (
            f"{name}: output differs from the first run's"
        )
    stored[version] = value
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(stored, fh)
    os.replace(tmp, path)
    return None


def parse_conf(rrf_dir: str):
    from umls2rdf_spark.pipeline import parse_conf as parse

    with open(os.path.join(rrf_dir, "umls.conf")) as fh:
        return parse(fh.read())


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it if it is an ended child."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:  # not a child of this process
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")


def stop_processes(pids: list[int], grace_s: float = 60.0) -> None:
    """End Spark's JVM and the processes in ``pids`` (the JVM's Python
    workers included, listed before the JVM went) and wait for each.

    ``SparkSession.stop`` leaves the JVM running until this process
    exits, and the JVM then outlives it while its shutdown hooks run.
    Closing the JVM's stdin makes it exit; what is still running after
    ``grace_s`` is terminated, then killed."""
    context = sys.modules.get("pyspark.context")
    gateway = context.SparkContext._gateway if context else None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        context.SparkContext._gateway = None
        context.SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    live = [p for p in dict.fromkeys(pids) if _alive(p)]
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + (grace_s if sig is None else 10.0)
        while live and time.monotonic() < deadline:
            time.sleep(0.05)
            live = [p for p in live if _alive(p)]
        if not live:
            return
    raise RuntimeError(f"processes {live} did not end")


# ── operations ──────────────────────────────────────────────────────


class Run:
    """State of one benchmark run."""

    def __init__(self, workload: str, seed: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.tracer = tr.Tracer(traced)
        self.work = os.path.join(STATE, "work", str(os.getpid()))
        self.spark = None
        self.ops: list[dict] = []
        self.probe_ops: list[dict] = []
        self.failures: list[str] = []
        self.build_calls = 0
        self.session: dict[str, float] = {}

    # set-up ----------------------------------------------------------
    def start(self, program: str) -> float:
        """Import the program, start Spark, run one trivial job."""
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            importlib.import_module(program)
            from umls2rdf_spark.session import get_spark

            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{CORES}]",
                shuffle_partitions=CORES,
                extra_conf={
                    "spark.local.dir": os.path.join(self.work, "spark"),
                    "spark.sql.warehouse.dir": os.path.join(self.work, "wh"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.work} "
                        f"-Dderby.system.home={self.work} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "20000",
                    "spark.ui.retainedStages": "20000",
                },
            )
        t1 = time.perf_counter()
        with self.tracer.span("session.first_job"):
            self.spark.range(1).count()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.count_py4j(self.spark.sparkContext._gateway._gateway_client)
        self.session = {"start": t1 - t0, "first_job": time.perf_counter() - t1}
        return time.perf_counter() - t0

    def stop(self) -> None:
        self.tracer.close()
        children = [p for p in tr.tree_pids(os.getpid()) if p != os.getpid()]
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            stop_processes(children)
            shutil.rmtree(self.work, ignore_errors=True)

    # one operation ---------------------------------------------------
    def operation(self, label: str, pass_no: int, body) -> None:
        """Time ``body()`` (which returns a checker), run the checker
        untimed, record engine counters, then drop cached data."""
        sc = self.spark.sparkContext
        op_id = f"{self.workload}:{pass_no}:{len(self.ops)}:{label}"
        self.tracer.op_id = op_id
        sc.setJobGroup(op_id, label)
        rec = {"label": label, "pass": pass_no, "op": op_id, "error": None}
        self.build_calls = 0
        try:
            t0 = time.perf_counter()
            with self.tracer.span("op"):
                check = body()
            rec["latency"] = time.perf_counter() - t0
            rec["error"] = check()
        except Exception as exc:  # a failed operation is counted, not fatal
            rec["latency"] = None
            rec["error"] = f"{type(exc).__name__}: {exc}"
        rec["build_py4j_calls"] = self.build_calls
        rec["cached_mb"] = tr.cached_mb(self.spark)
        tr.drop_caches(self.spark)
        if self.tracer.enabled:
            rec.update(tr.stage_metrics(self.spark, op_id))
        sc.setJobGroup("perfbench", "between operations")
        self.tracer.op_id = None
        if rec["error"]:
            self.failures.append(f"{label}: {rec['error']}")
        self.ops.append(rec)

    def query_op(self, key: str, data_dir: str, want: dict):
        """Builder call + materialization, returning the oracle check."""
        import oracle

        fn = self.queries[key]
        calls0 = self.tracer.py4j_calls
        with self.tracer.span("plans.build"):
            df = fn(self.spark, data_dir)
        self.build_calls += self.tracer.py4j_calls - calls0
        if self.tracer.enabled:
            with self.tracer.span("engine.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("engine.exec"):
            result = df.toPandas()
        return lambda: oracle.mismatch(oracle.summarize(result), want)


# ── workloads ───────────────────────────────────────────────────────


def wrap_operator_calls(tracer: tr.Tracer) -> None:
    """Span every call a plan module makes into
    ``umls2rdf_spark.operators`` (as ``operators.call``). Only
    functions annotated to return a DataFrame are wrapped: a UDF body
    pickled to the workers must stay the program's own function."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("umls2rdf_spark.plans"):
            continue
        for attr, fn in list(vars(mod).items()):
            if (
                inspect.isfunction(fn)
                and fn.__module__.startswith("umls2rdf_spark.operators")
                and "DataFrame" in str(fn.__annotations__.get("return", ""))
            ):
                tracer.wrap(mod, attr, "operators.call")


class QueryWorkload:
    """A pass = every key once, in an order drawn from the seed.
    ``probe`` is a key run once, checked, only in the traced run, as
    is the dedup-intake probe when ``intake`` is set."""

    program = "__spark_entry__"

    def __init__(
        self, keys: list[str], sf: float = SF, probe: str | None = None,
        intake: bool = False,
    ):
        self.keys = keys
        self.sf = sf
        self.probe = probe
        self.intake = intake

    def oracle_keys(self) -> list[str]:
        return sorted({*self.keys, *filter(None, [self.probe])})

    def prepare(self, run: Run) -> None:
        import oracle

        self.data_dir = query_tables(self.sf)
        self.want = oracle.expected(self.data_dir, self.oracle_keys())
        if self.intake and run.tracer.enabled:
            self.epochs_dir = intake_epochs(run.seed, self.sf)

    def warmup(self, run: Run) -> None:
        # a scan of the documents into pandas, no key of the pass: each
        # key's first-run plan compilation is part of what a session
        # pays, and a warm pass measured no steadier across runs
        # (IQR/median 0.17 vs 0.12 over five seeds)
        import __spark_entry__ as entry

        run.queries = entry.queries()
        run.spark.sparkContext.setJobGroup("perfbench", "warm-up")
        run.spark.read.parquet(
            os.path.join(self.data_dir, "documents.parquet")
        ).toPandas()
        tr.drop_caches(run.spark)
        wrap_operator_calls(run.tracer)

    def one_pass(self, run: Run, pass_no: int, rng: random.Random) -> None:
        for key in rng.sample(self.keys, len(self.keys)):
            run.operation(
                key, pass_no,
                lambda key=key: run.query_op(key, self.data_dir, self.want[key]),
            )

    def finish(self, run: Run) -> None:
        pass

    def probes(self, run: Run) -> dict:
        """Per-key execution times; the probe key's build and execution."""
        out = {}
        for rec in run.ops:
            name = f"operators.exec_s.{rec['label']}"
            if name in PER_LAYER_UNITS:
                out[name] = run.tracer.total("engine.exec", rec["op"])
        if not self.probe:
            return out
        run.operation(
            self.probe, -1,
            lambda: run.query_op(self.probe, self.data_dir, self.want[self.probe]),
        )
        rec = run.ops.pop()
        run.probe_ops.append(rec)
        out.update({
            "plans.text_scoring_build_s": run.tracer.total("plans.build", rec["op"]),
            "plans.text_scoring_py4j_calls": rec["build_py4j_calls"],
            "engine.text_scoring_exec_s": run.tracer.total("engine.exec", rec["op"]),
            "engine.text_scoring_jobs": rec["jobs"],
            "engine.text_scoring_stages": rec["stages"],
        })
        if self.intake:
            out.update(self.intake_probe(run))
        return out

    def intake_probe(self, run: Run) -> dict:
        """Every seeded epoch through ``minhash_epoch``, as one checked
        operation."""
        import intake

        probe = intake.Intake(self.epochs_dir, os.path.join(run.work, "intake"))
        name = f"intake-sf{self.sf}-{run.seed}"
        run.operation(
            "intake", -1,
            lambda: probe.body(run, lambda v: same_as_reference(name, v)),
        )
        rec = run.ops.pop()
        run.probe_ops.append(rec)
        return probe.metrics() if not rec["error"] else {}


def _ttl_dirs(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "*.ttl")))


def ttl_digest(out_dir: str) -> str:
    """md5 over every exported document, part files in name order."""
    h = hashlib.md5()
    for d in _ttl_dirs(out_dir):
        h.update(os.path.basename(d).encode())
        for part in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(part, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(p)
    )


def check_export(spark, rrf_dir: str, out_dir: str, expected: dict) -> list[str]:
    """Gates on one export: every document passes the structural
    Turtle validator, and each ontology has one ``owl:Class`` block per
    distinct class key DuckDB counts in the RRF input."""
    from umls2rdf_spark.pipeline import DEFAULT_BASE_URI
    from umls2rdf_spark.rdf.validate import validate_turtle

    errors = []
    for d in _ttl_dirs(out_dir):
        try:
            report = validate_turtle(spark, d)
        except Exception as exc:  # an unreadable document fails the gate
            errors.append(f"{os.path.basename(d)}: unreadable ({type(exc).__name__})")
            continue
        if not report["ok"] or report["n_unbalanced_bracket_lines"]:
            errors.append(f"{os.path.basename(d)}: invalid Turtle {report}")
    for entry in parse_conf(rrf_dir):
        ns = DEFAULT_BASE_URI + (entry.alt_uri_code or entry.umls_code) + "/"
        header = re.compile(rf"^<{re.escape(ns)}[^>]*> a owl:Class ;$")
        blocks = 0
        for part in glob.glob(os.path.join(out_dir, entry.file_out, "part-*")):
            with open(part, encoding="utf-8") as fh:
                blocks += sum(1 for line in fh if header.match(line.rstrip("\n")))
        if blocks != expected[entry.umls_code]:
            errors.append(
                f"{entry.file_out}: {blocks} owl:Class blocks, "
                f"{expected[entry.umls_code]} distinct codes in MRCONSO"
            )
    return errors


class ExportWorkload:
    """A pass = one full export into a fresh output directory."""

    program = "umls2rdf_spark.pipeline"

    def __init__(self, n_concepts: int = UMLS_CONCEPTS):
        self.n_concepts = n_concepts

    def prepare(self, run: Run) -> None:
        self.rrf_dir = umls_release(run.seed, self.n_concepts)
        with open(os.path.join(self.rrf_dir, "expected.json")) as fh:
            self.expected = json.load(fh)
        with open(os.path.join(self.rrf_dir, "umls.conf")) as fh:
            self.conf = fh.read()
        self.reference = f"export-{run.seed}-{self.n_concepts}"
        self.last_out = None
        self.term_frames: list = []

    def export(self, run: Run, out_dir: str, conf: str):
        from umls2rdf_spark import pipeline

        with run.tracer.span("sources.load_umls_tables"):
            tables = pipeline.load_umls_tables(run.spark, self.rrf_dir)
        with run.tracer.span("engine.exec"):
            pipeline.run_pipeline(tables, conf, out_dir, resume=False)
        return tables

    def warmup(self, run: Run) -> None:
        # the RRF scans only: an export is one batch job per process,
        # so its plan compilation and first-run costs are part of what
        # users wait for, and stay in the measurement
        from umls2rdf_spark.sources.rrf import read_rrf

        run.spark.sparkContext.setJobGroup("perfbench", "warm-up")
        for path in glob.glob(os.path.join(self.rrf_dir, "*.RRF")):
            read_rrf(run.spark, path).write.format("noop").mode("overwrite").save()
        tr.drop_caches(run.spark)
        if run.tracer.enabled:
            from umls2rdf_spark import pipeline
            from umls2rdf_spark.rdf import ontology

            run.tracer.wrap(
                pipeline, "write_ontology",
                lambda a, k: f"rdf.write_ontology.{a[1]}",
            )
            run.tracer.wrap(
                ontology, "term_blocks", "rdf.term_blocks.build",
                on_call=lambda a, k, out: self.term_frames.append(out),
            )

    def digest_gate(self, out_dir: str) -> str | None:
        """The export's bytes must equal those of the first export of
        this release by this program version, in this run or before."""
        return same_as_reference(self.reference, ttl_digest(out_dir))

    def one_pass(self, run: Run, pass_no: int, rng: random.Random) -> None:
        out_dir = os.path.join(run.work, f"export-{pass_no}")

        def body():
            self.term_frames.clear()
            self.tables = self.export(run, out_dir, self.conf)

            def check():
                if self.last_out and self.last_out != out_dir:
                    shutil.rmtree(self.last_out, ignore_errors=True)
                self.last_out = out_dir
                return self.digest_gate(out_dir)

            return check

        run.operation("export", pass_no, body)

    def finish(self, run: Run) -> None:
        if self.last_out is None:  # no export finished; already failed
            return
        errors = check_export(run.spark, self.rrf_dir, self.last_out, self.expected)
        if errors:
            # every export of the release produced the same bytes
            # (digest gate), so a defect in the last one is in all
            for rec in run.ops:
                rec["error"] = rec["error"] or "; ".join(errors)
            run.failures.extend(errors)

    def probes(self, run: Run) -> dict:
        """RRF scan, term-block and resume probes; output sizes."""
        if self.last_out is None:
            return {}
        from umls2rdf_spark import pipeline
        from umls2rdf_spark.sources.rrf import read_rrf

        out: dict[str, float] = {}
        sc = run.spark.sparkContext
        scan_s = scan_tasks = 0
        for path in sorted(glob.glob(os.path.join(self.rrf_dir, "*.RRF"))):
            group = f"probe:rrf:{os.path.basename(path)}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            with run.tracer.span("sources.rrf_scan"):
                read_rrf(run.spark, path).write.format("noop").mode("overwrite").save()
            scan_s += time.perf_counter() - t0
            scan_tasks += tr.stage_metrics(run.spark, group)["tasks"]
        out["sources.rrf_scan_s"] = scan_s
        out["sources.rrf_scan_tasks"] = scan_tasks

        blocks_s = 0.0
        for frame in self.term_frames:
            t0 = time.perf_counter()
            with run.tracer.span("rdf.term_blocks.exec"):
                frame.write.format("noop").mode("overwrite").save()
            blocks_s += time.perf_counter() - t0
            tr.drop_caches(run.spark)
        out["rdf.term_blocks_s"] = blocks_s

        ttl_bytes = sum(_dir_bytes(d) for d in _ttl_dirs(self.last_out))
        rrf_bytes = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(self.rrf_dir, "*.RRF"))
        )
        out["rdf.ttl_mb"] = ttl_bytes / tr.MB
        out["rdf.ttl_bytes_per_rrf_byte"] = ttl_bytes / rrf_bytes

        t0 = time.perf_counter()
        with run.tracer.span("pipeline.resume"):
            pipeline.run_pipeline(self.tables, self.conf, self.last_out, resume=True)
        out["pipeline.resume_s"] = time.perf_counter() - t0
        return out


WORKLOADS = {
    "umls_export": lambda: ExportWorkload(),
    "corpus_curation": lambda: QueryWorkload(
        CURATION_KEYS, probe=CURATION_PROBE, intake=True
    ),
}


# ── a run ───────────────────────────────────────────────────────────


def calibration_probe(spark) -> dict:
    """A fixed amount of Python and JVM work, recorded as run metadata
    only (never used to adjust a number)."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    t1 = time.perf_counter()
    spark.range(4_000_000, numPartitions=CORES).selectExpr(
        "sum(hash(id))"
    ).collect()
    return {"python_s": t1 - t0, "spark_s": time.perf_counter() - t1}


def _per_pass_medians(run: Run) -> dict[str, float]:
    """Per-layer counters summed over each pass, median over passes."""
    t = run.tracer
    passes: dict[int, dict[str, float]] = {}
    for rec in run.ops:
        p = passes.setdefault(rec["pass"], {
            "plans.build_s": 0.0, "plans.py4j_calls": 0,
            "engine.plan_s": 0.0, "engine.exec_s": 0.0, "engine.jobs": 0,
            "engine.stages": 0, "engine.tasks": 0, "engine.failed_tasks": 0,
            "engine.shuffle_write_mb": 0.0, "engine.spill_mb": 0.0,
            "engine.gc_s": 0.0, "engine.cached_mb_after_op": 0.0, "_run_s": 0.0,
            "operators.build_s": 0.0, "operators.calls": 0,
            **{f"rdf.write_ontology_s.{c}": 0.0 for c in EXPORT_CODES},
        })
        op = rec["op"]
        p["plans.build_s"] += t.total("plans.build", op)
        p["plans.py4j_calls"] += rec["build_py4j_calls"]
        p["engine.plan_s"] += t.total("engine.plan", op)
        p["engine.exec_s"] += t.total("engine.exec", op)
        p["operators.build_s"] += t.total("operators.call", op)
        p["operators.calls"] += t.count("operators.call", op)
        for k in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_mb",
                  "spill_mb", "gc_s"):
            p[f"engine.{k}"] += rec.get(k, 0)
        p["_run_s"] += rec.get("run_s", 0.0)
        p["engine.cached_mb_after_op"] = max(
            p["engine.cached_mb_after_op"], rec["cached_mb"]
        )
        for c in EXPORT_CODES:
            p[f"rdf.write_ontology_s.{c}"] += t.total(f"rdf.write_ontology.{c}", op)
    for p in passes.values():
        busy = p.pop("_run_s")
        p["engine.core_busy_share"] = (
            busy / (p["engine.exec_s"] * CORES) if p["engine.exec_s"] else 0.0
        )
    names = next(iter(passes.values())).keys()
    return {n: statistics.median(p[n] for p in passes.values()) for n in names}


def build_shared_inputs() -> None:
    """Generate the query tables and every oracle result a run may need,
    so the first run in a checkout pays for them (~2 min, mostly the
    text_scoring oracle) and later runs, traced or not, find them."""
    import oracle

    w = WORKLOADS["corpus_curation"]()
    oracle.expected(query_tables(w.sf), w.oracle_keys())


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    """One benchmark run; returns the result object the CLI prints."""
    build_shared_inputs()
    return execute(WORKLOADS[workload](), workload, seed, seconds, traced)


def execute(w, workload: str, seed: int, seconds: float, traced: bool) -> dict:
    """Run workload object ``w`` (see ``run``)."""
    r = Run(workload, seed, traced)
    w.prepare(r)
    os.makedirs(r.work, exist_ok=True)
    meta = {"loadavg_start": os.getloadavg()}
    try:
        setup_s = r.start(w.program)
        meta["calibration"] = calibration_probe(r.spark)
        t0 = time.perf_counter()
        w.warmup(r)
        meta["warmup_s"] = time.perf_counter() - t0
        tr.reset_peak_rss()
        rng = random.Random(seed)
        deadline = time.perf_counter() + seconds
        pass_no = 0
        while pass_no == 0 or time.perf_counter() < deadline:
            with r.tracer.span("pass"):
                w.one_pass(r, pass_no, rng)
            pass_no += 1
        peak = tr.peak_rss_mb()
        t0 = time.perf_counter()
        w.finish(r)
        layer = w.probes(r) if traced else {}
        meta["gates_probes_s"] = time.perf_counter() - t0
        meta["loadavg_end"] = os.getloadavg()
        r.tracer.dump(
            os.path.join(STATE, "trace", f"{workload}-{seed}-{os.getpid()}.json"),
            r.ops + r.probe_ops,
        )
    finally:
        r.stop()

    timed = [rec for rec in r.ops if rec["latency"] is not None]
    if not timed:
        raise RuntimeError(f"no operation completed: {r.failures[:3]}")
    lat = [rec["latency"] for rec in timed]
    pass_times: dict[int, float] = {}
    for rec in timed:
        pass_times[rec["pass"]] = pass_times.get(rec["pass"], 0.0) + rec["latency"]
    e2e = {"setup_s": setup_s, "pass_s": statistics.median(pass_times.values())}
    op_stats = {
        "op_p50_s": statistics.median(lat),
        "op_p90_s": nearest_rank(lat, 90),
        "peak_rss_mb": peak,
    }
    attempted = len(r.ops) + len(r.probe_ops)
    failed = sum(1 for rec in r.ops + r.probe_ops if rec["error"])
    meta.update({
        "workload": workload, "seed": seed, "passes": pass_no,
        "operations": attempted, "error_rate": failed / attempted,
        "failures": r.failures[:5], **op_stats,
    })
    if traced:
        values = {n: 0.0 for n in PER_LAYER_UNITS}
        values.update(_per_pass_medians(r))
        values.update(layer)
        values["session.start_s"] = r.session["start"]
        values["session.first_job_s"] = r.session["first_job"]
        values["trace.pass_s"] = e2e["pass_s"]
        for name, value in op_stats.items():
            values[f"trace.{name}"] = value
        units = PER_LAYER_UNITS
    else:
        values, units = e2e, E2E_UNITS
    return {
        "meta": meta,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                n: {"value": float(values[n]), "unit": units[n]} for n in units
            },
        },
    }
