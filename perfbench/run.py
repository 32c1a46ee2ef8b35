#!/usr/bin/env python3
"""The engine's benchmark: named workloads, end-to-end and per-layer metrics.

Run from the repository root:

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 17 --trace 0

One closed-loop client runs one query at a time through one ``local[4]``
session. A run

1. builds its inputs from ``--seed`` (the query order of every pass; the
   word-count corpus) under ``.perfbench/`` in the repository root;
2. sets the session up once, cold: ``get_spark`` launches the JVM and
   ships the package, then a fixed warm-up job runs. That time is
   ``setup_s``;
3. runs every query once and checks its result: registry queries
   against their ``oracle_sql`` on DuckDB, the word count against the
   counts the generator drew. This pass and ``WARM_PASSES`` more are
   warm-up and never timed. The driver's peak RSS is reset after the
   checks, so it covers the engine's work and not the benchmark's
   input generation or oracle;
4. runs timed passes, each over every query of the workload in a seeded
   order. Before each timed query the Spark cache and the engine's
   session memos are cleared, so every execution does the work of a
   first call. ``--seconds`` fixes the number of passes through the
   workload's nominal pass time, so a run does the same work on every
   commit and lasts about ``--seconds`` on a 4-core host;
5. hashes ``artifacts/sig_oracle`` before and after; any changed file is
   a failure.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the session writes a Spark event log, every job is
tagged ``<workload>:<query>:<construct|execute>``, the layer functions
run inside spans, and the last line carries the per-layer metrics
(per-query rows are printed before it). The last line is always one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``;
the exit code is 0 only if every output was correct.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import checks  # noqa: E402
import eventlog  # noqa: E402
from spans import (Tracer, alive, cpu_probe_s, cpu_ticks,  # noqa: E402
                   jvm_pid, loadavg, peak_rss_mb, process_tree,
                   python_worker_cpu_s, reset_peak_rss)

SLOTS = 4          # local[4]: one executor slot per core of the reference host
BUCKETS = 4        # the reference word count's M
MIN_PASSES = 2     # a per-query median needs more than one sample
#: untimed passes after the checked warm-up: in a fresh JVM a query's
#: latency keeps falling over its first four or five executions
WARM_PASSES = 3
#: root of the read-only scale-factor table directories (sf0.01, sf0.1)
TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA",
                               Path.home() / "testdata"))
ARTIFACTS = ROOT / "artifacts" / "sig_oracle"


@dataclass(frozen=True)
class Workload:
    name: str
    #: registry query names; empty for the word count
    queries: tuple[str, ...]
    #: scale-factor directory of the input tables
    sf: str | None
    #: seconds one timed pass takes on a 4-core host (sets passes per run)
    pass_s: float
    #: word-count corpus size in tokens
    corpus_tokens: int = 0

    @property
    def items(self) -> tuple[str, ...]:
        return self.queries or ("wordcount",)


# Sizing. Every run pays ~15 s of session set-up and one cold, checked
# pass before it can time anything, and a full round of repeated runs of
# every workload in BENCHMARK.json must stay within about an hour, so the
# timed workloads are small:
# - llm_curation keeps the curation queries whose DuckDB oracle runs in
#   well under a second (dedup_cluster_stats, leakage_safe_splits and the
#   minhash/prefix self-joins take 8 to over 20 s on DuckDB alone) and
#   that together touch load_table, both artifact writers' verify path
#   and Arrow UDFs. sf0.01: their time is driver-side and barely moves
#   with scale.
# - wordcount_corpus is ~12 MB so a run times eight executions.
WORKLOADS = {w.name: w for w in (
    Workload(
        "llm_curation",
        ("dedup_embedding_pairs_lsh doc_cdc_chunks "
         "media_audio_features").split(),
        sf="sf0.01", pass_s=5.7),
    Workload(
        "wordcount_corpus", (), sf=None, pass_s=2.2,
        corpus_tokens=1_200_000),
)}


# --------------------------------------------------------------------------
# run records
# --------------------------------------------------------------------------

@dataclass
class Execution:
    query: str
    pass_no: int
    construct_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    # traced runs only
    construct_span: int | None = None
    exec_span: int | None = None
    python_cpu_s: float = 0.0
    rewrites: int = 0

    @property
    def latency_s(self) -> float:
        return self.construct_s + self.exec_s

    @property
    def description(self) -> str:
        return f"pass={self.pass_no}"


@dataclass
class Run:
    workload: Workload
    seed: int
    seconds: int
    traced: bool
    work: Path
    tracer: Tracer | None = None
    setup_s: float = 0.0
    executions: list[Execution] = field(default_factory=list)
    check_failures: list[str] = field(default_factory=list)
    attempted: int = 0
    input_mb: float = 0.0
    #: wall seconds of each phase of the run, for the run record
    phases: dict[str, float] = field(default_factory=dict)

    def span(self, name: str, **attrs):
        """A span in a traced run (yields its index); nothing otherwise."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def job_group(self, spark, query: str, phase: str, desc: str) -> None:
        spark.sparkContext.setJobGroup(
            f"{self.workload.name}:{query}:{phase}", desc)


# --------------------------------------------------------------------------
# environment and session
# --------------------------------------------------------------------------

def isolate(work: Path) -> None:
    """Keep every file the run, Spark and the JVM write under ``work``,
    and pin the session shape."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for var in ("SPARK_MASTER", "SPARK_GRAFT_MASTER", "SPARK_HOME_CLUSTER"):
        os.environ.pop(var, None)


def session_conf(run: Run) -> dict[str, str]:
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run.work / "warehouse")}
    if run.traced:
        logs = run.work / "eventlog"
        logs.mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{logs}",
            # one plain file: Spark 4 defaults to a rolled, compressed dir
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def warm_up(spark) -> None:
    (spark.range(0, 1_000_000, numPartitions=SLOTS)
     .selectExpr("id % 1009 AS k").groupBy("k").count()
     .write.mode("overwrite").format("noop").save())


def set_up(run: Run):
    from mapreducewordcount_spark.session import get_spark

    t0 = time.perf_counter()
    with run.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf=session_conf(run))
    warm_up(spark)
    run.setup_s = time.perf_counter() - t0
    return spark


def reset_state(spark) -> None:
    """Same state before every timed execution: no cached blocks and no
    engine session memos."""
    from mapreducewordcount_spark.sources import tables

    spark.catalog.clearCache()
    reset = getattr(tables, "reset_session_memos", None)
    if reset is not None:
        reset()


def shut_down(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process
    this run started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    started = process_tree(os.getpid())
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall through to the kill below
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in started:
        while alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if alive(pid):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, 9)
    for pid in started:
        while alive(pid) and time.time() < deadline + 30:
            time.sleep(0.05)


# --------------------------------------------------------------------------
# executing queries
# --------------------------------------------------------------------------

class Engine:
    """The workload's queries, run through the package's public entry
    points."""

    def __init__(self, run: Run, spark) -> None:
        self.run, self.spark = run, spark
        wl = run.workload
        if wl.queries:
            from mapreducewordcount_spark.queries import all_queries

            self.specs = all_queries()
            self.sf_dir = str(TESTDATA / wl.sf)
            self.oracle = checks.Oracle(self.sf_dir)
            inputs = [Path(self.sf_dir) / f"{t}.parquet" for t in checks.TABLES]
        else:
            self.corpus = run.work / "corpus"
            self.expected = checks.make_corpus(str(self.corpus), run.seed,
                                               wl.corpus_tokens)
            self.out_dir = str(run.work / "wc_out")
            inputs = list(self.corpus.glob("*.txt"))
        run.input_mb = sum(p.stat().st_size for p in inputs) / 1e6

    # -- warm-up + output check ------------------------------------------
    def check(self, query: str) -> str | None:
        spark, run = self.spark, self.run
        reset_state(spark)
        run.job_group(spark, query, "check", "warm-up")
        if query == "wordcount":
            self._wordcount()
            return checks.check_wordcount(self.out_dir, BUCKETS,
                                          self.expected)
        spec = self.specs[query]
        got = spec.spark_fn(spark, self.sf_dir).toPandas()
        return self.oracle.check(spec.oracle_sql, got)

    # -- one timed execution ---------------------------------------------
    def execute(self, ex: Execution) -> None:
        spark, run = self.spark, self.run
        reset_state(spark)
        run.job_group(spark, ex.query, "construct", ex.description)
        t0 = time.perf_counter()
        with run.span("queries.construct", query=ex.query,
                      pass_no=ex.pass_no) as ex.construct_span:
            if ex.query == "wordcount":
                df = self._wordcount_frame()
            else:
                df = self.specs[ex.query].spark_fn(spark, self.sf_dir)
        t1 = time.perf_counter()
        run.job_group(spark, ex.query, "execute", ex.description)
        with run.span("operators.execute", query=ex.query,
                      pass_no=ex.pass_no) as ex.exec_span:
            if ex.query == "wordcount":
                self._wordcount_sink(df)
            else:
                df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        ex.construct_s, ex.exec_s = t1 - t0, t2 - t1

    def _wordcount_frame(self):
        from mapreducewordcount_spark.operators.wordcount import wordcount_pipeline

        return wordcount_pipeline(self.spark, str(self.corpus))

    def _wordcount_sink(self, counts) -> None:
        from mapreducewordcount_spark.operators.wordcount import (
            rename_to_reference_layout, write_wordcount_output)

        with self.run.span("operators.write"):
            write_wordcount_output(counts, self.out_dir, BUCKETS)
        with self.run.span("operators.rename"):
            rename_to_reference_layout(self.out_dir, BUCKETS)

    def _wordcount(self) -> None:
        self._wordcount_sink(self._wordcount_frame())

    def close(self) -> None:
        """Release the oracle; only the checked pass uses it."""
        if self.run.workload.queries:
            self.oracle.close()


def attempt(run: Run, what: str, fn) -> str | None:
    """Run one query execution; an exception is a failed execution."""
    run.attempted += 1
    try:
        problem = fn()
    except Exception:  # noqa: BLE001 — one failed query must not end the run
        traceback.print_exc(file=sys.stderr)
        problem = traceback.format_exc().strip().splitlines()[-1]
    if problem:
        run.check_failures.append(f"{what}: {problem}")
        print(f"FAILED {what}: {problem}", file=sys.stderr)
    return problem


def measure(run: Run, spark) -> None:
    wl = run.workload
    rng = random.Random(run.seed)
    t0 = time.perf_counter()
    engine = Engine(run, spark)
    t1 = time.perf_counter()
    try:
        for q in rng.sample(wl.items, len(wl.items)):
            attempt(run, f"{q} check", lambda q=q: engine.check(q))
    finally:
        engine.close()
    gc.collect()
    reset_peak_rss()
    t2 = time.perf_counter()
    passes = max(MIN_PASSES, round(run.seconds / wl.pass_s))
    for p in range(-WARM_PASSES, passes):
        if p == 0:
            t3 = time.perf_counter()
        for q in rng.sample(wl.items, len(wl.items)):
            ex = Execution(q, p)
            ex.error = attempt(run, f"{q} pass {p}",
                               lambda ex=ex: timed(run, engine, ex))
            if p >= 0:
                run.executions.append(ex)
    run.phases.update(inputs_s=t1 - t0, check_s=t2 - t1,
                      warm_s=t3 - t2, timed_s=time.perf_counter() - t3,
                      passes=passes)


def timed(run: Run, engine: Engine, ex: Execution) -> str | None:
    if run.traced:
        cpu0, before = python_worker_cpu_s(), checks.tree_digest(str(ARTIFACTS))
    engine.execute(ex)
    if run.traced:
        ex.python_cpu_s = python_worker_cpu_s() - cpu0
        ex.rewrites = len(checks.changed_files(
            before, checks.tree_digest(str(ARTIFACTS))))
    if ex.query == "wordcount":
        return checks.check_wordcount(engine.out_dir, BUCKETS, engine.expected)
    return None


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def per_query_medians(run: Run, values: dict[int, dict[str, float]]
                      ) -> dict[str, dict[str, float]]:
    """query -> metric -> median over that query's timed executions."""
    by_query: dict[str, list[dict[str, float]]] = {}
    for i, ex in enumerate(run.executions):
        if ex.error is None:
            by_query.setdefault(ex.query, []).append(values[i])
    return {q: {k: statistics.median(v[k] for v in rows) for k in rows[0]}
            for q, rows in by_query.items()}


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    its value."""
    s = sorted(latencies)
    k = max(0, len(s) - 11)
    return 100.0 * (k + 1) / len(s), s[k]


def end_to_end(run: Run) -> tuple[dict[str, float], dict]:
    ok = [ex for ex in run.executions if ex.error is None]
    lat = {i: {"latency_s": ex.latency_s}
           for i, ex in enumerate(run.executions)}
    medians = per_query_medians(run, lat)
    pct, tail_s = tail([ex.latency_s for ex in ok])
    metrics = {
        "setup_s": run.setup_s,
        "makespan_s": sum(m["latency_s"] for m in medians.values()),
    }
    # Recorded, not gated. With 8-9 timed executions a run the percentile
    # that keeps ten samples beyond it sits below the median, and the
    # median of a pass over 1-3 queries is one query's latency or the
    # boundary between two queries' latencies, which moves with the order.
    extra = {"query_p50_s": statistics.median(ex.latency_s for ex in ok),
             "query_tail_s": tail_s, "query_tail_pct": pct,
             "samples": len(ok),
             "failed_ratio": len(run.check_failures) / max(1, run.attempted),
             "per_query_median_s": {q: m["latency_s"]
                                    for q, m in medians.items()},
             "latencies_s": [(ex.query, ex.latency_s) for ex in ok]}
    return metrics, extra


def layer_metrics(run: Run, log: eventlog.EventLog) -> dict[int, dict]:
    """Per timed execution: every per-layer metric that belongs to a
    query."""
    tracer = run.tracer
    spans = tracer.spans
    out = {}
    for i, ex in enumerate(run.executions):
        if ex.error is not None:
            continue
        group = f"{run.workload.name}:{ex.query}:"
        cjobs = log.jobs_where(group + "construct", ex.description)
        ejobs = log.jobs_where(group + "execute", ex.description)
        cspan, espan = spans[ex.construct_span], spans[ex.exec_span]
        inner = [spans[j] for j in tracer.descendants(ex.construct_span)]
        m: dict[str, float] = {}
        for layer, prefix in (("sources", "sources.load_"),
                              ("sig_artifacts", "sig_artifacts.")):
            top = [s for s in inner if s.layer == layer
                   and spans[s.parent].layer != layer]
            m[prefix + "s"] = sum(s.duration for s in top)
            m[prefix + "calls"] = len(top)
            m[prefix + "jobs"] = sum(
                1 for j in cjobs
                if any(s.start <= j.submit_ms / 1e3 <= s.end for s in top))
        m["sig_artifacts.rewrites"] = ex.rewrites
        kids = [s for s in inner if s.parent == ex.construct_span]
        m["queries.construct_s"] = cspan.duration
        m["queries.construct_self_s"] = cspan.duration - sum(
            s.duration for s in kids)
        m["queries.construct_jobs"] = len(cjobs)
        m["functions.python_cpu_s"] = ex.python_cpu_s
        ops = eventlog.summarize(log, ejobs)
        m["operators.exec_s"] = espan.duration
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                  "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                  "input_mb", "output_mb", "task_skew"):
            m["operators." + k] = ops[k]
        m["operators.slot_busy_ratio"] = (
            ops["task_run_s"] / (espan.duration * SLOTS)
            if espan.duration > 0 else 0.0)
        m["operators.rename_s"] = sum(
            spans[j].duration for j in tracer.descendants(ex.exec_span)
            if spans[j].name == "operators.rename")
        m["latency_s"] = ex.latency_s
        out[i] = m
    return out


def per_layer(run: Run, log: eventlog.EventLog, jvm_hwm_mb: float
              ) -> tuple[dict[str, float], dict]:
    rows = per_query_medians(run, layer_metrics(run, log))
    keys = next(iter(rows.values())).keys() if rows else []
    total = {k: sum(r[k] for r in rows.values()) for k in keys}
    start, = (s for s in run.tracer.spans if s.name == "session.get_spark")
    metrics = {
        "session.start_s": start.duration,
        "session.jvm_peak_rss_mb": jvm_hwm_mb,
        "session.py_peak_rss_mb": peak_rss_mb(),
    }
    for k in keys:
        if k == "latency_s":
            continue
        metrics[k] = total[k]
    metrics["operators.slot_busy_ratio"] = (
        total["operators.task_run_s"] / (total["operators.exec_s"] * SLOTS)
        if total.get("operators.exec_s") else 0.0)
    metrics["operators.task_skew"] = (
        statistics.median(r["operators.task_skew"] for r in rows.values())
        if rows else 0.0)
    metrics["traced.makespan_s"] = total.get("latency_s", 0.0)
    return metrics, rows


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def benchmark(run: Run) -> dict:
    """Set up, measure, check; returns the result object."""
    digest_before = checks.tree_digest(str(ARTIFACTS))
    ticks0, load0, probe0 = cpu_ticks(), loadavg(), cpu_probe_s()
    if run.traced:
        run.tracer = Tracer()
        import mapreducewordcount_spark.queries as queries_pkg

        queries_pkg.all_queries()  # import every query module first
        run.tracer.install()
    spark = set_up(run)
    app_id = spark.sparkContext.applicationId
    try:
        measure(run, spark)
        jvm_hwm = peak_rss_mb(jvm_pid() or "self")
    finally:
        shut_down(spark)
    ticks1, probe1 = cpu_ticks(), cpu_probe_s()
    rewrites = checks.changed_files(digest_before,
                                    checks.tree_digest(str(ARTIFACTS)))
    for path in rewrites:
        print(f"FAILED artifact rewritten: {path}", file=sys.stderr)

    record = {
        "workload": run.workload.name, "seed": run.seed,
        "traced": run.traced, "input_mb": round(run.input_mb, 3),
        "sf": run.workload.sf, "setup_s": run.setup_s,
        "phases": run.phases,
        "jvm_peak_rss_mb": jvm_hwm, "py_peak_rss_mb": peak_rss_mb(),
        "artifact_rewrites": rewrites,
        "host": {"nproc": os.cpu_count(), "loadavg_start": load0,
                 "loadavg_end": loadavg(),
                 "cpu_probe_s": [probe0, probe1],
                 "steal_share": ((ticks1[1] - ticks0[1])
                                 / max(1, ticks1[0] - ticks0[0]))},
        "failures": run.check_failures,
    }
    if not any(ex.error is None for ex in run.executions):
        metrics = {}  # nothing to measure; the run is already a failure
    elif run.traced:
        log = eventlog.read_event_log(str(run.work / "eventlog" / app_id))
        metrics, rows = per_layer(run, log, jvm_hwm)
        metrics["sig_artifacts.rewrites"] = len(rewrites)
        for q, row in sorted(rows.items()):
            print(json.dumps({"query": q, "per_layer": row}))
        spans_path = ROOT / ".perfbench" / f"spans-{run.workload.name}.json"
        spans_path.write_text(json.dumps(run.tracer.to_json()))
        record["spans"] = str(spans_path.relative_to(ROOT))
    else:
        metrics, extra = end_to_end(run)
        record.update(extra)
    print(json.dumps({"record": record}))
    failed = len(run.check_failures) + (1 if rewrites else 0)
    return {"correct": failed == 0, "attempted": run.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in metrics.items()}}


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_ratio", "_skew")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    try:
        import mapreducewordcount_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine package from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if wl.sf and not (TESTDATA / wl.sf).is_dir():
        print(f"missing input tables {TESTDATA / wl.sf}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    isolate(work)
    run = Run(wl, args.seed, args.seconds, bool(args.trace), work)
    try:
        result = benchmark(run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
