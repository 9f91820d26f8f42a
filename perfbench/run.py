"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

The run generates its inputs from ``--seed``, starts the engine's
session on every core (``nproc``), sets up and warms the workload,
then runs whole rounds of the workload's fixed request list with one
closed-loop client until ``--seconds`` have passed.  Results are
checked after timing.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it is a JSON detail record (sample
counts, tail percentiles, warm-up and generation times, environment).

Everything the run writes stays under ``.perfbench/`` in the
repository root; the traced run keeps its spans in
``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Workloads in BENCHMARK.json.  ``dashboard`` also runs from this
#: command but is left out of BENCHMARK.json: three workloads' runs do
#: not fit the benchmark's time budget (see README.md).
WORKLOADS = ("curation", "collect")
RUNNABLE = (*WORKLOADS, "dashboard")

#: (name, unit) of every end-to-end metric, printed with --trace 0.
#: The per-request figures (latency p50/p90, ops_per_s), peak RSS and
#: error_rate are in the detail line instead (see README.md).
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("rows_per_s", "rows/s"),
)

#: (name, unit) of every per-layer metric, printed with --trace 1.  A
#: layer a workload bypasses reads 0.
PER_LAYER = (
    ("session.start_ms", "ms"),
    ("session.warmup_ms", "ms"),
    ("tables.warm_ms", "ms"),
    ("tables.cached_bytes", "B"),
    ("queries.build_ms", "ms"),
    ("queries.analysis_ms", "ms"),
    ("queries.optimizer_ms", "ms"),
    ("queries.planning_ms", "ms"),
    ("exec.collect_ms", "ms"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.run_ms", "ms"),
    ("exec.cpu_ms", "ms"),
    ("exec.gc_ms", "ms"),
    ("exec.shuffle_read_bytes", "B"),
    ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"),
    ("exec.peak_mem_bytes", "B"),
    ("exec.task_max_over_median", "ratio"),
    ("operators.dedup_exact_ms", "ms"),
    ("operators.dedup_near_ms", "ms"),
    ("operators.simhash_ms", "ms"),
    ("operators.dedup_cc_ms", "ms"),
    ("operators.jaccard_full_ms", "ms"),
    ("operators.semdedup_ms", "ms"),
    ("operators.ann_lsh_ms", "ms"),
    ("operators.tfidf_ms", "ms"),
    ("operators.near_dup_recall", "fraction"),
    ("cache.persisted_rdds", "count"),
    ("cache.storage_bytes", "B"),
    ("collector.run_ms", "ms"),
    ("collector.batches", "count"),
    ("collector.latest_offset_ms", "ms"),
    ("collector.get_batch_ms", "ms"),
    ("collector.query_planning_ms", "ms"),
    ("collector.add_batch_ms", "ms"),
    ("collector.wal_commit_ms", "ms"),
    ("collector.commit_offsets_ms", "ms"),
    ("sinks.files_written", "count"),
    ("sinks.bytes_written", "B"),
    ("warehouse.serve_ms", "ms"),
    ("warehouse.retention_ms", "ms"),
    ("warehouse.partitions_dropped", "count"),
    ("warehouse.freshness_p50_ms", "ms"),
    ("warehouse.stored_bytes_per_row", "B"),
    ("streaming.str_dedup_ms", "ms"),
    ("streaming.batches", "count"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.state_bytes", "B"),
    ("streaming.state_commit_ms", "ms"),
    ("trace.overhead_pct", "%"),
    ("trace.spans", "count"),
)

#: Driver heap: below the machine's memory, above what the workloads use.
DRIVER_MEM = "2g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def pin_env(work: str, trace: bool) -> dict[str, str]:
    """Pin the run environment before the JVM starts; returns what was set.

    Executor Python workers inherit ``PYTHONPATH`` and must import the
    engine; temp files, Spark local dirs, the SQL warehouse and the
    event log all stay inside ``work``."""
    tmp, local = f"{work}/tmp", f"{work}/local"
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    confs = {"spark.sql.warehouse.dir": f"{work}/spark-warehouse"}
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        # every JVM, the spark-submit launcher's too: temp files in the
        # run's directory, no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell",
    }
    for k in ("SPARK_GRAFT_MASTER", "PG_TELEMETRY_SPARK_NO_TABLE_CACHE",
              "PG_TELEMETRY_SPARK_CHECKPOINT_DIR", "PG_TELEMETRY_SPARK_STREAM_SHUFFLE"):
        os.environ.pop(k, None)
    os.environ.update(env)
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def stop_engine(grace_s: float = 60.0) -> None:
    """Stop the session and the JVM this process started, and wait until
    the JVM and every process under it (Python workers) have ended;
    whatever outlives ``grace_s`` is killed."""
    from pyspark import SparkContext

    from perfbench.stats import descendants, start_ticks

    procs = {pid: start_ticks(pid) for pid in descendants(os.getpid())}
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits on end of input
        try:
            jvm.wait(grace_s)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + grace_s
    alive = [p for p, t in procs.items() if t is not None]
    while alive:
        alive = [p for p in alive if start_ticks(p) == procs[p]]
        if alive and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _app_log(log_dir: str, app_id: str) -> str:
    """Event-log entry of one application (a rolling-log directory or a
    single file)."""
    return next(f"{log_dir}/{n}" for n in os.listdir(log_dir) if app_id in n)


def _measure(wl, args, gen_s: float, tracer) -> dict:
    from pg_telemetry_spark.session import get_session
    from perfbench import trace as tr

    # one cold set-up, the one a user pays: interpreter, imports, JVM
    # and session start, fixtures, untimed warm-up.  Repeating it in
    # this process would only re-create a SparkContext on the running
    # JVM, so setup_s is this single figure.
    tracer.active = tracer.enabled
    t = time.perf_counter()
    spark = get_session("perfbench")
    session_s = time.perf_counter() - t
    tracer.sc = spark.sparkContext
    t = time.perf_counter()
    wl.setup(spark, tracer)
    fixture_s = time.perf_counter() - t
    listener = None
    if tracer.enabled:
        listener = tr.ProgressListener()
        spark.streams.addListener(listener)
    setup_spans = list(tracer.spans)

    tracer.active = False
    t = time.perf_counter()
    wl.warmup(spark, tracer)
    warmup_s = time.perf_counter() - t
    warm_requests = list(tracer.requests)
    tracer.requests.clear()
    wl.input_rows = 0
    setup_s = time.perf_counter() - T_START - gen_s

    from perfbench.stats import cpu_ticks, summarize

    plain: list[float] = []
    traced: list[float] = []
    cpu0 = cpu_ticks()
    t0 = time.perf_counter()
    while True:
        # the traced run traces the first round, the one the untraced
        # run measures first, then alternates untraced and traced
        # rounds; its overhead compares the later traced rounds with
        # the untraced rounds around them
        tracer.active = tracer.enabled and len(traced) <= len(plain)
        t = time.perf_counter()
        wl.round(spark, tracer)
        (traced if tracer.active else plain).append(time.perf_counter() - t)
        if time.perf_counter() - t0 >= args.seconds and len(plain) + len(traced) >= wl.min_rounds \
                and (not tracer.enabled or len(traced) >= 2 and len(plain) >= 2):
            break
    measured_s = time.perf_counter() - t0
    cpu = [b - a for a, b in zip(cpu0, cpu_ticks())]
    tracer.active = False

    requests = tracer.requests
    errors = [f"{r.kind} {r.name}: {r.attrs['error']}" for r in requests if not r.ok]
    t = time.perf_counter()
    errors += wl.check(spark, requests)
    check_s = time.perf_counter() - t

    samples = [r.latency_s * 1000 for r in requests if r.kind == wl.sample_kind and r.ok]
    lat = summarize(samples) if samples else {"n": 0, "p50": 0.0, "p90": 0.0,
                                              "tail_pct": None, "tail": None}
    rounds = plain if not tracer.enabled else plain + traced
    result = {
        "setup_s": setup_s,
        "wall_s": statistics.median(rounds),
        "rows_per_s": wl.input_rows / measured_s,
    }
    extra = wl.extra_metrics(requests)
    layers: dict[str, float] = {}
    if tracer.enabled:
        tr.drain_listener_bus(spark.sparkContext)
        app = spark.sparkContext.applicationId
        spark.stop()
        exec_ = tr.parse_event_log(_app_log(f"{wl.work}/eventlog", app), requests)
        span_ms = {}
        for name in ("queries.build", "exec.collect"):
            durs = [s.end - s.start for s in tracer.spans if s.name == name]
            span_ms[name] = 1000 * statistics.mean(durs) if durs else 0.0
        warm = [s for s in setup_spans if s.name == "tables.warm"]
        layers = {
            "session.start_ms": 1000 * session_s,
            "session.warmup_ms": 1000 * warmup_s,
            "tables.warm_ms": 1000 * (warm[-1].end - warm[-1].start) if warm else 0.0,
            "queries.build_ms": span_ms["queries.build"],
            "exec.collect_ms": span_ms["exec.collect"],
            **wl.layers(requests, exec_, listener.progress),
            "trace.overhead_pct": 100 * (
                statistics.mean(traced[1:]) / statistics.mean(plain) - 1),
            "trace.spans": len(tracer.spans),
        }
        for r in requests:
            if r.traced:
                r.attrs["exec"] = exec_.get(r.rid, {})
                r.attrs["progress"] = [p for p in listener.progress
                                       if r.start <= p["ts"] <= r.end]
        tracer.requests = warm_requests + requests
        tracer.write(f"{ROOT}/.perfbench/traces/{wl.name}-seed{args.seed}.jsonl")
    else:
        spark.stop()
    return {
        "result": result,
        "layers": layers,
        "extra": extra,
        "errors": errors,
        "attempted": len(requests),
        "detail": {
            "samples": lat["n"],
            "latency_p50_ms": lat["p50"],
            "latency_p90_ms": lat["p90"],
            "ops_per_s": len(samples) / measured_s,
            "tail_pct": lat["tail_pct"],
            "tail_ms": lat["tail"],
            "rounds": len(rounds),
            "measured_s": measured_s,
            # share of the machine's CPU time taken by its host while
            # measuring; slow runs on a shared host show it
            "steal_pct": 100 * cpu[7] / max(sum(cpu), 1),
            "session_s": session_s,
            "fixture_s": fixture_s,
            "warmup_s": warmup_s,
            "check_s": check_s,
            # as the result line counts it: failed / attempted
            "error_rate": min(len(errors), len(requests)) / max(len(requests), 1),
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=RUNNABLE)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pg_telemetry_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    # a SIGTERM still stops the JVM and its workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = f"{ROOT}/.perfbench/run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work, bool(args.trace))

    import numpy as np

    from perfbench.stats import RssSampler
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS as CLASSES

    try:
        wl = CLASSES[args.workload](work, np.random.default_rng(args.seed))
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        tracer = Tracer(bool(args.trace))
        with RssSampler() as rss:
            out = _measure(wl, args, gen_s, tracer)
        out["detail"]["peak_rss_mb"] = rss.peak_mib
    finally:
        try:
            stop_engine()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    errors = out["errors"]
    for e in errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    names = PER_LAYER if args.trace else END_TO_END
    values = out["layers"] if args.trace else out["result"]
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "generate_s": gen_s,
        **out["detail"],
        **out["extra"],
        "env": {k: env[k] for k in ("PYTHONPATH", "SPARK_GRAFT_CPUS",
                                     "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")},
        "commit": _git_commit(),
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not errors,
        "attempted": out["attempted"],
        "failed": min(len(errors), out["attempted"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
