"""The benchmark's workloads.

Each workload is one closed-loop client: it sends its next request
only after the previous one returned.  A *round* is the workload's
fixed request list; the runner repeats rounds until the run's time is
up and always finishes the round in flight, so every run measures
whole rounds of the same mix.

Per workload:

- ``generate``  writes the seeded inputs (before the session exists);
- ``setup``     prepares fixtures in a fresh session (timed: setup_s);
- ``warmup``    pays codegen and JIT once, untimed;
- ``round``     runs one request list through the tracer;
- ``check``     verifies every result after timing;
- ``extra_metrics`` / ``layers``  turn the requests into figures.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import statistics

import numpy as np

from perfbench import checks, gen
from perfbench.trace import Request, Tracer, attribute, catalyst_phases, storage


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


class Workload:
    name = ""
    #: request kind whose latencies are the end-to-end samples
    sample_kind = ""
    #: rounds a run measures even when they outlast ``--seconds``
    min_rounds = 1

    def __init__(self, work: str, rng: np.random.Generator):
        self.work = work
        self.rng = rng
        self.input_rows = 0  # rows processed by measured requests

    def generate(self) -> None: ...

    def setup(self, spark, tracer: Tracer) -> None: ...

    def warmup(self, spark, tracer: Tracer) -> None: ...

    def round(self, spark, tracer: Tracer) -> None:
        raise NotImplementedError

    def check(self, spark, requests: list[Request]) -> list[str]:
        raise NotImplementedError

    def extra_metrics(self, requests: list[Request]) -> dict[str, float]:
        return {}

    def layers(self, requests: list[Request], exec_: dict[str, dict],
               progress: list[dict]) -> dict[str, float]:
        return {}


def _collect(tracer: Tracer, spark, req: Request, build):
    """Build a DataFrame and collect it, with the query/exec spans."""
    with tracer.span("queries.build"):
        df = build()
    with tracer.span("exec.collect"):
        rows = df.collect()
    req.attrs["rows"] = len(rows)
    if req.traced:
        req.attrs["phases"] = catalyst_phases(df)
        req.attrs["persisted_rdds"], req.attrs["storage_bytes"] = storage(spark.sparkContext)
    return df.columns, rows


def _query_layers(requests: list[Request], exec_: dict[str, dict]) -> dict[str, float]:
    traced = [r for r in requests if r.traced and r.ok]
    ph = [r.attrs.get("phases", {}) for r in traced]
    ex = [exec_.get(r.rid, {}) for r in traced]
    out = {
        "queries.analysis_ms": _mean(p.get("analysis", 0) for p in ph),
        "queries.optimizer_ms": _mean(p.get("optimization", 0) for p in ph),
        "queries.planning_ms": _mean(p.get("planning", 0) for p in ph),
        "cache.persisted_rdds": max((r.attrs.get("persisted_rdds", 0) for r in traced), default=0),
        "cache.storage_bytes": max((r.attrs.get("storage_bytes", 0) for r in traced), default=0),
    }
    for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "peak_mem_bytes"):
        out[f"exec.{k}"] = _mean(e.get(k, 0) for e in ex)
    out["exec.task_max_over_median"] = (
        statistics.median(e.get("task_max_over_median", 1.0) for e in ex) if ex else 0.0)
    return out


# ---------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------

#: Warm read-only chart queries: the flagship rollup, stat-view
#: rollups and time-series/window/join charts (all tier A/B).
DASHBOARD_QUERIES = (
    "flagship_hourly_top20",
    "pgw_stmt_top_delta",
    "pgw_cache_hit_ratio",
    "pgw_bgwriter_rate",
    "pgw_wal_rate",
    "pgw_io_by_backend",
    "pgw_locks_contention",
    "pgw_seq_idx_mix",
    "ts_gapfill",
    "ts_session",
    "ts_counter_reset",
    "win_lag_delta",
    "agg_group_hash",
    "join_asof",
)

_TABLE_RE = re.compile(r"\b(events|lineitem)\b")


class Dashboard(Workload):
    name = "dashboard"
    sample_kind = "query"
    N_EVENTS, N_USERS, N_ORDERS = 5000, 100, 1500
    #: untimed warm-up passes over the whole mix (codegen and JIT)
    WARM_PASSES = 1

    def generate(self) -> None:
        from pg_telemetry_spark.registry import all_queries

        self.fx = f"{self.work}/fixture"
        self.rows = gen.write_fixture(self.fx, self.rng, self.N_EVENTS, self.N_USERS,
                                      self.N_ORDERS)
        reg = all_queries()
        self.fns = {q: reg[q].fn for q in DASHBOARD_QUERIES}
        self.oracle = {q: reg[q].oracle for q in DASHBOARD_QUERIES}
        self.reads = {q: sum(self.rows[t] for t in set(_TABLE_RE.findall(self.oracle[q])))
                      for q in DASHBOARD_QUERIES}

    def setup(self, spark, tracer: Tracer) -> None:
        from pg_telemetry_spark.tables import load_table

        with tracer.span("tables.warm") as a:
            for t in self.rows:
                load_table(spark, self.fx, t).count()
            a["persisted_rdds"], a["cached_bytes"] = storage(spark.sparkContext)
        self.cached_bytes = a["cached_bytes"]

    def _request(self, spark, tracer: Tracer, q: str) -> None:
        with tracer.request("query", q) as req:
            cols, rows = _collect(tracer, spark, req, lambda: self.fns[q](spark, self.fx))
        if req.ok:
            req.attrs["digest"] = checks.digest(cols, rows)
            self.input_rows += self.reads[q]

    def warmup(self, spark, tracer: Tracer) -> None:
        self.warm_medians = []
        for _ in range(self.WARM_PASSES):
            lat = []
            for q in DASHBOARD_QUERIES:
                with tracer.request("warmup", q) as req:
                    self.fns[q](spark, self.fx).collect()
                lat.append(req.latency_s)
            self.warm_medians.append(1000 * statistics.median(lat))

    def extra_metrics(self, requests) -> dict[str, float]:
        return {"warm_pass_median_ms": self.warm_medians}

    def round(self, spark, tracer: Tracer) -> None:
        for i in self.rng.permutation(len(DASHBOARD_QUERIES)):
            self._request(spark, tracer, DASHBOARD_QUERIES[i])

    def check(self, spark, requests: list[Request]) -> list[str]:
        con = checks.duckdb_with_views(self.fx, list(self.rows))
        expected = {q: checks.oracle_digest(con, self.oracle[q]) for q in DASHBOARD_QUERIES}
        con.close()
        return [f"{r.name}: result differs from the DuckDB oracle"
                for r in requests if r.kind == "query" and r.ok
                and r.attrs["digest"] != expected[r.name]]

    def layers(self, requests, exec_, progress) -> dict[str, float]:
        q = [r for r in requests if r.kind == "query" and r.traced]
        out = _query_layers(q, exec_)
        out["tables.cached_bytes"] = self.cached_bytes
        return out


# ---------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------

#: The cold LLM-curation pipeline, in pipeline order (the shared
#: near-dup intermediates are built by the first operator that needs
#: them, so the order is fixed).
CURATION_OPS = (
    "llm_dedup_exact",
    "llm_dedup_near",
    "llm_simhash",
    "llm_dedup_cc",
    "llm_jaccard_full",
    "llm_semdedup",
    "llm_ann_lsh",
    "llm_tfidf",
)
_EMBEDDING_OPS = {"llm_semdedup", "llm_ann_lsh"}

#: Planted near-duplicate pairs llm_dedup_near must recover.
NEAR_DUP_RECALL_FLOOR = 0.9


class Curation(Workload):
    name = "curation"
    sample_kind = "op"
    #: tools/gen_scale.py's sf0.01 corpus: a cold pass takes about 45 s
    #: on 4 cores, 59 s at sf0.1, which the benchmark's time budget
    #: does not fit (see README.md)
    N_DOCS, N_VECTORS, HOT_COPIES = 500, 200, 20
    #: corpora generated per run, one per pass: a run never reuses one
    MAX_PASSES = 5

    def generate(self) -> None:
        from pg_telemetry_spark.queries.llm import _DUP_OFFSET
        from pg_telemetry_spark.registry import all_queries

        reg = all_queries()
        self.fns = {op: reg[op].fn for op in CURATION_OPS}
        self.oracle = {op: reg[op].oracle for op in CURATION_OPS}
        self.dup_offset = _DUP_OFFSET
        self.corpora = [
            gen.write_corpus(f"{self.work}/corpus-{i}", self.rng, self.N_DOCS,
                             self.N_VECTORS, self.HOT_COPIES)
            for i in range(self.MAX_PASSES)
        ]
        self.passes = 0
        self.results: dict[tuple[int, str], tuple[list[str], list]] = {}
        self.recall: list[float] = []

    def round(self, spark, tracer: Tracer) -> None:
        if self.passes >= len(self.corpora):
            raise RuntimeError("curation: no fresh corpus left for another pass")
        i = self.passes
        c = self.corpora[i]
        self.passes += 1
        for op in CURATION_OPS:
            with tracer.request("op", op) as req:
                req.attrs["pass"] = i
                cols, rows = _collect(tracer, spark, req, lambda: self.fns[op](spark, c.sf_dir))
            if req.ok:
                self.results[(i, op)] = (cols, rows)
                self.input_rows += self.N_VECTORS if op in _EMBEDDING_OPS else c.n_docs

    def check(self, spark, requests: list[Request]) -> list[str]:
        errors: list[str] = []
        for (i, op), (cols, rows) in sorted(self.results.items()):
            c = self.corpora[i]
            err = self._check_one(op, c, cols, rows)
            if err:
                errors.append(f"pass {i} {op}: {err}")
        return errors

    def _check_one(self, op: str, c: gen.Corpus, cols: list[str], rows: list) -> str | None:
        if self.oracle[op] is not None:
            con = checks.duckdb_with_views(c.sf_dir, ["documents", "embeddings"])
            want = checks.oracle_digest(con, self.oracle[op])
            con.close()
            if checks.digest(cols, rows) != want:
                return "result differs from the DuckDB oracle"
        if op == "llm_dedup_exact":
            want = checks.expected_exact_dedup(c.texts, self.dup_offset)
            got = {r["text_md5"]: (r["n_copies"], r["kept_doc_id"]) for r in rows}
            if got != want:
                return "exact duplicate clusters differ from the planted truth"
        elif op == "llm_dedup_near":
            pairs = {(min(r["id1"], r["id2"]), max(r["id1"], r["id2"])) for r in rows}
            recall = checks.near_pair_recall(pairs, c.near_pairs)
            self.recall.append(recall)
            if recall < NEAR_DUP_RECALL_FLOOR:
                return f"near-duplicate recall {recall:.3f} < {NEAR_DUP_RECALL_FLOOR}"
        elif op == "llm_dedup_cc":
            comp = {r["doc_id"]: r["component_id"] for r in rows}
            if not checks.exact_clusters_found(comp, c.exact_clusters):
                return "a planted exact cluster is split across components"
        elif op == "llm_simhash":
            pairs = {(min(r["id1"], r["id2"]), max(r["id1"], r["id2"])) for r in rows}
            hot = c.exact_clusters[0]
            if any((hot[0], d) not in pairs for d in hot[1:]):
                return "the hot template's exact copies are not all paired"
        elif op == "llm_ann_lsh":
            by_probe: dict[int, set[int]] = {}
            for r in rows:
                by_probe.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
            if sorted(by_probe) != list(range(10)) or any(
                    p in n or len(n) != 5 for p, n in by_probe.items()):
                return "a probe lacks 5 distinct neighbours other than itself"
            if any(c.n_vectors - c.near_vectors + p not in by_probe[p]
                   for p in range(min(c.near_vectors, 10))):
                return "a probe's planted near copy is not among its neighbours"
        return None

    def layers(self, requests, exec_, progress) -> dict[str, float]:
        ops = [r for r in requests if r.kind == "op" and r.traced]
        out = _query_layers(ops, exec_)
        for op in CURATION_OPS:
            out[f"operators.{op.removeprefix('llm_')}_ms"] = 1000 * _mean(
                r.latency_s for r in ops if r.name == op)
        out["operators.near_dup_recall"] = _mean(self.recall)
        return out


# ---------------------------------------------------------------------
# collect
# ---------------------------------------------------------------------


#: The stateful streaming operator each tick also runs through
#: FileStreamHarness: exact dedup on event_id across micro-batches,
#: whose seen-key state lives in the RocksDB state store.
STREAM_OP = "str_dedup"


class Collect(Workload):
    """Collector ticks, each followed by a serving read, a retention
    drop and one stateful streaming operator run."""

    name = "collect"
    sample_kind = "collector"
    #: a tick takes 10-12 s, and a slow first tick would otherwise
    #: leave a 15 s run with one round to take the median of
    min_rounds = 2
    #: one tick lands one day of snapshots and events; retention then
    #: keeps only the current day of events
    TICK_HOURS, EVENTS_PER_TICK = 24, 600
    #: events in the streaming operator's fixture (30 days)
    STREAM_EVENTS, STREAM_USERS = 6000, 100

    def generate(self) -> None:
        from pg_telemetry_spark.registry import all_queries

        self.fx = f"{self.work}/fixture"
        gen.write_fixture(self.fx, self.rng, self.STREAM_EVENTS, self.STREAM_USERS, 10)
        self.stream_fn = all_queries()[STREAM_OP].fn
        self.ticks = gen.TickGenerator(self.rng, self.TICK_HOURS, self.EVENTS_PER_TICK)
        self.warm_ticks = gen.TickGenerator(
            np.random.default_rng(self.rng.integers(2**63)), self.TICK_HOURS, 50)

    def _collectors(self, spark, root: str):
        from pg_telemetry_spark.collector import StatViewCollector, TelemetryCollector

        views = {
            v: StatViewCollector(spark, v, f"{root}/landing/{v}", f"{root}/wh",
                                 f"{root}/ckpt/{v}")
            for v in gen.TICK_VIEWS
        }
        views["events"] = TelemetryCollector(spark, f"{root}/landing/events",
                                             f"{root}/wh/events", f"{root}/ckpt/events")
        return views

    def setup(self, spark, tracer: Tracer) -> None:
        from pg_telemetry_spark.tables import load_table

        with tracer.span("tables.warm") as a:
            load_table(spark, self.fx, "events").count()
            a["persisted_rdds"], a["cached_bytes"] = storage(spark.sparkContext)
        self.cached_bytes = a["cached_bytes"]
        root = f"{self.work}/collect"
        shutil.rmtree(root, ignore_errors=True)
        self.root = root
        self.cols = self._collectors(spark, root)
        self.landed: list[gen.Tick] = []
        self.dropped_days: set[str] = set()
        self.tick_spans = []

    def warmup(self, spark, tracer: Tracer) -> None:
        root = f"{self.work}/collect-warm"
        cols = self._collectors(spark, root)
        for _ in range(1):
            self.warm_ticks.land(f"{root}/landing")
            for name, c in cols.items():
                with tracer.request("warmup", name):
                    c.run_available()
            self._serve(spark, cols, "2024-01-01")
        self.stream_first = self._stream(spark, tracer, "warmup").attrs.get("rows")

    def _stream(self, spark, tracer: Tracer, kind: str) -> Request:
        from pg_telemetry_spark.streaming.harness import FileStreamHarness

        log = FileStreamHarness.progress_log
        mark = len(log)
        with tracer.request(kind, STREAM_OP) as req:
            _collect(tracer, spark, req, lambda: self.stream_fn(spark, self.fx))
        req.attrs["input_rows"] = sum(
            b.get("input_rows") or 0 for run in log[mark:] for b in run["batches"])
        del log[mark:]
        return req

    def _serve(self, spark, cols, day: str) -> int:
        import pyspark.sql.functions as F

        for v in ("pg_stat_statements", "pg_stat_database", "pg_stat_bgwriter"):
            cols[v].increases().collect()
        cols["events"].hourly_series().collect()
        return cols["events"].raw().filter(F.col("event_date") == day).count()

    def round(self, spark, tracer: Tracer) -> None:
        import time

        from pg_telemetry_spark.warehouse.layout import drop_partitions_older_than

        tick = self.ticks.land(f"{self.root}/landing")
        landed_at = time.perf_counter()
        self.landed.append(tick)
        with tracer.span("sinks.tick") as sk:
            if tracer.active:
                self.tick_spans.append(tracer.current())
            before = _dir_stats(f"{self.root}/wh") if tracer.active else (0, 0)
            for name, c in self.cols.items():
                with tracer.request("collector", name) as req:
                    c.run_available()
                if req.ok:
                    self.input_rows += tick.rows[name]
            if tracer.active:
                after = _dir_stats(f"{self.root}/wh")
                sk["files_written"] = after[0] - before[0]
                sk["bytes_written"] = after[1] - before[1]
        day = gen.day_of(tick.snap_us - 1)
        with tracer.request("serve", "serve") as req:
            n_day = self._serve(spark, self.cols, day)
        req.attrs["freshness_ms"] = 1000 * (time.perf_counter() - landed_at)
        req.attrs["day_rows"] = n_day
        req.attrs["want_day_rows"] = sum(t.event_days.get(day, 0) for t in self.landed)
        with tracer.request("retention", "retention") as req:
            dropped = 0
            for d in glob.glob(f"{self.root}/wh/events/raw/batch_id=*") + glob.glob(
                    f"{self.root}/wh/events/rollup_1h/batch_id=*"):
                dropped += drop_partitions_older_than(spark, d, day)
        req.attrs["partitions_dropped"] = dropped
        self.dropped_days |= {d for t in self.landed for d in t.event_days if d < day}
        req = self._stream(spark, tracer, "stream")
        if req.ok:
            self.input_rows += req.attrs["input_rows"]

    def check(self, spark, requests: list[Request]) -> list[str]:
        import pyspark.sql.functions as F

        from pg_telemetry_spark.collector import CUMULATIVE_VIEWS, counter_increases
        from pg_telemetry_spark.statviews import SCHEMAS

        errors = [f"{STREAM_OP}: {r.attrs['rows']} rows, the warm-up run had {self.stream_first}"
                  for r in requests if r.kind == "stream" and r.ok
                  and r.attrs["rows"] != self.stream_first]
        errors += [f"serving read returned {r.attrs['day_rows']} rows for the tick's day, "
                  f"want {r.attrs['want_day_rows']}"
                  for r in requests if r.kind == "serve" and r.ok
                  and r.attrs["day_rows"] != r.attrs["want_day_rows"]]
        for v in gen.TICK_VIEWS:
            got = self.cols[v].raw().count()
            want = sum(t.rows[v] for t in self.landed)
            if got != want:
                errors.append(f"{v}: raw has {got} rows, {want} landed")
            if v in CUMULATIVE_VIEWS:
                keys, counters = CUMULATIVE_VIEWS[v]
                snaps = spark.read.schema(SCHEMAS[v]).parquet(f"{self.root}/landing/{v}")
                want_inc = counter_increases(snaps, keys, counters)
                got_inc = self.cols[v].increases().select(*want_inc.columns)
                if checks.digest(got_inc.columns, got_inc.collect()) != \
                        checks.digest(want_inc.columns, want_inc.collect()):
                    errors.append(f"{v}: increases() differs from a batch counter_increases")
        want_events = sum(n for t in self.landed for d, n in t.event_days.items()
                          if d not in self.dropped_days)
        got_events = self.cols["events"].raw().count()
        if got_events != want_events:
            errors.append(f"events: raw has {got_events} rows, {want_events} expected")
        kept = self.cols["events"].raw().agg(F.min("event_date")).collect()[0][0]
        if self.dropped_days and kept is not None and kept.isoformat() in self.dropped_days:
            errors.append("events: retention left a dropped day behind")
        return errors

    def extra_metrics(self, requests) -> dict[str, float]:
        serve = [r.attrs["freshness_ms"] for r in requests if r.kind == "serve" and r.ok]
        rows = sum(sum(t.rows.values()) for t in self.landed)
        return {
            "freshness_p50_ms": statistics.median(serve) if serve else 0.0,
            "stored_bytes_per_row": _dir_stats(f"{self.root}/wh")[1] / max(rows, 1),
        }

    def layers(self, requests, exec_, progress) -> dict[str, float]:
        runs = [r for r in requests if r.kind == "collector" and r.traced]
        streams = [r for r in requests if r.kind == "stream" and r.traced]
        # Catalyst phases and cache state come from the streaming
        # operator's collected result; execution totals from ingest
        out = _query_layers(streams, exec_)
        out.update({k: v for k, v in _query_layers(runs, exec_).items()
                    if k.startswith("exec.")})
        batches = [p for p in progress if attribute(runs, p["ts"]) is not None]
        serve = [r for r in requests if r.kind == "serve" and r.traced]
        retention = [r for r in requests if r.kind == "retention" and r.traced]
        ticks = [s.attrs for s in self.tick_spans]
        out.update({
            "tables.cached_bytes": self.cached_bytes,
            "collector.run_ms": 1000 * _mean(r.latency_s for r in runs),
            "collector.batches": len(batches) / max(len(runs), 1),
            "sinks.files_written": _mean(t.get("files_written", 0) for t in ticks),
            "sinks.bytes_written": _mean(t.get("bytes_written", 0) for t in ticks),
            "warehouse.serve_ms": 1000 * _mean(r.latency_s for r in serve),
            "warehouse.retention_ms": 1000 * _mean(r.latency_s for r in retention),
            "warehouse.partitions_dropped": sum(
                r.attrs.get("partitions_dropped", 0) for r in retention),
        })
        for key, phase in (("latest_offset_ms", "latestOffset"), ("get_batch_ms", "getBatch"),
                           ("query_planning_ms", "queryPlanning"), ("add_batch_ms", "addBatch"),
                           ("wal_commit_ms", "walCommit"),
                           ("commit_offsets_ms", "commitOffsets")):
            out[f"collector.{key}"] = _mean(p["duration_ms"].get(phase, 0) for p in batches)
        for k, v in self.extra_metrics(requests).items():
            out[f"warehouse.{k}"] = v
        sb = [p for p in progress if attribute(streams, p["ts"]) is not None]
        out.update({
            f"streaming.{STREAM_OP}_ms": 1000 * _mean(r.latency_s for r in streams),
            "streaming.batches": len(sb) / max(len(streams), 1),
            "streaming.query_planning_ms": _mean(
                p["duration_ms"].get("queryPlanning", 0) for p in sb),
            "streaming.add_batch_ms": _mean(p["duration_ms"].get("addBatch", 0) for p in sb),
            "streaming.state_rows": _mean(p["state_rows"] for p in sb),
            "streaming.state_bytes": _mean(p["state_bytes"] for p in sb),
            "streaming.state_commit_ms": _mean(p["state_commit_ms"] for p in sb),
        })
        return out


WORKLOADS = {w.name: w for w in (Dashboard, Curation, Collect)}
