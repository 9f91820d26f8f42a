"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The smoke test starts Spark once per workload (about a minute each);
everything else runs without a JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from perfbench import checks, gen, run
from perfbench.stats import summarize
from perfbench.trace import Request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_summarize_reports_count_and_supported_tail():
    s = summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail_pct"] == 90.0  # 10 samples lie beyond p90 of 100
    s = summarize([float(i) for i in range(1000)])
    assert s["tail_pct"] == 99.0
    assert summarize([1.0] * 19)["tail_pct"] is None
    assert summarize([1.0] * 25)["tail_pct"] == 50.0


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_generation_is_seeded(tmp_path):
    a = gen.write_corpus(str(tmp_path / "a"), np.random.default_rng(7), 200, 100, 10)
    b = gen.write_corpus(str(tmp_path / "b"), np.random.default_rng(7), 200, 100, 10)
    c = gen.write_corpus(str(tmp_path / "c"), np.random.default_rng(8), 200, 100, 10)
    assert a.texts == b.texts and a.near_pairs == b.near_pairs
    assert a.texts != c.texts
    assert len(a.exact_clusters[0]) == 11  # the hot template and its copies


def test_ticks_wrap_counters(tmp_path):
    ticks = gen.TickGenerator(np.random.default_rng(3), 8, 50)
    import pyarrow.parquet as pq

    for _ in range(6):
        ticks.land(str(tmp_path))
    calls = [pq.read_table(str(tmp_path / "pg_stat_statements" / f"tick-{i:05d}.parquet"))
             .column("calls").to_numpy() for i in range(6)]
    assert any((np.diff(np.stack(calls), axis=0) < 0).any(axis=1))


def test_digest_is_order_insensitive_and_detects_a_changed_value():
    rows = [(1, 0.5, "a"), (2, 1.25, "b")]
    assert checks.digest(["k", "v", "s"], rows) == checks.digest(["s", "k", "v"],
                                                                   [(r[2], r[0], r[1])
                                                                    for r in rows[::-1]])
    assert checks.digest(["k", "v", "s"], rows) != checks.digest(
        ["k", "v", "s"], [(1, 0.5, "a"), (2, 1.26, "b")])


def test_planted_truth_checks_fail_on_wrong_results():
    assert checks.near_pair_recall({(1, 5)}, [(1, 5), (2, 6)]) == 0.5
    assert checks.exact_clusters_found({1: 1, 5: 1, 2: 2, 6: 2}, [[1, 5], [2, 6]])
    assert not checks.exact_clusters_found({1: 1, 5: 9}, [[1, 5]])
    want = checks.expected_exact_dedup(["x", "y", "x"], 1000)
    assert want[__import__("hashlib").md5(b"x").hexdigest()] == (3, 0)  # 0, 2 and 0's copy


def test_dashboard_check_fails_on_a_wrong_result(tmp_path):
    from perfbench.workloads import DASHBOARD_QUERIES, Dashboard

    wl = Dashboard(str(tmp_path), np.random.default_rng(1))
    wl.generate()
    con = checks.duckdb_with_views(wl.fx, list(wl.rows))
    q = DASHBOARD_QUERIES[0]
    good = checks.oracle_digest(con, wl.oracle[q])
    cur = con.execute(wl.oracle[q])
    bad = checks.digest([d[0] for d in cur.description], cur.fetchall()[1:])
    reqs = [Request("query-0", "query", q, attrs={"digest": good}),
            Request("query-1", "query", q, attrs={"digest": bad})]
    errors = wl.check(None, reqs)
    assert len(errors) == 1 and q in errors[0]


def _processes_of(marker: str) -> list[int]:
    """Processes whose command line or environment names ``marker``."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f, open(f"/proc/{pid}/environ", "rb") as g:
                if marker.encode() in f.read() + g.read():
                    pids.append(int(pid))
        except OSError:
            pass
    return pids


@pytest.mark.parametrize("workload", run.RUNNABLE)
def test_smoke_run_prints_every_metric(workload, tmp_path):
    for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
        # output to files, not pipes: waiting for a pipe's end would also
        # wait for any process that inherited it
        with open(tmp_path / "out", "w+") as out, open(tmp_path / "err", "w+") as err:
            code = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
                 "--seconds", "1", "--trace", str(trace)],
                cwd=ROOT, stdout=out, stderr=err, timeout=600).returncode
            # the run's JVM and Python workers have all ended
            assert _processes_of(f"{ROOT}/.perfbench/run-{workload}-5-") == []
            out.seek(0)
            err.seek(0)
            assert code == 0, err.read()[-2000:]
            result = json.loads(out.read().strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert [(n, m["unit"]) for n, m in result["metrics"].items()] == list(names)
