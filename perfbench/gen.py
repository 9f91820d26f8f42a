"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Every input the engine sees in a benchmark run is written here, from
one ``numpy.random.Generator`` built from the run's ``--seed``; the
engine receives only the files.  Distributions follow
``tools/gen_scale.py`` (itself measured from the driver fixtures):

- ``events``: sorted timestamps over 30 days of 2024-01, uniform users,
  six event types, ``value = round(|N(0, 120)|, 2)``, ``props`` JSON.
- ``lineitem``: 1-7 lines per order, TPC-H-like value ranges.
- ``documents``: 10-100 words from a 30-word vocabulary plus a rare
  ``dup`` token, with PLANTED duplicate clusters (exact copies and
  near copies that drop the last two words) and one hot template that
  many documents copy (the skew path).
- ``embeddings``: unit-norm 64-dim float32, the last 1% near copies.
- collector ticks: one snapshot file per stat view per tick, typed by
  ``pg_telemetry_spark.statviews.SCHEMAS`` (imported by the caller and
  mirrored here as pyarrow schemas), with cumulative counters that
  wrap so the counter-reset rule runs, plus an events feed.

Fixture tables are single-row-group files, like the driver fixtures:
the DuckDB oracle comparison is bit-exact only when both engines sum
doubles in file order.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
US_PER_HOUR = 3_600_000_000
EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype("int64"))

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "view", "scroll", "signup", "purchase", "error"]


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us", tz=tz))


def _write(path: str, table: pa.Table) -> int:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return table.num_rows


# ---------------------------------------------------------------------
# Fixture tables (dashboard, collect's streaming operator)
# ---------------------------------------------------------------------


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    off = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(EPOCH_2024 + off),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(np.abs(rng.normal(0, 120, n)), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def lineitem_table(rng: np.random.Generator, n_orders: int) -> pa.Table:
    base = int(np.datetime64("1995-01-01", "us").astype("int64"))
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype("int64"))
    odate = rng.integers(0, span_days + 1, n_orders)
    per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), per_order)
    n = okey.size
    lineno = np.arange(n) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    ship = np.repeat(odate, per_order) + rng.integers(1, 96, n)
    return pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(n_orders // 8, 1), n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(n_orders // 150, 1), n), pa.int64()),
            "l_linenumber": pa.array(lineno.astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _ts(base + ship * US_PER_DAY),
        }
    )


def write_fixture(out: str, rng: np.random.Generator, n_events: int,
                  n_users: int, n_orders: int) -> dict[str, int]:
    """Write ``events`` and ``lineitem`` (the tables the dashboard mix
    and the streaming operators read); returns rows per table."""
    os.makedirs(out, exist_ok=True)
    return {
        "events": _write(f"{out}/events.parquet", events_table(rng, n_events, n_users)),
        "lineitem": _write(f"{out}/lineitem.parquet", lineitem_table(rng, n_orders)),
    }


# ---------------------------------------------------------------------
# Curation corpora
# ---------------------------------------------------------------------


@dataclasses.dataclass
class Corpus:
    """Ground truth planted in one generated corpus.

    ``exact_clusters``: doc_id lists whose texts are identical (the hot
    template's cluster first).  ``near_pairs``: (template, copy) doc_id
    pairs where the copy drops the template's last two words.  The last
    ``near_vectors`` embeddings are near copies of the first ones."""

    sf_dir: str
    n_docs: int
    n_vectors: int
    near_vectors: int
    exact_clusters: list[list[int]]
    near_pairs: list[tuple[int, int]]
    texts: list[str]


def write_corpus(out: str, rng: np.random.Generator, n_docs: int,
                 n_vectors: int, hot_copies: int) -> Corpus:
    """Write ``documents`` and ``embeddings`` for one curation pass.

    The head of the corpus is random text; the tail plants 5% exact
    copies and 5% near copies of templates from the first 1%, plus
    ``hot_copies`` exact copies of one hot template (skew)."""
    os.makedirs(out, exist_ok=True)
    vocab = np.array(VOCAB + ["dup"])
    p = np.full(31, 1.0 / 30.0)
    p[30] = 0.0005
    p /= p.sum()
    n_exact = n_near = n_docs // 20
    n_base = n_docs - n_exact - n_near - hot_copies
    lengths = rng.integers(10, 101, n_base)
    flat = vocab[rng.choice(31, int(lengths.sum()), p=p)]
    texts = [" ".join(w) for w in np.split(flat, np.cumsum(lengths)[:-1])]
    n_tmpl = max(n_base // 100, 2)
    hot = 0
    clusters: dict[int, list[int]] = {hot: [hot]}
    near_pairs: list[tuple[int, int]] = []
    for t in rng.integers(1, n_tmpl, n_exact):
        clusters.setdefault(int(t), [int(t)]).append(len(texts))
        texts.append(texts[t])
    for _ in range(hot_copies):
        clusters[hot].append(len(texts))
        texts.append(texts[hot])
    for t in rng.integers(1, n_tmpl, n_near):
        words = texts[t].split(" ")
        near_pairs.append((int(t), len(texts)))
        texts.append(" ".join(words[: max(len(words) - 2, 1)]))
    langs = np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]
    _write(
        f"{out}/documents.parquet",
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(langs),
                "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
                "n_chars": pa.array(np.array([len(t) for t in texts]), pa.int64()),
            }
        ),
    )
    v = rng.normal(0, 1, (n_vectors, 64))
    n_dup = max(n_vectors // 100, 1)
    v[n_vectors - n_dup:] = v[:n_dup] + rng.normal(0, 1e-3, (n_dup, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.astype("float32").reshape(-1), pa.float32()), 64
    ).cast(pa.list_(pa.float32()))
    _write(
        f"{out}/embeddings.parquet",
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vectors), pa.int64()),
                "embedding": emb,
                "label": pa.array(rng.integers(0, 10, n_vectors).astype("int32")),
            }
        ),
    )
    exact = sorted((sorted(c) for c in clusters.values() if len(c) > 1),
                   key=lambda c: (-len(c), c[0]))
    return Corpus(out, n_docs, n_vectors, n_dup, exact, near_pairs, texts)


# ---------------------------------------------------------------------
# Collector ticks
# ---------------------------------------------------------------------

#: The stat views the collect workload lands each tick: three
#: cumulative views (per-statement, per-database, global) and one
#: gauge view.  Series keys and counters mirror
#: ``collector.CUMULATIVE_VIEWS``.
TICK_VIEWS = {
    "pg_stat_statements": 200,
    "pg_stat_database": 5,
    "pg_stat_bgwriter": 1,
    "pg_locks": 60,
}

#: Counter wrap levels: every counter wraps within a few ticks, so the
#: reset branch of ``increase()`` runs in every run.
_WRAP = 5_000

_TZ = "UTC"


@dataclasses.dataclass
class Tick:
    """One landed tick: rows per view and the events feed's day split."""

    snap_us: int
    rows: dict[str, int]
    event_days: dict[str, int]


class TickGenerator:
    """Produces collector ticks one at a time from the run's RNG.

    Cumulative state (the counter levels of each series) lives here, so
    consecutive ticks are consistent snapshots of the same servers."""

    N_USERS = 100

    def __init__(self, rng: np.random.Generator, tick_hours: int, events_per_tick: int):
        self.rng = rng
        self.tick_hours = tick_hours
        self.events_per_tick = events_per_tick
        self.n = 0
        self.next_event_id = 0
        self.levels = {
            "pg_stat_statements": rng.integers(0, _WRAP, (200, 3)),
            "pg_stat_database": rng.integers(0, _WRAP, (5, 3)),
            "pg_stat_bgwriter": rng.integers(0, _WRAP, (1, 3)),
        }

    def _counters(self, view: str) -> np.ndarray:
        lv = self.levels[view]
        lv = (lv + self.rng.integers(0, _WRAP // 4, lv.shape)) % _WRAP
        self.levels[view] = lv
        return lv

    def _view_table(self, view: str, snap_us: int) -> pa.Table:
        n = TICK_VIEWS[view]
        snap = _ts(np.full(n, snap_us), _TZ)
        if view == "pg_stat_statements":
            c = self._counters(view)
            return pa.table({
                "snap_ts": snap,
                "queryid": pa.array(np.arange(n) * 7919 + 11, pa.int64()),
                "calls": pa.array(c[:, 0], pa.int64()),
                "total_exec_time": pa.array(np.round(c[:, 1] * 0.25, 2), pa.float64()),
                "rows": pa.array(c[:, 2], pa.int64()),
            })
        if view == "pg_stat_database":
            c = self._counters(view)
            return pa.table({
                "snap_ts": snap,
                "datname": pa.array([f"db{i}" for i in range(n)]),
                "xact_commit": pa.array(c[:, 0], pa.int64()),
                "blks_read": pa.array(c[:, 1], pa.int64()),
                "blks_hit": pa.array(c[:, 2], pa.int64()),
            })
        if view == "pg_stat_bgwriter":
            c = self._counters(view)
            return pa.table({
                "snap_ts": snap,
                "checkpoints_timed": pa.array(c[:, 0], pa.int64()),
                "buffers_checkpoint": pa.array(c[:, 1], pa.int64()),
                "buffers_clean": pa.array(c[:, 2], pa.int64()),
            })
        return pa.table({  # pg_locks: a gauge view
            "snap_ts": snap,
            "pid": pa.array(self.rng.integers(1000, 1100, n).astype("int32")),
            "locktype": pa.array(np.array(["relation", "tuple", "transactionid"])[
                self.rng.integers(0, 3, n)]),
            "mode": pa.array(np.array(["AccessShareLock", "RowExclusiveLock",
                                       "ExclusiveLock"])[self.rng.integers(0, 3, n)]),
            "granted": pa.array(self.rng.random(n) < 0.9),
        })

    def _events_table(self, start_us: int) -> pa.Table:
        n = self.events_per_tick
        off = np.sort(self.rng.integers(0, self.tick_hours * US_PER_HOUR, n))
        ids = np.arange(self.next_event_id, self.next_event_id + n)
        self.next_event_id += n
        return pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": _ts(start_us + off, _TZ),
            "user_id": pa.array(self.rng.integers(0, self.N_USERS, n), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[
                self.rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(np.abs(self.rng.normal(0, 120, n)), 2)),
        })

    def land(self, landing: str) -> Tick:
        """Write the next tick's files under ``landing/<view>/`` and
        ``landing/events/``.  Files are written under a dot-name and
        renamed, so a stream never lists a half-written file."""
        start_us = EPOCH_2024 + self.n * self.tick_hours * US_PER_HOUR
        snap_us = start_us + self.tick_hours * US_PER_HOUR
        rows = {}
        tables = {v: self._view_table(v, snap_us) for v in TICK_VIEWS}
        tables["events"] = self._events_table(start_us)
        for name, table in tables.items():
            d = f"{landing}/{name}"
            os.makedirs(d, exist_ok=True)
            tmp = f"{d}/.tick-{self.n:05d}.parquet"
            _write(tmp, table)
            os.rename(tmp, f"{d}/tick-{self.n:05d}.parquet")
            rows[name] = table.num_rows
        days = (
            tables["events"].column("ts").cast(pa.timestamp("us")).cast(pa.date32())
            .to_pylist()
        )
        event_days: dict[str, int] = {}
        for d in days:
            event_days[d.isoformat()] = event_days.get(d.isoformat(), 0) + 1
        tick = Tick(snap_us, rows, event_days)
        self.n += 1
        return tick


def day_of(us: int) -> str:
    return (dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=us - EPOCH_2024)).date().isoformat()
