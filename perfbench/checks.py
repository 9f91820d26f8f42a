"""Result checks, run after timing.

A result is reduced to a digest of its canonical row multiset: columns
sorted by name, values normalized (doubles rounded to 9 digits,
timestamps as naive ISO text, decimals as floats), rows sorted.  The
same normalization applies to the engine's rows and to the DuckDB
oracle's rows, so equal digests mean equal results.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal


def norm_value(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9) + 0.0)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_value(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of ``rows`` (tuples in ``columns`` order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(norm_value(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digest(con, sql: str) -> str:
    cur = con.execute(sql)
    return digest([d[0] for d in cur.description], cur.fetchall())


def duckdb_with_views(sf_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def near_pair_recall(pairs: set[tuple[int, int]], planted: list[tuple[int, int]]) -> float:
    """Share of planted (template, copy) pairs present in ``pairs``."""
    if not planted:
        return 1.0
    found = sum(1 for a, b in planted if (min(a, b), max(a, b)) in pairs)
    return found / len(planted)


def exact_clusters_found(components: dict[int, int], clusters: list[list[int]]) -> bool:
    """Every planted exact cluster lies in exactly one component."""
    return all(len({components.get(d) for d in c}) == 1 and components.get(c[0]) is not None
               for c in clusters)


def expected_exact_dedup(texts: list[str], dup_offset: int) -> dict[str, tuple[int, int]]:
    """md5(text) -> (copies, smallest doc_id) over the operator's corpus:
    the documents plus its own exact copy of every 7th document."""
    out: dict[str, tuple[int, int]] = {}
    for doc_id, text in enumerate(texts):
        ids = [doc_id] + ([doc_id + dup_offset] if doc_id % 7 == 0 else [])
        key = hashlib.md5(text.encode()).hexdigest()
        n, lo = out.get(key, (0, doc_id))
        out[key] = (n + len(ids), min(lo, doc_id))
    return out
