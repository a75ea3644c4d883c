"""Reference results computed without the program under test.

``stream_window_agg`` is checked against a DuckDB GROUP BY over the chunk
files; ``stream_ttl_state`` against a plain-Python fold of the strict TTL
contract written here (not the package's own replay code); each
``catalog_batch`` execution against its entry's DuckDB oracle SQL. Each
stream mismatch is mapped back to the chunks whose rows it depends on, so
the caller can count wrong chunks against the chunks attempted.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter
from datetime import datetime, timezone

import duckdb

from .inputs import BASE_EPOCH_S, EVENT_SPAN_S, TTL_SPAN_S

WINDOW_S = 3600
SLIDE_S = 1800


def expected_windows(src_dir: str) -> dict[tuple[int, str], tuple[int, float]]:
    """(window start epoch s, event_type) -> (count, exact decimal sum as
    double) for 1-hour windows sliding every 30 minutes, over every chunk
    published in ``src_dir``."""
    glob = os.path.join(src_dir, "chunk-*.parquet")
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            WITH e AS (
              SELECT epoch_us(ts) // 1000000 AS s, event_type,
                     CAST(value AS DECIMAL(12, 2)) AS v
              FROM read_parquet('{glob}')
            ), w AS (
              SELECT s - s % {SLIDE_S} AS start, event_type, v FROM e
              UNION ALL
              SELECT s - s % {SLIDE_S} - {SLIDE_S} AS start, event_type, v FROM e
            )
            SELECT start, event_type, count(*), CAST(sum(v) AS DOUBLE)
            FROM w GROUP BY start, event_type
            """
        ).fetchall()
    finally:
        con.close()
    return {(int(s), t): (int(n), float(v)) for s, t, n, v in rows}


def final_windows(rows) -> dict[tuple[int, str], tuple[int, float]]:
    """Collapse update-mode output rows (window_start string, event_type,
    n_events, sum_value) to the last update of each window: counts only
    grow, so the last update is the one with the largest count."""
    out: dict[tuple[int, str], tuple[int, float]] = {}
    for start, etype, n, v in rows:
        s = int(
            datetime.strptime(start, "%Y-%m-%d %H:%M:%S")
            .replace(tzinfo=timezone.utc)
            .timestamp()
        )
        key = (s, etype)
        if key not in out or n > out[key][0]:
            out[key] = (int(n), float(v))
    return out


def window_chunks(start: int) -> set[int]:
    """Indices of the chunks whose events can fall in the window at
    ``start``."""
    first = (start - BASE_EPOCH_S) // EVENT_SPAN_S
    last = (start + WINDOW_S - 1 - BASE_EPOCH_S) // EVENT_SPAN_S
    return set(range(first, last + 1))


def wrong_window_chunks(expected: dict, actual: dict) -> set[int]:
    """Chunks touched by any window whose final result differs."""
    bad: set[int] = set()
    for key in expected.keys() | actual.keys():
        if expected.get(key) != actual.get(key):
            bad |= window_chunks(key[0])
    return bad


def kv_ops(events) -> list[tuple[str, str, int, int, int]]:
    """Map event rows ``(event_id, ts_us, user_id, event_type, value)`` to
    ``(key, op, value, ts_s, seq)`` by the package's op contract, spelled
    out again here: purchase -> put of the value in cents (truncated, as a
    cast to long does), error -> remove, any other type -> get; the key is
    ``u<user_id>``, the clock is event time in whole seconds, the sequence
    is the event id."""
    ops = {"purchase": "put", "error": "remove"}
    return [
        (f"u{user}", ops.get(etype, "get"), int(value * 100), ts_us // 1_000_000, event_id)
        for event_id, ts_us, user, etype, value in events
    ]


def expected_gets(ops, ttl_secs: int) -> list[tuple[str, int, bool, int | None]]:
    """Fold (key, op, value, ts_s, seq) rows through strict expire-after-
    access TTL: a key lives while fewer than ``ttl_secs`` virtual seconds
    pass between touches; a get on an expired key misses and drops it."""
    live: dict[str, tuple[int, int]] = {}
    out = []
    for key, op, value, ts, _seq in sorted(ops, key=lambda r: (r[3], r[4])):
        if op == "put":
            live[key] = (value, ts)
        elif op == "remove":
            live.pop(key, None)
        elif op == "get":
            hit = live.get(key)
            if hit is not None and ts - hit[1] < ttl_secs:
                live[key] = (hit[0], ts)
                out.append((key, ts, True, hit[0]))
            else:
                live.pop(key, None)
                out.append((key, ts, False, None))
    return out


def wrong_get_chunks(expected, actual) -> set[int]:
    """Chunks holding a get whose outcome is missing, extra or different."""
    exp, act = Counter(expected), Counter(actual)
    return {(row[1] - BASE_EPOCH_S) // TTL_SPAN_S for row in (exp - act) + (act - exp)}


def charged_chunks(bad: set[int], attempted: int) -> set[int]:
    """The chunks a run is charged with. A mismatch that maps to no chunk
    the run fed (an extra row outside their time range, say) charges every
    chunk, so no wrong output passes."""
    every = set(range(attempted))
    return bad if bad <= every else every


def digest(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, each
    value rendered exactly (``repr`` for floats), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v) -> str:
        if v is None:
            return "N"
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        return str(v)

    lines = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    body = "\n".join([",".join(sorted(columns)), *lines])
    return hashlib.sha256(body.encode()).hexdigest()


def oracle_digests(sf_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """Run each entry's oracle SQL on DuckDB over ``<sf_dir>/<table>.parquet``."""
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')"
                )
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            out[name] = digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
