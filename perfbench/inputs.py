"""Seeded inputs for the three workloads.

Every chunk and table is a pure function of ``(seed, workload, index)``, so
the same seed gives byte-identical parquet files on every run.

Shapes follow the repository's fixture tables (FIXTURES.md §B), whose
distributions were read off the sf0.001 and sf0.01 files: five event types
(click, purchase, error, signup, view) in equal shares, users drawn
uniformly, ``value`` roughly exponential with mean 50 in cents,
``props`` ``{"k": n}`` with n uniform in 0..99, and the TPC-H-like tables
uniform over the ranges listed below. Event time only moves forward across
chunks: chunk ``k`` covers ``[k * span, (k + 1) * span)`` of virtual time,
so no event falls behind the watermark and no key's clock goes backwards.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2023-11-14 22:00:00 UTC: chunks line up with the 30-minute slides.
BASE_EPOCH_S = 1_699_999_200

EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
VALUE_MEAN = 50.0
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

# stream_window_agg: 20k events per chunk over 30 virtual minutes, so each
# chunk closes one 30-minute slide and the watermark evicts state. The rate
# is a load parameter of the benchmark, not taken from the fixture.
EVENTS_PER_CHUNK = 20_000
EVENT_SPAN_S = 1800
WINDOW_USERS = 1500

# stream_ttl_state: events mapped to keyed ops by the package's own
# contract (purchase -> put, error -> remove, view/click/signup -> get,
# key "u<user_id>"). Chunk 0 is one purchase per user, so every key is put
# before timing starts; later chunks are fixture-shaped events, 2,000 per
# 60 virtual seconds over 1,500 users: a user is touched every 45 virtual
# seconds on average, and a strict 120 s TTL expires about 7% of the
# gaps. Rate, universe and TTL are load parameters of the benchmark.
TTL_USERS = 1500
TTL_EVENTS_PER_CHUNK = 2000
TTL_SPAN_S = 60
TTL_SECS = 120

_WORKLOAD_IDS = {"stream_window_agg": 1, "stream_ttl_state": 2, "catalog_batch": 3}


def _rng(seed: int, workload: str, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, _WORKLOAD_IDS[workload], *stream])


def _events(
    rng: np.random.Generator,
    first_id: int,
    start_us: int,
    span_us: int,
    users: np.ndarray,
    types: np.ndarray,
) -> pa.Table:
    """Fixture-shaped events for the given users and types, time-sorted
    over ``[start_us, start_us + span_us)``."""
    n = len(users)
    cents = np.maximum(np.rint(rng.exponential(VALUE_MEAN * 100, n)), 1)
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(start_us + np.sort(rng.integers(0, span_us, n)), EVENTS_SCHEMA.field("ts").type),
            "user_id": users.astype(np.int64),
            "event_type": types,
            "value": cents / 100.0,
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
        },
        schema=EVENTS_SCHEMA,
    )


def _random_types(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]


def window_chunk(seed: int, k: int) -> pa.Table:
    """Chunk ``k`` of the stream_window_agg events."""
    rng = _rng(seed, "stream_window_agg", k)
    n = EVENTS_PER_CHUNK
    return _events(
        rng, k * n, (BASE_EPOCH_S + k * EVENT_SPAN_S) * 1_000_000, EVENT_SPAN_S * 1_000_000,
        rng.integers(0, WINDOW_USERS, n), _random_types(rng, n),
    )


def ttl_chunk(seed: int, k: int) -> pa.Table:
    """Chunk ``k`` of the stream_ttl_state events: chunk 0 is one purchase
    per user in a seeded order, later chunks fixture-shaped events."""
    rng = _rng(seed, "stream_ttl_state", k)
    if k == 0:
        users = rng.permutation(TTL_USERS)
        types = np.full(TTL_USERS, "purchase")
        first_id = 0
    else:
        users = rng.integers(0, TTL_USERS, TTL_EVENTS_PER_CHUNK)
        types = _random_types(rng, TTL_EVENTS_PER_CHUNK)
        first_id = TTL_USERS + (k - 1) * TTL_EVENTS_PER_CHUNK
    return _events(
        rng, first_id, (BASE_EPOCH_S + k * TTL_SPAN_S) * 1_000_000, TTL_SPAN_S * 1_000_000,
        users, types,
    )


CHUNKS = {"stream_window_agg": window_chunk, "stream_ttl_state": ttl_chunk}


def stage_chunk(table: pa.Table, src_dir: str, k: int) -> str:
    """Write chunk ``k`` under a hidden name in ``src_dir``. The file stream
    source skips names that start with ``.``, so the query cannot see it."""
    tmp = os.path.join(src_dir, f".chunk-{k:05d}.parquet")
    pq.write_table(table, tmp)
    return tmp


def publish_chunk(tmp: str) -> None:
    """Rename a staged chunk into view: the query sees all of it at once."""
    d, name = os.path.split(tmp)
    os.rename(tmp, os.path.join(d, name[1:]))


# catalog_batch: the fixture's sf0.01 row counts, for the tables the
# benchmarked catalog entries read. Timestamps are naive microseconds, as in
# the fixture files.
CATALOG_ROWS = {"customer": 1500, "orders": 15_000, "lineitem": 60_000, "documents": 500}
# The benchmarked entries and the tables each reads: a relational
# aggregate, a three-way join, a window top-k and TF-IDF text scoring
# (operators, functions and batch sources).
CATALOG_ENTRIES = {
    "q1_pricing_summary": ("lineitem",),
    "q18_large_volume": ("customer", "orders", "lineitem"),
    "window_topk_per_group": ("orders",),
    "text_tfidf_top_terms": ("documents",),
}
_DAY_US = 86_400 * 1_000_000


def catalog_order(seed: int) -> list[str]:
    """The entries in the seeded order every pass runs them in."""
    names = list(CATALOG_ENTRIES)
    return [names[i] for i in _rng(seed, "catalog_batch", 99).permutation(len(names))]
_EPOCH_1995_US = 788_918_400 * 1_000_000
# The fixture's 30-word vocabulary.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _days(rng: np.random.Generator, n: int, first: int, last: int) -> pa.Array:
    """Day-resolution naive timestamps, ``first``..``last`` days after 1995-01-01."""
    return pa.array(_EPOCH_1995_US + rng.integers(first, last + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """The tables the catalog entries read, shaped like the fixture's."""
    rows = CATALOG_ROWS
    rng = lambda i: _rng(seed, "catalog_batch", i)  # noqa: E731
    r = rng(0)
    n = rows["customer"]
    customer = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": r.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(r, n, -999.99, 9999.99),
            "c_mktsegment": np.asarray(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[r.integers(0, 5, n)],
        }
    )
    r = rng(1)
    n = rows["orders"]
    orders = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(0, rows["customer"], n),
            "o_orderstatus": np.asarray(["F", "O", "P"])[r.integers(0, 3, n)],
            "o_totalprice": _money(r, n, 1000.0, 500_000.0),
            "o_orderdate": _days(r, n, 0, 2404),
            "o_orderpriority": np.asarray(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[r.integers(0, 5, n)],
        }
    )
    r = rng(2)
    n = rows["lineitem"]
    lineitem = pa.table(
        {
            "l_orderkey": r.integers(0, rows["orders"], n),
            "l_partkey": r.integers(0, 2000, n),
            "l_suppkey": r.integers(0, 100, n),
            "l_linenumber": r.integers(1, 8, n).astype(np.int32),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(r, n, 900.0, 105_000.0),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": np.asarray(["A", "N", "R"])[r.integers(0, 3, n)],
            "l_linestatus": np.asarray(["F", "O"])[r.integers(0, 2, n)],
            "l_shipdate": _days(r, n, 1, 2499),
        }
    )
    r = rng(3)
    n = rows["documents"]
    texts = [" ".join(np.asarray(WORDS)[r.integers(0, len(WORDS), r.integers(10, 90))]) for _ in range(n)]
    documents = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.asarray(["de", "en", "es", "fr", "zh"])[r.integers(0, 5, n)],
            "source": [f"src{i}" for i in r.integers(0, 20, n)],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem, "documents": documents}


def write_catalog_tables(seed: int, sf_dir: str) -> dict[str, int]:
    """Write ``<sf_dir>/<table>.parquet``; returns each table's row count."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
