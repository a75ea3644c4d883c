"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pytest

from perfbench import check, inputs
from perfbench.run import END_TO_END
from perfbench.trace import (
    PER_LAYER,
    PY_RECV,
    PY_RUN,
    PY_SENT,
    SAMPLED,
    catalog_layers,
    executor_layers,
    stream_layers,
)
from perfbench.worker import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_valid_and_unique(spec):
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name


def test_bounds_and_setup_metric(spec):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_emitted_metrics_match_spec(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)

    progress = [
        {
            "batchId": 0,
            "numInputRows": 10,
            "durationMs": {"triggerExecution": 90, "addBatch": 80, "queryPlanning": 5},
            "stateOperators": [{"numStateStoreInstances": 4, "customMetrics": {}}],
        }
    ]
    tasks = dict.fromkeys(
        ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
         PY_RUN, PY_SENT, PY_RECV), 1.0
    )
    entries = list(inputs.CATALOG_ENTRIES)
    rolled = {
        **executor_layers(tasks, 1),
        **stream_layers(progress, 1.0, [100.0], [3], 1),
        **catalog_layers({e: [1.0] for e in entries}, {e: [2.0] for e in entries}, [20.0]),
    }
    units = dict(PER_LAYER)
    for name, (_value, unit) in rolled.items():
        assert units[name] == unit, name
    # The worker adds the session rows, the sample count and the traced
    # copies of its run-level metrics; run.py the sampled memory.
    added = {"jvm.jit_cpu_s", "jvm.gc_cpu_s", "session.build_s", "session.warmup_s", "session.cold_start_s", "trace.samples",
             "trace.setup_s", "trace.batch_p50_ms", "trace.rows_per_s", "trace.rows_per_cpu_s",
             *SAMPLED}
    assert set(rolled) | added == set(units)


@pytest.mark.parametrize("workload", sorted(inputs.CHUNKS))
def test_same_seed_gives_byte_identical_chunks(tmp_path, workload):
    make = inputs.CHUNKS[workload]
    files = []
    for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / sub
        d.mkdir()
        staged = inputs.stage_chunk(make(seed, 3), str(d), 3)
        inputs.publish_chunk(staged)
        files.append((d / "chunk-00003.parquet").read_bytes())
    assert files[0] == files[1]
    assert files[0] != files[2]


def test_same_seed_gives_identical_catalog_tables():
    a, b, c = (inputs.catalog_tables(seed) for seed in (7, 7, 8))
    assert set(a) == {t for ts in inputs.CATALOG_ENTRIES.values() for t in ts}
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == inputs.CATALOG_ROWS[name]
    assert not a["lineitem"].equals(c["lineitem"])


def test_ttl_chunk_zero_puts_every_key():
    chunk = inputs.ttl_chunk(5, 0)
    users = chunk.column("user_id").to_pylist()
    assert sorted(users) == list(range(inputs.TTL_USERS))
    assert set(chunk.column("event_type").to_pylist()) == {"purchase"}
    later = set(inputs.ttl_chunk(5, 1).column("event_type").to_pylist())
    assert later == set(inputs.EVENT_TYPES)


def test_kv_ops_follow_the_package_mapping():
    events = [
        (7, 1_700_000_000_999_999, 3, "purchase", 0.29),
        (8, 1_700_000_001_000_000, 3, "error", 1.0),
        (9, 1_700_000_002_000_000, 4, "signup", 2.5),
        (10, 1_700_000_003_000_000, 4, "view", 2.5),
        (11, 1_700_000_004_000_000, 4, "click", 2.5),
    ]
    assert check.kv_ops(events) == [
        ("u3", "put", 28, 1_700_000_000, 7),  # 0.29 * 100 truncates to 28, as a cast to long does
        ("u3", "remove", 100, 1_700_000_001, 8),
        ("u4", "get", 250, 1_700_000_002, 9),
        ("u4", "get", 250, 1_700_000_003, 10),
        ("u4", "get", 250, 1_700_000_004, 11),
    ]


def test_ttl_fold_contract():
    ops = [
        ("a", "put", 1, 0, 0),
        ("a", "get", 0, 299, 1),    # 299 s after the put: alive, resets the clock
        ("a", "get", 0, 598, 2),    # 299 s after the last access: alive
        ("a", "get", 0, 898, 3),    # 300 s: expired, dropped
        ("a", "get", 0, 899, 4),
        ("b", "put", 2, 10, 5),
        ("b", "remove", 0, 11, 6),
        ("b", "get", 0, 12, 7),
    ]
    assert check.expected_gets(ops, 300) == [
        ("b", 12, False, None),
        ("a", 299, True, 1),
        ("a", 598, True, 1),
        ("a", 898, False, None),
        ("a", 899, False, None),
    ]


def _ttl_expected(chunks: int):
    events = [
        (r["event_id"], int(r["ts"].timestamp() * 1_000_000), r["user_id"], r["event_type"], r["value"])
        for k in range(chunks)
        for r in inputs.ttl_chunk(1, k).to_pylist()
    ]
    return check.expected_gets(check.kv_ops(events), inputs.TTL_SECS)


def test_corrupted_get_row_counts_as_one_failed_chunk():
    expected = _ttl_expected(3)
    assert any(not found for _k, _ts, found, _v in expected)
    assert check.wrong_get_chunks(expected, list(expected)) == set()
    corrupted = list(expected)
    i = next(i for i, row in enumerate(corrupted) if row[2])
    key, ts, _found, value = corrupted[i]
    corrupted[i] = (key, ts, True, value + 1)
    chunk = (ts - inputs.BASE_EPOCH_S) // inputs.TTL_SPAN_S
    assert check.wrong_get_chunks(corrupted, expected) == {chunk}
    assert check.charged_chunks({chunk}, 3) == {chunk}


def test_extra_get_outside_the_fed_chunks_charges_every_chunk():
    expected = _ttl_expected(3)
    late = inputs.BASE_EPOCH_S + 10 * inputs.TTL_SPAN_S
    extra = [*expected, ("u1", late, False, None)]
    bad = check.wrong_get_chunks(expected, extra)
    assert bad == {10}
    assert check.charged_chunks(bad, 3) == {0, 1, 2}


def test_corrupted_window_row_counts_its_chunks(tmp_path):
    for k in range(3):
        inputs.publish_chunk(inputs.stage_chunk(inputs.window_chunk(1, k), str(tmp_path), k))
    expected = check.expected_windows(str(tmp_path))
    # The program's output format: window start as a UTC string.
    rows = []
    for (start, etype), (n, total) in expected.items():
        stamp = pa.scalar(start * 1_000_000, pa.timestamp("us", tz="UTC")).as_py()
        rows.append((stamp.strftime("%Y-%m-%d %H:%M:%S"), etype, n, total))
        rows.append((stamp.strftime("%Y-%m-%d %H:%M:%S"), etype, n - 1, total))  # earlier update
    actual = check.final_windows(rows)
    assert actual == expected
    assert sum(n for (s, _t), (n, _v) in expected.items() if s % 3600 == 0) == 3 * inputs.EVENTS_PER_CHUNK
    (start, etype), (n, total) = min(expected.items())
    actual[(start, etype)] = (n + 1, total)
    assert check.wrong_window_chunks(expected, actual) == check.window_chunks(start)
    assert check.wrong_window_chunks(expected, actual) & set(range(3))
    # A window the run never fed data into, e.g. one from a wrong start.
    actual = dict(expected)
    far = max(s for s, _t in expected) + 100 * check.SLIDE_S
    actual[(far, "view")] = (1, 1.0)
    assert check.charged_chunks(check.wrong_window_chunks(expected, actual), 3) == {0, 1, 2}


def test_catalog_digest_is_order_insensitive_and_exact():
    rows = [(1, "a", 0.5), (2, "b", None)]
    d = check.digest(["id", "name", "x"], rows)
    assert d == check.digest(["x", "id", "name"], [(0.5, 1, "a"), (None, 2, "b")])
    assert d == check.digest(["id", "name", "x"], rows[::-1])
    assert d != check.digest(["id", "name", "x"], [(1, "a", 0.5 + 1e-15), (2, "b", None)])


def test_catalog_oracle_digest_catches_a_corrupted_row(tmp_path):
    import pyarrow.parquet as pq

    table = pa.table({"k": [1, 2, 2], "v": [0.25, 1.5, 2.0]})
    pq.write_table(table, tmp_path / "t.parquet")
    sql = "SELECT k, sum(v) AS s FROM t GROUP BY k"
    expected = check.oracle_digests(str(tmp_path), {"q": sql})["q"]
    assert check.digest(["k", "s"], [(2, 3.5), (1, 0.25)]) == expected
    assert check.digest(["k", "s"], [(2, 3.5), (1, 0.26)]) != expected
