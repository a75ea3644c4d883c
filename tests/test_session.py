"""build_session defaults: shuffle (and state) partitions follow the
session's cores, the env knobs that pick the core count fail fast, and the
/dev/shm gate sizes nested input dirs.

Tests that re-run ``build_session`` on the shared test session restore
every session conf they change (the ``restore_conf`` fixture)."""

from __future__ import annotations

import os
import posixpath
import time
from collections import Counter

import pandas as pd
import pytest

from spark_states_spark import session as sess
from spark_states_spark.config import TtlConfig
from spark_states_spark.session import build_session
from spark_states_spark.streaming.state_reader import state_metadata
from spark_states_spark.streaming.ttl import OPS_SCHEMA, ttl_kv_ops
from spark_states_spark.streaming.writer import state_timeout
from tests.test_ttl import _write_batches

SHUFFLE_PARTS = "spark.sql.shuffle.partitions"


@pytest.fixture()
def restore_conf(spark):
    """Snapshot the runtime conf; afterwards restore changed keys and unset
    keys the test added (e.g. ``stateExpirySecs.<name>``)."""
    before = spark.conf.getAll
    yield
    for k, v in spark.conf.getAll.items():
        if k not in before:
            spark.conf.unset(k)
        elif before[k] != v:
            spark.conf.set(k, before[k])


def test_build_session_sizes_shuffle_partitions_to_cores(spark, restore_conf):
    spark.conf.set(SHUFFLE_PARTS, "13")
    s = build_session(app_name="spark_states_spark_tests")
    assert s is spark
    assert int(s.conf.get(SHUFFLE_PARTS)) == s.sparkContext.defaultParallelism


def test_build_session_extra_conf_shuffle_partitions_wins(spark, restore_conf):
    s = build_session(
        app_name="spark_states_spark_tests",
        extra_conf={SHUFFLE_PARTS: "7"},
    )
    assert s.conf.get(SHUFFLE_PARTS) == "7"


def _drain_ttl(spark, src: str, ckpt_root: str, name: str) -> tuple[str, Counter]:
    """Drain ``ttl_kv_ops`` over ``src`` through ``state_timeout``; returns
    the query's checkpoint dir and the multiset of its get outcomes."""
    stream = (
        spark.readStream.schema(OPS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = ttl_kv_ops(stream, TtlConfig(name, -1, strict=True))
    rows: list = []
    writer = (
        out.writeStream.outputMode("append")
        .foreachBatch(lambda df, _epoch: rows.extend(df.collect()))
        .trigger(availableNow=True)
    )
    state_timeout(writer, spark.conf, name, -1, ckpt_root).start().awaitTermination()
    return posixpath.join(ckpt_root, name), Counter(
        (r.key, r.ts_s, r.found, r.value) for r in rows
    )


_PUTS = [[(f"k{i}", "put", i, 0) for i in range(12)]]
_GETS = [[(f"k{i}", "get", None, 5) for i in range(0, 14, 2)]]


def test_ttl_query_state_partitions_follow_cores(spark, tmp_path, restore_conf):
    build_session(app_name="spark_states_spark_tests")
    src = _write_batches(tmp_path, _PUTS + _GETS)
    ckpt, got = _drain_ttl(spark, src, str(tmp_path / "ckpt"), "ttl_cores")
    (md,) = state_metadata(spark, ckpt).collect()
    assert md["numPartitions"] == spark.sparkContext.defaultParallelism
    assert ("k4", 5, True, 4) in got and ("k12", 5, False, None) in got


def test_checkpoint_keeps_state_partitions_under_new_default(
    spark, tmp_path, restore_conf
):
    """A query checkpointed at 32 state partitions restarts at 32 after the
    session default changes (Spark reads the count from the offset log),
    and its output equals an uninterrupted run's."""
    batches = _PUTS + _GETS + [
        [("k1", "remove", None, 6), ("k3", "put", 33, 6)],
        [(f"k{i}", "get", None, 9) for i in range(14)],
    ]
    full = _write_batches(tmp_path, batches)
    _ckpt, expected = _drain_ttl(spark, full, str(tmp_path / "c_full"), "ttl_full")

    src = _write_batches(tmp_path, batches[:2])
    spark.conf.set(SHUFFLE_PARTS, "32")
    ckpt, first = _drain_ttl(spark, src, str(tmp_path / "c_rst"), "ttl_rst")
    build_session(app_name="spark_states_spark_tests")
    more = _write_batches(tmp_path, batches[2:])
    now = time.time()
    for i, f in enumerate(sorted(os.listdir(more)), start=2):
        dst = os.path.join(src, f"batch_{i:03d}.parquet")
        os.rename(os.path.join(more, f), dst)
        os.utime(dst, (now + i, now + i))
    _ckpt, second = _drain_ttl(spark, src, str(tmp_path / "c_rst"), "ttl_rst")

    (md,) = state_metadata(spark, ckpt).collect()
    assert md["numPartitions"] == 32
    assert (md["minBatchId"], md["maxBatchId"]) == (0, 3)
    assert first + second == expected
    assert ("k3", 9, True, 33) in second and ("k1", 9, False, None) in second


@pytest.mark.parametrize("bad", ["0", "-3", "4.0", "four", "", " 4"])
def test_spark_graft_cpus_rejected_before_jvm(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    # Reaching the builder at all would raise AttributeError, not ValueError.
    monkeypatch.setattr(sess, "SparkSession", None)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        build_session()


@pytest.mark.parametrize("good", ["*", "1", "32"])
def test_spark_graft_cpus_accepted(monkeypatch, good):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", good)
    assert sess._local_cores() == good


def test_dir_size_bytes_counts_nested_parquet(tmp_path, monkeypatch):
    """A partitioned table dir holds its files one level down; the /dev/shm
    gate must scale with their size, not read the dir as 0 bytes."""
    sf_dir = tmp_path / "sf"
    pd.DataFrame({"day": [1, 1, 2, 3], "v": range(4)}).to_parquet(
        str(sf_dir / "events.parquet"), partition_cols=["day"]
    )
    files = [
        os.path.join(root, f)
        for root, _d, fs in os.walk(sf_dir)
        for f in fs
    ]
    assert len(files) == 3 and all(os.path.dirname(f) != str(sf_dir) for f in files)
    assert sess._dir_size_bytes(str(sf_dir)) == sum(map(os.path.getsize, files))

    if not (os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)):
        pytest.skip("no writable /dev/shm on this platform")
    monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_FREE_GIB", "0")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(sf_dir))
    monkeypatch.setattr(sess, "_SHM_SF_MULTIPLE", float(1 << 60))
    assert sess.shm_scratch_root() is None
