"""build_session defaults: shuffle (and state) partitions follow the
session's cores, streaming checkpoints go through the FileSystem-based
checkpoint manager, every SPARK_GRAFT_* knob the session reads fails fast,
and the /dev/shm gate sizes nested input dirs.

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
from tests.test_driver_contract import _load_entry
from tests.test_ttl import _write_batches

SHUFFLE_PARTS = "spark.sql.shuffle.partitions"
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"
FILE_SYSTEM_MANAGER = f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager"
FILE_CONTEXT_MANAGER = f"{_CHECKPOINTING}.FileContextBasedCheckpointFileManager"


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


def _checkpoint_manager(spark, path: str) -> str:
    """Class name of the manager Spark creates for a checkpoint at ``path``,
    through the same call its offset log and state store make."""
    jvm = spark._jvm
    manager = getattr(jvm, _CHECKPOINTING).CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return manager.getClass().getName()


def test_build_session_uses_filesystem_checkpoint_manager(
    spark, tmp_path, restore_conf
):
    spark.conf.set(CHECKPOINT_MANAGER, FILE_CONTEXT_MANAGER)
    build_session(app_name="spark_states_spark_tests")
    assert _checkpoint_manager(spark, str(tmp_path)) == FILE_SYSTEM_MANAGER


def test_build_session_extra_conf_checkpoint_manager_wins(
    spark, tmp_path, restore_conf
):
    build_session(
        app_name="spark_states_spark_tests",
        extra_conf={CHECKPOINT_MANAGER: FILE_CONTEXT_MANAGER},
    )
    assert _checkpoint_manager(spark, str(tmp_path)) == FILE_CONTEXT_MANAGER


def test_entry_conf_applies_streaming_conf(spark, tmp_path, restore_conf):
    """On a session the engine did not build, the entry path sets the same
    streaming confs at runtime, and the manager conf takes effect there."""
    for k in sess.STREAMING_CONF:
        spark.conf.unset(k)
    _load_entry()._ensure_conf(spark)
    assert {k: spark.conf.get(k) for k in sess.STREAMING_CONF} == sess.STREAMING_CONF
    assert _checkpoint_manager(spark, str(tmp_path)) == FILE_SYSTEM_MANAGER


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


@pytest.mark.parametrize(
    "var, bad",
    [
        ("SPARK_GRAFT_DRIVER_MEM", "8"),
        ("SPARK_GRAFT_DRIVER_MEM", "8gb"),
        ("SPARK_GRAFT_DRIVER_MEM", "0g"),
        ("SPARK_GRAFT_DRIVER_MEM", "1.5g"),
        ("SPARK_GRAFT_DRIVER_MEM", "eight"),
        ("SPARK_GRAFT_DRIVER_MEM", ""),
        ("SPARK_GRAFT_SHM_MIN_FREE_GIB", "abc"),
        ("SPARK_GRAFT_SHM_MIN_FREE_GIB", "nan"),
        ("SPARK_GRAFT_SHM_MIN_FREE_GIB", "inf"),
        ("SPARK_GRAFT_SHM_MIN_FREE_GIB", "-1"),
        ("SPARK_GRAFT_SHM_MIN_FREE_GIB", ""),
    ],
)
def test_session_knobs_rejected_before_jvm(monkeypatch, var, bad):
    # SPARK_GRAFT_LOCAL_DIR skips the /dev/shm gate; the floor is still checked.
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/nonexistent")
    monkeypatch.setenv(var, bad)
    monkeypatch.setattr(sess, "SparkSession", None)
    with pytest.raises(ValueError, match=var):
        build_session()


def test_shm_gate_rejects_bad_floor(monkeypatch):
    """The gate is also reached outside build_session (the runner's
    ephemeral checkpoint root); it checks the floor the same way."""
    monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_FREE_GIB", "nan")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHM_MIN_FREE_GIB"):
        sess.shm_scratch_root()


@pytest.mark.parametrize(
    "good, mem", [("8g", "8g"), ("512m", "512m"), ("24G", "24G"), (None, "8g")]
)
def test_driver_memory_accepted(monkeypatch, good, mem):
    if good is None:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", good)
    assert sess._driver_memory() == mem


@pytest.mark.parametrize(
    "good, gib", [("0", 0.0), ("2.5", 2.5), (None, sess._SHM_MIN_FREE_GIB)]
)
def test_shm_min_free_gib_accepted(monkeypatch, good, gib):
    if good is None:
        monkeypatch.delenv("SPARK_GRAFT_SHM_MIN_FREE_GIB", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_FREE_GIB", good)
    assert sess._shm_min_free_gib() == gib


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
