"""Traced-run instrumentation, all of it outside the program under test.

Three sources are rolled up into the per-layer metrics:

- spans the benchmark records around its own calls into the package;
- the per-batch ``StreamingQueryProgress`` a ``StreamingQueryListener``
  receives (``durationMs`` and ``stateOperators`` with the ``rocksdb*``
  custom metrics);
- Spark's uncompressed event log: per-task executor metrics, plus the
  Python-worker SQL metrics that ``applyInPandasWithState`` updates.

On ``catalog_batch`` the spans around each entry's build and action stand
in for the progress events.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from .inputs import CATALOG_ENTRIES

# Event-log accumulators of the Python-worker exec node, in task updates.
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Tracer:
    """Spans with a name, wall-clock start and end, and parent span id.

    Disabled tracers record nothing, so untraced runs pay one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._open.pop()


def progress_listener(sink: list):
    """A ``StreamingQueryListener`` appending each progress, as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def task_totals(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Sum the metrics of every task that ran inside ``[t0_ms, t1_ms]``
    across the event logs under ``log_dir``."""
    tot = dict.fromkeys(
        ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
         PY_RUN, PY_SENT, PY_RECV),
        0.0,
    )
    for root, _dirs, files in os.walk(log_dir):
        for name in files:
            if not name.startswith("events_"):
                continue
            with open(os.path.join(root, name)) as fh:
                for line in fh:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    ev = json.loads(line)
                    info, m = ev["Task Info"], ev.get("Task Metrics")
                    if m is None or not (
                        t0_ms <= info["Launch Time"] and info["Finish Time"] <= t1_ms
                    ):
                        continue
                    sr = m["Shuffle Read Metrics"]
                    tot["tasks"] += 1
                    tot["run_ms"] += m["Executor Run Time"]
                    tot["cpu_ns"] += m["Executor CPU Time"]
                    tot["gc_ms"] += m["JVM GC Time"]
                    tot["shuffle_read_bytes"] += sr["Local Bytes Read"] + sr["Remote Bytes Read"]
                    tot["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") in (PY_RUN, PY_SENT, PY_RECV):
                            tot[acc["Name"]] += float(acc["Update"])
    return tot


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def catalog_names(entries) -> list[tuple[str, str]]:
    return [(f"catalog.{e}.{part}", "s") for e in entries for part in ("build_s", "exec_s")]


# Every per-layer metric, in BENCHMARK.json order. A traced run reports all
# of them; a layer the workload does not use reads 0.
PER_LAYER = [
    ("session.build_s", "s"),
    ("session.warmup_s", "s"),
    ("session.cold_start_s", "s"),
    ("sources.offset_ms", "ms"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.plan_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.log_commit_ms", "ms"),
    ("streaming.gap_ms", "ms"),
    ("streaming.batches_per_chunk", "count"),
    ("streaming.data_batch_ratio", "ratio"),
    ("state.instances", "count"),
    ("state.load_ms", "ms"),
    ("state.commit_ms", "ms"),
    ("state.changelog_sync_ms", "ms"),
    ("state.commit_share", "ratio"),
    ("state.update_ms", "ms"),
    ("state.rows_updated", "count"),
    ("state.rows_removed", "count"),
    ("state.rows_total", "count"),
    ("state.memory_bytes", "bytes"),
    ("state.bytes_written", "bytes"),
    ("state.checkpoint_bytes", "bytes"),
    ("ttl.kernel_share", "ratio"),
    ("ttl.python_bytes", "bytes"),
    ("ttl.groups_per_batch", "count"),
    ("exec.tasks", "count"),
    ("exec.run_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.gc_share", "ratio"),
    ("shuffle.read_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"),
    ("jvm.jit_cpu_s", "s"),
    ("jvm.gc_cpu_s", "s"),
    *catalog_names(CATALOG_ENTRIES),
    ("trace.coverage", "ratio"),
    ("trace.samples", "count"),
    ("trace.setup_s", "s"),
    ("trace.batch_p50_ms", "ms"),
    ("trace.rows_per_s", "rows/s"),
    ("trace.rows_per_cpu_s", "rows/cpu-s"),
    ("trace.mem_p50_mb", "MB"),
    ("trace.peak_pss_mb", "MB"),
]
# Sampled from /proc by run.py, outside the worker.
SAMPLED = ("trace.mem_p50_mb", "trace.peak_pss_mb")


def executor_layers(tasks: dict[str, float], n: int) -> dict[str, tuple[float, str]]:
    """Task metrics of the timed units (chunks or passes), per unit. Shares
    are of the summed executor run time of the same tasks."""
    run_ms = tasks["run_ms"]
    share = lambda x: x / run_ms if run_ms else 0.0  # noqa: E731
    return {
        "ttl.kernel_share": (share(tasks[PY_RUN]), "ratio"),
        "ttl.python_bytes": ((tasks[PY_SENT] + tasks[PY_RECV]) / n, "bytes"),
        "exec.tasks": (tasks["tasks"] / n, "count"),
        "exec.run_s": (run_ms / 1e3 / n, "s"),
        "exec.cpu_s": (tasks["cpu_ns"] / 1e9 / n, "s"),
        "exec.gc_share": (share(tasks["gc_ms"]), "ratio"),
        "shuffle.read_bytes": (tasks["shuffle_read_bytes"] / n, "bytes"),
        "shuffle.write_bytes": (tasks["shuffle_write_bytes"] / n, "bytes"),
    }


def stream_layers(
    progress: list[dict],
    run_ms: float,
    chunk_wall_ms: list[float],
    groups_per_chunk: list[int],
    checkpoint_bytes: int,
) -> dict[str, tuple[float, str]]:
    """Roll one run's timed chunks up into the stream layers' metrics.

    ``progress`` holds only the batches of the timed chunks. Times and
    volumes are per chunk (totals over the timed chunks divided by their
    number); gauges (row totals, memory, instances) are read from the last
    batch. ``state.commit_share`` is of the summed executor run time
    ``run_ms`` of the same chunks' tasks."""
    n = len(chunk_wall_ms)
    dur = lambda key: sum(p["durationMs"].get(key, 0) for p in progress)  # noqa: E731
    ops = [op for p in progress for op in p["stateOperators"]]
    st = lambda key: sum(op.get(key, 0) for op in ops)  # noqa: E731
    cm = lambda key: sum(op["customMetrics"].get(key, 0) for op in ops)  # noqa: E731
    last_ops = progress[-1]["stateOperators"] if progress else []
    gauge = lambda key: sum(op.get(key, 0) for op in last_ops)  # noqa: E731

    offset = dur("latestOffset") + dur("getBatch")
    plan, add = dur("queryPlanning"), dur("addBatch")
    log_commit = dur("walCommit") + dur("commitOffsets")
    trigger = dur("triggerExecution")
    wall = sum(chunk_wall_ms)
    return {
        "sources.offset_ms": (offset / n, "ms"),
        "streaming.trigger_ms": (trigger / n, "ms"),
        "streaming.plan_ms": (plan / n, "ms"),
        "streaming.add_batch_ms": (add / n, "ms"),
        "streaming.log_commit_ms": (log_commit / n, "ms"),
        "streaming.gap_ms": ((wall - trigger) / n, "ms"),
        "streaming.batches_per_chunk": (len(progress) / n, "count"),
        "streaming.data_batch_ratio": (
            sum(1 for p in progress if p["numInputRows"] > 0) / max(len(progress), 1),
            "ratio",
        ),
        "state.instances": (gauge("numStateStoreInstances"), "count"),
        "state.load_ms": (cm("rocksdbLoadLatencyMs") / n, "ms"),
        "state.commit_ms": (st("commitTimeMs") / n, "ms"),
        "state.changelog_sync_ms": (cm("rocksdbChangeLogWriterCommitLatencyMs") / n, "ms"),
        "state.commit_share": (st("commitTimeMs") / run_ms if run_ms else 0.0, "ratio"),
        "state.update_ms": (st("allUpdatesTimeMs") / n, "ms"),
        "state.rows_updated": (st("numRowsUpdated") / n, "count"),
        "state.rows_removed": (st("numRowsRemoved") / n, "count"),
        "state.rows_total": (gauge("numRowsTotal"), "count"),
        "state.memory_bytes": (gauge("memoryUsedBytes"), "bytes"),
        "state.bytes_written": (cm("rocksdbTotalBytesWritten") / n, "bytes"),
        "state.checkpoint_bytes": (checkpoint_bytes, "bytes"),
        "ttl.groups_per_batch": (sum(groups_per_chunk) / n, "count"),
        "trace.coverage": ((offset + plan + add + log_commit) / wall, "ratio"),
    }


def catalog_layers(
    build_s: dict[str, list[float]], exec_s: dict[str, list[float]], pass_s: list[float]
) -> dict[str, tuple[float, str]]:
    """Per-entry medians over the timed passes of the ``QUERIES[name]`` call
    (plan building, eager sub-drains included) and of the action; coverage
    is the share of the passes' wall time inside those two calls."""
    out = {}
    for name in build_s:
        out[f"catalog.{name}.build_s"] = (statistics.median(build_s[name]), "s")
        out[f"catalog.{name}.exec_s"] = (statistics.median(exec_s[name]), "s")
    inside = sum(map(sum, build_s.values())) + sum(map(sum, exec_s.values()))
    out["trace.coverage"] = (inside / sum(pass_s), "ratio")
    return out
