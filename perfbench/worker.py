"""Spark side of one benchmark run.

``run.py`` launches this as ``python3 -m perfbench.worker`` with the
checkout on ``PYTHONPATH`` (the Python workers unpickle the TTL kernel from
the package, so they need it too), the run directory as working directory,
and every scratch path pointed inside the run directory. It writes
``result.json`` there and nothing else outside the run directory.

Load model: one process, one query at a time on ``build_session``'s default
``local[*]`` master, closed loop. The stream workloads keep one chunk in
flight: chunk ``k + 1`` is staged under a hidden name only after chunk
``k``'s ``processAllAvailable()`` returns, and the clock starts at the
rename. ``catalog_batch`` runs its entry list pass after pass.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import check, inputs
from perfbench.trace import (
    PER_LAYER,
    SAMPLED,
    Tracer,
    catalog_layers,
    dir_bytes,
    executor_layers,
    progress_listener,
    stream_layers,
    task_totals,
)

WORKLOADS = ("stream_window_agg", "stream_ttl_state", "catalog_batch")
# Units (chunks or passes) run before timing. The first pays the query's
# code generation and, for the TTL workload, puts every key of the universe.
WARMUP_UNITS = 1
# Timed units whose CPU time rows_per_cpu_s reads (see Clock): as many as
# fit in a quiet 8 s window.
CPU_UNITS = {"stream_window_agg": 3, "stream_ttl_state": 2, "catalog_batch": 3}
# Session set-ups timed on the live JVM after the cold start.
SETUPS = 5
QUERY_NAMES = {"stream_window_agg": "perfbench_window_agg", "stream_ttl_state": "perfbench_ttl_state"}


def proc_stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the parenthesised command name."""
    with open(path) as fh:
        stat = fh.read()
    return stat[stat.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, found by parent pid.

    Process groups do not do: the PySpark daemon puts itself and the Python
    workers it forks in a group of their own."""
    children: dict[int, list[int]] = {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            ppid = int(proc_stat_fields(f"/proc/{d}/stat")[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


# JVM threads whose CPU the work figure leaves out, by name prefix.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
GC_THREADS = ("GC Thread#", "G1 ")


def tree_cpu() -> tuple[float, float, float]:
    """CPU seconds (user and system, reaped children included) used so far
    by this process and its descendants: the Python driver, the JVM, the processes
    the JVM spawns, the PySpark daemon and its Python workers. A child that
    ends is counted in its parent's reaped-children time from then on.

    Returns ``(work, jit, gc)``: the JVM's JIT compiler threads and its
    garbage-collector threads are split out of ``work``. Compilation is
    warm-up work that a long-running query stops paying; it was a fifth of
    a stream run's timed CPU and more than half of a catalog run's, varying
    from run to run. G1's collector threads used from 1 to 8 CPU-seconds
    in catalog runs of the same length, depending on whether humongous
    allocations set off back-to-back concurrent cycles. ``run.py`` starts the JVM with
    a fixed set of compiler threads, so none ends between two reads; G1's
    threads live as long as the JVM.

    A guest is not charged the time the host deschedules its vCPUs, so this
    grows far less than wall time when the host is busy."""
    ticks = {"all": 0, "jit": 0, "gc": 0}
    for pid in descendants(os.getpid()):
        try:
            fields = proc_stat_fields(f"/proc/{pid}/stat")
            ticks["all"] += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    name = fh.read()
                kind = "jit" if name.startswith(JIT_THREADS) else "gc" if name.startswith(GC_THREADS) else None
                if kind is None:
                    continue
                fields = proc_stat_fields(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            ticks[kind] += int(fields[11]) + int(fields[12])
    hz = os.sysconf("SC_CLK_TCK")
    return (ticks["all"] - ticks["jit"] - ticks["gc"]) / hz, ticks["jit"] / hz, ticks["gc"] / hz


class Clock:
    """Times the timed units (chunks or passes).

    The timed loop runs until ``seconds`` of wall time have passed and at
    least ``cpu_units`` units are done. CPU is read over the first
    ``cpu_units`` units only, so ``rows_per_cpu_s`` always covers the same
    work: units get cheaper as the JVM warms up, and a run that fitted one
    more unit into its window would otherwise read cheaper per row."""

    def __init__(self, seconds: float, cpu_units: int):
        self.seconds, self.cpu_units = seconds, cpu_units
        self.lat_s: list[float] = []
        self.rows = 0
        self.started = False

    def start(self, spark) -> None:
        # A full collection first, so every run's timed loop starts from
        # the same heap: what is left of set-up and warm-up otherwise
        # decides how much G1 collects inside the loop.
        spark._jvm.java.lang.System.gc()
        self.started = True
        self.t0, self.cpu0, self.epoch0_ms = time.perf_counter(), tree_cpu(), time.time() * 1e3

    def unit_done(self, took_s: float, rows: int) -> bool:
        """Record one timed unit; True when the loop should stop."""
        self.lat_s.append(took_s)
        self.rows += rows
        if len(self.lat_s) == self.cpu_units:
            self.cpu_rows = self.rows
            self.cpu_s, self.jit_s, self.gc_s = (b - a for a, b in zip(self.cpu0, tree_cpu()))
        elapsed = time.perf_counter() - self.t0
        if elapsed < self.seconds or len(self.lat_s) < self.cpu_units:
            return False
        self.wall_s, self.epoch1_ms = elapsed, time.time() * 1e3
        return True


def _start_query(spark, workload: str, src: str, ckpt: str, tracer: Tracer):
    from pyspark.sql import types as T

    from spark_states_spark.config import TtlConfig
    from spark_states_spark.sources import read_stream
    from spark_states_spark.streaming.writer import state_timeout

    name = QUERY_NAMES[workload]
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    with tracer.span("sources.read_stream"):
        stream = read_stream(spark, src, "events", schema=schema)
    if workload == "stream_window_agg":
        from spark_states_spark.streaming.windows import windowed_counts

        with tracer.span("streaming.windows.windowed_counts"):
            out = windowed_counts(stream, "1 hour", "10 minutes", slide="30 minutes")
        mode, expiry = "update", -1
    else:
        from spark_states_spark.config import STATE_STRICT_EXPIRE
        from spark_states_spark.streaming.queries import _kv_op_select
        from spark_states_spark.streaming.ttl import ttl_kv_ops

        spark.conf.set(STATE_STRICT_EXPIRE, "true")
        with tracer.span("streaming.ttl.ttl_kv_ops"):
            out = ttl_kv_ops(_kv_op_select(stream), TtlConfig(name, inputs.TTL_SECS, strict=True))
        mode, expiry = "append", inputs.TTL_SECS
    with tracer.span("streaming.writer.state_timeout"):
        writer = state_timeout(
            out.writeStream.format("memory").outputMode(mode), spark.conf, name, expiry, ckpt
        )
    with tracer.span("streaming.start"):
        return writer.start()


def _wrong_chunks(spark, workload: str, table_dir: str) -> set[int]:
    rows = spark.table(QUERY_NAMES[workload]).collect()
    if workload == "stream_window_agg":
        return check.wrong_window_chunks(
            check.expected_windows(table_dir), check.final_windows(rows)
        )
    ev = pq.read_table(table_dir, columns=["event_id", "ts", "user_id", "event_type", "value"])
    cols = [ev[c].to_pylist() for c in ("event_id", "user_id", "event_type", "value")]
    ts_us = pc.cast(ev["ts"], "int64").to_pylist()
    ops = check.kv_ops(zip(cols[0], ts_us, cols[1], cols[2], cols[3]))
    expected = check.expected_gets(ops, inputs.TTL_SECS)
    actual = [(r["key"], r["ts_s"], r["found"], r["value"]) for r in rows]
    return check.wrong_get_chunks(expected, actual)


def _stream(spark, workload, seed, trace, run_dir, tracer, clock) -> dict:
    progress: list[dict] = []
    if trace:
        spark.streams.addListener(progress_listener(progress))
    table_dir = os.path.join(run_dir, "src", "events.parquet")
    os.makedirs(table_dir)
    ckpt = os.path.join(run_dir, "checkpoint")
    query = _start_query(spark, workload, os.path.dirname(table_dir), ckpt, tracer)
    make_chunk = inputs.CHUNKS[workload]

    groups, k, first_timed_batch = [], 0, None
    while True:
        timed = k >= WARMUP_UNITS
        if timed and not clock.started:
            clock.start(spark)
            if trace:
                first_timed_batch = query.lastProgress["batchId"] + 1
        table = make_chunk(seed, k)
        staged = inputs.stage_chunk(table, table_dir, k)
        with tracer.span("chunk" if timed else "warmup_chunk"):
            inputs.publish_chunk(staged)
            t = time.perf_counter()
            query.processAllAvailable()
            took = time.perf_counter() - t
        k += 1
        if timed:
            if trace and workload == "stream_ttl_state":
                groups.append(pc.count_distinct(table["user_id"]).as_py())
            if clock.unit_done(took, table.num_rows):
                break
    last_batch = query.lastProgress["batchId"] if trace else None
    query.stop()

    with tracer.span("verify"):
        bad = check.charged_chunks(_wrong_chunks(spark, workload, table_dir), k)
    out = {"attempted": k, "failed": len(bad)}
    if trace:
        # Progress events reach the listener asynchronously.
        deadline = time.time() + 10
        while time.time() < deadline and not any(p["batchId"] == last_batch for p in progress):
            time.sleep(0.05)
        timed_progress = sorted(
            (p for p in progress if first_timed_batch <= p["batchId"] <= last_batch),
            key=lambda p: p["batchId"],
        )
        out["layer_fn"] = lambda run_ms: stream_layers(
            timed_progress, run_ms, [s * 1e3 for s in clock.lat_s], groups or [0], dir_bytes(ckpt)
        )
    return out


def _catalog(spark, seed, sf_dir, table_rows, tracer, clock) -> dict:
    from spark_states_spark.catalog import ORACLES, QUERIES, clear_shared_memos

    names = list(inputs.CATALOG_ENTRIES)
    order = inputs.catalog_order(seed)
    rows_per_pass = sum(table_rows[t] for n in names for t in inputs.CATALOG_ENTRIES[n])
    results, build_s, exec_s = [], {n: [] for n in names}, {n: [] for n in names}
    p = 0
    while True:
        timed = p >= WARMUP_UNITS
        if timed and not clock.started:
            clock.start(spark)
        t = time.perf_counter()
        with tracer.span("pass" if timed else "warmup_pass"):
            for name in order:
                # As the repository's bench does before each entry: no cached
                # data, no loaded state providers, no memo of the entry's own.
                spark.catalog.clearCache()
                spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
                clear_shared_memos(name)
                t0 = time.perf_counter()
                with tracer.span(f"catalog.{name}.build"):
                    df = QUERIES[name](spark, sf_dir)
                t1 = time.perf_counter()
                with tracer.span(f"catalog.{name}.exec"):
                    rows = df.collect()
                t2 = time.perf_counter()
                results.append((name, df.columns, rows))
                if timed:
                    build_s[name].append(t1 - t0)
                    exec_s[name].append(t2 - t1)
        took = time.perf_counter() - t
        p += 1
        if timed and clock.unit_done(took, rows_per_pass):
            break

    with tracer.span("verify"):
        expected = check.oracle_digests(sf_dir, {n: ORACLES[n] for n in names})
        failed = sum(check.digest(cols, rows) != expected[n] for n, cols, rows in results)
    return {
        "attempted": len(results),
        "failed": failed,
        "layer_fn": lambda _run_ms: catalog_layers(build_s, exec_s, clock.lat_s),
    }


def run(workload: str, seed: int, seconds: float, trace: bool, t0: float, run_dir: str) -> dict:
    from spark_states_spark.session import build_session

    tracer = Tracer(trace)
    if workload == "catalog_batch":
        sf_dir = os.path.join(run_dir, "tables")
        table_rows = inputs.write_catalog_tables(seed, sf_dir)
        probe = os.path.join(sf_dir, "lineitem.parquet")
    else:
        probe = os.path.join(run_dir, "probe.parquet")
        pq.write_table(inputs.CHUNKS[workload](seed, 0), probe)
    evlog = os.path.join(run_dir, "eventlog")
    conf = None
    if trace:
        os.makedirs(evlog)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evlog,
            "spark.eventLog.compress": "false",
        }

    # Set-up: one cold start (process start through the first action), then
    # SETUPS stop-and-rebuild cycles on the live JVM. setup_s is the median
    # of their work CPU time (``tree_cpu``), which the host's bursts move
    # far less than their wall time; the wall times are per-layer metrics.
    spark, builds, firsts, setup_cpu = None, [], [], []
    for i in range(1 + SETUPS):
        cpu = tree_cpu()[0]
        if spark is not None:
            spark.stop()
        with tracer.span("session.build_session"):
            t = time.perf_counter()
            spark = build_session(app_name="perfbench", extra_conf=conf)
            t_built = time.perf_counter()
        with tracer.span("session.first_action"):
            spark.read.parquet(probe).count()
            t_first = time.perf_counter()
        if i == 0:
            cold_s = time.time() - t0
        else:
            builds.append(t_built - t)
            firsts.append(t_first - t_built)
            setup_cpu.append(tree_cpu()[0] - cpu)

    clock = Clock(seconds, CPU_UNITS[workload])
    if workload == "catalog_batch":
        out = _catalog(spark, seed, sf_dir, table_rows, tracer, clock)
    else:
        out = _stream(spark, workload, seed, trace, run_dir, tracer, clock)
    lat_s = clock.lat_s
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "unit_ms": [s * 1e3 for s in lat_s],
        "metrics": {
            "setup_s": statistics.median(setup_cpu),
            "batch_p50_ms": statistics.median(lat_s) * 1e3,
            "rows_per_s": clock.rows / clock.wall_s,
            "rows_per_cpu_s": clock.cpu_rows / clock.cpu_s,
        },
    }
    if trace:
        spark.stop()  # flushes the event log
        spark = None
        tasks = task_totals(evlog, clock.epoch0_ms, clock.epoch1_ms)
        layers = {name: 0.0 for name, _unit in PER_LAYER if name not in SAMPLED}
        for name, (value, _unit) in [
            *executor_layers(tasks, len(lat_s)).items(),
            *out["layer_fn"](tasks["run_ms"]).items(),
        ]:
            layers[name] = value
        layers.update({f"trace.{name}": value for name, value in result["metrics"].items()})
        layers["session.build_s"] = statistics.median(builds)
        layers["session.warmup_s"] = statistics.median(firsts)
        layers["session.cold_start_s"] = cold_s
        layers["trace.samples"] = len(lat_s)
        layers["jvm.jit_cpu_s"] = clock.jit_s / clock.cpu_units
        layers["jvm.gc_cpu_s"] = clock.gc_s / clock.cpu_units
        result["layers"] = layers
        result["spans"] = tracer.spans
    if spark is not None:
        spark.stop()
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the run started")
    args = ap.parse_args(argv)
    run_dir = os.getcwd()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.t0, run_dir)
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
