"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_window_agg --seed 1 --seconds 8 --trace 0

Runs one workload in a child process (``perfbench.worker``) and prints one
JSON line as the last line of stdout: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` they are the per-layer ones, including the memory of the
worker's process tree (Python driver, JVM, Python workers) sampled from
``/proc``; the spans and per-unit latencies go to ``.perfbench/traces``.

Everything the run writes lives under ``.perfbench/`` in the checkout; the
per-run directory is removed on exit, failure included.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import PER_LAYER  # noqa: E402
from perfbench.worker import WORKLOADS, descendants, proc_stat_fields  # noqa: E402

WORKER_TIMEOUT_S = 170
END_TO_END = {"setup_s": "s", "rows_per_cpu_s": "rows/cpu-s"}
MEM_INTERVAL_S = 0.5
PR_SET_CHILD_SUBREAPER = 36


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _ppid(pid: int) -> int:
    try:
        return int(proc_stat_fields(f"/proc/{pid}/stat")[1])
    except (OSError, ValueError, IndexError):
        return 0


def _memory_pids(root: int) -> list[int]:
    """``root``'s process tree, less JVM children that have not exec'd yet.

    Hadoop's local file system runs ``chmod`` and ``readlink`` as child
    processes for the state store's checkpoint files, several per commit.
    Until its exec such a child shares or copies the JVM's memory, and
    counting it added up to a whole heap to the peak at random moments. A
    process whose executable cannot be read is mid-exec or exiting and is
    skipped too. Python workers forked by the PySpark daemon are kept."""
    keep = []
    for pid in descendants(root):
        exe = _exe(pid)
        if exe and not (exe.endswith("/java") and _exe(_ppid(pid)).endswith("/java")):
            keep.append(pid)
    return keep


def _pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: a page shared by n processes counts
    1/n in each, so the daemon's forked Python workers do not count the
    pages they share with the daemon again, as summed RSS would."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            pass
    return total


class MemSampler(threading.Thread):
    """Summed PSS of one process tree, sampled every MEM_INTERVAL_S.

    ``median_mb`` is the median over the samples. ``peak_mb`` is the highest
    level held over two samples in a row, so a process caught for one
    sample in the middle of a fork does not set it. The JVM's committed heap
    sometimes grows to more than twice its usual size late in a run, which
    moves the peak but hardly the median."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root = root
        self.samples: list[int] = []
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(MEM_INTERVAL_S):
            self.samples.append(_pss_bytes(_memory_pids(self.root)))

    def stop(self) -> None:
        self._halt.set()
        self.join()

    @property
    def median_mb(self) -> float:
        return statistics.median(self.samples) / (1 << 20)

    @property
    def peak_mb(self) -> float:
        pairs = zip(self.samples, self.samples[1:])
        return max((min(a, b) for a, b in pairs), default=0) / (1 << 20)


def _reap() -> None:
    """Kill every process below this one and wait for each to end.

    This process is a child subreaper (``main`` makes it one), so what the
    worker leaves behind when it exits, the PySpark daemon among it, is
    re-parented here rather than to init."""
    me, deadline = os.getpid(), time.time() + 10
    while time.time() < deadline:
        left = [pid for pid in descendants(me) if pid != me]
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        if not left:
            return
        time.sleep(0.05)


def _worker_env(run_dir: str) -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    tmp = os.path.join(run_dir, "tmp")
    env["TMPDIR"] = tmp
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    env["SPARK_GRAFT_EPHEMERAL_DIR"] = os.path.join(run_dir, "ephemeral")
    # A fixed set of JIT compiler threads, started with the JVM: the CPU
    # figure leaves them out, which is only exact if none ends mid-run.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    env["JAVA_TOOL_OPTIONS"] = " ".join(p for p in (env.get("JAVA_TOOL_OPTIONS"), java_opts) if p)
    return env


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    # A caller that stops the benchmark with SIGTERM still gets the worker's
    # processes killed and the run directory removed.
    signal.signal(signal.SIGTERM, _terminate)
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_states_spark", "session.py")):
        print(f"perfbench: no spark_states_spark package under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log_path = os.path.join(run_dir, "worker.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            t0 = time.time()
            proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace), "--t0", repr(t0)],
                cwd=run_dir, env=_worker_env(run_dir), stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
            sampler = MemSampler(proc.pid) if args.trace else None
            if sampler:
                sampler.start()
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            if sampler:
                sampler.stop()
        if rc != 0:
            with open(log_path) as fh:
                tail = fh.readlines()[-40:]
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: worker {why}; log tail:\n" + "".join(tail), file=sys.stderr)
            return 1
        with open(os.path.join(run_dir, "result.json")) as fh:
            result = json.load(fh)
    finally:
        if proc is not None:
            _reap()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        values = dict(result["layers"], **{"trace.mem_p50_mb": sampler.median_mb,
                                           "trace.peak_pss_mb": sampler.peak_mb})
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({k: result[k] for k in ("spans", "unit_ms", "layers")}, fh, indent=1)
    else:
        metrics = {n: {"value": result["metrics"][n], "unit": u} for n, u in END_TO_END.items()}
    print(f"perfbench: timed unit ms {[round(ms) for ms in result['unit_ms']]}", file=sys.stderr)
    line = {k: result[k] for k in ("correct", "attempted", "failed")}
    line["metrics"] = metrics
    print(json.dumps(line))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
