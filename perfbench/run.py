"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. This process writes the workload's corpus if it
is not cached, then runs the engine in a fresh worker process (and so a fresh
JVM), ``perfbench/worker.py``. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``, each metric with the
unit ``BENCHMARK.json`` declares for it. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones; among those is the peak resident
memory of the worker's whole process tree (the worker, its JVM and the JVM's
Python UDF workers) during the measure window, which this process samples
from ``/proc``. A workload reports 0 for the per-layer metrics of layers it
does not run: the stages, pipeline, funnel, hot-key and tracing figures
belong to ``run_dedup``, the ``stream.*`` ones to the incremental path.

Inputs are cached in ``.perfbench_cache/``; scratch
files (stage tables, event logs, Spark local dirs) live in
``.perfbench_work/`` and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procfs, workloads  # noqa: E402

# a run must end within 180 s; reaping the tree may take up to 10 s more
WORKER_TIMEOUT_S = 150
SAMPLE_EVERY_S = 0.1
CORES = min(4, len(os.sched_getaffinity(0)))
# the session's default driver heap (48g) does not fit a 15 GB machine
DRIVER_MEM = "3g"
# per-layer metric prefixes of the layers only one kind of workload runs
STREAM_ONLY = ("stream.",)
BATCH_ONLY = ("docs.", "signatures.", "pairs_", "hot_band_drops.",
              "overlap_fps.", "dup_pairs.", "clusters.", "pipeline.",
              "funnel.", "hot.", "trace.")


class RssSampler(threading.Thread):
    """Polls the worker's process tree; keeps the peak summed RSS seen while
    the worker is inside its measure window, and every member ever seen."""

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.members: dict[int, str] = {}
        self.measuring = False
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(SAMPLE_EVERY_S):
            members = procfs.tree(self.root_pid)
            self.members.update(members)
            if self.measuring:
                self.peak = max(self.peak, procfs.rss_bytes(members))

    def stop(self) -> None:
        self._done.set()
        self.join()


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _reap(members: dict[int, str], grace_s: float = 10.0) -> None:
    """Wait until every process of the worker's tree has ended; kill what is
    left after the grace period."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline:
        if not any(procfs.alive(p, s) for p, s in members.items()):
            return
        time.sleep(0.1)
    for pid, start in members.items():
        if procfs.alive(pid, start):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(procfs.alive(p, s) for p, s in members.items()):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "lsh_cascade_poc_spark", "pipeline.py")):
        print("perfbench: run from a checkout of the repository (the "
              "lsh_cascade_poc_spark package is missing)", file=sys.stderr)
        return 2
    declared = _declared()
    if args.workload not in {w["name"] for w in declared["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if args.trace else "end_to_end"]}

    cache_dir = os.path.join(ROOT, ".perfbench_cache")
    work_dir = os.path.join(ROOT, ".perfbench_work",
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(cache_dir, exist_ok=True)
    os.makedirs(work_dir, exist_ok=True)
    env = dict(os.environ)
    # Python UDF workers import the engine too, from any cwd
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # keep every temporary file inside the checkout: Python's tempfile, the
    # JVM's java.io.tmpdir, and no hsperfdata file in /tmp
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if p)

    corpus = workloads.ensure_corpus(cache_dir, args.workload, args.seed)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--corpus", corpus, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(CORES),
           "--work-dir", work_dir]
    result = None
    with open(os.path.join(work_dir, "worker.log"), "w+", encoding="utf-8") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        timer = threading.Timer(WORKER_TIMEOUT_S, proc.kill)
        timer.start()
        try:
            for line in proc.stdout:
                line = line.strip()
                if line == "@measure-start":
                    sampler.measuring = True
                elif line == "@measure-end":
                    sampler.measuring = False
                elif line.startswith("{"):
                    result = json.loads(line)
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            sampler.stop()
            _reap(sampler.members)
        if rc != 0 or result is None:
            log.seek(0)
            sys.stderr.write(log.read()[-4000:])
            print(f"perfbench: worker exited with code {rc}", file=sys.stderr)
    shutil.rmtree(work_dir, ignore_errors=True)
    if rc != 0 or result is None:
        return 1

    metrics = result["metrics"]
    if args.trace:
        metrics["memory.peak_rss_mb"] = sampler.peak / 2**20
        not_run = STREAM_ONLY if args.workload.startswith("batch") else BATCH_ONLY
        for name in units:
            if name.startswith(not_run):
                metrics.setdefault(name, 0.0)
    if set(metrics) != set(units):
        print(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} "
              "differ from BENCHMARK.json", file=sys.stderr)
        return 1
    print(json.dumps(result.get("info", {})), file=sys.stderr)
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in sorted(metrics.items())},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
