"""Lakehouse benchmark for the iceberg_demo_spark engine.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Workloads: olap_read, dml_mixed, pipeline_batch (``all`` runs the three
in turn). Each run happens in a fresh child process with its own run
directory under ``.perfbench_runs/`` in the checkout: generated input
data, warehouse, TMPDIR (so the engine's scratch root is rebuilt) and
Spark local dir. The directory is deleted when the run ends, and the
child's whole process group is killed and reaped.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The exit code is non-zero when any answer was wrong or the run failed.
See ``perfbench/README.md``.
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

import hostspeed

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap_read", "dml_mixed", "pipeline_batch")
#: a run must end well inside the 180 s a benchmark run may take
CHILD_TIMEOUT_S = 170


def group_alive(pgid: int) -> bool:
    """True while a process of the group, zombies aside, still runs."""
    for pid in os.listdir("/proc"):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def run_one(workload: str, args) -> tuple[int, str | None]:
    """Run one workload in a child process; returns (exit code, result
    line or None)."""
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # every temp file of the run, the JVM's included, stays in run_dir; a
    # fixed set of JIT compiler threads (see runner.cpu_seconds); a 1 GB
    # heap, ample at these scales, instead of the engine's 48 GB default,
    # with which the heap, and so the RSS, grows with GC timing
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=local, TZ="UTC",
               JAVA_TOOL_OPTIONS=(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                  "-XX:-UseDynamicNumberOfCompilerThreads"),
               SPARK_GRAFT_CPUS=str(os.cpu_count() or 4),
               SPARK_GRAFT_DRIVER_MEM="1g", PYTHONHASHSEED="0")
    cmd = [sys.executable, os.path.join(HERE, "runner.py"),
           "--workload", workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir]
    if args.inject_fault:
        cmd.append("--inject-fault")
    log_path = os.path.join(run_dir, "child.log")
    proc = None
    stop = threading.Event()
    sampler = threading.Thread(target=hostspeed.sample, daemon=True, args=(
        os.path.join(run_dir, "hostspeed.txt"), stop))
    sampler.start()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.communicate()
                print(f"perfbench: {workload} timed out", file=sys.stderr)
                return 124, None
        lines = [ln for ln in out.splitlines() if ln.strip()]
        for ln in lines[:-1]:
            print(ln)
        result = lines[-1] if lines else None
        if proc.returncode != 0:
            with open(log_path) as fh:
                sys.stderr.write("".join(
                    ln for ln in fh.readlines()[-40:] if not ln.startswith('{"ts"')))
        if result is None or not result.startswith('{"correct"'):
            return proc.returncode or 1, None
        return proc.returncode, result
    finally:
        if proc is not None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            # the JVM and its Python workers write to run_dir until they end
            deadline = time.monotonic() + 30
            while group_alive(proc.pid) and time.monotonic() < deadline:
                time.sleep(0.1)
        stop.set()
        sampler.join()
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one answer before it is checked (self-test)")
    args = ap.parse_args()
    # a terminated run still kills its child and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "iceberg_demo_spark", "engine.py")):
        print("perfbench: the iceberg_demo_spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    if args.workload != "all":
        code, result = run_one(args.workload, args)
        if result is not None:
            print(result)
        return code if code or result else 1
    results, worst = {}, 0
    for w in WORKLOADS:
        code, result = run_one(w, args)
        worst = worst or code or (result is None)
        results[w] = json.loads(result) if result else None
    print(json.dumps(results))
    return int(worst)


if __name__ == "__main__":
    sys.exit(main())
