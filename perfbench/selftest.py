"""Self-test of the benchmark (every workload runs at scale factor 0.001).

    python3 perfbench/selftest.py

Checks, for every workload (the two in BENCHMARK.json and olap_read):

* a ``--trace 0`` run prints every end-to-end metric of BENCHMARK.json
  with its unit, and a ``--trace 1`` run every per-layer metric;
* both runs exit 0 and report ``correct: true``;

and then that a deliberately wrong answer (``--inject-fault``) is caught:
non-zero exit, ``correct: false``, ``failed`` at least 1; and that in a
directory holding only BENCHMARK.json and perfbench/ the benchmark exits
non-zero without printing a result. Takes about ten minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int, *extra: str):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "10",
         "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    result = None
    if lines and lines[-1].startswith('{"correct"'):
        result = json.loads(lines[-1])
    return proc.returncode, result, proc.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems: list[str] = []
    workloads = [w["name"] for w in bench["workloads"]] + ["olap_read"]
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, result, err = run(ROOT, w, trace)
            if code != 0 or result is None or not result["correct"]:
                problems.append(f"{w} trace={trace}: exit {code}, result "
                                f"{result}\n{err[-2000:]}")
                continue
            for m in bench[key]:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={trace}: {m['name']} "
                                    f"missing or wrong unit: {got}")
            extra = set(result["metrics"]) - {m["name"] for m in bench[key]}
            if extra:
                problems.append(f"{w} trace={trace}: unlisted {sorted(extra)}")
            print(f"ok {w} trace={trace}", flush=True)

    code, result, _ = run(ROOT, "pipeline_batch", 0, "--inject-fault")
    if code == 0 or result is None or result["correct"] or result["failed"] < 1:
        problems.append(f"injected fault not caught: exit {code}, {result}")
    else:
        print("ok injected fault caught", flush=True)

    bare = os.path.join(ROOT, ".perfbench_runs", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, result, _ = run(bare, "dml_mixed", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or result is not None:
        problems.append(f"bare directory: exit {code}, result {result}")
    else:
        print("ok bare directory refused", flush=True)

    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
