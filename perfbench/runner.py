"""One benchmark run in a fresh process (started by ``run.py``, which
gives it a private run directory, TMPDIR and Spark local dir and deletes
them afterwards).

Prints one ``{"detail": …}`` line with every end-to-end figure the run
can support, then the result line the benchmark contract asks for.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import hostspeed  # noqa: E402
import spans as tr  # noqa: E402
from check import Mirror, load_oracle_checker  # noqa: E402
from workloads import GATES, WORKLOADS, Op  # noqa: E402

def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it. Runs do
    a fixed amount of work, so the sample count (and the percentile) is
    the same on every run of a workload."""
    n = len(values)
    if n < 20:
        return {"value": None, "samples": n,
                "reason": "fewer than 20 samples: no percentile above the "
                          "median has 10 beyond it"}
    p = 1 - 10 / n
    return {"value": float(np.quantile(values, p)), "percentile": p,
            "samples": n, "beyond": 10}


def process_tree() -> list[int]:
    """This process and all its descendants (the JVM, Python workers)."""
    pids, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    stack += [int(c) for c in fh.read().split()]
            except OSError:
                pass
    return pids


def peak_rss_mb() -> float:
    """Sum of VmHWM over the process tree."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


#: JVM just-in-time compiler threads (names as /proc truncates them):
#: their work depends on how warm the JVM is, not on the operation.
#: ``run.py`` starts the JVM with a fixed number of them, so none exits.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def cpu_seconds() -> float:
    """User + system CPU seconds of the process tree, JIT compiler threads
    left out. Each process's own counters include its threads that have
    exited, and the children it has reaped (exited Python workers); the
    kernel charges the time a hypervisor steals to no one, so on a shared
    host this moves much less than wall time does."""
    ticks = 0
    for pid in process_tree():
        try:
            f = _stat_fields(f"/proc/{pid}/stat")
            # utime, stime, cutime, cstime
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, IndexError):
            continue
        for tid in tids:
            base = f"/proc/{pid}/task/{tid}"
            try:
                with open(f"{base}/comm") as fh:
                    if not fh.read().startswith(_JIT_THREADS):
                        continue
                f = _stat_fields(f"{base}/stat")
                ticks -= int(f[11]) + int(f[12])
            except (OSError, IndexError):
                continue
    return ticks / _TICK


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Context:
    def __init__(self, args):
        self.args = args
        self.run_dir = args.run_dir
        self.data_dir = os.path.join(args.run_dir, "data")
        self.warehouse = os.path.join(args.run_dir, "warehouse")
        self.rng = np.random.default_rng(args.seed)
        self.setup_wall_s = 0.0
        #: (phase, CPU seconds, monotonic start, end) of each setup step
        self.setup_steps: list[tuple[str, float, float, float]] = []
        self.setup_phases: dict[str, float] = {}
        self.checks: list[tuple[str, bool]] = []
        self.mirror = Mirror()
        self.spark = self.eng = None
        self.tracer = tr.Tracer()
        self.mv_create_s = 0.0

    def timed_setup(self, fn, phase: str = "build"):
        cpu0, t0 = cpu_seconds(), time.monotonic()
        try:
            return fn()
        finally:
            self.add_setup(phase, cpu_seconds() - cpu0, t0, time.monotonic())

    def add_setup(self, phase: str, cpu: float, t0: float, t1: float) -> None:
        """One setup step: its CPU seconds and monotonic start and end."""
        self.setup_wall_s += t1 - t0
        self.setup_steps.append((phase, cpu, t0, t1))
        self.setup_phases[phase] = self.setup_phases.get(phase, 0.0) + t1 - t0

    def create_mv(self, name: str, query: str) -> None:
        t0 = time.perf_counter()
        self.timed_setup(lambda: self.eng.sql(
            f"CREATE MATERIALIZED VIEW {name} AS {query}"))
        self.mv_create_s += time.perf_counter() - t0

    def record_check(self, name: str, ok: bool) -> None:
        self.checks.append((name, ok))
        if not ok:
            print(f"perfbench: check failed: {name}", file=sys.stderr)

    def oracle_normalizer(self):
        return load_oracle_checker(ROOT)


class Recorder:
    """Timed operations and their outcomes."""

    def __init__(self, ctx: Context, inject_fault: bool):
        self.ctx = ctx
        self.samples: list[dict] = []
        self.failed = 0
        self.inject_fault = inject_fault
        self.wh_files = dir_files(ctx.warehouse)
        self.bytes_written = 0
        self.user_bytes = 0.0
        self.check_s = 0.0  # untimed: drawing keys, the mirror, checks

    def run(self, op: Op, timed: bool, traced: bool,
            row_bytes: dict) -> tuple[float, float, float]:
        """Run, time and check one operation; returns its CPU seconds and
        monotonic start and end."""
        ctx, tracer = self.ctx, self.ctx.tracer
        sc = ctx.spark.sparkContext
        c0 = time.perf_counter()
        if op.prepare:
            op.prepare()
        self.check_s += time.perf_counter() - c0
        op_id = len(self.samples)
        if traced:
            sc.setJobGroup(f"op-{op_id}", op.category)
            tracer.op_id, tracer.enabled = op_id, True
        cpu0 = cpu_seconds()
        t0 = time.monotonic()
        try:
            result, error = op.run(), None
        except Exception:  # noqa: BLE001 — a failed operation is counted
            result, error = None, traceback.format_exc()
        t1 = time.monotonic()
        cpu = cpu_seconds() - cpu0
        tracer.enabled, tracer.op_id = False, None
        sc.setJobGroup("idle", "between operations")
        ok = error is None
        changed = 0
        c0 = time.perf_counter()
        if ok:
            try:
                if op.mirror:
                    changed = op.mirror()
                if self.inject_fault and op.category in ("read", "gate"):
                    self.inject_fault = False
                    result = _corrupt(result)
                ok = bool(op.verify(result))
            except Exception:  # noqa: BLE001
                ok, error = False, traceback.format_exc()
        self.check_s += time.perf_counter() - c0
        if not ok:
            self.failed += 1
            print(f"perfbench: {op.kind} failed"
                  + (f":\n{error}" if error else " (wrong result)"),
                  file=sys.stderr)
        if not timed:
            return cpu, t0, t1
        sample = {"kind": op.kind, "category": op.category, "s": t1 - t0,
                  "cpu_s": cpu, "t0": t0, "t1": t1, "ok": ok, "traced": traced}
        if traced:
            st = sc.statusTracker()
            jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(f"op-{op_id}")]
            stages = [s for j in jobs if j for s in j.stageIds]
            infos = [st.getStageInfo(s) for s in stages]
            sample.update(jobs=len(jobs), stages=len(stages),
                          tasks=sum(i.numTasks for i in infos if i))
        if op.category in ("write", "maintenance"):
            now = dir_files(ctx.warehouse)
            self.bytes_written += sum(
                size for p, size in now.items()
                if p not in self.wh_files or size != self.wh_files[p])
            self.wh_files = now
            if changed:
                self.user_bytes += changed * row_bytes.get(op.meta.get("table"), 0)
        self.samples.append(sample)
        return cpu, t0, t1


def _corrupt(result):
    """A deliberately wrong answer, for the self-test."""
    if isinstance(result, list) and result:
        row = list(result[0])
        row[-1] = (row[-1] or 0) + 1 if isinstance(row[-1], (int, float)) else "x"
        return [tuple(row)] + result[1:]
    if isinstance(result, int):
        return result + 1
    return ["unexpected"]


def live_bytes(eng) -> tuple[int, dict]:
    """Bytes of every table's live data and delete files, and bytes per
    live row of each table."""
    total, per_row = 0, {}
    for ns in eng.catalog.list_databases():
        for name in eng.catalog.list_tables(ns):
            full = name if "." in name else f"{ns}.{name}"
            snap = eng.catalog.load_table(full).metadata.current_snapshot()
            if snap is None:
                continue
            data = sum(f.bytes for f in snap.files)
            total += data + sum(d.bytes for d in snap.delete_files)
            rows = sum(f.records for f in snap.files)
            per_row[full] = data / rows if rows else 0.0
    return total, per_row


def summarize(samples: list[dict], speed: hostspeed.Speed) -> dict:
    lat = [s["s"] for s in samples]
    by_cat = defaultdict(list)
    for s in samples:
        by_cat[s["category"]].append(s["s"])
    cpu = [s["cpu_s"] for s in samples]
    cpu_norm = [speed.scale(s["cpu_s"], s["t0"], s["t1"]) for s in samples]
    out = {"ops": len(samples), "busy_s": sum(lat),
           "cpu_s_per_op": sum(cpu_norm) / len(cpu),
           "cpu_s_per_op_raw": sum(cpu) / len(cpu),
           "op_cpu_p50_s": statistics.median(cpu),
           "ops_per_s": len(lat) / sum(lat), "op_p50_s": statistics.median(lat),
           "op_tail": tail(lat)}
    by_kind = defaultdict(list)
    for s in samples:
        by_kind[s["kind"]].append(s["s"])
    out["kind_p50_s"] = {k: statistics.median(v) for k, v in sorted(by_kind.items())}
    cpu_kind = defaultdict(list)
    for s in samples:
        cpu_kind[s["kind"]].append(s["cpu_s"])
    out["kind_cpu_p50_s"] = {k: statistics.median(v) for k, v in sorted(cpu_kind.items())}
    for cat, vals in sorted(by_cat.items()):
        out[f"{cat}_p50_s"] = statistics.median(vals)
        out[f"{cat}_tail"] = tail(vals)
    return out


def layer_metrics(ctx: Context, rec: Recorder, get_spark_s: float,
                  gates: tuple[str, ...]) -> dict:
    """Per-layer figures from the traced operations (see README.md)."""
    tracer = ctx.tracer
    traced = [s for s in rec.samples if s["traced"]]
    n_ops = max(len(traced), 1)
    spans = [s for s in tracer.spans if s["op"] is not None]
    c = tracer.counts

    def mean(vals):
        vals = list(vals)
        return sum(vals) / len(vals) if vals else 0.0

    def dur(name, pred=lambda s: True):
        return [s["end"] - s["start"] for s in spans
                if s["name"] == name and pred(s)]

    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (get_spark_s, "s")
    loads = [s for s in spans if s["name"] == "sources.load_tables"]
    m["sources.load_tables_s"] = (mean(dur("sources.load_tables")), "s")
    m["sources.load_tables_calls"] = (len(loads) / n_ops, "count/op")
    top_sql = [(i, s) for i, s in enumerate(tracer.spans)
               if s["name"] == "engine.sql" and s["op"] is not None
               and not tracer.under(s, "engine.sql")]
    for kind in ("select", "insert", "delete", "update", "merge", "refresh",
                 "call"):
        m[f"engine.sql_s.{kind}"] = (mean(
            s["end"] - s["start"] for _, s in top_sql if s["kind"] == kind), "s")
    m["engine.sql_self_s"] = (mean(
        tracer.self_time(i, ("mv.", "tables.")) for i, _ in top_sql), "s")
    m["mv.try_rewrite_s"] = (mean(dur("mv.try_rewrite")), "s")
    selects = [s for _, s in top_sql if s["kind"] == "select"]
    m["mv.rewrite_hit_ratio"] = (
        sum(1 for s in selects if s.get("hit")) / len(selects)
        if selects else 0.0, "ratio")
    refreshes = [s for s in spans if s["name"] == "mv.refresh"]
    for mode in ("delta", "incremental", "full"):
        m[f"mv.refresh_s.{mode}"] = (mean(
            s["end"] - s["start"] for s in refreshes if s.get("mode") == mode), "s")
    m["mv.refresh_fallback_ratio"] = (
        sum(1 for s in refreshes if s.get("fallback")) / len(refreshes)
        if refreshes else 0.0, "ratio")
    m["mv.create_s"] = (ctx.mv_create_s, "s")
    n_loads = len(dur("tables.metadata_load"))
    m["tables.metadata_load_s"] = (mean(dur("tables.metadata_load")), "s")
    m["tables.metadata_loads_per_op"] = (n_loads / n_ops, "count/op")
    m["tables.metadata_json_bytes"] = (
        c["tables.metadata_json_bytes"] / n_loads if n_loads else 0.0, "B")
    m["tables.scan_s"] = (mean(dur("tables.scan")), "s")
    scans = len(dur("tables.scan"))
    pruned = c["tables.pruned_scans"]
    m["tables.files_per_scan"] = (
        c["tables.scan_files_kept"] / pruned if pruned else 0.0, "count")
    m["tables.files_pruned_ratio"] = (
        1 - c["tables.scan_files_kept"] / c["tables.scan_files_total"]
        if c["tables.scan_files_total"] else 0.0, "ratio")
    m["tables.scans_per_op"] = (scans / n_ops, "count/op")
    for kind in ("append", "delete_where", "update_where", "merge"):
        m[f"tables.dml_s.{kind}"] = (mean(dur(f"tables.dml.{kind}")), "s")
    m["tables.commit_s"] = (mean(dur("tables.commit")), "s")
    m["tables.manifest_write_s"] = (mean(dur("tables.manifest_write")), "s")
    m["tables.files_rewritten_per_write"] = (
        c["tables.files_rewritten"] / c["tables.writes"]
        if c["tables.writes"] else 0.0, "count")
    m["tables.data_bytes_written"] = (c["tables.data_bytes_written"], "B")
    m["tables.metadata_bytes_written"] = (c["tables.metadata_bytes_written"], "B")
    m["tables.metadata_versions"] = (ctx.end_state["metadata_versions"], "count")
    m["tables.snapshots_live"] = (ctx.end_state["snapshots_live"], "count")
    m["tables.maintenance_s"] = (mean(dur("tables.maintenance")), "s")
    m["tables.write_amp"] = (ctx.end_state["write_amp"] or 0.0, "ratio")
    m["tables.space_amp"] = (ctx.end_state["space_amp"] or 0.0, "ratio")
    for g in gates:
        m[f"operators.{g}_s"] = (mean(
            s["s"] for s in traced if s["kind"] == g), "s")
    releases = dur("cache.release_pins")
    m["cache.release_s"] = (mean(releases), "s")
    gate_ops = [s for s in traced if s["category"] == "gate"]
    m["cache.pins_per_gate"] = (
        sum(s.get("pins", 0) for s in spans if s["name"] == "cache.release_pins")
        / len(gate_ops) if gate_ops else 0.0, "count")
    for cat in ("read", "write", "mv_refresh", "maintenance", "gate"):
        ops = [s for s in traced if s["category"] == cat]
        for what in ("jobs", "stages", "tasks"):
            m[f"spark.{what}_per_op.{cat}"] = (
                mean(s[what] for s in ops), "count/op")
    for cat in ("read", "write", "mv_refresh", "gate"):
        m[f"op.{cat}_p50_s"] = (statistics.median(
            [s["s"] for s in traced if s["category"] == cat] or [0.0]), "s")
    return m


def event_log_metrics(ctx: Context, rec: Recorder, m: dict) -> None:
    log_path = tr.find_event_log(os.path.join(ctx.run_dir, "eventlog"))
    traced = [s for s in rec.samples if s["traced"]]
    n_ops = max(len(traced), 1)
    if log_path is None:
        raise RuntimeError("no single Spark event log was written")
    ev = tr.EventLog(log_path)
    in_jobs = [ev.in_jobs_s(f"op-{i}") for i, s in enumerate(rec.samples)
               if s["traced"]]
    busy = sum(s["s"] for s in traced)
    m["spark.in_jobs_s"] = (sum(in_jobs) / n_ops, "s")
    m["driver.outside_jobs_share"] = (
        1 - sum(in_jobs) / busy if busy else 0.0, "ratio")
    groups = [f"op-{i}" for i, s in enumerate(rec.samples) if s["traced"]]
    for key, unit in (("shuffle_bytes", "B"), ("spill_bytes", "B"),
                      ("gc_s", "s"), ("executor_run_s", "s")):
        m[f"spark.{key}"] = (sum(ev.group_tasks[g][key] for g in groups)
                             / n_ops, unit + "/op")
    loads = [s for s in ctx.tracer.spans if s["name"] == "sources.load_tables"
             and s["op"] is not None]
    m["sources.load_tables_jobs"] = (
        sum(ev.jobs_between(s["start"], s["end"]) for s in loads) / len(loads)
        if loads else 0.0, "count")


def overhead_ratio(samples: list[dict]) -> float:
    """Traced ÷ untraced throughput over the operation kinds run both
    ways (same mix on both sides)."""
    by = defaultdict(lambda: {True: [], False: []})
    for s in samples:
        by[s["kind"]][s["traced"]].append(s["s"])
    t_on = t_off = 0.0
    for kind, d in by.items():
        if d[True] and d[False]:
            n = len(d[True]) + len(d[False])
            t_on += n * statistics.mean(d[True])
            t_off += n * statistics.mean(d[False])
    return t_off / t_on if t_on else 1.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--inject-fault", action="store_true")
    args = ap.parse_args()
    traced_run = bool(args.trace)

    ctx = Context(args)
    wl = WORKLOADS[args.workload](ctx)
    datagen.generate(ctx.data_dir, args.seed, wl.sf)

    def load_engine():
        from iceberg_demo_spark import registry
        from iceberg_demo_spark.engine import Engine
        from iceberg_demo_spark.session import get_spark
        registry.load_all()
        return Engine, get_spark

    Engine, get_spark = ctx.timed_setup(load_engine, "import")
    extra = {"spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "spark-warehouse")}
    if traced_run:
        log_dir = os.path.join(ctx.run_dir, "eventlog")
        os.makedirs(log_dir)
        extra |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + log_dir,
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    t0 = time.perf_counter()
    ctx.spark = ctx.timed_setup(
        lambda: get_spark("perfbench", extra_conf=extra), "get_spark")
    get_spark_s = time.perf_counter() - t0
    ctx.spark.sparkContext.setJobGroup("setup", "setup")
    if traced_run:
        tr.install(ctx.tracer)
    ctx.eng = ctx.timed_setup(lambda: Engine(ctx.spark, ctx.warehouse))
    wl.setup()
    rec = Recorder(ctx, args.inject_fault)
    for op in wl.warm():  # part of setup: checked, not sampled
        ctx.add_setup("warm", *rec.run(op, timed=False, traced=False,
                                       row_bytes={}))
    _, row_bytes = live_bytes(ctx.eng)
    rec.wh_files = dir_files(ctx.warehouse)

    n_blocks = wl.traced_blocks if traced_run else 1
    seen: Counter = Counter()
    for b in range(n_blocks):
        for op in wl.block(b):
            traced = traced_run and seen[op.kind] % 2 == 0
            seen[op.kind] += 1
            rec.run(op, timed=True, traced=traced, row_bytes=row_bytes)
    if hasattr(wl, "final_check"):
        ctx.record_check("final table digests", wl.final_check())

    rss = peak_rss_mb()
    live, _ = live_bytes(ctx.eng)
    wh_bytes = sum(dir_files(ctx.warehouse).values())
    versions = sum(1 for p in dir_files(ctx.warehouse)
                   if p.endswith(".metadata.json") and "/v" in p)
    snaps = sum(len(ctx.eng.catalog.load_table(
        t if "." in t else f"{ns}.{t}").metadata.snapshots)
        for ns in ctx.eng.catalog.list_databases()
        for t in ctx.eng.catalog.list_tables(ns))
    ctx.end_state = {
        "write_amp": rec.bytes_written / rec.user_bytes if rec.user_bytes else None,
        "space_amp": wh_bytes / live if live else None,
        "metadata_versions": versions, "snapshots_live": snaps}

    speed = hostspeed.Speed(os.path.join(args.run_dir, "hostspeed.txt"))
    setup_cpu: dict[str, float] = defaultdict(float)
    for phase, cpu, t0, t1 in ctx.setup_steps:
        setup_cpu[phase] += speed.scale(cpu, t0, t1)
    setup_s = sum(setup_cpu.values())
    samples = rec.samples
    summary = summarize(samples, speed)
    failed = rec.failed + sum(1 for _, ok in ctx.checks if not ok)
    attempted = len(samples) + len(ctx.checks)
    correct = failed == 0
    kinds = Counter(s["kind"] for s in samples)
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": wl.sf,
        "seconds": args.seconds, "blocks": n_blocks, "trace": args.trace,
        "setup_wall_s": ctx.setup_wall_s, "setup_s": setup_s,
        "setup_cpu_raw_s": sum(cpu for _, cpu, _, _ in ctx.setup_steps),
        "setup_cpu_phases": setup_cpu, "host_loop_p50_s": statistics.median(speed.c),
        "setup_wall_phases": ctx.setup_phases, "check_wall_s": rec.check_s,
        "peak_rss_mb": rss, "error_rate": failed / attempted,
        "write_amp": ctx.end_state["write_amp"],
        "space_amp": ctx.end_state["space_amp"],
        "op_shares": {k: v / len(samples) for k, v in sorted(kinds.items())},
        **summary,
    }

    if traced_run:
        m = layer_metrics(ctx, rec, get_spark_s, GATES)
        ctx.spark.stop()
        event_log_metrics(ctx, rec, m)
        m["trace.overhead_ratio"] = (overhead_ratio(samples), "ratio")
        ctx.tracer.dump(os.path.join(
            ROOT, ".perfbench_traces",
            f"{args.workload}-seed{args.seed}.spans.jsonl"))
    else:
        m = {"setup_s": (setup_s, "s"),
             "cpu_s_per_op": (summary["cpu_s_per_op"], "s"),
             "peak_rss_mb": (rss, "MB")}
        ctx.spark.stop()
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
