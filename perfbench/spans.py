"""Spans and counters recorded from outside the engine.

``install`` replaces public functions of the engine's modules with thin
wrappers that record a span per call (and a few counts read from the
call's arguments or result). The engine's files are not changed: a
wrapper is set on the module or class attribute, and on every module that
imported the function by name. Spans stay in memory until ``dump``.

``EventLog`` reads the Spark event log written with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=
false`` and attributes jobs, task time, shuffle, spill and GC to the job
group the benchmark set around each operation.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op_id: int | None = None

    # -- spans -------------------------------------------------------------

    def call(self, name: str, fn, args, kwargs, after=None, attrs=None):
        if not self.enabled:
            return fn(*args, **kwargs)
        span = {"name": name, "op": self.op_id,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time()}
        if attrs is not None:
            span.update(attrs(*args, **kwargs))
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            out = fn(*args, **kwargs)
        finally:
            self._stack.pop()
            span["end"] = time.time()
        if after is not None:
            after(span, out, *args, **kwargs)
        return out

    def wrap(self, owner, attr: str, name: str, after=None, attrs=None,
             static: bool = False) -> None:
        """Replace ``owner.attr`` with a recording wrapper, and rebind every
        engine module that imported the same function object by name."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, orig, args, kwargs, after, attrs)

        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)
        if isinstance(owner, type):
            return
        for mod_name, mod in list(sys.modules.items()):
            if (mod_name.startswith("iceberg_demo_spark")
                    and getattr(mod, attr, None) is orig):
                setattr(mod, attr, wrapper)

    def under(self, span: dict, prefix: str) -> bool:
        """True when an enclosing span's name starts with ``prefix``."""
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"].startswith(prefix):
                return True
            p = self.spans[p]["parent"]
        return False

    def self_time(self, idx: int, child_prefixes: tuple[str, ...]) -> float:
        """Span duration minus the union of its descendant spans whose
        name starts with one of ``child_prefixes`` (outermost only)."""
        s = self.spans[idx]
        covered, cur_end = 0.0, s["start"]
        kids = sorted(
            (c for c in self._outermost_descendants(idx, child_prefixes)),
            key=lambda c: c["start"])
        for c in kids:
            lo, hi = max(c["start"], cur_end), c["end"]
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        return (s["end"] - s["start"]) - covered

    def _outermost_descendants(self, idx, prefixes):
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        stack = list(children[idx])
        while stack:
            i = stack.pop()
            if self.spans[i]["name"].startswith(prefixes):
                yield self.spans[i]
            else:
                stack.extend(children[i])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# -- what is wrapped -------------------------------------------------------

def statement_kind(text: str) -> str:
    head = text.strip().split(None, 3)
    first = head[0].lower() if head else ""
    if first in ("select", "with"):
        return "select"
    if first == "refresh":
        return "refresh"
    if first in ("insert", "delete", "update", "merge", "call"):
        return first
    return "other"


def _metadata_file(location: str, version: int) -> str:
    return os.path.join(location, "metadata", f"v{version}.metadata.json")


def install(tracer: Tracer) -> None:
    """Wrap the engine's public layer boundaries (plus the scan pruner,
    whose kept/total file counts no public function returns)."""
    from iceberg_demo_spark import cache, engine
    from iceberg_demo_spark.mv import manager, rewriter
    from iceberg_demo_spark.sources import testdata
    from iceberg_demo_spark.tables import format as fmt
    from iceberg_demo_spark.tables import procedures, table

    c = tracer.counts

    tracer.wrap(testdata, "load_tables", "sources.load_tables")
    tracer.wrap(engine.Engine, "sql", "engine.sql",
                attrs=lambda self, text: {"kind": statement_kind(text)},
                after=lambda span, out, self, text: span.update(
                    hit=self.last_rewrite is not None))
    tracer.wrap(rewriter.Rewriter, "try_rewrite", "mv.try_rewrite")

    def refresh_after(span, out, self, name, incremental=False, delta=False):
        requested = "delta" if delta else "incremental" if incremental else "full"
        span.update(mode=self.last_refresh_mode,
                    fallback=self.last_refresh_mode != requested)

    tracer.wrap(manager.MVManager, "refresh", "mv.refresh", after=refresh_after)
    tracer.wrap(manager.MVManager, "create", "mv.create")

    def load_after(span, md, location, version=None):
        c["tables.metadata_json_bytes"] += os.path.getsize(
            _metadata_file(md.location, md.version))

    tracer.wrap(fmt.TableMetadata, "load", "tables.metadata_load",
                after=load_after, static=True)

    def save_after(span, out, self):
        c["tables.metadata_bytes_written"] += os.path.getsize(
            _metadata_file(self.location, self.version))

    tracer.wrap(fmt.TableMetadata, "save", "tables.commit", after=save_after)

    def manifest_after(span, out, location, *args, **kwargs):
        rel = out["path"] if isinstance(out, dict) else out
        path = rel if os.path.isabs(rel) else os.path.join(location, rel)
        if os.path.exists(path):
            c["tables.metadata_bytes_written"] += os.path.getsize(path)

    for fn in ("write_manifest", "write_manifest_list", "write_changes"):
        tracer.wrap(fmt, fn, "tables.manifest_write", after=manifest_after)

    tracer.wrap(table.Table, "scan", "tables.scan")

    def pruned_after(span, files, self, snap, cond_text):
        c["tables.scan_files_total"] += len(snap.files)
        c["tables.scan_files_kept"] += len(files)
        c["tables.pruned_scans"] += 1

    tracer.wrap(table.Table, "_pruned_snapshot_files", "tables.prune",
                after=pruned_after)

    def dml_after(span, out, self, *args, **kwargs):
        snap = self.metadata.current_snapshot()
        if (snap is None or snap.snapshot_id == span["before"]
                or tracer.under(span, "tables.dml")):
            return
        added = set(snap.added_files)
        c["tables.data_bytes_written"] += sum(
            f.bytes for f in snap.files if f.path in added)
        parent = next((s for s in self.metadata.snapshots
                       if s.snapshot_id == snap.parent_id), None)
        old_deletes = {d.path for d in parent.delete_files} if parent else set()
        c["tables.data_bytes_written"] += sum(
            d.bytes for d in snap.delete_files if d.path not in old_deletes)
        c["tables.files_rewritten"] += len(snap.removed_files)
        c["tables.writes"] += 1

    for kind in ("append", "delete_where", "update_where", "merge"):
        tracer.wrap(table.Table, kind, f"tables.dml.{kind}", after=dml_after,
                    attrs=lambda self, *a, **k: {"before": getattr(
                        self.metadata.current_snapshot(), "snapshot_id", None)})

    for proc in ("rewrite_data_files", "expire_snapshots",
                 "rewrite_position_delete_files"):
        tracer.wrap(procedures, proc, "tables.maintenance")

    def release_after(span, n, *args, **kwargs):
        span["pins"] = n

    tracer.wrap(cache, "release_pins", "cache.release_pins", after=release_after)


class EventLog:
    """Jobs and task metrics per job group, from one uncompressed log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str] = {}
        self.group_tasks: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            self.jobs[e["Job ID"]] = {"group": group,
                                      "start": e["Submission Time"] / 1000.0,
                                      "end": None}
            for sid in e.get("Stage IDs", []):
                self.stage_group[sid] = group
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            g = self.group_tasks[self.stage_group.get(e["Stage ID"], "")]
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)

    def in_jobs_s(self, group: str) -> float:
        """Length of the union of the group's job intervals."""
        iv = sorted((j["start"], j["end"]) for j in self.jobs.values()
                    if j["group"] == group and j["end"] is not None)
        total, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total

    def jobs_between(self, lo: float, hi: float) -> int:
        return sum(1 for j in self.jobs.values() if lo <= j["start"] <= hi)


def find_event_log(log_dir: str) -> str | None:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, names[0]) if len(names) == 1 else None
