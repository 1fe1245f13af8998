"""Manifest-layer metadata (round 5): past write.metadata.manifest-min-files
the snapshot file list spills to immutable manifest files, keeping commit
I/O and metadata-JSON size O(delta) — the growth point format.py's scale
note named (production Iceberg's manifest design, simplified).

Synthetic DataFile entries drive the metadata layer directly (no parquet
writes), so a 10^5-file table commits in bounded time/memory.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from iceberg_demo_spark.tables import Catalog
from iceberg_demo_spark.tables.format import DataFile, TableMetadata, now_ms


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


def _mk_files(start: int, n: int, schema_id: int = 0) -> list[DataFile]:
    return [DataFile(f"data/f{i:07d}.parquet", 100, 4096, schema_id)
            for i in range(start, start + n)]


def _meta_json_bytes(t) -> int:
    p = os.path.join(t.location, "metadata",
                     f"v{t.metadata.version}.metadata.json")
    return os.path.getsize(p)


def _manifest_names(t) -> set[str]:
    md = os.path.join(t.location, "metadata")
    return {n for n in os.listdir(md) if n.startswith("manifest-")}


def test_100k_file_commit_is_bounded_and_incremental(catalog):
    t = catalog.create_table("db.big", "id bigint")
    base = _mk_files(0, 100_000)
    t0 = time.time()
    t._commit("append", base, base, [], "main")
    first_commit_s = time.time() - t0

    snap1 = t.metadata.current_snapshot()
    assert snap1.manifests, "100k-file commit must spill to manifests"
    assert snap1.n_data_files == 100_000
    # metadata JSON carries manifest summaries, not 100k file entries
    assert _meta_json_bytes(t) < 64 * 1024
    with open(os.path.join(t.location, "metadata",
                           f"v{t.metadata.version}.metadata.json")) as fh:
        doc = json.load(fh)
    assert "files" not in doc["snapshots"][-1]
    big_manifests = {m["path"] for m in snap1.manifests}

    # O(delta) append: carried manifest reused BY REFERENCE, one tiny delta
    delta = _mk_files(100_000, 10)
    t1 = time.time()
    t._commit("append", base + delta, delta, [], "main")
    append_s = time.time() - t1
    snap2 = t.metadata.current_snapshot()
    assert snap2.n_data_files == 100_010
    assert big_manifests <= {m["path"] for m in snap2.manifests}
    new = [m for m in snap2.manifests if m["path"] not in big_manifests]
    assert len(new) == 1 and new[0]["n_files"] == 10
    # the delta commit must not rewrite the 100k manifest: small + fast
    assert append_s < max(5.0, 3 * first_commit_s)
    assert _meta_json_bytes(t) < 64 * 1024


def test_removal_rewrites_only_affected_manifests(catalog):
    t = catalog.create_table(
        "db.rm", "id bigint",
        properties={"write.metadata.manifest-min-files": "100"})
    base = _mk_files(0, 500)
    t._commit("append", base, base, [], "main")
    extra = _mk_files(500, 50)
    t._commit("append", base + extra, extra, [], "main")
    snap2 = t.metadata.current_snapshot()
    base_manifest = snap2.manifests[0]["path"]
    # remove 5 of the extra files: only the 50-file delta manifest rewrites
    removed = extra[:5]
    survivors = base + extra[5:]
    t._commit("delete", survivors, [], removed, "main")
    snap3 = t.metadata.current_snapshot()
    paths = [m["path"] for m in snap3.manifests]
    assert base_manifest in paths  # untouched manifest carried by reference
    assert snap3.n_data_files == 545
    sizes = sorted(m["n_files"] for m in snap3.manifests)
    assert sizes == [45, 500]


def test_manifest_backed_table_reloads_from_disk(catalog):
    t = catalog.create_table(
        "db.reload", "id bigint",
        properties={"write.metadata.manifest-min-files": "100"})
    base = _mk_files(0, 250)
    t._commit("append", base, base, [], "main")
    # cold reload (fresh metadata object, lazy manifest load)
    m = TableMetadata.load(t.location)
    snap = m.current_snapshot()
    assert snap.manifests and snap._files is None  # not loaded yet
    assert snap.n_data_files == 250  # summary-only, still no load
    assert len(snap.files) == 250  # lazy load materializes
    assert {f.path for f in snap.files} == {f.path for f in base}


def test_inline_stays_inline_below_threshold(catalog):
    t = catalog.create_table("db.small", "id bigint")
    files = _mk_files(0, 50)
    t._commit("append", files, files, [], "main")
    snap = t.metadata.current_snapshot()
    assert not snap.manifests
    with open(os.path.join(t.location, "metadata",
                           f"v{t.metadata.version}.metadata.json")) as fh:
        doc = json.load(fh)
    assert len(doc["snapshots"][-1]["files"]) == 50


def test_manifests_metadata_table_lists_real_manifests(catalog):
    t = catalog.create_table(
        "db.mt", "id bigint",
        properties={"write.metadata.manifest-min-files": "100"})
    base = _mk_files(0, 150)
    t._commit("append", base, base, [], "main")
    extra = _mk_files(150, 20)
    t._commit("append", base + extra, extra, [], "main")
    rows = t.manifests_df().collect()
    assert len(rows) == 2
    by_count = sorted(rows, key=lambda r: r["added_data_files_count"])
    assert by_count[0]["added_data_files_count"] == 0  # carried 150
    assert by_count[0]["existing_data_files_count"] == 150
    assert by_count[1]["added_data_files_count"] == 20
    for r in rows:
        assert r["path"].startswith("metadata/manifest-")
        assert r["length"] > 0


def test_mixed_history_time_travel_across_spill(catalog):
    """A table whose early snapshots are inline and later ones
    manifest-backed time-travels correctly across the boundary."""
    t = catalog.create_table(
        "db.mix", "id bigint",
        properties={"write.metadata.manifest-min-files": "100"})
    small = _mk_files(0, 10)
    t._commit("append", small, small, [], "main")
    s1 = t.metadata.current_snapshot().snapshot_id
    big = _mk_files(10, 200)
    t._commit("append", small + big, big, [], "main")
    m = TableMetadata.load(t.location)
    assert len(m.snapshot_by_id(s1).files) == 10  # inline ancestor intact
    assert not m.snapshot_by_id(s1).manifests
    head = m.current_snapshot()
    assert head.manifests and head.n_data_files == 210


def test_expire_snapshots_cleans_dead_manifests(catalog):
    from iceberg_demo_spark.tables import procedures as proc

    t = catalog.create_table(
        "db.exp", "id bigint",
        properties={"write.metadata.manifest-min-files": "100"})
    base = _mk_files(0, 300)
    t._commit("append", base, base, [], "main")
    # overwrite everything: snapshot 2's manifest replaces snapshot 1's
    repl = _mk_files(1000, 300)
    t._commit("overwrite", repl, repl, base, "main")
    before = _manifest_names(t)
    assert len(before) >= 2
    res = proc.expire_snapshots(t, older_than_ms=now_ms() + 10_000,
                                retain_last=1)
    assert res["deleted_snapshots_count"] == 1
    after = _manifest_names(t)
    # snapshot 1's (now-unreferenced) manifest deleted; head's kept
    head_paths = {os.path.basename(m["path"])
                  for m in t.metadata.current_snapshot().manifests}
    assert head_paths <= after
    assert len(after) < len(before)
    assert len(t.metadata.current_snapshot().files) == 300


def test_scan_where_prunes_partition_files(catalog):
    """scan(where=...) drives driver-side FILE pruning from the hidden
    partition spec before the read, then applies the full predicate."""
    t = catalog.create_table(
        "db.pp", "id bigint, cat string, v double",
        partition_by=[("cat",)])
    rows = [(i, c, float(i)) for i, c in enumerate(["x", "y", "z"] * 4)]
    t.append(catalog.spark.createDataFrame(rows, schema=t.schema()))
    full = t.metadata.current_snapshot().files
    x_files = [f for f in full if f.partition.get("_p_cat") == "x"]
    assert 0 < len(x_files) < len(full)

    seen = {}
    orig = t._read_files

    def spy(files, *a, **k):
        seen["n"] = len(files)
        return orig(files, *a, **k)

    t._read_files = spy
    got = t.scan(where="cat = 'x' AND v >= 3").collect()
    t._read_files = orig
    assert seen["n"] == len(x_files)  # only the x-partition files opened
    assert {r["id"] for r in got} == {i for i, c in
                                      enumerate(["x", "y", "z"] * 4)
                                      if c == "x" and i >= 3}


def test_scan_where_skips_whole_manifests(catalog, monkeypatch):
    """On a spilled table, a partition-aligned scan loads only manifests
    whose partition summary can match — the others are never opened."""
    from iceberg_demo_spark.tables import format as fmt

    t = catalog.create_table(
        "db.msk", "id bigint, cat string",
        partition_by=[("cat",)],
        properties={"write.metadata.manifest-min-files": "10"})
    a = catalog.spark.createDataFrame(
        [(i, "x") for i in range(40)], schema=t.schema())
    b = catalog.spark.createDataFrame(
        [(i, "y") for i in range(40, 80)], schema=t.schema())
    # eight files per append, so the two appends pass manifest-min-files
    # on any core count
    t.append(a.repartition(8))
    t.append(b.repartition(8))

    m = TableMetadata.load(t.location)
    snap = m.current_snapshot()
    assert snap._files is None and len(snap.manifests) >= 2
    # bind a fresh Table handle around the cold metadata
    t2 = type(t)(catalog.spark, m)

    loaded = []
    orig = fmt.load_manifest

    def spy(location, rel):
        loaded.append(rel)
        return orig(location, rel)

    monkeypatch.setattr(fmt, "load_manifest", spy)
    got = t2.scan(where="cat = 'y'").collect()
    assert {r["id"] for r in got} == set(range(40, 80))
    x_manifests = {mm["path"] for mm in snap.manifests
                   if (mm.get("partitions") or {}).get("_p_cat") == ["x"]}
    assert x_manifests  # the x-only manifest exists with a summary
    assert not (set(loaded) & x_manifests)  # and was never opened


def test_randomized_commit_sequences_match_inline_shadow(catalog):
    """Randomized appends/deletes/overwrites on a low-threshold (spilling)
    table: after every commit, the manifest-backed file set equals a
    plain-python shadow model, both hot and after a cold reload."""
    import random

    rng = random.Random(51)
    t = catalog.create_table(
        "db.rand", "id bigint",
        properties={"write.metadata.manifest-min-files": "20"})
    shadow: dict[str, DataFile] = {}
    next_id = 0
    for step in range(30):
        op = rng.choice(["append", "append", "delete", "overwrite"])
        live = list(shadow.values())
        if op == "append" or not live:
            n = rng.randint(1, 60)
            added = _mk_files(next_id, n)
            next_id += n
            for f in added:
                shadow[f.path] = f
            t._commit("append", list(shadow.values()), added, [], "main")
        elif op == "delete":
            removed = rng.sample(live, rng.randint(1, min(25, len(live))))
            for f in removed:
                del shadow[f.path]
            t._commit("delete", list(shadow.values()), [], removed, "main")
        else:  # overwrite: replace a random subset with fresh files
            removed = rng.sample(live, rng.randint(1, min(25, len(live))))
            for f in removed:
                del shadow[f.path]
            n = rng.randint(1, 30)
            added = _mk_files(next_id, n)
            next_id += n
            for f in added:
                shadow[f.path] = f
            t._commit("overwrite", list(shadow.values()), added, removed,
                      "main")
        got = {f.path for f in t.metadata.current_snapshot().files}
        assert got == set(shadow), f"hot mismatch at step {step} ({op})"
    cold = TableMetadata.load(t.location)
    assert {f.path for f in cold.current_snapshot().files} == set(shadow)
    # every historical snapshot still loads consistently
    for s in cold.snapshots:
        assert len(s.files) == s.n_data_files


def test_plan_manifests_falls_back_on_duplicate_added_paths(catalog):
    """If a caller passes `added` overlapping a carried manifest (no
    current caller does, but cherry-pick-style flows could), the union
    set-check alone would hide the duplicate; the count check must force
    the single-full-manifest fallback so no file is listed twice."""
    t = catalog.create_table(
        "db.dup", "id bigint",
        properties={"write.metadata.manifest-min-files": "50"})
    base = _mk_files(0, 120)
    t._commit("append", base, base, [], "main")
    # pathological commit: re-adds 10 files already present
    again = base[:10]
    t._commit("append", base, again, [], "main")
    snap = t.metadata.current_snapshot()
    assert sum(m["n_files"] for m in snap.manifests) == 120
    assert len(snap.files) == 120
    cold = TableMetadata.load(t.location)
    paths = [f.path for f in cold.current_snapshot().files]
    assert len(paths) == len(set(paths)) == 120


def test_branch_commits_on_spilled_table_stay_isolated(catalog):
    t = catalog.create_table(
        "db.br", "id bigint",
        properties={"write.metadata.manifest-min-files": "100"})
    base = _mk_files(0, 200)
    t._commit("append", base, base, [], "main")
    head = t.metadata.current_snapshot().snapshot_id
    t.metadata.refs["dev"] = {"snapshot_id": head, "type": "branch"}
    extra = _mk_files(200, 150)
    t._commit("append", base + extra, extra, [], "dev")
    # main untouched; dev extended; both manifest-backed and disjoint heads
    cold = TableMetadata.load(t.location)
    main_files = {f.path for f in cold.current_snapshot("main").files}
    dev_files = {f.path for f in cold.current_snapshot("dev").files}
    assert len(main_files) == 200 and len(dev_files) == 350
    assert main_files < dev_files
    assert cold.current_snapshot("dev").manifests
    # the dev commit reused main's sealed/base manifests by reference
    main_m = {m["path"] for m in cold.current_snapshot("main").manifests}
    dev_m = {m["path"] for m in cold.current_snapshot("dev").manifests}
    assert main_m <= dev_m


def test_engine_sql_where_prunes_partition_files(catalog, spark, tmp_path):
    """Engine.sql('SELECT … FROM db.t WHERE cat = …') drives driver-side
    partition pruning through the bound scan; a UNION query must not."""
    from iceberg_demo_spark.engine import Engine
    from iceberg_demo_spark.tables import table as table_mod

    eng = Engine(spark, str(tmp_path / "wh_sqlprune"))
    t = eng.catalog.create_table(
        "db.sp", "id bigint, cat string", partition_by=[("cat",)])
    rows = [(i, c) for i, c in enumerate(["x", "y", "z"] * 5)]
    t.append(spark.createDataFrame(rows, schema=t.schema()))
    n_total = len(t.metadata.current_snapshot().files)
    n_x = len([f for f in t.metadata.current_snapshot().files
               if f.partition.get("_p_cat") == "x"])
    assert 0 < n_x < n_total

    seen = []
    orig = table_mod.Table._read_files

    def spy(self, files, *a, **k):
        seen.append(len(files))
        return orig(self, files, *a, **k)

    table_mod.Table._read_files = spy
    try:
        got = eng.sql("SELECT id FROM db.sp WHERE cat = 'x' AND id >= 3")
        ids = {r["id"] for r in got.collect()}
        # partition pruning caps the scan at the x-partition files;
        # round-6 column-stats pruning may drop more (id >= 3 excludes
        # files whose id upper bound is below 3)
        assert seen and 0 < seen[0] <= n_x
        assert ids == {i for i, c in enumerate(["x", "y", "z"] * 5)
                       if c == "x" and i >= 3}
        seen.clear()
        u = eng.sql("SELECT id FROM db.sp WHERE cat = 'x' "
                    "UNION ALL SELECT id FROM db.sp WHERE cat = 'y'")
        assert len(u.collect()) == 10
        assert seen and seen[0] == n_total  # set-op query: no pruning
    finally:
        table_mod.Table._read_files = orig


def test_range_pruning_on_time_transform_partitions(catalog, spark):
    """col >= / BETWEEN range predicates prune day-transform partitions:
    the transform renders fixed-width date strings, so lexicographic
    order IS value order (strict ops conservatively weaken to inclusive)."""
    from iceberg_demo_spark.tables import table as table_mod

    t = catalog.create_table(
        "db.rng", "id bigint, ts timestamp",
        partition_by=[("ts", "days")])
    t.append(spark.sql(
        "SELECT id, timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,"
        "CAST(id AS INT),0,0,0) AS ts FROM range(10) AS r(id)"))
    files = t.metadata.current_snapshot().files
    days = sorted({f.partition["_p_ts_day"] for f in files})
    assert days[0] == "2024-03-01" and days[-1] == "2024-03-10"

    seen = []
    orig = table_mod.Table._read_files

    def spy(self, fl, *a, **k):
        seen.append({f.partition["_p_ts_day"] for f in fl})
        return orig(self, fl, *a, **k)

    table_mod.Table._read_files = spy
    try:
        got = t.scan(where="ts >= '2024-03-08 00:00:00'").collect()
        assert {r["id"] for r in got} == {7, 8, 9}
        assert seen[0] == {"2024-03-08", "2024-03-09", "2024-03-10"}
        seen.clear()
        got = t.scan(
            where="ts BETWEEN '2024-03-03 00:00:00' AND "
                  "'2024-03-05 23:59:59'").collect()
        assert {r["id"] for r in got} == {2, 3, 4}
        assert seen[0] == {"2024-03-03", "2024-03-04", "2024-03-05"}
    finally:
        table_mod.Table._read_files = orig


def test_range_pruning_numeric_identity_partition(catalog, spark):
    """Numeric identity partitions compare numerically, not
    lexicographically ('9' vs '10')."""
    from iceberg_demo_spark.tables import table as table_mod

    t = catalog.create_table(
        "db.rngn", "id bigint, bucket bigint", partition_by=[("bucket",)])
    t.append(spark.createDataFrame(
        [(i, b) for i, b in enumerate([2, 9, 10, 11])],
        schema=t.schema()))

    seen = []
    orig = table_mod.Table._read_files

    def spy(self, fl, *a, **k):
        seen.append({f.partition["_p_bucket"] for f in fl})
        return orig(self, fl, *a, **k)

    table_mod.Table._read_files = spy
    try:
        got = t.scan(where="bucket >= 9").collect()
        assert {r["id"] for r in got} == {1, 2, 3}
        assert seen[0] == {"9", "10", "11"}  # '2' pruned, '10' kept
    finally:
        table_mod.Table._read_files = orig


def test_pruning_is_safe_across_partition_evolution(catalog, spark):
    """Files written under an OLDER partition spec lack the new partition
    column — pruning must keep them (conservative) while still pruning
    new-generation files; results stay exact either way."""
    t = catalog.create_table(
        "db.pe", "id bigint, cat string, d string",
        partition_by=[("cat",)])
    t.append(spark.createDataFrame(
        [(0, "x", "a"), (1, "y", "a")], schema=t.schema()))
    t.add_partition_field("d")
    t.append(spark.createDataFrame(
        [(2, "x", "b"), (3, "y", "b")], schema=t.schema()))

    got = t.scan(where="cat = 'x'").collect()
    assert {r["id"] for r in got} == {0, 2}
    # PARTITION pruning on the NEW field must keep gen-1 files (no _p_d)
    # while pruning gen-2 files outside the value — checked on
    # stats-stripped copies so round-6 column-bound pruning (which can
    # legitimately drop the gen-1 files too: their d values are all 'a')
    # doesn't mask partition-evolution conservatism
    import dataclasses

    blind = [dataclasses.replace(f, lower={}, upper={}, nulls={})
             for f in t.metadata.current_snapshot().files]
    files_seen = t._prune_files(blind, "d = 'b'")
    assert all(f.partition.get("_p_d") in (None, "b") for f in files_seen)
    assert any("_p_d" not in f.partition for f in files_seen)  # gen-1 kept
    # with stats on, the gen-1 files are ALSO pruned (d upper bound 'a')
    with_stats = t._prune_files(
        t.metadata.current_snapshot().files, "d = 'b'")
    assert all("_p_d" in f.partition for f in with_stats)
    got = t.scan(where="d = 'b'").collect()
    assert {r["id"] for r in got} == {2, 3}


def test_million_file_table_metadata_stays_o_snapshots(catalog, monkeypatch):
    """Round 6 manifest-list level: 10 commits x 100k files (10^6 total,
    one partition per batch). The metadata JSON must stay tiny — each
    snapshot stores ONE manifest_list path, never the manifest summaries
    inline — and cold-start pruned planning must open only the manifests
    the predicate admits, not all ten."""
    import time as _time

    from iceberg_demo_spark.tables import format as fmt

    t = catalog.create_table("db.huge", "id bigint, cat string",
                             partition_by=[("cat",)])
    files: list[DataFile] = []
    t0 = _time.time()
    for b in range(10):
        batch = [
            DataFile(f"data/b{b:02d}/f{i:06d}.parquet", 100, 4096, 0,
                     {"_p_cat": f"c{b}"})
            for i in range(100_000)
        ]
        files = files + batch
        t._commit("append", files, batch, [], "main")
    elapsed = _time.time() - t0
    assert elapsed < 120, f"10x100k commits took {elapsed:.0f}s"

    snap = t.metadata.current_snapshot()
    assert snap.n_data_files == 1_000_000
    assert len(snap.manifests) == 10
    # the metadata JSON is O(snapshots): no file entries, no inline
    # manifest summaries
    assert _meta_json_bytes(t) < 64 * 1024
    with open(os.path.join(t.location, "metadata",
                           f"v{t.metadata.version}.metadata.json")) as fh:
        doc = json.load(fh)
    last = doc["snapshots"][-1]
    assert "manifest_list" in last
    assert "manifests" not in last and "files" not in last
    # the manifest list itself is O(manifests), not O(files)
    assert os.path.getsize(
        os.path.join(t.location, last["manifest_list"])) < 16 * 1024

    # cold reload: pruned planning loads exactly ONE manifest
    fmt._MANIFEST_CACHE.clear()
    fmt._MANIFEST_LIST_CACHE.clear()
    cold = catalog.load_table("db.huge")
    csnap = cold.metadata.current_snapshot()
    loaded = []
    orig = fmt.load_manifest

    def spy(location, rel_path):
        loaded.append(rel_path)
        return orig(location, rel_path)

    monkeypatch.setattr(fmt, "load_manifest", spy)
    pruned = cold._pruned_snapshot_files(csnap, "cat = 'c7'")
    assert len(pruned) == 100_000
    assert len(set(loaded)) == 1
    # metadata table stays truthful about the layer
    assert cold.manifests_df().count() == 10


def test_rewrite_manifests_compacts_spilled_snapshot(catalog):
    from iceberg_demo_spark.tables import procedures as proc

    t = catalog.create_table("db.rwm", "id bigint")
    files: list[DataFile] = []
    for b in range(4):
        batch = _mk_files(b * 2000, 2000)
        files = files + batch
        t._commit("append", files, batch, [], "main")
    assert len(t.metadata.current_snapshot().manifests) == 4
    res = proc.rewrite_manifests(t)
    assert res == {"rewritten_manifests_count": 4,
                   "added_manifests_count": 1}
    snap = t.metadata.current_snapshot()
    assert len(snap.manifests) == 1
    assert snap.n_data_files == 8000
    # reload from disk sees the compacted layer and the same file set
    t2 = catalog.load_table("db.rwm")
    s2 = t2.metadata.current_snapshot()
    assert len(s2.manifests) == 1
    assert {f.path for f in s2.files} == {f.path for f in files}


def test_stats_pruned_planning_budget_100k_files(catalog, monkeypatch):
    """Round-7 stretch (VERDICT r6 #8): the per-file column-stats path
    must not become the next driver-side ceiling. 10 commits x 10k files
    (10^5 total), EVERY file carrying id bounds, disjoint id ranges per
    batch: planning a stats-pruned scan must (a) open only the ONE
    manifest whose bound rollup admits the predicate — the 9 others are
    skipped at the summary level without loading — and (b) run the
    _stats_cons + _passes_stats loop over just that manifest's files in
    bounded wall-time."""
    import time as _time

    from iceberg_demo_spark.tables import format as fmt

    t = catalog.create_table("db.statbudget", "id bigint, v string")
    files: list[DataFile] = []
    for b in range(10):
        lo = b * 1_000_000
        batch = [
            DataFile(f"data/b{b:02d}/f{i:05d}.parquet", 100, 4096, 0, {},
                     lower={"1": str(lo + i * 100)},
                     upper={"1": str(lo + i * 100 + 99)},
                     nulls={"1": 0})
            for i in range(10_000)
        ]
        files = files + batch
        t._commit("append", files, batch, [], "main")
    assert len(t.metadata.current_snapshot().manifests) == 10

    fmt._MANIFEST_CACHE.clear()
    fmt._MANIFEST_LIST_CACHE.clear()
    cold = catalog.load_table("db.statbudget")
    snap = cold.metadata.current_snapshot()
    loaded = []
    orig = fmt.load_manifest

    def spy(location, rel_path):
        loaded.append(rel_path)
        return orig(location, rel_path)

    monkeypatch.setattr(fmt, "load_manifest", spy)
    t0 = _time.time()
    # id = 7,000,550 lives in batch 7, file 5: exactly one file admits
    pruned = cold._pruned_snapshot_files(snap, "id = 7000550")
    elapsed = _time.time() - t0
    assert [f.path for f in pruned] == ["data/b07/f00005.parquet"]
    assert len(set(loaded)) == 1  # 9 manifests skipped by bound rollup
    assert elapsed < 10, f"stats-pruned planning took {elapsed:.1f}s"

    # worst case — a predicate admitting every manifest still walks all
    # 10^5 entries in bounded time (the O(files) Decimal loop)
    t0 = _time.time()
    allm = cold._pruned_snapshot_files(snap, "id >= 0")
    elapsed = _time.time() - t0
    assert len(allm) == 100_000
    assert elapsed < 30, f"full stats walk took {elapsed:.1f}s"
