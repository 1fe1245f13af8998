"""Round-10 ADVICE regressions (fixed in round 11).

1. (medium) the bloom-guarded streaming dedup broke its own
   at-least-once replay invariant: a crash BETWEEN the index append and
   the filter fold made the replayed anti-join empty (the index had
   already grown), so nothing folded and the filter permanently missed
   that batch's digests — later batches could bloom-NEGATIVE on indexed
   digests and keep duplicates. The replayed batch's stats row was also
   never written. The replay branch now folds the kept docs' FULL
   digest set (bit_or is idempotent) and recomputes the probe-volume
   row exactly against the reconstructed pre-batch index.
2. (low) ``ensure_curation_state`` called the global ``release_pins()``
   inside a gate, freeing checkpoint-backed pins an enclosing caller
   still depended on. Pins are now scoped: ``pin_mark()`` +
   ``release_pins_since(mark)`` release only the builder's own suffix.
3. (low) the per-doc quality predicate existed in two copies
   (``_pipe_quality_cond`` and an inline restatement in
   ``doc_curation_pipeline``); the pipeline now calls the shared
   predicate, so the incremental oracle's exact-equality pin cannot be
   desynchronized by a one-sided edit.
4. (low) ``doc_bm25_index_compact`` required >= 2 pre-compaction files
   in EVERY probed bucket (data-dependent); it now asserts aggregate
   fragmentation across the probed buckets.

Also VERDICT r10 #6: the Bloom position expression (k independent
md5(key#i) hashes) was hand-copied across three modules; it is now ONE
definition in ``sketches.bloom_positions``/``bloom_words``/
``bloom_member`` with all tiers calling it.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from iceberg_demo_spark.tables.catalog import Catalog
from tests.conftest import SF_MED, SF_SMALL


# -- 1: bloom-guard replay restores the filter AND the stats row ------------

def _stage_wave(df, src: str, name: str, stage_root: str, mtime: float):
    """coalesce(1) a doc slice into src/<name>.parquet with a pinned
    mtime (the file stream source orders batches by mtime)."""
    stage = os.path.join(stage_root, name)
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage)
                if f.endswith(".parquet") and not f.startswith("."))
    dst = os.path.join(src, f"{name}.parquet")
    shutil.copyfile(os.path.join(stage, part), dst)
    os.utime(dst, (mtime, mtime))
    return dst


def test_bloom_guard_crash_between_index_append_and_fold(spark, tmp_path):
    """Adversarial W2 crash window: the batch committed to the table
    AND appended its digests to the index, but crashed BEFORE the bloom
    fold and the stats append. On restart the replayed batch must (a)
    restore filter ⊇ index — every indexed digest bloom-positive, so
    later batches can never keep a duplicate — and (b) re-emit the lost
    probe-volume stats row with the EXACT original values (the oracle
    pins them)."""
    from iceberg_demo_spark.operators.dedup import _ingest_windows
    from iceberg_demo_spark.operators.sketches import (
        bloom_geometry, bloom_member, bloom_words, kmv_count_estimate)
    from iceberg_demo_spark.sources import load_tables
    from iceberg_demo_spark.streaming.pipeline import stream_dedup_to_table

    docs = (load_tables(spark, SF_SMALL, ("documents",))["documents"]
            .select("doc_id", "source", "n_chars", "text"))
    corpus = docs.filter("doc_id % 5 <> 0")
    ingest = docs.filter("doc_id % 5 = 0")
    src = str(tmp_path / "src")
    stage = str(tmp_path / "stage")
    os.makedirs(src)
    now = time.time()
    _stage_wave(ingest.filter("(doc_id div 5) % 3 = 0"), src, "000",
                stage, now - 30)
    _stage_wave(ingest.filter("(doc_id div 5) % 3 = 1"), src, "001",
                stage, now - 20)
    schema = spark.read.parquet(src).schema

    idx_dir = str(tmp_path / "idx")
    bloom_dir = str(tmp_path / "bloom")
    stats_dir = str(tmp_path / "stats")
    (_ingest_windows(corpus).select("wh").distinct()
     .write.parquet(idx_dir))
    idx = spark.read.parquet(idx_dir)
    n_est = kmv_count_estimate(idx, "wh")
    _, m_bits, k_h = bloom_geometry(n_est)
    (bloom_words(idx, "wh", m_bits, k_h).coalesce(1)
     .write.parquet(os.path.join(bloom_dir, "words")))
    spark.createDataFrame([(n_est, m_bits, k_h)],
                          "n BIGINT, m BIGINT, k BIGINT") \
        .coalesce(1).write.parquet(os.path.join(bloom_dir, "geom"))

    cat = Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table(
        "db.clean_bloom",
        [(f.name, f.dataType.simpleString(), f.nullable)
         for f in schema.fields])
    ck = str(tmp_path / "ck")
    run = lambda: stream_dedup_to_table(  # noqa: E731
        spark, src, schema, t, ck, idx_dir, _ingest_windows,
        bloom_dir=bloom_dir, stats_dir=stats_dir)
    run()
    # words as they stood BEFORE the final wave — the probe-time filter
    # the crash simulation rolls back to (captured between runs, not
    # reconstructed, so the test is independent of the fix's own math)
    words_mid = sorted(
        (r["word"], r["wv"]) for r in
        spark.read.parquet(os.path.join(bloom_dir, "words")).collect())

    _stage_wave(ingest.filter("(doc_id div 5) % 3 = 2"), src, "002",
                stage, now - 10)
    run()
    t.refresh()
    kept = sorted(r["doc_id"] for r in t.scan().select("doc_id").collect())
    n_snaps = len(t.metadata.snapshots)
    n_idx = spark.read.parquet(idx_dir).count()
    stats_full = sorted(map(tuple, spark.read.parquet(stats_dir).collect()))
    words_full = sorted(
        (r["word"], r["wv"]) for r in
        spark.read.parquet(os.path.join(bloom_dir, "words")).collect())
    assert len(stats_full) == 3 and n_snaps >= 3
    last_batch = max(s[0] for s in stats_full)

    # -- simulate the W2 crash of the final batch --
    commits = sorted(f for f in os.listdir(os.path.join(ck, "commits"))
                     if not f.startswith("."))
    os.remove(os.path.join(ck, "commits", commits[-1]))
    crc = os.path.join(ck, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    # filter rolled back to pre-batch bits (the fold never happened)
    shutil.rmtree(os.path.join(bloom_dir, "words"))
    (spark.createDataFrame(words_mid, "word BIGINT, wv BIGINT")
     .coalesce(1).write.parquet(os.path.join(bloom_dir, "words")))
    # the batch's stats row never landed
    remaining = [tuple(r) for r in
                 spark.read.parquet(stats_dir).collect()
                 if r["batch"] != last_batch]
    shutil.rmtree(stats_dir)
    (spark.createDataFrame(
        remaining,
        "batch BIGINT, n_docs BIGINT, n_windows BIGINT, n_probed BIGINT, "
        "n_hits BIGINT, n_kept BIGINT, n_dropped BIGINT")
     .write.parquet(stats_dir))

    run()  # the replay branch fires for the final batch
    t.refresh()
    assert sorted(r["doc_id"]
                  for r in t.scan().select("doc_id").collect()) == kept
    assert len(t.metadata.snapshots) == n_snaps
    idx_after = spark.read.parquet(idx_dir)
    assert idx_after.count() == n_idx
    assert idx_after.distinct().count() == n_idx
    # (a) filter restored: bit-identical to the uncrashed run, and
    # every indexed digest bloom-positive (no possible duplicate keeps)
    assert sorted(
        (r["word"], r["wv"]) for r in
        spark.read.parquet(os.path.join(bloom_dir, "words")).collect()
    ) == words_full
    words = spark.read.parquet(os.path.join(bloom_dir, "words"))
    assert (bloom_member(idx_after, "wh", words, m_bits, k_h)
            .filter(F.col("member") == 0).count()) == 0
    # (b) the stats row recomputed EXACTLY — same values the first
    # attempt measured before it crashed
    assert sorted(map(tuple, spark.read.parquet(stats_dir).collect())) \
        == stats_full


# -- 2: scoped pin release ---------------------------------------------------

def test_release_pins_since_releases_only_the_suffix(spark):
    from iceberg_demo_spark.cache import (
        pin, pin_mark, release_pins, release_pins_since)

    outer = pin(spark.range(10))
    outer.count()
    mark = pin_mark()
    inner = pin(spark.range(5))
    inner.count()
    try:
        assert release_pins_since(mark) == 1
        assert inner.storageLevel.useMemory is False
        # the enclosing caller's pin survives the builder's release
        assert outer.storageLevel.useMemory is True
    finally:
        release_pins()
    assert outer.storageLevel.useMemory is False


def test_ensure_curation_state_preserves_enclosing_pins(spark, tmp_path,
                                                        monkeypatch):
    """The state builder releases its own pins but never an enclosing
    caller's (ADVICE r10: the old global release made still-unconsumed
    checkpoint frames unrecomputable mid-gate)."""
    import iceberg_demo_spark.operators.curation as cur
    from iceberg_demo_spark.cache import pin, release_pins

    monkeypatch.setattr(
        cur, "curation_state_path",
        lambda sf_dir: str(tmp_path / "cur_state"))
    outer = pin(spark.range(7))
    outer.count()
    try:
        cur.ensure_curation_state(spark, SF_SMALL)
        assert outer.storageLevel.useMemory is True
    finally:
        release_pins()


# -- VERDICT r10 #4: incremental IVF-PQ maintenance --------------------------

def test_ivfpq_fragmented_codes_equal_direct_build(spark):
    """The epoch-sliced encode against the FROZEN codebook produces
    exactly the direct build's (vec_id, cell_id, codes) set — ingest
    appends are a disjoint union, never a re-train."""
    import os

    from iceberg_demo_spark.operators.curation import (
        ensure_fragmented_ivfpq_index, ensure_ivfpq_index)

    std = ensure_ivfpq_index(spark, SF_SMALL)
    frag = ensure_fragmented_ivfpq_index(spark, SF_SMALL)

    def rows(root):
        return sorted(
            (r["vec_id"], r["cell_id"], tuple(r["codes"])) for r in
            spark.read.parquet(os.path.join(root, "codes")).collect())

    a, b = rows(std), rows(frag)
    assert a == b and len(a) == len({v for v, _, _ in a})


def test_ivfpq_compact_equals_indexed_answer(spark):
    """Maintenance must not change the answer: the compacted-tier probe
    and the standing-index probe return identical rows."""
    from iceberg_demo_spark import registry

    registry.load_all()
    a = registry.QUERIES["sim_ivfpq_indexed"](spark, SF_SMALL).collect()
    b = registry.QUERIES["sim_ivfpq_index_compact"](
        spark, SF_SMALL).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


# -- VERDICT r10 #5: eviction-driven re-admission ----------------------------

def test_curation_incremental_eviction_readmits_outranked_survivor(
        spark, tmp_path):
    """A standing doc Y was dropped ONLY because its near-dup X
    out-ranked it (longer n_chars). A batch doc B with a smaller id and
    X's lowercased text EVICTS X — and B itself fails quality (its
    stopwords are uppercased, so n_en = 0), so the whole dup group
    dies. Y must be RE-ADMITTED: its cluster is affected (the eviction
    touches it), the contracted CC relabels it a singleton, and the
    per-batch survivorship recompute over merged labels keeps it. The
    oracle (the batch pipeline on the merged corpus) pins the flip."""
    import duckdb

    from iceberg_demo_spark import registry
    from iceberg_demo_spark.operators import curation as C
    from tests.test_round10_fixes import _write_synth_docs

    registry.load_all()
    # two DISJOINT stems (no shared word trigram → Jaccard 0 across
    # stems), each quality-satisfying and its own bigram-LM mode, so
    # the only near-dup cluster in the base is {x, y}
    stem1 = ("the cat and the dog of the house ran to the yard and "
             "the bird of the tree sang")  # 20 tokens
    stem2 = ("the fox and the hen of the barn sat in the pen and "
             "the mouse of the field hid")  # 20 tokens
    y = stem1 + " alpha beta gamma x1"          # 24 tokens, SHORTER
    x = stem1 + " alpha beta gamma x1extra"     # near-dup of y, LONGER
    # B: x's text with every quality stopword uppercased — same
    # dup_key (md5 of LOWERCASED text), zero lowercase n_en tokens
    b = " ".join(t.upper() if t in ("the", "a", "of", "and", "to")
                 else t for t in x.split())
    rows = [
        # base partition (doc_id % 5 != 0): x out-ranks y in their
        # near-dup cluster, so the standing election drops y
        (6, y, "src0"),
        (11, x, "src0"),
        (21, stem2 + " delta epsilon zeta x4", "src1"),
        # batch partition: doc 10 evicts doc 11 (same lowercased text,
        # smaller id) and fails quality itself
        (10, b, "src0"),
        (15, stem2 + " delta epsilon zeta x5", "src1"),
    ]
    sf = _write_synth_docs(tmp_path, rows)
    # the standing state really dropped y: x and y share a non-null
    # cluster root (and ONLY they do), and x is longer
    C.ensure_curation_state(spark, sf)
    st = {r["doc_id"]: r for r in spark.read.parquet(
        C.curation_state_path(sf) + "/docs").collect()}
    assert st[6]["cluster_root"] is not None
    assert st[6]["cluster_root"] == st[11]["cluster_root"]
    assert st[21]["cluster_root"] is None  # isolated from the x/y pair
    assert st[11]["n_chars"] > st[6]["n_chars"]
    # the incremental survivor set: y re-admitted, x evicted, b unfit
    _, _, surv = C._cur_incremental_frames(spark, sf)
    ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
    assert 6 in ids and 11 not in ids and 10 not in ids
    # and the full accounting equals the batch pipeline's oracle
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(
        registry.ORACLES["doc_curation_incremental"]).fetchall()
    got = [tuple(r) for r in
           registry.QUERIES["doc_curation_incremental"](spark, sf)
           .collect()]
    norm = [tuple(int(v) if isinstance(v, (int, float)) and not
                  isinstance(v, bool) else v for v in r) for r in want]
    assert got == norm, (got, norm)


# -- VERDICT r10 #8: changelog-driven MV delta maintenance -------------------

def _delta_engine(spark, tmp_path, rows):
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    # NOT NULL amt: the delta path refuses SUM over nullable arguments
    # since round 12 (ADVICE r11 low)
    src = eng.catalog.create_table(
        "db.facts", "k STRING NOT NULL, amt BIGINT NOT NULL")
    src.append(spark.createDataFrame(rows, "k STRING, amt BIGINT"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mvd AS "
            "SELECT k, SUM(amt) AS total, COUNT(*) AS cnt "
            "FROM db_facts GROUP BY k")
    return eng, src


def _backing_rows(eng):
    mv = eng.mv_catalog.get("mvd")
    return sorted(tuple(r) for r in eng.mv.backing_df(mv)
                  .select("k", "total", "cnt").collect())


def test_mv_delta_refresh_deletes_vanished_group(spark, tmp_path):
    """Deleting EVERY source row of a group must remove its backing row
    (the count-reaches-zero MERGE leg) — from the changelog alone, with
    no source rescan."""
    eng, src = _delta_engine(spark, tmp_path, [
        ("a", 10), ("a", 20), ("b", 5), ("c", 7)])
    src.delete_where("k = 'b'")
    src.append(spark.createDataFrame([("c", 3)], "k STRING, amt BIGINT"))
    eng.sql("REFRESH MATERIALIZED VIEW mvd DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    assert _backing_rows(eng) == [("a", 30, 2), ("c", 10, 2)]


def test_mv_delta_refresh_insert_then_delete_nets_to_nothing(
        spark, tmp_path):
    """A group inserted and fully deleted INSIDE the window must not
    appear (the not_matched condition skips zero-count deltas)."""
    eng, src = _delta_engine(spark, tmp_path, [("a", 10)])
    src.append(spark.createDataFrame([("z", 99)], "k STRING, amt BIGINT"))
    src.delete_where("k = 'z'")
    eng.sql("REFRESH MATERIALIZED VIEW mvd DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    assert _backing_rows(eng) == [("a", 10, 1)]


def test_mv_delta_refresh_refuses_non_summable_aggregates(
        spark, tmp_path):
    """MIN cannot be maintained from deltas under deletes: REFRESH DELTA
    must fall back to full recompute (mode records the fallback) and
    still produce the right answer."""
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = eng.catalog.create_table_as(
        "db.facts", spark.createDataFrame(
            [("a", 10), ("a", 3), ("b", 5)], "k STRING, amt BIGINT"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mvm AS "
            "SELECT k, MIN(amt) AS lo, COUNT(*) AS cnt "
            "FROM db_facts GROUP BY k")
    src.delete_where("k = 'a' AND amt = 3")
    eng.sql("REFRESH MATERIALIZED VIEW mvm DELTA")
    assert eng.mv.last_refresh_mode == "full"
    mv = eng.mv_catalog.get("mvm")
    got = sorted(tuple(r) for r in eng.mv.backing_df(mv)
                 .select("k", "lo", "cnt").collect())
    assert got == [("a", 10, 1), ("b", 5, 1)]


def test_mv_delta_refresh_requires_count_star(spark, tmp_path):
    """Without COUNT(*) a vanished group is undetectable from deltas:
    the planner must refuse and fall back to full."""
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = eng.catalog.create_table_as(
        "db.facts", spark.createDataFrame(
            [("a", 10), ("b", 5)], "k STRING, amt BIGINT"))
    eng.register("db.facts")
    eng.sql("CREATE MATERIALIZED VIEW mvs AS "
            "SELECT k, SUM(amt) AS total FROM db_facts GROUP BY k")
    src.delete_where("k = 'b'")
    eng.sql("REFRESH MATERIALIZED VIEW mvs DELTA")
    assert eng.mv.last_refresh_mode == "full"
    mv = eng.mv_catalog.get("mvs")
    got = sorted(tuple(r) for r in eng.mv.backing_df(mv)
                 .select("k", "total").collect())
    assert got == [("a", 10)]


def _join_delta_engine(spark, tmp_path, join="JOIN"):
    from iceberg_demo_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    # NOT NULL amt: the delta path refuses SUM over nullable arguments
    # since round 12 (ADVICE r11 low)
    f = eng.catalog.create_table(
        "db.facts",
        "fid BIGINT NOT NULL, region STRING NOT NULL, amt BIGINT NOT NULL")
    f.append(spark.createDataFrame(
        [(1, "east", 10), (2, "west", 5), (3, "east", 7), (4, "gone", 2)],
        "fid BIGINT, region STRING, amt BIGINT"))
    d = eng.catalog.create_table_as(
        "db.dim", spark.createDataFrame(
            [("east", "z1"), ("west", "z2")],
            "region STRING, zone STRING"))
    eng.register("db.facts")
    eng.register("db.dim")
    eng.sql("CREATE MATERIALIZED VIEW mvj AS "
            "SELECT d.zone, SUM(f.amt) AS total, COUNT(*) AS cnt "
            f"FROM db_facts f {join} db_dim d ON f.region = d.region "
            "GROUP BY d.zone")
    return eng, f, d


def _mvj_rows(eng):
    mv = eng.mv_catalog.get("mvj")
    return sorted((tuple(r) for r in eng.mv.backing_df(mv)
                   .select("zone", "total", "cnt").collect()),
                  key=lambda r: (r[0] is not None, r[0] or ""))


def test_mv_join_delta_fact_only_changes(spark, tmp_path):
    """Fact-only window: signed fact images joined through the
    unchanged dimension fold the exact per-group delta — insert, delete
    and a vanished group, no fact rescan, delta path asserted."""
    eng, f, d = _join_delta_engine(spark, tmp_path)
    f.append(spark.createDataFrame([(5, "east", 100)],
                                   "fid BIGINT, region STRING, amt BIGINT"))
    f.delete_where("region = 'west'")
    eng.sql("REFRESH MATERIALIZED VIEW mvj DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    assert _mvj_rows(eng) == [("z1", 117, 3)]


def test_mv_join_delta_left_join_null_extension(spark, tmp_path):
    """LEFT join: a fact row with no dim match contributes a
    NULL-extended image — COUNT(*) counts it, SUM(dim-side) doesn't."""
    eng, f, d = _join_delta_engine(spark, tmp_path, join="LEFT JOIN")
    f.append(spark.createDataFrame([(6, "nowhere", 50)],
                                   "fid BIGINT, region STRING, amt BIGINT"))
    eng.sql("REFRESH MATERIALIZED VIEW mvj DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    # 'gone' (4) and 'nowhere' (6) both land in the NULL zone group
    assert _mvj_rows(eng) == [(None, 52, 2), ("z1", 17, 2), ("z2", 5, 1)]


def test_mv_join_delta_folds_dimension_change(spark, tmp_path):
    """Round 12 (VERDICT r11 #3): a changed INNER-join dimension is
    delta-folded by the telescoping decomposition — the new dim row
    grants fact row 4 a brand-new group, read from the dim changelog
    joined against the pinned fact state, never a recompute."""
    eng, f, d = _join_delta_engine(spark, tmp_path)
    d.append(spark.createDataFrame([("gone", "z3")],
                                   "region STRING, zone STRING"))
    eng.sql("REFRESH MATERIALIZED VIEW mvj DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    assert eng.mv.last_refresh_fallback_reason is None
    assert _mvj_rows(eng) == [("z1", 17, 2), ("z2", 5, 1), ("z3", 2, 1)]


def test_mv_join_delta_both_sides_changed(spark, tmp_path):
    """Fact AND dim change in the same window: the telescoping terms
    (ΔF ⋈ D_old, F_new ⋈ ΔD) pin consistent snapshots — the new fact
    row must join the OLD dim image in its own term and still be
    re-keyed by the dim change's term, netting to the full recompute."""
    eng, f, d = _join_delta_engine(spark, tmp_path)
    f.append(spark.createDataFrame([(5, "west", 100)],
                                   "fid BIGINT, region STRING, amt BIGINT"))
    # west re-zones z2 → z9: delete + insert images in the dim window
    d.delete_where("region = 'west'")
    d.append(spark.createDataFrame([("west", "z9")],
                                   "region STRING, zone STRING"))
    eng.sql("REFRESH MATERIALIZED VIEW mvj DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    assert _mvj_rows(eng) == [("z1", 17, 2), ("z9", 105, 2)]


def test_mv_join_delta_refuses_dim_change_under_left_join(spark, tmp_path):
    """A dim-side change under a LEFT join flips null-extension of the
    fact rows it (un)matches — invisible to the telescoping terms, so
    the window must REFUSE (recorded reason) and fall back, exactly."""
    eng, f, d = _join_delta_engine(spark, tmp_path, join="LEFT JOIN")
    d.append(spark.createDataFrame([("gone", "z3")],
                                   "region STRING, zone STRING"))
    eng.sql("REFRESH MATERIALIZED VIEW mvj DELTA")
    assert eng.mv.last_refresh_mode == "full"
    assert "LEFT" in (eng.mv.last_refresh_fallback_reason or "")
    # fact row 4 moved from the NULL-extended group into z3
    assert _mvj_rows(eng) == [("z1", 17, 2), ("z2", 5, 1), ("z3", 2, 1)]


def test_mv_delta_refresh_update_commit_signs_both_images(
        spark, tmp_path):
    """An UPDATE commit emits UPDATE_BEFORE (−) and UPDATE_AFTER (+)
    images; the signed fold must land the net difference."""
    eng, src = _delta_engine(spark, tmp_path, [("a", 10), ("b", 5)])
    src.update_where({"amt": "amt + 100"}, "k = 'a'")
    eng.sql("REFRESH MATERIALIZED VIEW mvd DELTA")
    assert eng.mv.last_refresh_mode == "delta"
    assert _backing_rows(eng) == [("a", 110, 1), ("b", 5, 1)]


# -- round 11: state advancement (the multi-batch chain) ---------------------

def test_curation_chain_equals_one_shot_merge(spark):
    """Splitting the ingest into two batches and ADVANCING the state
    between them must land exactly where the one-shot merge lands —
    both equal the full-corpus batch pipeline under the frozen LM, so
    they must equal each other row-for-row."""
    from iceberg_demo_spark import registry

    registry.load_all()
    a = registry.QUERIES["doc_curation_incremental"](
        spark, SF_SMALL).collect()
    b = registry.QUERIES["doc_curation_state_advance"](
        spark, SF_SMALL).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert len(a) > 0


def test_curation_advance_carries_eviction_across_chain(
        spark, tmp_path):
    """An eviction folded into the ADVANCED state must persist into the
    next link: batch 1 evicts the standing keeper (quality-failing
    case-variant, smaller id) and re-admits the out-ranked survivor;
    batch 2 then merges against the advanced state and the chained
    answer still equals the full-corpus oracle."""
    import duckdb

    from iceberg_demo_spark import registry
    from iceberg_demo_spark.operators import curation as C
    from tests.test_round10_fixes import _write_synth_docs

    registry.load_all()
    stem1 = ("the cat and the dog of the house ran to the yard and "
             "the bird of the tree sang")
    stem2 = ("the fox and the hen of the barn sat in the pen and "
             "the mouse of the field hid")
    y = stem1 + " alpha beta gamma x1"
    x = stem1 + " alpha beta gamma x1extra"
    b = " ".join(t.upper() if t in ("the", "a", "of", "and", "to")
                 else t for t in x.split())
    rows = [
        (6, y, "src0"), (11, x, "src0"),
        (21, stem2 + " delta epsilon zeta x4", "src1"),
        # batch 1 (doc_id % 10 = 0): the evicting quality-failing doc
        (10, b, "src0"),
        # batch 2 (doc_id % 10 = 5): an unrelated src1 near-dup
        (15, stem2 + " delta epsilon zeta x5", "src1"),
    ]
    sf = _write_synth_docs(tmp_path, rows)
    got = [tuple(r) for r in
           registry.QUERIES["doc_curation_state_advance"](spark, sf)
           .collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(
        registry.ORACLES["doc_curation_state_advance"]).fetchall()
    norm = [tuple(int(v) if isinstance(v, (int, float)) and not
                  isinstance(v, bool) else v for v in r) for r in want]
    assert got == norm, (got, norm)
    # the advanced state really dropped the evicted keeper and
    # re-admitted the out-ranked survivor
    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.scratch import scratch_path
    import os
    p1 = scratch_path(f"glacier_cur_state_b1_{_sf_tag(sf)}")
    adv = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(p1, "docs")).collect()}
    assert 11 not in adv and 10 not in adv and 6 in adv


def test_curation_advance_resizes_saturated_bloom(spark, tmp_path):
    """When an ingest batch grows the advanced digest set past 1.5× the
    filter's design point, advancement must REBUILD the guard at the
    fresh geometry (the sketch_bloom_resize loop applied in place) —
    and the chained answer still equals the full-corpus oracle."""
    import json
    import os

    import duckdb

    from iceberg_demo_spark import registry
    from iceberg_demo_spark.operators import curation as C
    from iceberg_demo_spark.operators.layout import _sf_tag
    from iceberg_demo_spark.scratch import scratch_path
    from tests.test_round10_fixes import _write_synth_docs

    registry.load_all()
    stem = ("the cat and the dog of the house ran to the yard and "
            "the bird of the tree sang")
    rows = [
        (6, stem + " alpha beta gamma x1", "src0"),
        (11, stem + " alpha beta gamma x2", "src0"),
        (15, stem + " delta epsilon x5", "src0"),  # batch 2
    ]
    # batch 1: five big docs, each adding ~40 unique suffix trigrams —
    # the digest set grows far past the base filter's design point
    for i in (10, 20, 30, 40, 50):
        suffix = " ".join(f"q{i}t{j}" for j in range(40))
        rows.append((i, stem + " " + suffix, "src0"))
    sf = _write_synth_docs(tmp_path, rows)
    got = [tuple(r) for r in
           registry.QUERIES["doc_curation_state_advance"](spark, sf)
           .collect()]
    p0 = C.curation_state_path(sf)
    p1 = scratch_path(f"glacier_cur_state_b1_{_sf_tag(sf)}")
    g0 = spark.read.parquet(os.path.join(p0, "geom")).first()
    g1 = spark.read.parquet(os.path.join(p1, "geom")).first()
    assert g1["n"] > g0["n"] and g1["m"] > g0["m"], (dict(g0.asDict()),
                                                     dict(g1.asDict()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(
        registry.ORACLES["doc_curation_state_advance"]).fetchall()
    norm = [tuple(int(v) if isinstance(v, (int, float)) and not
                  isinstance(v, bool) else v for v in r) for r in want]
    assert got == norm, (got, norm)


def test_curation_chain_final_plan_never_scans_corpus(spark):
    """Each chain link reads raw text once (its own batch, behind an
    eager checkpoint); the returned accounting plan scans NO corpus —
    the advanced state is consumed through its parquet artifacts."""
    import contextlib
    import io

    from iceberg_demo_spark import registry

    registry.load_all()
    df = registry.QUERIES["doc_curation_state_advance"](spark, SF_MED)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "documents.parquet" not in buf.getvalue()


# -- tooling: cross-round canary normalization + freshness drift report ------

def test_cross_round_normalization_math(tmp_path):
    """canary_cross_round_ratio divides this round's mean canary total
    by the latest earlier artifact's; the shared-subtotal ratio is then
    normalized by that host-drift factor."""
    import json
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from quiet_bench import cross_round_normalization

    prev = {"canary_before_total": 2.0, "canary_after_total": 2.2,
            "queries": {"a": 1.0, "b": 2.0, "c": 3.0}}
    (tmp_path / "BENCH_QUIET_r10.json").write_text(json.dumps(prev))
    # diagnostic variants must be skipped, not crash the scan
    (tmp_path / "BENCH_QUIET_r09_control.json").write_text("{}")
    payload = {"queries": {"a": 2.0, "b": 4.0, "z": 9.0}}
    out = cross_round_normalization(str(tmp_path), 11, payload, 4.2)
    assert out["canary_prev_round"] == 10
    assert out["canary_prev_total"] == 2.1
    assert out["canary_cross_round_ratio"] == 2.0
    assert out["shared_query_count"] == 2  # a, b
    assert out["shared_ratio_raw"] == 2.0  # 6.0 / 3.0
    assert out["shared_ratio_normalized"] == 1.0  # pure host drift
    # no earlier artifact → explicit null marker
    assert cross_round_normalization(str(tmp_path), 10, payload, 2.0) \
        == {"canary_prev_round": None}


# -- 3: one quality predicate, two tiers ------------------------------------

def test_pipeline_quality_filter_is_the_shared_predicate():
    """doc_curation_pipeline's qual filter must call
    _pipe_quality_cond() — the incremental tier's oracle pins exact
    equality with the batch pipeline, so the conditions must have ONE
    definition (source-level guard: the inline restatement is gone)."""
    import inspect

    import iceberg_demo_spark.operators.curation as cur

    src = inspect.getsource(cur.doc_curation_pipeline)
    assert "_pipe_quality_cond()" in src
    assert "_PIPE_LM_MIN_PPM" not in src  # lives only in the predicate
