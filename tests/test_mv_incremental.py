"""Incremental MV refresh: delta-driven partial group recompute via the
source table's changelog (beyond the reference, whose REFRESH INCREMENTAL
always recomputes fully — MaterializedViewCommands.scala:150-177)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_demo_spark.engine import Engine


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


def _setup(engine, rows, name="db.sales"):
    t = engine.catalog.create_table(
        name, "region string, product string, amount double")
    t.append(engine.spark.createDataFrame(rows, schema=t.schema()))
    engine.register(name)  # temp view db_sales
    return t


def _expected(engine, t):
    return {
        tuple(r)
        for r in t.scan().groupBy("region")
        .agg(F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n"),
             F.min("amount").alias("lo"))
        .collect()
    }


def _mv_rows(engine, name):
    mv = engine.mv_catalog.get(name)
    return {tuple(r) for r in engine.mv.backing_df(mv).collect()}


ROWS = [("east", "w", 100.0), ("east", "g", 200.0),
        ("west", "w", 50.0), ("north", "w", 10.0)]

MV_SQL = ("CREATE MATERIALIZED VIEW inc_mv AS "
          "SELECT region, sum(amount) AS total, count(*) AS n, "
          "min(amount) AS lo FROM db_sales GROUP BY region")


def test_incremental_refresh_after_append(engine):
    t = _setup(engine, ROWS)
    engine.sql(MV_SQL)
    mv = engine.mv_catalog.get("inc_mv")
    assert mv.source_table == "db.sales"
    assert mv.source_snapshot_id > 0
    t.append(engine.spark.createDataFrame(
        [("east", "w", 7.0), ("south", "g", 1.0)], schema=t.schema()))
    engine.sql("REFRESH MATERIALIZED VIEW inc_mv INCREMENTAL")
    assert _mv_rows(engine, "inc_mv") == _expected(engine, t)
    assert engine.mv_catalog.get("inc_mv").source_snapshot_id == \
        t.metadata.current_snapshot().snapshot_id


def test_incremental_refresh_after_delete_and_update(engine):
    """Deletes shrink groups (east loses its max row; north vanishes) —
    partial recompute keeps MIN/SUM exact where +/- deltas could not keep
    MIN."""
    t = _setup(engine, ROWS)
    engine.sql(MV_SQL)
    t.delete_where("region = 'north'")
    t.update_where({"amount": "amount * 2"}, "region = 'west'")
    engine.sql("REFRESH MATERIALIZED VIEW inc_mv INCREMENTAL")
    got = _mv_rows(engine, "inc_mv")
    assert got == _expected(engine, t)
    assert not any(r[0] == "north" for r in got)  # emptied group removed


def test_incremental_noop_when_in_sync(engine):
    t = _setup(engine, ROWS)
    engine.sql(MV_SQL)
    before = t.metadata.current_snapshot().snapshot_id
    engine.sql("REFRESH MATERIALIZED VIEW inc_mv INCREMENTAL")
    assert engine.mv_catalog.get("inc_mv").source_snapshot_id == before
    assert _mv_rows(engine, "inc_mv") == _expected(engine, t)


def test_incremental_untouched_groups_not_recomputed(engine):
    """Only touched groups change backing rows; untouched groups' rows carry
    over byte-identical (same values)."""
    t = _setup(engine, ROWS)
    engine.sql(MV_SQL)
    before = {r[0]: tuple(r) for r in _mv_rows(engine, "inc_mv")}
    t.append(engine.spark.createDataFrame(
        [("west", "g", 5.0)], schema=t.schema()))
    engine.sql("REFRESH MATERIALIZED VIEW inc_mv INCREMENTAL")
    after = {r[0]: tuple(r) for r in _mv_rows(engine, "inc_mv")}
    assert after["east"] == before["east"]
    assert after["north"] == before["north"]
    assert after["west"] != before["west"]


def _join_setup(engine):
    t = _setup(engine, ROWS)
    d = engine.catalog.create_table("db.dim", "region string, zone string")
    d.append(engine.spark.createDataFrame(
        [("east", "z1"), ("west", "z2"), ("north", "z1")],
        "region string, zone string"))
    engine.register("db.dim")
    engine.sql(
        "CREATE MATERIALIZED VIEW join_mv AS "
        "SELECT d.zone, sum(s.amount) AS total FROM db_sales s "
        "JOIN db_dim d ON s.region = d.region GROUP BY d.zone")
    return t, d


def _join_expected(engine, t, d):
    return {
        tuple(r)
        for r in t.scan().join(d.scan(), "region")
        .groupBy("zone").agg(F.sum("amount").alias("total")).collect()
    }


def test_join_mv_incremental_fact_append(engine, monkeypatch):
    """Round 4: join MVs refresh incrementally (no full-recompute
    fallback) — fact-side appends touch only the joined-through groups."""
    t, d = _join_setup(engine)
    mv = engine.mv_catalog.get("join_mv")
    assert set(mv.source_snapshots) == {"db_sales", "db_dim"}
    t.append(engine.spark.createDataFrame(
        [("east", "w", 1.0)], schema=t.schema()))

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("join_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("join_mv")).collect()}
    assert got == {("z1", 311.0), ("z2", 50.0)}
    assert got == _join_expected(engine, t, d)


def test_join_mv_incremental_untouched_group_not_rewritten(engine):
    """A fact append hitting z1 must leave z2's backing row carried over."""
    t, d = _join_setup(engine)
    before = {r["zone"]: tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("join_mv")).collect()}
    t.append(engine.spark.createDataFrame(
        [("north", "g", 4.0)], schema=t.schema()))
    engine.sql("REFRESH MATERIALIZED VIEW join_mv INCREMENTAL")
    after = {r["zone"]: tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("join_mv")).collect()}
    assert after["z2"] == before["z2"]
    assert after["z1"] == ("z1", 314.0)


def test_join_mv_incremental_dimension_update_moves_group(engine, monkeypatch):
    """Dimension-side change: re-zoning west z2→z3 must drop the z2 group
    and create z3 — the deleted dim image finds the facts it used to join
    through (old-state join), the new image finds them again."""
    t, d = _join_setup(engine)
    d.update_where({"zone": "'z3'"}, "region = 'west'")

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("join_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("join_mv")).collect()}
    assert got == {("z1", 310.0), ("z3", 50.0)}
    assert got == _join_expected(engine, t, d)


def test_join_mv_incremental_both_sides_change(engine):
    """Deltas on BOTH tables in one window, including a fact row whose dim
    partner is itself deleted in the window (needs old-state join to find
    the touched group)."""
    t, d = _join_setup(engine)
    t.delete_where("region = 'north'")          # fact delete
    d.delete_where("region = 'north'")          # its dim partner also goes
    t.append(engine.spark.createDataFrame(
        [("west", "g", 7.0)], schema=t.schema()))
    d.append(engine.spark.createDataFrame(
        [("south", "z4")], "region string, zone string"))
    t.append(engine.spark.createDataFrame(
        [("south", "w", 2.0)], schema=t.schema()))
    engine.sql("REFRESH MATERIALIZED VIEW join_mv INCREMENTAL")
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("join_mv")).collect()}
    assert got == _join_expected(engine, t, d)
    assert got == {("z1", 300.0), ("z2", 57.0), ("z4", 2.0)}


def test_join_mv_incremental_where_filter(engine):
    t, d = _join_setup(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW join_filt_mv AS "
        "SELECT d.zone, count(*) AS n, max(s.amount) AS hi FROM db_sales s "
        "JOIN db_dim d ON s.region = d.region "
        "WHERE s.amount > 20 GROUP BY d.zone")
    t.append(engine.spark.createDataFrame(
        [("north", "g", 15.0), ("north", "g", 100.0)], schema=t.schema()))
    engine.sql("REFRESH MATERIALIZED VIEW join_filt_mv INCREMENTAL")
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("join_filt_mv")).collect()}
    want = {
        tuple(r)
        for r in t.scan().filter("amount > 20").join(d.scan(), "region")
        .groupBy("zone").agg(F.count(F.lit(1)).alias("n"),
                             F.max("amount").alias("hi")).collect()
    }
    assert got == want


def test_join_mv_incremental_randomized_matches_full(engine):
    """Randomized DML over both join sides: every incremental refresh must
    equal a from-scratch recompute."""
    import random

    rng = random.Random(11)
    t, d = _join_setup(engine)
    regions = ["east", "west", "north", "south"]
    zones = ["z1", "z2", "z3"]
    for step in range(6):
        side = rng.choice(["fact", "fact", "dim"])
        if side == "fact":
            op = rng.choice(["append", "delete", "update"])
            if op == "append":
                rows = [(rng.choice(regions), "p", float(rng.randint(1, 99)))
                        for _ in range(rng.randint(1, 3))]
                t.append(engine.spark.createDataFrame(rows, schema=t.schema()))
            elif op == "delete":
                t.delete_where(
                    f"amount < {rng.randint(5, 40)} "
                    f"and region = '{rng.choice(regions)}'")
            else:
                t.update_where({"amount": "amount + 1"},
                               f"region = '{rng.choice(regions)}'")
        else:
            op = rng.choice(["append", "update"])
            if op == "append":
                r = rng.choice(regions)
                d.append(engine.spark.createDataFrame(
                    [(r + str(step), rng.choice(zones))],
                    "region string, zone string"))
            else:
                d.update_where({"zone": f"'{rng.choice(zones)}'"},
                               f"region = '{rng.choice(regions)}'")
        engine.sql("REFRESH MATERIALIZED VIEW join_mv INCREMENTAL")
        got = {tuple(r) for r in engine.mv.backing_df(
            engine.mv_catalog.get("join_mv")).collect()}
        assert got == _join_expected(engine, t, d), \
            f"divergence at step {step} ({side} {op})"


def test_incremental_with_where_filter(engine):
    t = _setup(engine, ROWS)
    engine.sql(
        "CREATE MATERIALIZED VIEW filt_mv AS "
        "SELECT region, sum(amount) AS total FROM db_sales "
        "WHERE amount > 20 GROUP BY region")
    t.append(engine.spark.createDataFrame(
        [("north", "g", 15.0), ("north", "g", 100.0)], schema=t.schema()))
    engine.sql("REFRESH MATERIALIZED VIEW filt_mv INCREMENTAL")
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("filt_mv")).collect()}
    # north: only the 100.0 row passes the filter (10 and 15 don't)
    assert got == {("east", 300.0), ("west", 50.0), ("north", 100.0)}


def test_delta_refresh_where_keeps_literal_case(engine):
    """The view's WHERE filters the changelog as written: ``status = 'F'``
    must not become ``'f'`` in the DELTA path."""
    t = engine.catalog.create_table(
        "db.ord", "status string NOT NULL, amt bigint NOT NULL")
    rows = "status string, amt bigint"
    t.append(engine.spark.createDataFrame(
        [("F", 10), ("O", 20), ("f", 1)], rows))
    engine.register("db.ord")
    engine.sql(
        "CREATE MATERIALIZED VIEW st_mv AS "
        "SELECT status, sum(amt) AS total, count(*) AS n FROM db_ord "
        "WHERE status = 'F' GROUP BY status")
    t.append(engine.spark.createDataFrame(
        [("F", 5), ("f", 2), ("O", 3)], rows))
    t.delete_where("amt = 10")
    engine.sql("REFRESH MATERIALIZED VIEW st_mv DELTA")
    assert engine.mv.last_refresh_mode == "delta"
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("st_mv")).select("status", "total", "n")
        .collect()}
    full = {tuple(r) for r in t.scan().filter("status = 'F'")
            .groupBy("status").agg(F.sum("amt"), F.count(F.lit(1)))
            .collect()}
    assert got == full == {("F", 5, 1)}


def test_incremental_randomized_matches_full(engine):
    """Randomized DML sequence: after every incremental refresh the backing
    equals a from-scratch recompute."""
    import random

    rng = random.Random(7)
    # seed a NULL-key group so every refresh handles it regardless of rng
    t = _setup(engine, ROWS + [(None, "w", 5.0)], "db.rand")
    engine.register("db.rand")
    engine.sql(
        "CREATE MATERIALIZED VIEW rand_mv AS "
        "SELECT region, sum(amount) AS total, count(*) AS n, "
        "max(amount) AS hi FROM db_rand GROUP BY region")
    # None exercises the NULL-group-key path (isin can't match NULL)
    regions = ["east", "west", "north", "south", None]
    for step in range(6):
        op = rng.choice(["append", "delete", "update"])
        if op == "append":
            rows = [(rng.choice(regions), "p", float(rng.randint(1, 99)))
                    for _ in range(rng.randint(1, 4))]
            t.append(engine.spark.createDataFrame(rows, schema=t.schema()))
        elif op == "delete":
            r = rng.choice(regions)
            pred = "region IS NULL" if r is None else f"region = '{r}'"
            t.delete_where(f"amount < {rng.randint(5, 40)} and {pred}")
        else:
            r = rng.choice(regions)
            pred = "region IS NULL" if r is None else f"region = '{r}'"
            t.update_where({"amount": "amount + 1"}, pred)
        engine.sql("REFRESH MATERIALIZED VIEW rand_mv INCREMENTAL")
        got = {tuple(r) for r in engine.mv.backing_df(
            engine.mv_catalog.get("rand_mv")).collect()}
        want = {
            tuple(r) for r in t.scan().groupBy("region")
            .agg(F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n"),
                 F.max("amount").alias("hi")).collect()
        }
        assert got == want, f"divergence at step {step} after {op}"


def test_incremental_path_actually_taken(engine, monkeypatch):
    """Guard against silent fallback: full refresh is forbidden during an
    incremental refresh of a maintainable view."""
    t = _setup(engine, ROWS, "db.strict")
    engine.register("db.strict")
    engine.sql(
        "CREATE MATERIALIZED VIEW strict_mv AS "
        "SELECT region, sum(amount) AS total FROM db_strict GROUP BY region")
    t.append(engine.spark.createDataFrame(
        [("east", "w", 1.0)], schema=t.schema()))

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("strict_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("strict_mv")).collect()}
    assert got == {("east", 301.0), ("west", 50.0), ("north", 10.0)}


def test_incremental_refresh_out_of_scope_delta_is_metadata_only(engine):
    """DML that the MV's WHERE filters out entirely must not rewrite any
    backing file — only the synchronized snapshot advances."""
    t = _setup(engine, ROWS, "db.scoped")
    engine.register("db.scoped")
    engine.sql(
        "CREATE MATERIALIZED VIEW scoped_mv AS "
        "SELECT region, sum(amount) AS total FROM db_scoped "
        "WHERE amount > 60 GROUP BY region")
    backing = engine.catalog.load_table(
        engine.mv_catalog.get("scoped_mv").backing_table)
    snap_before = backing.metadata.current_snapshot().snapshot_id
    t.append(engine.spark.createDataFrame(
        [("east", "w", 1.0)], schema=t.schema()))  # below the WHERE cutoff
    engine.sql("REFRESH MATERIALIZED VIEW scoped_mv INCREMENTAL")
    assert backing.refresh().metadata.current_snapshot().snapshot_id \
        == snap_before
    assert engine.mv_catalog.get("scoped_mv").source_snapshot_id \
        == t.metadata.current_snapshot().snapshot_id


# -- LEFT-join incremental refresh (round 4, second half) -------------------

def _left_join_setup(engine):
    """dim lacks 'north' → north facts live in the NULL-extended group."""
    t = _setup(engine, ROWS)
    d = engine.catalog.create_table("db.dim", "region string, zone string")
    d.append(engine.spark.createDataFrame(
        [("east", "z1"), ("west", "z2")], "region string, zone string"))
    engine.register("db.dim")
    engine.sql(
        "CREATE MATERIALIZED VIEW ljoin_mv AS "
        "SELECT d.zone, count(*) AS n, sum(s.amount) AS total "
        "FROM db_sales s LEFT JOIN db_dim d ON s.region = d.region "
        "GROUP BY d.zone")
    return t, d


def _left_join_expected(engine, t, d):
    return {
        tuple(r)
        for r in t.scan().alias("s")
        .join(d.scan().alias("d"), F.col("s.region") == F.col("d.region"),
              "left")
        .groupBy("zone").agg(F.count(F.lit(1)).alias("n"),
                             F.sum("amount").alias("total"))
        .collect()
    }


def _ljoin_rows(engine):
    return {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("ljoin_mv")).collect()}


def test_left_join_mv_incremental_unmatched_fact_append(engine, monkeypatch):
    """A fact append with NO dim match must incrementally update the
    NULL-extended group — the probe keeps the LEFT join for preserved-side
    deltas exactly so this row isn't lost."""
    t, d = _left_join_setup(engine)
    assert _ljoin_rows(engine) == _left_join_expected(engine, t, d)
    t.append(engine.spark.createDataFrame(
        [("south", "w", 7.0)], schema=t.schema()))

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("ljoin_mv", incremental=True)
    got = _ljoin_rows(engine)
    assert got == _left_join_expected(engine, t, d)
    assert (None, 2, 17.0) in got  # north 10.0 + south 7.0


def test_left_join_mv_incremental_dim_append_moves_rows_out_of_null_group(
        engine, monkeypatch):
    """Adding the missing dim row moves north facts from the NULL group to
    z9 — the nulled-key probe must mark the NULL group touched, or its
    stale row would survive."""
    t, d = _left_join_setup(engine)
    d.append(engine.spark.createDataFrame(
        [("north", "z9")], "region string, zone string"))

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("ljoin_mv", incremental=True)
    got = _ljoin_rows(engine)
    assert got == _left_join_expected(engine, t, d)
    assert ("z9", 1, 10.0) in got
    assert not any(z is None for z, _n, _t in got)  # NULL group emptied


def test_left_join_mv_incremental_dim_delete_moves_rows_into_null_group(
        engine, monkeypatch):
    t, d = _left_join_setup(engine)
    d.delete_where("region = 'west'")

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("ljoin_mv", incremental=True)
    got = _ljoin_rows(engine)
    assert got == _left_join_expected(engine, t, d)
    assert (None, 2, 60.0) in got  # west 50.0 joins north 10.0 in NULL group


def test_left_join_mv_where_on_nullable_side(engine, monkeypatch):
    """Round 4 refused EVERY WHERE over the nullable table; round 5 admits
    provably null-REJECTING conjuncts (they can only remove NULL-extended
    rows, which the probes model exactly) — IS NOT NULL now enrolls and
    maintains incrementally; IS NULL still refuses (covered separately)."""
    t, d = _left_join_setup(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW ljoin_guard_mv AS "
        "SELECT d.zone, count(*) AS n FROM db_sales s "
        "LEFT JOIN db_dim d ON s.region = d.region "
        "WHERE d.zone IS NOT NULL GROUP BY d.zone")
    mv = engine.mv_catalog.get("ljoin_guard_mv")
    assert set(mv.source_snapshots) == {"db_sales", "db_dim"}
    d.delete_where("region = 'west'")

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("ljoin_guard_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("ljoin_guard_mv")).collect()}
    expected = {
        tuple(r)
        for r in t.scan().alias("s")
        .join(d.scan().alias("d"), F.col("s.region") == F.col("d.region"),
              "left")
        .filter(F.col("d.zone").isNotNull())
        .groupBy("zone").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected
    assert not any(z is None for z, _n in got)


def test_left_join_mv_incremental_randomized_matches_full(engine):
    """Randomized DML on both sides of a LEFT join: every incremental
    refresh equals a from-scratch recompute, NULL group included."""
    import random

    rng = random.Random(23)
    t, d = _left_join_setup(engine)
    regions = ["east", "west", "north", "south"]
    zones = ["z1", "z2", "z3"]
    for step in range(6):
        side = rng.choice(["fact", "dim", "dim"])
        if side == "fact":
            op = rng.choice(["append", "delete"])
            if op == "append":
                rows = [(rng.choice(regions), "p", float(rng.randint(1, 99)))]
                t.append(engine.spark.createDataFrame(rows, schema=t.schema()))
            else:
                t.delete_where(
                    f"amount < {rng.randint(5, 60)} "
                    f"and region = '{rng.choice(regions)}'")
        else:
            op = rng.choice(["append", "update", "delete"])
            if op == "append":
                d.append(engine.spark.createDataFrame(
                    [(rng.choice(regions), rng.choice(zones))],
                    "region string, zone string"))
            elif op == "update":
                d.update_where({"zone": f"'{rng.choice(zones)}'"},
                               f"region = '{rng.choice(regions)}'")
            else:
                d.delete_where(f"region = '{rng.choice(regions)}'")
        engine.sql("REFRESH MATERIALIZED VIEW ljoin_mv INCREMENTAL")
        assert _ljoin_rows(engine) == _left_join_expected(engine, t, d), \
            f"divergence at step {step} ({side} {op})"


def test_right_join_mv_canonicalizes_to_left_and_refreshes(engine,
                                                           monkeypatch):
    """2-table RIGHT JOIN ≡ swapped LEFT JOIN: the MV enrolls for join-
    incremental maintenance and a preserved-side (dim) delete that pushes
    facts into the NULL-extended group refreshes without fallback."""
    t = _setup(engine, ROWS)
    d = engine.catalog.create_table("db.dim", "region string, zone string")
    d.append(engine.spark.createDataFrame(
        [("east", "z1"), ("west", "z2"), ("south", "z5")],
        "region string, zone string"))
    engine.register("db.dim")
    engine.sql(
        "CREATE MATERIALIZED VIEW rjoin_mv AS "
        "SELECT d.zone, count(*) AS n FROM db_sales s "
        "RIGHT JOIN db_dim d ON s.region = d.region GROUP BY d.zone")
    mv = engine.mv_catalog.get("rjoin_mv")
    assert set(mv.source_snapshots) == {"db_sales", "db_dim"}
    t.append(engine.spark.createDataFrame(
        [("south", "w", 3.0)], schema=t.schema()))
    d.delete_where("region = 'west'")

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("rjoin_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("rjoin_mv")).collect()}
    want = {
        tuple(r)
        for r in t.scan().alias("s")
        .join(d.scan().alias("d"), F.col("s.region") == F.col("d.region"),
              "right")
        .groupBy("zone").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_two_left_joins_partial_null_group_move(engine, monkeypatch):
    """Review regression: with TWO left joins and keys from both nullable
    tables, deleting a c row moves facts from (zone, cat) to (zone, NULL) —
    the probe must touch the PARTIALLY-nulled destination key, not just the
    all-nulled one."""
    t = _setup(engine, ROWS)
    b = engine.catalog.create_table("db.bdim", "region string, zone string")
    b.append(engine.spark.createDataFrame(
        [("east", "z1"), ("west", "z2"), ("north", "z1")],
        "region string, zone string"))
    c = engine.catalog.create_table("db.cdim", "product string, cat string")
    c.append(engine.spark.createDataFrame(
        [("w", "tools"), ("g", "toys")], "product string, cat string"))
    engine.register("db.bdim")
    engine.register("db.cdim")
    engine.sql(
        "CREATE MATERIALIZED VIEW ll_mv AS "
        "SELECT b.zone, c.cat, count(*) AS n FROM db_sales s "
        "LEFT JOIN db_bdim b ON s.region = b.region "
        "LEFT JOIN db_cdim c ON s.product = c.cat_key GROUP BY b.zone, c.cat"
        .replace("c.cat_key", "c.product"))
    c.delete_where("product = 'w'")

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("ll_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("ll_mv")).collect()}
    want = {
        tuple(r)
        for r in t.scan().alias("s")
        .join(b.scan().alias("b"), F.col("s.region") == F.col("b.region"),
              "left")
        .join(c.scan().alias("c"), F.col("s.product") == F.col("c.product"),
              "left")
        .groupBy("zone", "cat").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
    # the moved facts landed in (zone, NULL) groups with zone NON-null
    assert any(z is not None and cat is None for z, cat, _n in got)


def test_two_left_joins_randomized_matches_full(engine):
    """Randomized DML over fact + both nullable dims of a two-LEFT-join MV:
    every incremental refresh must equal a from-scratch recompute — fuzzes
    the subset-nulled-key probe across partial NULL-group transitions."""
    import random

    rng = random.Random(31)
    t = _setup(engine, ROWS)
    b = engine.catalog.create_table("db.bdim", "region string, zone string")
    b.append(engine.spark.createDataFrame(
        [("east", "z1"), ("west", "z2")], "region string, zone string"))
    c = engine.catalog.create_table("db.cdim", "product string, cat string")
    c.append(engine.spark.createDataFrame(
        [("w", "tools")], "product string, cat string"))
    engine.register("db.bdim")
    engine.register("db.cdim")
    engine.sql(
        "CREATE MATERIALIZED VIEW ll_rand_mv AS "
        "SELECT b.zone, c.cat, count(*) AS n, sum(s.amount) AS total "
        "FROM db_sales s LEFT JOIN db_bdim b ON s.region = b.region "
        "LEFT JOIN db_cdim c ON s.product = c.product "
        "GROUP BY b.zone, c.cat")
    regions = ["east", "west", "north", "south"]
    products = ["w", "g", "p"]
    zones = ["z1", "z2", "z3"]
    cats = ["tools", "toys"]

    def expected():
        return {
            tuple(r)
            for r in t.scan().alias("s")
            .join(b.scan().alias("b"),
                  F.col("s.region") == F.col("b.region"), "left")
            .join(c.scan().alias("c"),
                  F.col("s.product") == F.col("c.product"), "left")
            .groupBy("zone", "cat")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("amount").alias("total")).collect()
        }

    for step in range(8):
        side = rng.choice(["fact", "b", "c", "c"])
        if side == "fact":
            if rng.random() < 0.6:
                t.append(engine.spark.createDataFrame(
                    [(rng.choice(regions), rng.choice(products),
                      float(rng.randint(1, 99)))], schema=t.schema()))
            else:
                t.delete_where(f"region = '{rng.choice(regions)}' "
                               f"and amount < {rng.randint(10, 60)}")
        elif side == "b":
            if rng.random() < 0.5:
                b.append(engine.spark.createDataFrame(
                    [(rng.choice(regions), rng.choice(zones))],
                    "region string, zone string"))
            else:
                b.delete_where(f"region = '{rng.choice(regions)}'")
        else:
            if rng.random() < 0.5:
                c.append(engine.spark.createDataFrame(
                    [(rng.choice(products), rng.choice(cats))],
                    "product string, cat string"))
            else:
                c.delete_where(f"product = '{rng.choice(products)}'")
        engine.sql("REFRESH MATERIALIZED VIEW ll_rand_mv INCREMENTAL")
        got = {tuple(r) for r in engine.mv.backing_df(
            engine.mv_catalog.get("ll_rand_mv")).collect()}
        assert got == expected(), f"divergence at step {step} ({side})"


# -- round-5 fallback narrowing ---------------------------------------------

def _left_join_setup_no_mv(engine):
    """Same tables as _left_join_setup, no MV created."""
    t = _setup(engine, ROWS)
    d = engine.catalog.create_table("db.dim", "region string, zone string")
    d.append(engine.spark.createDataFrame(
        [("east", "z1"), ("west", "z2")], "region string, zone string"))
    engine.register("db.dim")
    return t, d


def test_left_join_mv_date_trunc_key_incremental(engine, monkeypatch):
    """A null-propagating expression key (date_trunc over the nullable
    dim's column) enrolls for join-incremental refresh since round 5 —
    date_trunc(NULL) IS NULL, so the nulled-key probes stay exact."""
    t = _setup(engine, ROWS)
    d = engine.catalog.create_table(
        "db.ddim", "region string, since timestamp")
    d.append(engine.spark.sql(
        "SELECT 'east' AS region, timestamp'2024-01-15 00:00:00' AS since "
        "UNION ALL SELECT 'west', timestamp'2024-02-20 00:00:00'"))
    engine.register("db.ddim")
    engine.sql(
        "CREATE MATERIALIZED VIEW dt_mv AS "
        "SELECT date_trunc('month', d.since) AS m, count(*) AS n, "
        "sum(s.amount) AS total "
        "FROM db_sales s LEFT JOIN db_ddim d ON s.region = d.region "
        "GROUP BY date_trunc('month', d.since)")
    mv = engine.mv_catalog.get("dt_mv")
    assert set(mv.source_snapshots) == {"db_sales", "db_ddim"}

    # dim append moves 'north' facts out of the NULL-month group
    d.append(engine.spark.sql(
        "SELECT 'north' AS region, timestamp'2024-03-05 00:00:00' AS since"))
    t.append(engine.spark.createDataFrame(
        [("south", "w", 7.0)], schema=t.schema()))

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("dt_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("dt_mv")).collect()}
    expected = {
        tuple(r)
        for r in t.scan().alias("s")
        .join(d.scan().alias("d"), F.col("s.region") == F.col("d.region"),
              "left")
        .groupBy(F.date_trunc("month", F.col("d.since")).alias("m"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("total"))
        .collect()
    }
    assert got == expected
    assert any(m is None for m, _n, _t in got)  # south 7.0 is unmatched


def test_left_join_mv_null_rejecting_where_incremental(engine, monkeypatch):
    """WHERE d.zone <> literal (null-rejecting) enrolls since round 5: it
    can only REMOVE NULL-extended rows, which the probes model exactly."""
    t, d = _left_join_setup_no_mv(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW nr_mv AS "
        "SELECT d.zone, count(*) AS n, sum(s.amount) AS total "
        "FROM db_sales s LEFT JOIN db_dim d ON s.region = d.region "
        "WHERE d.zone <> 'z9' GROUP BY d.zone")
    mv = engine.mv_catalog.get("nr_mv")
    assert set(mv.source_snapshots) == {"db_sales", "db_dim"}

    d.delete_where("region = 'west'")          # z2 group shrinks away
    d.append(engine.spark.createDataFrame(
        [("north", "z9")], "region string, zone string"))  # filtered out
    t.append(engine.spark.createDataFrame(
        [("east", "w", 5.0)], schema=t.schema()))

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("nr_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("nr_mv")).collect()}
    expected = {
        tuple(r)
        for r in t.scan().alias("s")
        .join(d.scan().alias("d"), F.col("s.region") == F.col("d.region"),
              "left")
        .filter(F.col("d.zone") != "z9")
        .groupBy("zone").agg(F.count(F.lit(1)).alias("n"),
                             F.sum("amount").alias("total"))
        .collect()
    }
    assert got == expected
    assert not any(z is None for z, _n, _t in got)  # WHERE rejects NULLs


def test_left_join_mv_is_null_where_still_refuses(engine):
    _left_join_setup_no_mv(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW isn_mv AS "
        "SELECT d.zone, count(*) AS n FROM db_sales s "
        "LEFT JOIN db_dim d ON s.region = d.region "
        "WHERE d.zone IS NULL GROUP BY d.zone")
    assert not engine.mv_catalog.get("isn_mv").source_snapshots


def test_right_join_three_table_mv_enrolls_and_refreshes(engine, monkeypatch):
    """N-table RIGHT canonicalization (round 5): the FIRST join of a
    left-deep chain is a self-contained subtree, so A RIGHT JOIN B ... ≡
    B LEFT JOIN A ... regardless of what follows."""
    t, d = _left_join_setup_no_mv(engine)
    p = engine.catalog.create_table("db.pdim", "product string, cat string")
    p.append(engine.spark.createDataFrame(
        [("w", "widget")], "product string, cat string"))
    engine.register("db.pdim")
    engine.sql(
        "CREATE MATERIALIZED VIEW rj3_mv AS "
        "SELECT d.zone, count(*) AS n, sum(s.amount) AS total "
        "FROM db_sales s RIGHT JOIN db_dim d ON s.region = d.region "
        "LEFT JOIN db_pdim p ON s.product = p.product "
        "GROUP BY d.zone")
    mv = engine.mv_catalog.get("rj3_mv")
    assert set(mv.source_snapshots) == {"db_sales", "db_dim", "db_pdim"}

    t.append(engine.spark.createDataFrame(
        [("east", "g", 9.0)], schema=t.schema()))
    p.append(engine.spark.createDataFrame(
        [("g", "gadget")], "product string, cat string"))

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("rj3_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("rj3_mv")).collect()}
    expected = {
        tuple(r)
        for r in d.scan().alias("d")
        .join(t.scan().alias("s"), F.col("s.region") == F.col("d.region"),
              "left")
        .join(p.scan().alias("p"), F.col("s.product") == F.col("p.product"),
              "left")
        .groupBy("zone").agg(F.count(F.lit(1)).alias("n"),
                             F.sum("amount").alias("total"))
        .collect()
    }
    assert got == expected


def test_right_join_past_position_zero_still_refuses(engine):
    """A RIGHT join that nulls an accumulated subtree has no flat
    canonical form — must fall back, never enroll."""
    _left_join_setup_no_mv(engine)
    p = engine.catalog.create_table("db.qdim", "product string, cat string")
    p.append(engine.spark.createDataFrame(
        [("w", "widget")], "product string, cat string"))
    engine.register("db.qdim")
    engine.sql(
        "CREATE MATERIALIZED VIEW rjz_mv AS "
        "SELECT q.cat, count(*) AS n "
        "FROM db_sales s INNER JOIN db_dim d ON s.region = d.region "
        "RIGHT JOIN db_qdim q ON s.product = q.product "
        "GROUP BY q.cat")
    assert not engine.mv_catalog.get("rjz_mv").source_snapshots


def test_pure_right_chain_reverses_and_refreshes(engine, monkeypatch):
    """Round 6: an all-RIGHT chain with adjacent-pair conditions reverses
    into a flat LEFT chain — the MV enrolls and dimension/fact deltas
    refresh incrementally to the exact full-recompute state."""
    t, d = _left_join_setup_no_mv(engine)
    p = engine.catalog.create_table("db.zdim", "zone string, ztier string")
    p.append(engine.spark.createDataFrame(
        [("z1", "gold")], "zone string, ztier string"))
    engine.register("db.zdim")
    engine.sql(
        "CREATE MATERIALIZED VIEW rchain_mv AS "
        "SELECT z.ztier, count(*) AS n "
        "FROM db_sales s RIGHT JOIN db_dim d ON s.region = d.region "
        "RIGHT JOIN db_zdim z ON d.zone = z.zone "
        "GROUP BY z.ztier")
    mv = engine.mv_catalog.get("rchain_mv")
    assert set(mv.source_snapshots) == {"db_sales", "db_dim", "db_zdim"}

    # deltas on every level: fact append, middle-dim append, outer append
    t.append(engine.spark.createDataFrame(
        [("east", "g", 9.0)], schema=t.schema()))
    d.append(engine.spark.createDataFrame(
        [("north", "z3")], "region string, zone string"))
    p.append(engine.spark.createDataFrame(
        [("z2", "silver"), ("z3", "bronze")], "zone string, ztier string"))

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)
    engine.mv.refresh("rchain_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("rchain_mv")).collect()}
    expected = {
        tuple(r)
        for r in engine.spark.sql(
            "SELECT z.ztier, count(*) AS n "
            "FROM db_sales s RIGHT JOIN db_dim d ON s.region = d.region "
            "RIGHT JOIN db_zdim z ON d.zone = z.zone "
            "GROUP BY z.ztier").collect()
    }
    assert got == expected


def test_right_chain_nonadjacent_condition_refuses(engine):
    """A RIGHT-chain condition reaching back past the adjacent pair has
    no flat reversal — must refuse enrollment (and stay correct via full
    recompute)."""
    _left_join_setup_no_mv(engine)
    p = engine.catalog.create_table("db.wdim", "region string, w string")
    p.append(engine.spark.createDataFrame(
        [("east", "x")], "region string, w string"))
    engine.register("db.wdim")
    engine.sql(
        "CREATE MATERIALIZED VIEW rnadj_mv AS "
        "SELECT w.w, count(*) AS n "
        "FROM db_sales s RIGHT JOIN db_dim d ON s.region = d.region "
        "RIGHT JOIN db_wdim w ON s.region = w.region "  # reaches back to s
        "GROUP BY w.w")
    assert not engine.mv_catalog.get("rnadj_mv").source_snapshots
    engine.sql("REFRESH MATERIALIZED VIEW rnadj_mv INCREMENTAL")  # full path


def test_non_equi_join_mv_refuses_incremental(engine):
    """Non-equi (range) join conditions are outside the touched-key
    model — the MV must never enroll for incremental maintenance."""
    t, d = _left_join_setup_no_mv(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW nonequi_mv AS "
        "SELECT d.zone, count(*) AS n "
        "FROM db_sales s JOIN db_dim d ON s.amount > 100 "
        "GROUP BY d.zone")
    assert not engine.mv_catalog.get("nonequi_mv").source_snapshots
    # full refresh still lands on the right values
    t.append(engine.spark.createDataFrame(
        [("east", "g", 500.0)], schema=t.schema()))
    engine.sql("REFRESH MATERIALIZED VIEW nonequi_mv INCREMENTAL")
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("nonequi_mv")).collect()}
    exp = {tuple(r) for r in engine.spark.sql(
        "SELECT d.zone, count(*) AS n FROM db_sales s "
        "JOIN db_dim d ON s.amount > 100 GROUP BY d.zone").collect()}
    assert got == exp


def test_rewriter_skips_from_subquery_shape(engine):
    """A FROM-subquery whose inner output mimics an MV's base table must
    not be rewritten to the MV backing — the derived table's rows differ
    from the base table's."""
    t = engine.catalog.create_table("db.li2", "flag string, qty double")
    t.append(engine.spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("R", 3.0)], schema=t.schema()))
    engine.register("db.li2")
    engine.sql(
        "CREATE MATERIALIZED VIEW li2_mv AS "
        "SELECT flag, sum(qty) AS s FROM db_li2 GROUP BY flag")
    sql = ("SELECT flag, sum(qty) AS s FROM "
           "(SELECT flag, qty * 2 AS qty FROM db_li2) GROUP BY flag")
    assert engine.rewriter.try_rewrite(sql) is None
    got = {tuple(r) for r in engine.sql(sql).collect()}
    exp = {("A", 6.0), ("R", 6.0)}
    assert got == exp


def test_left_join_mv_strict_expression_key_incremental(engine, monkeypatch):
    """Round 7 (VERDICT r6 #6): an arbitrary STRICT expression key over
    the nullable side — a composition of strict operators and whitelisted
    functions (here ``upper(d.zone) || '-' || d.region``) — enrolls for
    join-incremental refresh: NULL at any d leaf provably reaches the
    root, so the nulled-key probes stay exact."""
    t, d = _left_join_setup_no_mv(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW ek_mv AS "
        "SELECT upper(d.zone) || '-' || d.region AS zr, count(*) AS n, "
        "sum(s.amount) AS total "
        "FROM db_sales s LEFT JOIN db_dim d ON s.region = d.region "
        "GROUP BY upper(d.zone) || '-' || d.region")
    mv = engine.mv_catalog.get("ek_mv")
    assert set(mv.source_snapshots) == {"db_sales", "db_dim"}

    def expected():
        return {
            tuple(r)
            for r in t.scan().alias("s")
            .join(d.scan().alias("d"),
                  F.col("s.region") == F.col("d.region"), "left")
            .groupBy(F.expr("upper(d.zone) || '-' || d.region").alias("zr"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("amount").alias("total")).collect()
        }

    def boom(mv):
        raise AssertionError("fell back to full refresh")

    monkeypatch.setattr(engine.mv, "_refresh_full", boom)

    # dim append moves 'north' facts out of the NULL group
    d.append(engine.spark.createDataFrame(
        [("north", "z3")], "region string, zone string"))
    engine.mv.refresh("ek_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("ek_mv")).collect()}
    assert got == expected()

    # dim delete moves 'west' facts INTO the NULL group; fact append too
    d.delete_where("region = 'west'")
    t.append(engine.spark.createDataFrame(
        [("south", "w", 7.0)], schema=t.schema()))
    engine.mv.refresh("ek_mv", incremental=True)
    got = {tuple(r) for r in engine.mv.backing_df(
        engine.mv_catalog.get("ek_mv")).collect()}
    assert got == expected()
    assert any(zr is None for zr, _n, _t in got)


def test_left_join_mv_arithmetic_key_randomized_matches_full(engine):
    """Randomized DML sweep (mirrors the round-5 pattern, VERDICT r6 #6):
    a strict arithmetic expression key over the nullable dim stays equal
    to a from-scratch recompute through fact/dim appends and deletes."""
    import random

    rng = random.Random(47)
    t = _setup(engine, ROWS)
    d = engine.catalog.create_table("db.edim", "region string, tier bigint")
    d.append(engine.spark.createDataFrame(
        [("east", 1), ("west", 2)], "region string, tier bigint"))
    engine.register("db.edim")
    engine.sql(
        "CREATE MATERIALIZED VIEW ar_mv AS "
        "SELECT d.tier * 10 + 1 AS bucket, count(*) AS n, "
        "sum(s.amount) AS total "
        "FROM db_sales s LEFT JOIN db_edim d ON s.region = d.region "
        "GROUP BY d.tier * 10 + 1")
    assert set(engine.mv_catalog.get("ar_mv").source_snapshots) == {
        "db_sales", "db_edim"}

    def expected():
        return {
            tuple(r)
            for r in t.scan().alias("s")
            .join(d.scan().alias("d"),
                  F.col("s.region") == F.col("d.region"), "left")
            .groupBy((F.col("d.tier") * 10 + 1).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("amount").alias("total")).collect()
        }

    regions = ["east", "west", "north", "south"]
    for step in range(8):
        if rng.random() < 0.5:
            t.append(engine.spark.createDataFrame(
                [(rng.choice(regions), "w", float(rng.randint(1, 99)))],
                schema=t.schema()))
        elif rng.random() < 0.5 and step % 2:
            d.delete_where(f"region = '{rng.choice(regions)}'")
        else:
            d.append(engine.spark.createDataFrame(
                [(rng.choice(regions), rng.randint(1, 4))],
                "region string, tier bigint"))
        engine.mv.refresh("ar_mv", incremental=True)
        got = {tuple(r) for r in engine.mv.backing_df(
            engine.mv_catalog.get("ar_mv")).collect()}
        assert got == expected(), f"divergence at step {step}"


def test_left_join_mv_non_strict_expression_key_still_refuses(engine):
    """COALESCE over the nullable side defeats NULL propagation — the MV
    must NOT enroll (refresh falls back to the always-correct full
    recompute)."""
    _left_join_setup_no_mv(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW co_mv AS "
        "SELECT coalesce(d.zone, 'none') AS z, count(*) AS n "
        "FROM db_sales s LEFT JOIN db_dim d ON s.region = d.region "
        "GROUP BY coalesce(d.zone, 'none')")
    assert not engine.mv_catalog.get("co_mv").source_snapshots


# -- round 8 (VERDICT r7 #5): strict-expression WHEREs over nullable
# -- tables enroll for incremental join-MV refresh ------------------------

def test_null_rejecting_strict_expression_forms():
    """Unit matrix for the round-8 _null_rejecting extension: any single
    depth-0 comparison whose nullable-side refs are strict compositions
    is null-rejecting; OR / IS NULL / COALESCE / CASE forms still
    refuse."""
    from iceberg_demo_spark.mv.manager import _null_rejecting as nr

    assert nr("d.tier + 1 > 1", "d")
    assert nr("upper(d.zone) = 'Z1'", "d")
    assert nr("d.tier * 10 <= s.amount", "d")      # other table on rhs: ok
    assert nr("abs(d.tier - 3) <> 2", "d")
    assert nr("'z1' = lower(d.zone)", "d")
    assert not nr("d.tier is null", "d")
    assert not nr("coalesce(d.tier, 0) > 5", "d")
    assert not nr("d.tier > 5 or d.tier is null", "d")
    assert not nr("(d.tier > 5 or s.amount > 1)", "d")
    assert not nr("case when d.tier > 5 then true else false end", "d")
    assert not nr("d.tier > 5 and s.amount > 1", "d")  # not a single cmp
    assert not nr("not (d.tier > 5)", "d")             # conservative


def test_left_join_mv_strict_expression_where_enrolls_and_matches(engine):
    """Randomized DML sweep (the expression-KEY pattern shipped in round
    7, now for WHERE): a strict arithmetic WHERE over the nullable dim
    (d.tier + 1 > 1 — NULL-extended rows provably rejected) ENROLLS for
    incremental join refresh (round 7 fell back to full recompute) and
    stays equal to a from-scratch recompute through fact/dim appends and
    deletes."""
    import random

    rng = random.Random(53)
    t = _setup(engine, ROWS)
    d = engine.catalog.create_table("db.wdim", "region string, tier bigint")
    d.append(engine.spark.createDataFrame(
        [("east", 1), ("west", 2)], "region string, tier bigint"))
    engine.register("db.wdim")
    engine.sql(
        "CREATE MATERIALIZED VIEW we_mv AS "
        "SELECT d.tier AS tier, count(*) AS n, sum(s.amount) AS total "
        "FROM db_sales s LEFT JOIN db_wdim d ON s.region = d.region "
        "WHERE d.tier + 1 > 1 "
        "GROUP BY d.tier")
    # the round-8 lift: this MV now ENROLLS (round 7: source_snapshots
    # stayed empty and every refresh was a full recompute)
    assert set(engine.mv_catalog.get("we_mv").source_snapshots) == {
        "db_sales", "db_wdim"}

    def expected():
        return {
            tuple(r)
            for r in t.scan().alias("s")
            .join(d.scan().alias("d"),
                  F.col("s.region") == F.col("d.region"), "left")
            .filter(F.col("d.tier") + 1 > 1)
            .groupBy(F.col("d.tier").alias("tier"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("amount").alias("total")).collect()
        }

    regions = ["east", "west", "north", "south"]
    for step in range(8):
        if rng.random() < 0.5:
            t.append(engine.spark.createDataFrame(
                [(rng.choice(regions), "w", float(rng.randint(1, 99)))],
                schema=t.schema()))
        elif rng.random() < 0.5 and step % 2:
            d.delete_where(f"region = '{rng.choice(regions)}'")
        else:
            d.append(engine.spark.createDataFrame(
                [(rng.choice(regions), rng.randint(1, 4))],
                "region string, tier bigint"))
        engine.mv.refresh("we_mv", incremental=True)
        got = {tuple(r) for r in engine.mv.backing_df(
            engine.mv_catalog.get("we_mv")).collect()}
        assert got == expected(), f"divergence at step {step}"


def test_left_join_mv_null_passing_where_still_refuses(engine):
    """IS NULL over the nullable dim can ADMIT NULL-extended rows the
    matched-row probes never see — enrollment must still refuse (refresh
    falls back to the always-correct full recompute)."""
    _left_join_setup_no_mv(engine)
    engine.sql(
        "CREATE MATERIALIZED VIEW np_mv AS "
        "SELECT s.region AS region, count(*) AS n "
        "FROM db_sales s LEFT JOIN db_dim d ON s.region = d.region "
        "WHERE d.zone IS NULL "
        "GROUP BY s.region")
    assert not engine.mv_catalog.get("np_mv").source_snapshots
