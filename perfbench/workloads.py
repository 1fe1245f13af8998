"""The three workloads: what each sets up, the operations of one block,
and how each operation's answer is checked.

A block holds every operation kind of its workload in fixed numbers, in
an order shuffled by the seed, so every run sees the same mix. The seed
also draws the parameters: date ranges, and keys taken from rows that
exist (point DELETE, UPDATE and lookup keys are drawn from the DuckDB
mirror, which holds the same rows as the engine's tables).
"""

from __future__ import annotations

import datetime as _dt
import re
from dataclasses import dataclass, field
from typing import Callable

from check import oracle_rows, rows_match, table_digest


@dataclass
class Op:
    kind: str
    category: str  # read | write | mv_refresh | maintenance | gate
    run: Callable[[], object]
    verify: Callable[[object], bool] = lambda result: True
    prepare: Callable[[], None] | None = None
    #: applied to the mirror after a successful run (untimed); returns
    #: the number of rows the statement inserted or changed
    mirror: Callable[[], int] | None = None
    meta: dict = field(default_factory=dict)


def collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


LINEITEM_DDL = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp")
ORDERS_DDL = (
    "o_orderkey bigint not null, o_custkey bigint not null, "
    "o_orderstatus string not null, o_totalprice double not null, "
    "o_orderdate timestamp not null, o_orderpriority string not null")
CUSTOMER_DDL = ("c_custkey bigint, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string")
NATION_DDL = "n_nationkey int, n_name string, n_regionkey int"
EVENTS_DDL = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")

MV_LI = ("SELECT l_returnflag, l_linestatus, l_linenumber, "
         "SUM(l_quantity) AS sum_qty, SUM(l_extendedprice) AS sum_price, "
         "COUNT(*) AS cnt FROM {li} "
         "GROUP BY l_returnflag, l_linestatus, l_linenumber")
MV_ORD = ("SELECT o_orderpriority, o_orderstatus, SUM(o_totalprice) AS total, "
          "COUNT(*) AS cnt FROM {ord} GROUP BY o_orderpriority, o_orderstatus")
MV_SEG = ("SELECT c.c_mktsegment, SUM(o.o_totalprice) AS total, "
          "COUNT(*) AS cnt FROM {ord} o JOIN {cust} c "
          "ON o.o_custkey = c.c_custkey GROUP BY c.c_mktsegment")
#: over a table dml_mixed never writes, so rewrites are always fresh
MV_CUST = ("SELECT c_mktsegment, c_nationkey, SUM(c_acctbal) AS bal, "
           "COUNT(*) AS cnt FROM {v_cust} GROUP BY c_mktsegment, c_nationkey")
MV_CUST_QUERY = ("SELECT c_mktsegment, SUM(c_acctbal) AS bal, COUNT(*) AS cnt "
                 "FROM {v_cust} WHERE c_nationkey <= {n} GROUP BY c_mktsegment")
#: enrolled for INCREMENTAL refresh (MIN is not delta-maintainable)
MV_LI_INC = ("SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
             "MIN(l_quantity) AS min_qty, COUNT(*) AS cnt FROM {li} "
             "GROUP BY l_returnflag, l_linestatus")

#: Spark names (catalog tables and the registered views MVs are defined
#: over) and the DuckDB mirror's names for the same tables
SPARK_NAMES = {"li": "db.lineitem", "ord": "db.orders", "cust": "db.customer",
               "nat": "db.nation", "ev": "db.events_mor",
               "v_li": "db_lineitem", "v_ord": "db_orders",
               "v_cust": "db_customer"}
DUCK_NAMES = {"li": "lineitem", "ord": "orders", "cust": "customer",
              "nat": "nation", "ev": "events_mor", "v_li": "lineitem",
              "v_ord": "orders", "v_cust": "customer"}


def _ts(day: int) -> str:
    return (_dt.date(1995, 1, 1) + _dt.timedelta(days=day)).isoformat()


class Workload:
    name = ""
    sf = 0.001
    #: a run does one block: fixed work, never derived from the clock, so
    #: a faster engine does the same operations (and builds the same
    #: table history) in less time. A traced run repeats the block when a
    #: kind occurs in it only once, so that every kind runs traced and
    #: untraced (trace.overhead_ratio)
    traced_blocks = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = ctx.rng

    def warm(self) -> list[Op]:
        """Operations run once before timing (part of setup)."""
        return self.block(-1)

    def shuffled(self, ops: list[Op]) -> list[Op]:
        order = self.rng.permutation(len(ops))
        return [ops[i] for i in order]


class _Catalog(Workload):
    """Shared setup and read kinds of the two catalog-table workloads."""

    def sql(self, text: str) -> list[tuple]:
        return collect(self.ctx.eng.sql(text))

    def both(self, template: str, **params) -> tuple[str, str]:
        return (template.format(**SPARK_NAMES, **params),
                template.format(**DUCK_NAMES, **params))

    def create(self, table: str, ddl: str, partition: str = "",
               props: str = "") -> None:
        self.ctx.timed_setup(lambda: self.ctx.eng.sql(
            f"CREATE TABLE {table} ({ddl}) USING iceberg"
            + (f" PARTITIONED BY ({partition})" if partition else "")
            + (f" TBLPROPERTIES ({props})" if props else "")))

    def write(self, spark_sql: str, duck_sql: str) -> None:
        """A setup-time statement, applied to engine and mirror."""
        self.ctx.timed_setup(lambda: self.ctx.eng.sql(spark_sql).collect())
        self.ctx.mirror.execute(duck_sql)

    def base_tables(self, names: tuple[str, ...]) -> None:
        """Source views over the generated parquet, and empty catalog
        tables (and mirror tables) for ``names``."""
        ctx, m = self.ctx, self.ctx.mirror
        from iceberg_demo_spark.sources import load_tables

        ctx.timed_setup(lambda: [
            df.createOrReplaceTempView(f"src_{n}")
            for n, df in load_tables(ctx.spark, ctx.data_dir, names).items()])
        ddl = {"lineitem": (LINEITEM_DDL, "years(l_shipdate)"),
               "orders": (ORDERS_DDL, ""), "customer": (CUSTOMER_DDL, ""),
               "nation": (NATION_DDL, "")}
        for n in names:
            if n in ddl:
                self.create(f"db.{n}", *ddl[n])
                m.execute(f"CREATE TABLE {n} AS SELECT * FROM read_parquet("
                          f"'{ctx.data_dir}/{n}.parquet') LIMIT 0")
        if "events" in names:
            self.create("db.events_mor", EVENTS_DDL, props=(
                "'write.delete.mode'='merge-on-read', "
                "'write.update.mode'='merge-on-read', "
                "'write.merge.mode'='merge-on-read'"))
            m.execute(f"CREATE TABLE events_mor AS SELECT event_id, "
                      f"CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
                      f"value, props FROM read_parquet("
                      f"'{ctx.data_dir}/events.parquet') LIMIT 0")

    def load(self, table: str, where: str = "") -> None:
        """INSERT INTO <table> SELECT * FROM the source view [WHERE …]."""
        w = f" WHERE {where}" if where else ""
        src = table.split(".")[1].replace("_mor", "")
        spark_sql = f"INSERT INTO {table} SELECT * FROM src_{src}{w}"
        dk = table.split(".")[1]
        cols = ("event_id, CAST(ts AS TIMESTAMP), user_id, event_type, value, "
                "props" if src == "events" else "*")
        duck_sql = (f"INSERT INTO {dk} SELECT {cols} FROM read_parquet("
                    f"'{self.ctx.data_dir}/{src}.parquet'){w}")
        self.write(spark_sql, duck_sql)

    def register_views(self, tables: tuple[str, ...]) -> None:
        for t in tables:
            self.ctx.timed_setup(lambda t=t: self.ctx.eng.register(t))

    def snapshot_id(self, table: str) -> int:
        t = self.ctx.eng.catalog.load_table(table)
        return t.metadata.current_snapshot().snapshot_id

    def pick(self, duck_sql: str):
        """A seeded pick from the rows a mirror query returns (rows that
        exist in the engine's table too)."""
        n = self.ctx.mirror.rows(f"SELECT COUNT(*) FROM ({duck_sql})")[0][0]
        i = int(self.rng.integers(0, n))
        return self.ctx.mirror.rows(
            f"SELECT * FROM ({duck_sql}) ORDER BY 1 LIMIT 1 OFFSET {i}")[0][0]

    # -- read kinds ----------------------------------------------------

    def read(self, kind: str, template: str, **params) -> Op:
        s, d = self.both(template, **params)
        return Op(kind, "read", lambda: self.sql(s),
                  lambda got: rows_match(got, self.ctx.mirror.rows(d)))

    def range_agg(self) -> Op:
        lo = int(self.rng.integers(0, 6 * 365))
        return self.read(
            "range_agg",
            "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS qty, "
            "SUM(l_extendedprice) AS price, COUNT(*) AS n FROM {li} "
            "WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}' "
            "GROUP BY l_returnflag, l_linestatus", lo=_ts(lo), hi=_ts(lo + 91))

    def point_order(self) -> Op:
        k = self.pick("SELECT o_orderkey FROM orders")
        return self.read("point_lookup",
                         "SELECT * FROM {ord} WHERE o_orderkey = {k}", k=k)

    def point_customer(self) -> Op:
        k = self.pick("SELECT c_custkey FROM customer")
        return self.read("point_lookup",
                         "SELECT * FROM {cust} WHERE c_custkey = {k}", k=k)

    def join3(self) -> Op:
        lo = int(self.rng.integers(0, 6 * 365))
        return self.read(
            "join",
            "SELECT n.n_name, COUNT(*) AS n, SUM(o.o_totalprice) AS total "
            "FROM {ord} o JOIN {cust} c ON o.o_custkey = c.c_custkey "
            "JOIN {nat} n ON c.c_nationkey = n.n_nationkey "
            "WHERE o.o_orderdate >= '{lo}' AND o.o_orderdate < '{hi}' "
            "GROUP BY n.n_name", lo=_ts(lo), hi=_ts(lo + 61))

    def join2(self) -> Op:
        lo = int(self.rng.integers(0, 6 * 365))
        return self.read(
            "join",
            "SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_quantity) AS qty "
            "FROM {li} l JOIN {ord} o ON l.l_orderkey = o.o_orderkey "
            "WHERE l.l_shipdate >= '{lo}' AND l.l_shipdate < '{hi}' "
            "GROUP BY o.o_orderpriority", lo=_ts(lo), hi=_ts(lo + 31))

    def time_travel(self, snapshot: int, mirror_table: str) -> Op:
        n = int(self.rng.integers(1, 8))
        s = ("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty "
             f"FROM db.lineitem VERSION AS OF {snapshot} "
             f"WHERE l_linenumber = {n} GROUP BY l_returnflag")
        d = ("SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS qty "
             f"FROM {mirror_table} WHERE l_linenumber = {n} "
             "GROUP BY l_returnflag")
        return Op("time_travel", "read", lambda: self.sql(s),
                  lambda got: rows_match(got, self.ctx.mirror.rows(d)))

    def metadata_files(self, table: str, mirror_table: str) -> Op:
        """``<table>.files``: live data files' record counts must add up
        to the table's row count (copy-on-write tables only)."""
        view = table.replace(".", "_") + "_files"

        def run():
            self.ctx.eng.register(f"{table}.files", view)
            return self.sql(f"SELECT SUM(record_count) AS n FROM {view}")

        return Op("metadata", "read", run, lambda got: rows_match(
            got, self.ctx.mirror.rows(f"SELECT COUNT(*) FROM {mirror_table}")))

    def metadata_snapshots(self, table: str, expected: int) -> Op:
        view = table.replace(".", "_") + "_snapshots"

        def run():
            self.ctx.eng.register(f"{table}.snapshots", view)
            return self.sql(f"SELECT COUNT(*) AS n FROM {view}")

        return Op("metadata", "read", run,
                  lambda got: rows_match(got, [(expected,)]))


class OlapRead(_Catalog):
    name = "olap_read"
    traced_blocks = 2

    def setup(self) -> None:
        self.base_tables(("lineitem", "orders", "customer", "nation"))
        # a short fixed history: two appends, a delete, an update
        self.load("db.lineitem", "l_orderkey % 4 <> 0")
        self.snap_a = self.snapshot_id("db.lineitem")
        self.ctx.mirror.execute("CREATE TABLE lineitem_a AS SELECT * FROM lineitem")
        self.load("db.lineitem", "l_orderkey % 4 = 0")
        self.write(*self.both(
            "DELETE FROM {li} WHERE l_linenumber = 7 AND l_returnflag = 'R'"))
        self.load("db.orders")
        self.write(*self.both("UPDATE {ord} SET o_totalprice = o_totalprice + 1 "
                              "WHERE o_orderkey % 50 = 0"))
        self.load("db.customer")
        self.load("db.nation")
        self.register_views(("db.lineitem", "db.orders", "db.customer"))
        for name, q in (("mv_li", MV_LI), ("mv_ord", MV_ORD), ("mv_seg", MV_SEG)):
            self.ctx.create_mv(name, self.both(q.replace("{li}", "{v_li}").replace(
                "{ord}", "{v_ord}").replace("{cust}", "{v_cust}"))[0])

    def mv_read(self, kind: str, template: str, **params) -> Op:
        return self.read("mv_" + kind, template, **params)

    def block(self, b: int) -> list[Op]:
        n = int(self.rng.integers(2, 7))
        ops = [
            self.range_agg(), self.range_agg(),
            self.point_order(), self.point_customer(),
            self.join3(), self.join2(),
            self.mv_read("exact", MV_LI.replace("{li}", "{v_li}")),
            self.mv_read("rollup", "SELECT o_orderpriority, "
                         "SUM(o_totalprice) AS total, COUNT(*) AS cnt "
                         "FROM {v_ord} GROUP BY o_orderpriority"),
            self.mv_read("compensated", "SELECT l_returnflag, l_linestatus, "
                         "SUM(l_quantity) AS sum_qty, COUNT(*) AS cnt "
                         "FROM {v_li} WHERE l_linenumber <= {n} "
                         "GROUP BY l_returnflag, l_linestatus", n=n),
            self.mv_read("join", "SELECT c.c_mktsegment, "
                         "SUM(o.o_totalprice) AS total FROM {v_ord} o "
                         "JOIN {v_cust} c ON o.o_custkey = c.c_custkey "
                         "GROUP BY c.c_mktsegment"),
            self.time_travel(self.snap_a, "lineitem_a"),
            self.metadata_snapshots("db.lineitem", 3) if b % 2 else
            self.metadata_files("db.lineitem", "lineitem"),
        ]
        return self.shuffled(ops)


class DmlMixed(_Catalog):
    """One block is the whole run: 8 writes, 5 reads of the olap_read kinds
    and 2 refreshes (53 / 33 / 13 %). Writes and reads are shuffled by
    the seed within two groups of four writes. Refreshes and
    maintenance run on a fixed commit cadence: a refresh after each group,
    the maintenance calls after every ``MAINTAIN_EVERY``-th write. Keys
    are drawn when an operation is about to run (untimed), so a point
    DELETE or UPDATE always names a row that exists at that moment."""

    name = "dml_mixed"
    MAINTAIN_EVERY = 8

    def setup(self) -> None:
        self.base_tables(("lineitem", "orders", "customer", "events"))
        for t in ("db.lineitem", "db.orders", "db.customer", "db.events_mor"):
            self.load(t)
        self.snap0 = self.snapshot_id("db.lineitem")
        self.ctx.mirror.execute("CREATE TABLE lineitem_0 AS SELECT * FROM lineitem")
        self.register_views(("db.lineitem", "db.orders", "db.customer"))
        self.mvs = {"mv_ord": MV_ORD.replace("{ord}", "{v_ord}"),
                    "mv_li_inc": MV_LI_INC.replace("{li}", "{v_li}"),
                    "mv_cust": MV_CUST}
        for name, q in self.mvs.items():
            self.ctx.create_mv(name, self.both(q)[0])
        self.next_key = 10 ** 9

    # -- writes --------------------------------------------------------

    def dml(self, kind: str, table: str, template: str,
            params: Callable[[], dict] = dict) -> Op:
        """A statement on ``table`` (a SPARK_NAMES key); ``params`` runs
        in the untimed prepare step, just before the statement."""
        text: dict[str, str] = {}

        def prepare():
            text["s"], text["d"] = self.both(template, **params())

        return Op(kind, "write", lambda: self.sql(text["s"]), prepare=prepare,
                  mirror=lambda: self.ctx.mirror.execute(text["d"]),
                  meta={"table": SPARK_NAMES[table]})

    def new_keys(self, n: int) -> list[int]:
        keys = list(range(self.next_key, self.next_key + n))
        self.next_key += n
        return keys

    def insert_orders(self) -> Op:
        def rows():
            return {"rows": ", ".join(
                f"({k}, {int(self.rng.integers(0, 1000))}, 'O', "
                f"{round(float(self.rng.uniform(1000, 5000)), 2)}, "
                f"TIMESTAMP '{_ts(int(self.rng.integers(0, 2000)))} 00:00:00', "
                f"'3-MEDIUM')" for k in self.new_keys(20))}
        return self.dml("insert", "ord", "INSERT INTO {ord} VALUES {rows}", rows)

    def insert_lineitem(self) -> Op:
        def rows():
            return {"rows": ", ".join(
                f"({k}, 1, 1, {int(self.rng.integers(1, 8))}, "
                f"{int(self.rng.integers(1, 51))}.0, "
                f"{round(float(self.rng.uniform(900, 90000)), 2)}, 0.05, 0.02, "
                f"'N', 'O', TIMESTAMP "
                f"'{_ts(int(self.rng.integers(0, 2300)))} 00:00:00')"
                for k in self.new_keys(20))}
        return self.dml("insert", "li", "INSERT INTO {li} VALUES {rows}", rows)

    def delete_lineitem(self) -> Op:
        return self.dml("delete", "li", "DELETE FROM {li} WHERE l_orderkey = {k}",
                        lambda: {"k": self.pick(
                            "SELECT DISTINCT l_orderkey FROM lineitem")})

    def delete_event(self) -> Op:
        return self.dml("delete", "ev", "DELETE FROM {ev} WHERE event_id = {k}",
                        lambda: {"k": self.pick("SELECT event_id FROM events_mor")})

    def update_order(self) -> Op:
        return self.dml("update", "ord", "UPDATE {ord} SET o_totalprice = "
                        "o_totalprice + 10.5 WHERE o_orderkey = {k}",
                        lambda: {"k": self.pick("SELECT o_orderkey FROM orders")})

    def update_event(self) -> Op:
        return self.dml("update", "ev", "UPDATE {ev} SET value = value + 1.25 "
                        "WHERE event_id = {k}",
                        lambda: {"k": self.pick("SELECT event_id FROM events_mor")})

    def merge(self, target: str) -> Op:
        """Upsert 200 rows: 100 existing keys (updated), 100 new."""
        m = self.ctx.mirror
        if target == "orders":
            key, cols, types = "o_orderkey", [
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority"], [
                "BIGINT", "BIGINT", "VARCHAR", "DOUBLE", "TIMESTAMP", "VARCHAR"]
            mirror_table, spark_target = "orders", "db.orders"
            day0 = _dt.datetime(1995, 1, 1)

            def row(k):
                return (k, int(self.rng.integers(0, 1000)), "F",
                        round(float(self.rng.uniform(1000, 5000)), 2),
                        day0 + _dt.timedelta(days=int(self.rng.integers(0, 2000))),
                        "2-HIGH")
            set_cols = ["o_totalprice", "o_orderstatus"]
            schema = ORDERS_DDL
        else:
            key, cols, types = "event_id", [
                "event_id", "ts", "user_id", "event_type", "value", "props"], [
                "BIGINT", "TIMESTAMP", "BIGINT", "VARCHAR", "DOUBLE", "VARCHAR"]
            mirror_table, spark_target = "events_mor", "db.events_mor"
            ts0 = _dt.datetime(2024, 2, 1)

            def row(k):
                return (k, ts0 + _dt.timedelta(seconds=int(self.rng.integers(0, 86400))),
                        int(self.rng.integers(0, 100)), "click",
                        round(float(self.rng.uniform(0, 500)), 2), '{"k": 1}')
            set_cols = ["value", "event_type"]
            schema = EVENTS_DDL
        sets = ", ".join(f"{c} = s.{c}" for c in set_cols)
        text = (f"MERGE INTO {spark_target} t USING merge_src s "
                f"ON t.{key} = s.{key} WHEN MATCHED THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED THEN INSERT *")
        rows: list[tuple] = []

        def prepare():
            existing = [r[0] for r in m.rows(
                f"SELECT {key} FROM {mirror_table} ORDER BY {key}")]
            picked = self.rng.choice(len(existing), size=100, replace=False)
            rows[:] = [row(existing[int(i)]) for i in sorted(picked)]
            rows.extend(row(k) for k in self.new_keys(100))
            self.ctx.spark.createDataFrame(rows, schema) \
                .createOrReplaceTempView("merge_src")

        def mirror():
            m.register_rows("merge_src", cols, rows, types)
            return m.merge(mirror_table, "merge_src", key, set_cols)

        return Op("merge", "write", lambda: self.sql(text), prepare=prepare,
                  mirror=mirror, meta={"table": spark_target})

    # -- refresh, maintenance, reads -------------------------------------

    def refresh(self, name: str, mode: str) -> Op:
        s, d = self.both(self.mvs[name])
        eng = self.ctx.eng

        def verify(_status):
            got = collect(eng.mv.backing_df(eng.mv_catalog.get(name)))
            return rows_match(got, self.ctx.mirror.rows(d))

        return Op("refresh_" + mode, "mv_refresh", lambda: self.sql(
            f"REFRESH MATERIALIZED VIEW {name} {mode.upper()}"), verify)

    def maintenance(self) -> list[Op]:
        """The calls a production table runs on a commit cadence; the
        last one's check compares every written table's row count and
        sums with the mirror (the check after each commit batch)."""
        def call(kind, text, verify=lambda _: True):
            return Op(kind, "maintenance", lambda: self.sql(text), verify)

        return [
            call("rewrite_data_files", "CALL system.rewrite_data_files("
                 "table => 'db.orders')"),
            call("rewrite_position_delete_files",
                 "CALL system.rewrite_position_delete_files("
                 "table => 'db.events_mor')"),
            # db.lineitem keeps its history: time_travel reads snapshot 0
            call("expire_snapshots", "CALL system.expire_snapshots("
                 "table => 'db.orders', retain_last => 5)",
                 lambda _: self.batch_check()),
        ]

    def mv_compensated(self) -> Op:
        """Answered from mv_cust (its source is never written here, so the
        MV is always fresh); the rewriter still analyzes every MV."""
        return self.read("mv_compensated", MV_CUST_QUERY,
                         n=int(self.rng.integers(5, 20)))

    def warm(self) -> list[Op]:
        """None: the setup's INSERTs and MV creations warm the JVM's
        common paths, and a warm MERGE and refresh (10-15 s on a loaded
        host) did not fit the run budget."""
        return []

    def block(self, b: int) -> list[Op]:
        # each group touches the same tables on every run, so each
        # refresh has the same commits to apply
        groups = [
            [self.insert_orders(), self.delete_lineitem(), self.update_order(),
             self.merge("orders")],
            [self.insert_lineitem(), self.delete_event(), self.update_event(),
             self.merge("events")]]
        reads = [self.range_agg(), self.point_order(), self.mv_compensated(),
                 self.time_travel(self.snap0, "lineitem_0"),
                 self.metadata_files("db.lineitem", "lineitem")]
        refreshes = [self.refresh("mv_ord", "delta"),
                     self.refresh("mv_li_inc", "incremental")]
        # the reads are spread over the groups at seeded positions
        cut = (len(reads) + 1) // len(groups)
        ops, n_writes = [], 0
        for i, group in enumerate(groups):
            for op in self.shuffled(group + reads[i * cut:(i + 1) * cut]):
                ops.append(op)
                n_writes += op.category == "write"
            ops.append(refreshes[i])
            if n_writes % self.MAINTAIN_EVERY == 0:
                ops += self.maintenance()
        return ops

    def final_check(self) -> bool:
        """Full-table digest of every written table, engine vs mirror."""
        ok = True
        for s, d in (("db.orders", "orders"), ("db.lineitem", "lineitem"),
                     ("db.events_mor", "events_mor")):
            ok &= table_digest(self.sql(f"SELECT * FROM {s}")) == \
                table_digest(self.ctx.mirror.rows(f"SELECT * FROM {d}"))
        return ok

    def batch_check(self) -> bool:
        """Row counts and sums of every written table, engine vs mirror."""
        ok = True
        for s, d in (
                ("SELECT COUNT(*), SUM(o_totalprice) FROM db.orders",
                 "SELECT COUNT(*), SUM(o_totalprice) FROM orders"),
                ("SELECT COUNT(*), SUM(l_quantity) FROM db.lineitem",
                 "SELECT COUNT(*), SUM(l_quantity) FROM lineitem"),
                ("SELECT COUNT(*), SUM(value) FROM db.events_mor",
                 "SELECT COUNT(*), SUM(value) FROM events_mor")):
            ok &= rows_match(self.sql(s), self.ctx.mirror.rows(d))
        return ok


#: a loader-bound relational gate, an iterative driver loop and an
#: execution-bound gate (see README.md for the gates left out)
GATES = ("q5_local_supplier_volume", "graph_doc_pagerank",
         "dedup_prefix_filter_pairs")


class PipelineBatch(Workload):
    name = "pipeline_batch"
    traced_blocks = 2

    def setup(self) -> None:
        """The warm pass: each gate once, collected and held to its
        registered oracle with check_oracles' typed comparison."""
        import duckdb
        from iceberg_demo_spark import registry
        from iceberg_demo_spark.cache import release_pins
        from iceberg_demo_spark.sources import TPCH_TABLES

        ctx = self.ctx
        con = duckdb.connect()
        for t in TPCH_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{ctx.data_dir}/{t}.parquet')")
        normalize = ctx.oracle_normalizer()
        self.expected_rows = {}
        for g in GATES:
            df = ctx.timed_setup(lambda g=g: registry.QUERIES[g](
                ctx.spark, ctx.data_dir))
            rows = ctx.timed_setup(lambda df=df: collect(df))
            ctx.timed_setup(release_pins)
            cols, want = oracle_rows(con, registry.ORACLES[g])
            ok = (sorted(df.columns) == sorted(cols)
                  and normalize(rows, df.columns) == normalize(want, cols))
            ctx.record_check(f"oracle {g}", ok)
            self.expected_rows[g] = len(want)
        con.close()

    def warm(self) -> list[Op]:
        return []  # the warm pass is part of setup()

    def block(self, b: int) -> list[Op]:
        from iceberg_demo_spark import registry
        from iceberg_demo_spark.cache import release_pins

        ctx = self.ctx

        def gate(g):
            def run():
                n = registry.QUERIES[g](ctx.spark, ctx.data_dir).count()
                release_pins()
                return n
            return Op(g, "gate", run, lambda n: n == self.expected_rows[g])

        return [gate(g) for g in GATES]


WORKLOADS = {w.name: w for w in (OlapRead, DmlMixed, PipelineBatch)}
