"""Correctness checks: a DuckDB mirror of the benchmark's tables and
result comparison. Nothing here runs inside a timed window."""

from __future__ import annotations

import datetime as _dt
import hashlib
import importlib.util
import math
import os

import duckdb


def _close(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, _dt.datetime) and isinstance(b, _dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


def _sort_key(row: tuple) -> tuple:
    # floats rounded so engine-order summation noise cannot reorder rows
    return tuple((type(v).__name__ if v is not None else "",
                  str(round(v, 4) if isinstance(v, float) else v)) for v in row)


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive comparison, floats to 1e-9 relative."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_close(a, b) for a, b in zip(g, w)):
            return False
    return True


def table_digest(rows: list[tuple]) -> str:
    """Order-insensitive digest of a table's rows (floats to 6 places)."""
    h = hashlib.sha256()
    for r in sorted(
            repr(tuple(round(v, 6) if isinstance(v, float) else v for v in row))
            for row in rows):
        h.update(r.encode())
    return h.hexdigest()


class Mirror:
    """DuckDB copy of the catalog tables; every statement the benchmark
    sends to the engine is applied here too."""

    def __init__(self):
        self.con = duckdb.connect()

    def execute(self, sql: str) -> int:
        """Run a statement; for DML, the number of rows it changed."""
        rows = self.con.execute(sql).fetchall()
        return int(rows[0][0]) if rows and isinstance(rows[0][0], int) else 0

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def register_rows(self, name: str, columns: list[str], rows: list[tuple],
                      types: list[str]) -> None:
        cols = ", ".join(f"{c} {t}" for c, t in zip(columns, types))
        self.con.execute(f"CREATE OR REPLACE TABLE {name} ({cols})")
        self.con.executemany(
            f"INSERT INTO {name} VALUES ({', '.join('?' * len(columns))})", rows)

    def merge(self, target: str, source: str, key: str,
              set_cols: list[str]) -> int:
        """MERGE … WHEN MATCHED UPDATE SET … WHEN NOT MATCHED INSERT *,
        spelled as UPDATE + INSERT for DuckDB versions without MERGE."""
        sets = ", ".join(f"{c} = s.{c}" for c in set_cols)
        return self.execute(
            f"UPDATE {target} SET {sets} FROM {source} s "
            f"WHERE {target}.{key} = s.{key}") + self.execute(
            f"INSERT INTO {target} SELECT * FROM {source} s WHERE NOT EXISTS "
            f"(SELECT 1 FROM {target} t WHERE t.{key} = s.{key})")


def load_oracle_checker(repo_root: str):
    """The typed-value normalizer of ``tools/check_oracles.py`` — the same
    comparison the gate oracles are held to."""
    path = os.path.join(repo_root, "tools", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("_perfbench_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    """Run a registered DuckDB oracle the way check_oracles does (Arrow
    fetch, so HUGEINT surfaces as Decimal and fails a BIGINT match)."""
    at = con.sql(sql).arrow()
    cols = list(at.schema.names)
    vals = [c.to_pylist() for c in at.columns]
    return cols, (list(zip(*vals)) if vals and at.num_rows else [])
