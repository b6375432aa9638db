"""Result checks for the query workloads.

Each engine result is compared with the query's DuckDB oracle from
``capital.queries.all_oracles()`` over the same parquet inputs, using
the canonicalization of the repository's oracle harness
(``tests/oracle_harness.py``): columns sorted by name, rows sorted by
their printed values, floats equal to 1e-9. Results that match their
oracle exactly are recognized in DuckDB first, which is much faster
than the harness on the 250 000-row results. Checks run after the
timed passes.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa

import datagen

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tests"))

from oracle_harness import _cells_equal, canonicalize  # noqa: E402


def _mismatch(columns, rows, d_cols, d_rows) -> str | None:
    """The harness's ``compare`` over already-fetched rows."""
    if sorted(columns) != sorted(d_cols):
        return f"columns differ: engine={sorted(columns)} oracle={sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"row count differs: engine={len(rows)} oracle={len(d_rows)}"
    _, a = canonicalize(columns, rows)
    _, b = canonicalize(d_cols, d_rows)
    for i, (x, y) in enumerate(zip(a, b)):
        if not _cells_equal(x, y):
            return f"row {i} differs: engine={x} oracle={y}"
    return None


def _same_multiset(con, table: pa.Table, oracle_table: str) -> bool:
    """True when the engine's rows and the oracle's rows are the same
    multiset (exact values, columns matched by name). Exact equality
    implies the harness's tolerant equality, so this only decides
    quickly what the harness would decide; anything else goes to the
    harness."""
    import duckdb

    names = sorted(table.column_names)
    cols = ", ".join(f'"{c}"' for c in names)
    con.register("engine_result", table)
    try:
        oracle_names = [d[0] for d in con.sql(f"SELECT * FROM {oracle_table} LIMIT 0").description]
        if names != sorted(oracle_names):
            return False
        (n,) = con.sql(f"SELECT count(*) FROM {oracle_table}").fetchone()
        if n != table.num_rows:
            return False
        (diff,) = con.sql(
            f"SELECT count(*) FROM (SELECT {cols} FROM engine_result "
            f"EXCEPT ALL SELECT {cols} FROM {oracle_table})"
        ).fetchone()
        return diff == 0
    except duckdb.Error:
        return False
    finally:
        con.unregister("engine_result")


def check_results(data_dir: str, ops) -> list[tuple[int, str]]:
    """``(op index, reason)`` for every op whose result differs from
    its oracle."""
    import duckdb

    from capital.queries import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t)}.parquet'"
            )
        tables: dict[str, str] = {}
        expected: dict[str, tuple] = {}
        failures = []
        for i, op in enumerate(ops):
            if op.error is not None:
                continue
            if op.name not in tables:
                tables[op.name] = f"oracle_{len(tables)}"
                con.execute(f"CREATE TEMP TABLE {tables[op.name]} AS {oracles[op.name]}")
            if _same_multiset(con, op.result, tables[op.name]):
                continue
            if op.name not in expected:
                rel = con.sql(f"SELECT * FROM {tables[op.name]}")
                expected[op.name] = (
                    [d[0] for d in rel.description],
                    [tuple(r) for r in rel.fetchall()],
                )
            rows = list(zip(*(c.to_pylist() for c in op.result.columns)))
            verdict = _mismatch(op.result.column_names, rows, *expected[op.name])
            if verdict is not None:
                failures.append((i, verdict))
        return failures
    finally:
        con.close()
