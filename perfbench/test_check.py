"""Tests of the output checker: order does not matter, a changed row does.

    python3 -m pytest perfbench/test_check.py
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402

COLS = ["k", "v", "name"]
ROWS = [(1, 0.5, "a"), (2, None, "b"), (3, 1.25, "c")]


def test_reordered_rows_and_columns_pass():
    cols = ["name", "k", "v"]
    rows = [(r[2], r[0], r[1]) for r in reversed(ROWS)]
    assert check.same_rows(cols, rows, COLS, ROWS) == []


def test_one_changed_row_fails():
    rows = ROWS[:]
    rows[1] = (2, 0.0, "b")
    assert check.same_rows(COLS, rows, COLS, ROWS)


def test_missing_or_extra_row_fails():
    assert check.same_rows(COLS, ROWS[:2], COLS, ROWS)
    assert check.same_rows(COLS, ROWS + [ROWS[0]], COLS, ROWS)


def test_last_digit_of_a_double_counts():
    rows = [(1, 0.5000000000000001, "a"), *ROWS[1:]]
    assert check.same_rows(COLS, rows, COLS, ROWS)


def test_oracle_compares_with_duckdb():
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(id, s)"
    assert check.oracle(con, sql, ["s", "id"], [("y", 2), ("x", 1)]) == []
    assert check.oracle(con, sql, ["s", "id"], [("y", 2), ("z", 1)])


def test_parquet_copy_detects_one_changed_value(tmp_path):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW src AS SELECT i AS id, i * 0.25 AS price, 'n' || i AS name, "
        "TIMESTAMP '2024-01-01' + INTERVAL (i) HOUR AS ts FROM range(100) r(i)"
    )
    good, bad = tmp_path / "good", tmp_path / "bad"
    good.mkdir()
    bad.mkdir()
    con.execute(f"COPY (SELECT * FROM src) TO '{good}/part-0.parquet'")
    con.execute(
        f"COPY (SELECT id, CASE WHEN id = 7 THEN price + 0.01 ELSE price END AS price, "
        f"name, ts FROM src) TO '{bad}/part-0.parquet'"
    )
    assert check.parquet_copy(con, "src", str(good)) == []
    assert check.parquet_copy(con, "src", str(bad))
