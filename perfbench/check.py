"""Output checks made apart from the program: DuckDB over the same staged
parquet files, Python ``sqlite3`` and stated properties.

Every check returns a list of problems; an empty list means the output is
correct. Nothing here compares against a stored copy of earlier output.
The row comparison follows ``tools/check.py`` (exact cells, order and
column order ignored) but lives here, so that the benchmark's gate
changes only with the benchmark.
"""

from __future__ import annotations

import math
import os
import sqlite3
from collections.abc import Sequence

import duckdb


def canon_cell(v: object) -> str:
    """One cell as text that is equal across engines for equal values."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def canon_rows(columns: Sequence[str], rows: Sequence[Sequence]) -> list[str]:
    """Rows as sorted text lines with columns in name order, so that
    neither row order nor column order matters."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)


def same_rows(got_cols, got_rows, want_cols, want_rows) -> list[str]:
    """Problems found comparing a result with its expected rows."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns {sorted(got_cols)} != {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"row count {len(got_rows)} != {len(want_rows)}"]
    got, want = canon_rows(got_cols, got_rows), canon_rows(want_cols, want_rows)
    diffs = [(a, b) for a, b in zip(got, want) if a != b]
    if diffs:
        return [f"{len(diffs)} rows differ, first: {diffs[0]}"]
    return []


def connect(data_dir: str, tables: Sequence[str], tmp: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per staged table, as the oracles expect;
    anything it spills goes to ``tmp``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def oracle(con, sql: str, got_cols, got_rows) -> list[str]:
    """Compare a query's rows with its oracle SQL run in DuckDB."""
    rel = con.sql(sql)
    return same_rows(got_cols, got_rows, rel.columns, rel.fetchall())


def _canon_sql(col: str, dtype: str) -> str:
    """An exact BIGINT (or text) form of one column for checksums: money
    and rates have two decimals, timestamps are whole microseconds."""
    q = f'"{col}"'
    if dtype in ("DOUBLE", "FLOAT"):
        return f"CAST(round({q} * 100) AS BIGINT)"
    if dtype.startswith("TIMESTAMP"):
        return f"epoch_us(CAST({q} AS TIMESTAMP))"
    if dtype in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
        return f"CAST({q} AS BIGINT)"
    return f"CAST({q} AS VARCHAR)"


def checksums(con, source: str, relation: str) -> tuple:
    """Row count plus one exact integer checksum per column of ``source``
    (a view), computed over ``relation``, which must have those columns."""
    schema = con.sql(f"DESCRIBE {source}").fetchall()
    terms = ["count(*)"] + [
        f"sum(hash({_canon_sql(name, dtype)}))" for name, dtype, *_ in schema
    ]
    return con.sql(f"SELECT {', '.join(terms)} FROM {relation}").fetchone()


def parquet_copy(con, source: str, path: str) -> list[str]:
    """A written parquet file or directory holds exactly the rows of the
    ``source`` view (count and per-column checksums; hive partition
    columns are read back from the directory names)."""
    rel = f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
    if os.path.isfile(path):
        rel = f"read_parquet('{path}')"
    want, got = checksums(con, source, source), checksums(con, source, rel)
    if got != want:
        return [f"{path}: count/checksums {got} != source {want}"]
    return []


def sqlite_copy(con, source: str, db_path: str, table: str) -> list[str]:
    """A table written to sqlite holds exactly the rows of ``source``."""
    rel = con.sql(f"SELECT * FROM {source}")
    with sqlite3.connect(db_path) as lite:
        cur = lite.execute(f'SELECT * FROM "{table}"')
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    return [f"sqlite {table}: {p}" for p in same_rows(cols, rows, rel.columns, rel.fetchall())]


def closed_windows(con, out_path: str, width_s: int, watermark_us: int) -> list[str]:
    """A watermarked tumbling-window sink emitted exactly the DuckDB
    windows that end at or before the final watermark."""
    want = con.sql(
        f"""
        SELECT * FROM (
            SELECT time_bucket(INTERVAL '{width_s} seconds', ts) AS window_start,
                   event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events GROUP BY ALL)
        WHERE epoch_us(window_start) + {width_s * 1_000_000} <= {watermark_us}
        """
    )
    got = con.sql(
        f"""
        SELECT make_timestamp(epoch_us(window_start)) AS window_start,
               event_type, n, sum_value
        FROM read_parquet('{out_path}/*.parquet')
        """
    )
    problems = same_rows(got.columns, got.fetchall(), want.columns, want.fetchall())
    return [f"tumbling stream: {p}" for p in problems]


def ewma(con, out_path: str, halflife_s: float, tol: float = 1e-4) -> list[str]:
    """The last EWMA row per user counts every event exactly and scores
    within ``tol`` of sum(v * 2^(-(t_last - t) / halflife))."""
    rows = con.sql(
        f"""
        WITH got AS (
            SELECT user_id, max(n_events) AS n_events,
                   arg_max(ewma_score, n_events) AS score
            FROM read_parquet('{out_path}/*.parquet') GROUP BY user_id),
        want AS (
            SELECT user_id, count(*) AS n,
                   sum(value * pow(2.0, -(t_last - t) / 1e6 / {halflife_s})) AS score
            FROM (SELECT user_id, value, epoch_us(ts) AS t,
                         max(epoch_us(ts)) OVER (PARTITION BY user_id) AS t_last
                  FROM events)
            GROUP BY user_id)
        SELECT w.user_id, g.n_events, w.n, g.score, w.score
        FROM want w FULL JOIN got g USING (user_id)
        WHERE g.n_events IS DISTINCT FROM w.n OR NOT abs(g.score - w.score) <= {tol}
        """
    ).fetchall()
    if rows:
        return [f"ewma stream: {len(rows)} users differ, first {rows[0]}"]
    return []
