"""The three workloads: which operations each runs, and how each io
operation is called and checked.

etl-core and northstar run registry queries (``queries()[k](spark, dir)``)
into a no-op sink and are checked against ``oracle_sql()[k]`` in DuckDB.
io calls the ``sources`` writers and readers and the ``streaming``
functions, and checks what they wrote.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import check

#: Sub-second relational queries: their time is per-query and per-stage
#: overhead (construction, Catalyst, stage scheduling), not per-row CPU.
ETL_CORE = (
    # select, filter, decode, normalize
    "select_project_filter",
    "decode_rename",
    "normalize_codes",
    # crosswalk explode-join
    "translate_crosswalk",
    # grouped sum and count, grouped product
    "pricing_summary",
    "group_product",
    # pivot and one-hot
    "pivot_returnflag",
    "one_hot_priority",
    # the reference's award pipeline
    "awards_pipeline",
    # star-schema anti-join
    "anti_join",
    # rollup
    "rollup_geo",
    # window top-k
    "window_topk_per_group",
    # events window
    "events_tumbling_window",
)

#: CPU-heavy north-star operators: a pinned LSH dedup, a heavy plan
#: builder, a pandas-worker pair scorer and a long graph stage chain.
#: kcore_trade_graph is left out: it plans one of two shapes run to run (an
#: AQE cache race), which moved this workload's shuffled bytes by 20 %
#: between runs of the same code.
NORTHSTAR = (
    "dedup_lsh_exact",
    "quality_classifier_docs",
    "embedding_neardup",
    "triangle_count_cosuppliers",
)

LINEITEM_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
    "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"
)
WINDOW_S = 3600
HALFLIFE_S = 3600.0
DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@dataclass
class IoContext:
    """What an io operation needs: the session, the catalog over the
    staged tables, the staged inputs, the Derby URL and the tracer."""

    spark: object
    catalog: object
    tsv_path: str
    orders_parts: str
    stream_dir: str
    derby_url: str
    tracer: object
    #: job groups of work started on other threads (streaming queries
    #: run their batches under their run id); the runner reads them
    stream_groups: list[str] = field(default_factory=list)


def _disk(path: str) -> tuple[int, float]:
    """(data files, MB) under ``path``, skipping checkpoints and the
    hidden and marker files writers leave beside the data."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path) / 2**20
    files, size = 0, 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size / 2**20


def _write(ctx: IoContext, fn: Callable, *args, out: str, **kwargs):
    with ctx.tracer.span(f"write:{fn.__name__}") as s:
        result = fn(*args, **kwargs)
    if s is not None:
        s["attrs"]["files"], s["attrs"]["written_mb"] = _disk(out)
    return result


def _stream(ctx: IoContext, name: str, df, out: str, ckpt: str, mode: str):
    from etl_io_spark.streaming import sinks

    with ctx.tracer.span(f"stream:{name}") as s:
        q = sinks.run_to_parquet_sink(df, out, ckpt, output_mode=mode)
    ctx.stream_groups.append(str(q.runId))
    progress = q.recentProgress
    if q.isActive:
        q.stop()
        raise RuntimeError(f"stream {name} did not finish")
    if q.exception() is not None:
        raise RuntimeError(f"stream {name} failed: {q.exception()}")
    if s is not None:
        last = progress[-1].stateOperators if progress else []
        s["attrs"].update(
            batch_s=[p.batchDuration / 1e3 for p in progress],
            input_rows=sum(p.numInputRows for p in progress),
            state_rows=sum(o.numRowsTotal for o in last),
            state_mb=sum(o.memoryUsedBytes for o in last) / 2**20,
        )
    return progress


def tsv_ingest(ctx: IoContext, out: str) -> dict:
    from etl_io_spark.sources import readers, writers

    with ctx.tracer.span("construct"):
        df = readers.read_tsv(ctx.spark, ctx.tsv_path, LINEITEM_DDL)
    path = f"{out}/lineitem"
    _write(ctx, writers.write_parquet, df, path,
           partition_by=("l_returnflag", "l_linestatus"), out=path)
    return {}


def zordered_lineitem(ctx: IoContext, out: str) -> dict:
    from etl_io_spark.sources import writers

    with ctx.tracer.span("construct"):
        df = ctx.catalog.table("lineitem")
    path = f"{out}/lineitem"
    _write(ctx, writers.write_zordered, df, path, "l_partkey", "l_suppkey", out=path)
    return {}


def compact_orders(ctx: IoContext, out: str) -> dict:
    from etl_io_spark.sources import writers

    path = f"{out}/orders"
    _write(ctx, writers.compact_parquet, ctx.spark, ctx.orders_parts, path,
           target_mb=1, sort_cols=("o_orderkey",), out=path)
    return {}


WAREHOUSE = ("supplier", "nation")


def warehouse_copy(ctx: IoContext, out: str) -> dict:
    from etl_io_spark.sources import writers

    with ctx.tracer.span("construct"):
        tables = {t: ctx.catalog.table(t) for t in WAREHOUSE}
    _write(ctx, writers.copy_warehouse, tables, out,
           partition_by={"supplier": ["s_nationkey"]}, out=out)
    return {}


SQLITE = ("nation", "supplier", "customer")


def sqlite_sink(ctx: IoContext, out: str) -> dict:
    from etl_io_spark.sources import writers

    with ctx.tracer.span("construct"):
        tables = {t: ctx.catalog.table(t) for t in SQLITE}
    os.makedirs(out, exist_ok=True)
    db = f"{out}/warehouse.db"
    _write(ctx, writers.to_sqlite3, tables, db, out=db)
    return {}


def derby_sink(ctx: IoContext, out: str) -> dict:
    from etl_io_spark.sources import writers

    with ctx.tracer.span("construct"):
        df = ctx.catalog.table("supplier")
    _write(ctx, writers.write_jdbc, df, ctx.derby_url, "supplier",
           properties=DERBY_PROPS, out=out)
    return {}


def stream_windows(ctx: IoContext, out: str) -> dict:
    from etl_io_spark.streaming import windows

    with ctx.tracer.span("construct"):
        stream = ctx.catalog.table_stream("events", ctx.stream_dir)
        agg = windows.tumbling_agg(
            stream, width=f"{WINDOW_S} seconds", watermark=f"{WINDOW_S} seconds"
        )
    progress = _stream(ctx, "tumbling_agg", agg, f"{out}/windows",
                       f"{out}/_checkpoint", "append")
    marks = [p.eventTime.get("watermark") for p in progress]
    return {"watermark": max(m for m in marks if m)}


def stream_ewma(ctx: IoContext, out: str) -> dict:
    from etl_io_spark.streaming import stateful

    with ctx.tracer.span("construct"):
        stream = ctx.catalog.table_stream("events", ctx.stream_dir)
        scores = stateful.ewma_stream(stream, halflife_seconds=HALFLIFE_S)
    _stream(ctx, "ewma_stream", scores, f"{out}/ewma", f"{out}/_checkpoint", "append")
    return {}


def _iso_us(stamp: str) -> int:
    from datetime import datetime, timezone

    t = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return round(t.timestamp() * 1_000_000)


def check_io(name: str, ctx: IoContext, con, out: str, info: dict) -> list[str]:
    """Problems in what io operation ``name`` wrote under ``out``."""
    if name == "tsv_ingest":
        return check.parquet_copy(con, "lineitem", f"{out}/lineitem")
    if name == "compact_orders":
        return check.parquet_copy(con, "orders", f"{out}/orders")
    if name == "zordered_lineitem":
        return check.parquet_copy(con, "lineitem", f"{out}/lineitem")
    if name == "warehouse_copy":
        return [p for t in WAREHOUSE
                for p in check.parquet_copy(con, t, f"{out}/{t}.parquet")]
    if name == "sqlite_sink":
        return [p for t in SQLITE
                for p in check.sqlite_copy(con, t, f"{out}/warehouse.db", t)]
    if name == "derby_sink":
        back = ctx.spark.read.jdbc(ctx.derby_url, "supplier", properties=DERBY_PROPS)
        want = con.sql("SELECT * FROM supplier")
        got = [tuple(r) for r in back.collect()]
        return [f"derby: {p}" for p in
                check.same_rows(back.columns, got, want.columns, want.fetchall())]
    if name == "stream_windows":
        return check.closed_windows(con, f"{out}/windows", WINDOW_S,
                                    _iso_us(info["watermark"]))
    if name == "stream_ewma":
        return check.ewma(con, f"{out}/ewma", HALFLIFE_S)
    raise KeyError(name)


IO = {
    "tsv_ingest": tsv_ingest,
    "zordered_lineitem": zordered_lineitem,
    "compact_orders": compact_orders,
    "warehouse_copy": warehouse_copy,
    "sqlite_sink": sqlite_sink,
    "derby_sink": derby_sink,
    "stream_windows": stream_windows,
    "stream_ewma": stream_ewma,
}
