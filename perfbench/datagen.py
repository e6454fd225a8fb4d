"""Deterministic generator of the star schema the registry queries read.

Writes ``<out>/<table>.parquet`` for the ten tables of the engine's test
corpus (TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``) with the corpus's table names, column names and types
(``events.ts`` is ``timestamp[us]``, as in the corpus files at every
scale) and its row counts: linear in ``sf`` for the star schema and
``events`` (``sf=0.1`` gives 600,000 lineitem rows), taken from the
corpus for ``documents`` and ``embeddings``, which do not scale linearly.

The values are this generator's own, not the corpus's: uniform keys and
categories, two-decimal prices, a sorted 30-day ``events`` clock, 30-word
synthetic documents of 10-100 tokens (5 % carry a ``dup`` marker) and
unit-norm 64-dimensional float embeddings.

The same ``(sf, seed)`` always gives identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000

#: Rows of the tables whose size in the corpus is not linear in ``sf``.
CORPUS_ROWS = {
    "documents": {0.001: 500, 0.01: 500, 0.1: 5000},
    "embeddings": {0.001: 500, 0.01: 500, 0.1: 2000},
}


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days + 1, n) * _DAY_US


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices)
    ).cast(pa.string())


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table of the corpus at scale factor ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = CORPUS_ROWS["documents"][sf]
    n_vecs = CORPUS_ROWS["embeddings"][sf]
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_days("1995-01-01", 2404, rng, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_days("1995-01-02", 2498, rng, n_line)),
        }
    )
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n_evt))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    dup = rng.random(n_docs) < 0.05
    texts, pos = [], 0
    for i, n in enumerate(lengths):
        toks = [VOCAB[w] for w in words[pos : pos + n]]
        pos += n
        if dup[i]:
            toks.append("dup")
        texts.append(" ".join(toks))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs, dtype=np.int32),
        }
    )
    return out


#: Tables are drawn from one fixed seed, so every run measures the same
#: data; ``--seed`` varies only how the inputs are handed to the program.
TABLE_SEED = 42
STREAM_FILES = 2
ORDER_PARTS = 8


def stage(work: str, sf: float, seed: int) -> None:
    """Stage every input of a run under ``work``:

    - ``data/<table>.parquet``, the star schema;
    - ``lineitem.tsv``, lineitem as tab-separated text for the ingest;
    - ``orders_parts/``, orders cut into small parquet files to compact;
    - ``stream/``, ``events`` cut into ``STREAM_FILES`` time-ordered
      parquet files at cut points drawn from ``seed``.
    """
    import pyarrow.csv as pc

    data = os.path.join(work, "data")
    os.makedirs(data, exist_ok=True)
    tabs = tables(sf, TABLE_SEED)
    for name, table in tabs.items():
        pq.write_table(table, os.path.join(data, f"{name}.parquet"))
    pc.write_csv(
        tabs["lineitem"],
        os.path.join(work, "lineitem.tsv"),
        pc.WriteOptions(delimiter="\t", quoting_style="none"),
    )
    parts = os.path.join(work, "orders_parts")
    os.makedirs(parts)
    orders = tabs["orders"]
    step = -(-orders.num_rows // ORDER_PARTS)
    for i in range(ORDER_PARTS):
        pq.write_table(
            orders.slice(i * step, step), os.path.join(parts, f"part-{i:03d}.parquet")
        )
    stream = os.path.join(work, "stream")
    os.makedirs(stream)
    events = tabs["events"]
    n = events.num_rows
    rng = np.random.default_rng(seed)
    # cuts within +-25 % of an even split: every file holds a real batch
    even = np.arange(1, STREAM_FILES) * n / STREAM_FILES
    jitter = rng.uniform(-0.25, 0.25, STREAM_FILES - 1) * n / STREAM_FILES
    cuts = [0, *np.sort((even + jitter).astype(int)).tolist(), n]
    for i in range(STREAM_FILES):
        path = os.path.join(stream, f"events-{i:03d}.parquet")
        pq.write_table(events.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        # the file source takes files oldest first
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


if __name__ == "__main__":
    import sys

    stage(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
