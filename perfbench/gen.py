"""Seeded input generation for the benchmark.

The program under test only ever sees the files written here. Every table is
drawn from a numpy generator keyed on (seed, table), so one seed always gives
the same rows, the same row order and the same split into part files. The
shapes follow the engine's sf0.1 star schema (row counts, key ranges, value
domains and physical parquet types), so the registered queries and their
DuckDB oracles run on these files unchanged.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Rows per table at sf0.1.
ROWS = {"region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
        "part": 20_000, "orders": 150_000, "lineitem": 600_000,
        "events": 100_000, "documents": 5_000, "embeddings": 2_000}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
# Near-duplicate chains: {members per chain: chains}. The first EXACT_DUPS
# two-member chains are verbatim copies.
CHAINS = {2: 158, 3: 20, 5: 6, 8: 2}
EXACT_DUPS = 8
EMBED_DIM = 64

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86_400


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLES.index(table)])


def _micros(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n: int, first: dt.datetime, last: dt.datetime) -> pa.Array:
    """Midnight timestamps drawn uniformly between two dates (naive, µs)."""
    span = (last - first).days
    us = _micros(first) + rng.integers(0, span + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents plus near-duplicate chains: each later member of
    a chain is the previous one with " dup" appended, in the same language
    and with a larger doc_id, as copies accumulate in a crawl. The chain
    lengths are fixed (CHAINS), so the number of rounds a connected-
    components pass needs does not change with the seed; only which
    documents they are does."""
    lengths = rng.integers(8, 106, n)
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]) for k in lengths]
    langs = list(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)])
    members = rng.permutation(n)[:sum(k * c for k, c in CHAINS.items())]
    at, exact_left = 0, EXACT_DUPS
    for length, count in sorted(CHAINS.items()):
        for _ in range(count):
            chain = np.sort(members[at:at + length])
            at += length
            suffix = "" if length == 2 and exact_left > 0 else " dup"
            exact_left -= suffix == ""
            for prev, cur in zip(chain[:-1], chain[1:]):
                texts[cur] = texts[prev] + suffix
                langs[cur] = langs[prev]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
                                   pa.array(v.reshape(-1), pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb,
                     "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def events_table(rng, n: int, first_id: int, start_us: int, span_us: int) -> pa.Table:
    """``n`` events with ascending ids and times inside [start, start + span)."""
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(start_us + np.sort(rng.integers(0, span_us, n)), pa.timestamp("us")),
        "user_id": rng.integers(0, 1_500, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def make_table(seed: int, name: str) -> pa.Table:
    """One sf0.1 table for ``seed``, in generation (key) order."""
    rng, n = _rng(seed, name), ROWS[name]
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(range(n), pa.int32()),
                         "n_name": [f"NATION_{i}" for i in range(n)],
                         "n_regionkey": pa.array([i % 5 for i in range(n)], pa.int32())})
    keys = np.arange(n, dtype=np.int64)
    if name == "customer":
        return pa.table({"c_custkey": keys, "c_name": [f"Customer#{i:09d}" for i in keys],
                         "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                         "c_acctbal": _money(rng, n, -999.99, 9999.99),
                         "c_mktsegment": _pick(rng, SEGMENTS, n)})
    if name == "supplier":
        return pa.table({"s_suppkey": keys, "s_name": [f"Supplier#{i:09d}" for i in keys],
                         "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                         "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    if name == "part":
        return pa.table({"p_partkey": keys,
                         "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                             rng.integers(0, 8, (n, 2))], pa.string()),
                         "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
                         "p_type": _pick(rng, PART_TYPES, n),
                         "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                         "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    if name == "orders":
        return pa.table({"o_orderkey": keys,
                         "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
                         "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
                         "o_totalprice": _money(rng, n, 1000.0, 500000.0),
                         "o_orderdate": _days(rng, n, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
                         "o_orderpriority": _pick(rng, PRIORITIES, n)})
    if name == "lineitem":
        return pa.table({"l_orderkey": rng.integers(0, ROWS["orders"], n).astype(np.int64),
                         "l_partkey": rng.integers(0, ROWS["part"], n).astype(np.int64),
                         "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype(np.int64),
                         "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                         "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                         "l_extendedprice": _money(rng, n, 900.0, 105000.0),
                         "l_discount": rng.integers(0, 11, n) / 100.0,
                         "l_tax": rng.integers(0, 9, n) / 100.0,
                         "l_returnflag": _pick(rng, ["A", "N", "R"], n),
                         "l_linestatus": _pick(rng, ["F", "O"], n),
                         "l_shipdate": _days(rng, n, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))})
    if name == "events":
        return events_table(rng, n, 0, _micros(EVENTS_START), EVENTS_SPAN_S * 1_000_000)
    if name == "documents":
        return _documents(rng, n)
    if name == "embeddings":
        return _embeddings(rng, n)
    raise KeyError(name)


def write_tables(seed: int, out_dir: str, names=TABLES) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet/part-NNNNN.parquet``.

    The seed also shuffles the rows and picks how many part files a table of
    10,000 rows or more is split into (1 to 4), so runs with different seeds
    also differ in scan order and input partitioning. Returns rows per table.
    """
    rows = {}
    for name in names:
        tbl = make_table(seed, name)
        rng = np.random.default_rng([seed, 1000 + TABLES.index(name)])
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        parts = int(rng.integers(1, 5)) if tbl.num_rows >= 10_000 else 1
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        bounds = np.linspace(0, tbl.num_rows, parts + 1).astype(int)
        for i in range(parts):
            pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(d, f"part-{i:05d}.parquet"))
        rows[name] = tbl.num_rows
    return rows


def stream_slices(seed: int, n_slices: int, rows_per_slice: int, slice_s: float) -> list[pa.Table]:
    """Event slices for the stream: slice k holds events whose event time lies
    in [k * slice_s, (k + 1) * slice_s) after a fixed origin, plus a
    ``slice_id`` column, so snapshots can name the newest slice they hold."""
    rng = np.random.default_rng([seed, 2000])
    span_us = int(slice_s * 1_000_000)
    out = []
    for k in range(n_slices):
        t = events_table(rng, rows_per_slice, k * rows_per_slice, _micros(EVENTS_START) + k * span_us, span_us)
        out.append(t.append_column("slice_id", pa.array(np.full(rows_per_slice, k, np.int64))))
    return out
