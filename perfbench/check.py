"""Output checks: registry oracles on DuckDB, digests, and the stream's final
snapshot against a batch aggregate of every landed slice.

The comparison rules follow the repository's oracle gate: column names are
compared as sets, rows as an order-insensitive multiset. Floats may differ by
a relative 1e-9: Spark and DuckDB sum in different orders, and a rounded sum
near 1e9 can land one cent apart (join_multiway, seed 102: ...249.78 against
...249.77), far inside that tolerance and far outside any wrong answer.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import numpy as np


def duck_views(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def normalize(rows, cols) -> list[tuple]:
    """Rows with columns in name order, sorted, so order never matters."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def digest(rows, cols) -> str:
    return hashlib.sha256(repr(normalize(rows, cols)).encode()).hexdigest()[:16]


FLOAT_REL_TOL = 1e-9


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (float, int)):
        if math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        return math.isclose(a, float(b), rel_tol=FLOAT_REL_TOL, abs_tol=0.0)
    return a == b


def compare(srows, scols, orows, ocols) -> str | None:
    """None when the engine's rows equal the oracle's, else what differs."""
    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} != {sorted(ocols)}"
    if len(srows) != len(orows):
        return f"row count {len(srows)} != {len(orows)}"
    for rs, ro in zip(normalize(srows, scols), normalize(orows, ocols)):
        if not all(_same(a, b) for a, b in zip(rs, ro)):
            return f"first differing row {rs} != {ro}"
    return None


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str):
    res = con.execute(sql)
    return res.fetchall(), [d[0] for d in res.description]


def components_expected(docs) -> tuple[list[tuple], list[str]]:
    """The registry oracle of ``dedup_components`` (and of
    ``dedup_components_lsh``, which shares it), computed exactly with numpy:
    documents whose distinct word bigrams have Jaccard similarity >= 0.8,
    in the same language and in length bands at most one apart, are joined;
    each document on a pair gets the smallest doc_id of its component.

    The oracle's recursive SQL takes minutes on DuckDB at sf0.1, so the
    benchmark checks these two jobs against this twin; a test pins the twin
    to the oracle SQL on a smaller input.
    """
    ids = docs.column("doc_id").to_pylist()
    langs = docs.column("lang").to_pylist()
    sets = []
    for text in docs.column("text").to_pylist():
        toks = [t for t in text.split(" ") if t != ""]
        sets.append({toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)})
    vocab: dict[str, int] = {}
    for s in sets:
        for g in s:
            vocab.setdefault(g, len(vocab))
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for lang in set(langs):
        idx = [i for i, (l, s) in enumerate(zip(langs, sets)) if l == lang and s]
        if not idx:
            continue
        m = np.zeros((len(idx), len(vocab)), np.float32)
        for r, i in enumerate(idx):
            m[r, [vocab[g] for g in sets[i]]] = 1.0
        inter = (m @ m.T).astype(np.int64)
        size = np.array([len(sets[i]) for i in idx], np.int64)
        band = np.array([math.floor(math.log(len(sets[i])) / math.log(1.25)) for i in idx])
        doc = np.array([ids[i] for i in idx])
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = inter / (size[:, None] + size[None, :] - inter)
        hit = (jac >= 0.8) & (np.abs(band[:, None] - band[None, :]) <= 1) & (doc[:, None] < doc[None, :])
        for a, b in zip(*np.nonzero(hit)):
            u, v = int(doc[a]), int(doc[b])
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            parent[max(ru, rv)] = min(ru, rv)
    return [(n, find(n)) for n in parent], ["doc_id", "root_id"]


def stream_expected(slices, window_s: int) -> dict[tuple, tuple]:
    """(window start µs, event_type) -> (events, value cents, newest slice)
    over every slice, the batch answer the final snapshot must equal."""
    out: dict[tuple, list] = {}
    w_us = window_s * 1_000_000
    for t in slices:
        ts = t.column("ts").cast("int64").to_pylist()
        for us, et, v, s in zip(ts, t.column("event_type").to_pylist(),
                                t.column("value").to_pylist(), t.column("slice_id").to_pylist()):
            acc = out.setdefault((us - us % w_us, et), [0, 0, -1])
            acc[0] += 1
            acc[1] += int(round(v * 100))
            acc[2] = max(acc[2], s)
    return {k: tuple(v) for k, v in out.items()}
