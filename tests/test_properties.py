"""Property-based tests (hypothesis) — randomized differential checks the
reference never had (SURVEY.md §5 "Not present"), pinned deterministic
(derandomize) so CI runs are reproducible.

Each example generates a whole dataset, runs the Spark operator once, and
compares against an independent pure-Python model of the semantics.
"""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

from quatrain_mapreduce_spark.operators.dedup import exact_dedup
from quatrain_mapreduce_spark.streaming.stateful import moving_avg_batch

SETTINGS = dict(max_examples=8, deadline=None, derandomize=True)

token = st.text(alphabet="abc xyz", min_size=0, max_size=12)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10**6), st.floats(-1e6, 1e6)),
        min_size=1, max_size=40, unique_by=lambda r: r[1],
    ),
    k=st.integers(1, 6),
)
def test_moving_avg_matches_python_model(spark, rows, k):
    """moving_avg_batch == a hand-rolled last-k mean over (key, order) rows."""
    df = spark.createDataFrame(rows, "key int, seq long, val double")
    got = {
        (r["key"], r["seq"]): r["avg_last_k"]
        for r in moving_avg_batch(df, "key", "seq", "val", k=k).collect()
    }
    from decimal import ROUND_HALF_UP, Decimal

    def spark_round(x: float) -> float:
        # F.round semantics: HALF_UP on the shortest decimal repr (Python's
        # round() is half-even on the binary value and diverges on e.g. 1.00105)
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))

    expect = {}
    by_key: dict[int, list[tuple[int, float]]] = {}
    for key, seq, val in rows:
        by_key.setdefault(key, []).append((seq, val))
    for key, items in by_key.items():
        items.sort()
        for i, (seq, _) in enumerate(items):
            window = [v for _, v in items[max(0, i - k + 1): i + 1]]
            expect[(key, seq)] = spark_round(sum(window) / len(window))
    assert got == expect


@settings(**SETTINGS)
@given(
    texts=st.lists(token, min_size=1, max_size=30),
)
def test_exact_dedup_partitions_rows(spark, texts):
    """dup counts sum to the row count; keep_id is the min id of its group;
    groups match a python model keyed on normalized text."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = exact_dedup(df, "doc_id", "text").collect()
    assert sum(r["dup_cnt"] for r in got) == len(rows)

    def norm(t: str) -> str:
        return " ".join(t.split()).lower().strip()

    groups: dict[str, list[int]] = {}
    for i, t in rows:
        groups.setdefault(norm(t), []).append(i)
    expect = {(min(ids), len(ids)) for ids in groups.values()}
    assert {(r["keep_id"], r["dup_cnt"]) for r in got} == expect


@settings(**SETTINGS)
@given(
    a=st.lists(token.filter(bool), min_size=1, max_size=15),
    b=st.lists(token.filter(bool), min_size=1, max_size=15),
)
def test_jaccard_bounds_and_symmetry(spark, a, b):
    """0 <= J <= 1, J(A,A) = 1, J symmetric — computed via the engine's
    array-intersect expression on one-row frames."""
    from quatrain_mapreduce_spark.operators.dedup import _jaccard

    df = spark.createDataFrame(
        [(list(dict.fromkeys(a)), list(dict.fromkeys(b)))], "a array<string>, b array<string>"
    )
    r = df.select(
        _jaccard(F.col("a"), F.col("b")).alias("jab"),
        _jaccard(F.col("b"), F.col("a")).alias("jba"),
        _jaccard(F.col("a"), F.col("a")).alias("jaa"),
    ).collect()[0]
    assert 0.0 <= r["jab"] <= 1.0
    assert abs(r["jab"] - r["jba"]) < 1e-12
    assert abs(r["jaa"] - 1.0) < 1e-12


def _jaccard_brute_force(docs, n, t):
    """All same-block pairs (a < b) with word n-gram string-set Jaccard
    >= t — a pure-Python model with no banding, hashing or pruning. A doc
    with fewer than n tokens has no shingles and pairs with nothing."""
    sets = {}
    for doc_id, text, block in docs:
        toks = [w for w in text.split(" ") if w]
        sets[doc_id] = (block, {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)})
    out = set()
    for a, (blk_a, sa) in sets.items():
        for b, (blk_b, sb) in sets.items():
            if a < b and blk_a == blk_b and sa and sb:
                inter = len(sa & sb)
                jac = inter / (len(sa) + len(sb) - inter)
                if jac >= t:
                    out.add((a, b, jac))
    return out


_doc_text = st.lists(st.sampled_from("a b c d e f".split()), max_size=10).map(" ".join)


@settings(**{**SETTINGS, "max_examples": 16})
@given(
    texts=st.lists(st.tuples(_doc_text, st.sampled_from(["x", "y"])), min_size=1, max_size=14),
    grow=st.lists(st.sampled_from("a b c d e f".split()), max_size=4),
    ids=st.lists(st.integers(-(2 ** 40), 2 ** 40), min_size=18, max_size=18, unique=True),
    id_type=st.sampled_from(["long", "string"]),
    n=st.sampled_from([1, 2, 3]),
    t=st.one_of(st.just(1.0), st.floats(min_value=0.05, max_value=1.0)),
)
# cross-band pair: 4 and 5 distinct bigrams sit in log-size bands 6 and 7
# at t = 0.8, and J = 4/5 = 0.8 exactly
@example(texts=[("a b c d e", "x"), ("a b c d e f", "x"), ("a", "x")], grow=[],
         ids=list(range(18)), id_type="long", n=2, t=0.8)
# J = 1 pairs only, with string ids ordered lexicographically ("10" < "9")
@example(texts=[("a b c", "x")] * 11, grow=[], ids=list(range(18)),
         id_type="string", n=2, t=1.0)
def test_ngram_jaccard_pairs_match_brute_force(spark, texts, grow, ids, id_type, n, t):
    """ngram_jaccard_pairs == the brute-force model on random small
    corpora over a 6-word vocabulary: same pairs and bit-identical jac.
    Each doc is also copied with ``grow`` appended, which plants near-dups
    one or more size bands apart."""
    from quatrain_mapreduce_spark.operators.dedup import ngram_jaccard_pairs

    rows = texts + [(f"{txt} {' '.join(grow)}", blk) for txt, blk in texts[:4]]
    cast = str if id_type == "string" else int
    docs = [(cast(i), txt, blk) for i, (txt, blk) in zip(ids, rows)]
    df = spark.createDataFrame(docs, f"doc_id {id_type}, text string, lang string")
    got = {
        (r["a_id"], r["b_id"], r["jac"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", "lang", n=n, threshold=t).collect()
    }
    assert got == _jaccard_brute_force(docs, n, t)


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=0, max_size=60,
    ),
)
def test_connected_components_match_union_find(spark, edges):
    """Star-contraction labels == a pure-Python union-find on any random
    edge list (self-loops, duplicates, reversed duplicates included)."""
    from quatrain_mapreduce_spark.operators.components import connected_components
    from tests.test_components import _union_find

    df = spark.createDataFrame(edges, "u long, v long") if edges else \
        spark.createDataFrame([], "u long, v long")
    got = {r["node"]: r["root"] for r in connected_components(df).collect()}
    assert got == _union_find([e for e in edges if e[0] != e[1]])


def test_z_value_matches_python_reference(spark):
    """The JVM-side Morton interleave must agree with a straightforward
    Python reference on deterministic inputs across the full bit range."""
    from pyspark.sql import functions as F

    from quatrain_mapreduce_spark.operators.zorder import z_value

    bits = 12
    vals = [(a, b) for a in (0, 1, 5, 255, 4094, 4095) for b in (0, 2, 7, 1023, 4095)]
    df = spark.createDataFrame(vals, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", z_value(F.col("a"), F.col("b"), bits).alias("z")).collect()
    }

    def ref(a: int, b: int) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(a, b): ref(a, b) for a, b in vals}


def test_zorder_by_edge_inputs(spark):
    """zorder_by must not crash on an empty frame (min/max agg yields NULLs)
    and must not clobber a pre-existing `_z` column (collision-safe temp
    name): the input column set and row set survive unchanged."""
    from quatrain_mapreduce_spark.operators.zorder import zorder_by

    empty = spark.createDataFrame([], "a long, b long")
    assert zorder_by(empty, "a", "b", n_files=4).count() == 0

    withz = spark.createDataFrame([(1, 2, 99), (3, 4, 88)], "a long, b long, _z long")
    out = zorder_by(withz, "a", "b", n_files=2)
    assert out.columns == ["a", "b", "_z"]
    assert {(r["a"], r["b"], r["_z"]) for r in out.collect()} == {(1, 2, 99), (3, 4, 88)}


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="pq rs", min_size=0, max_size=30),
        min_size=1, max_size=12,
    ),
)
def test_textrank_matches_python_power_iteration(spark, texts):
    """textrank_words == a pure-Python 5-step power iteration on the same
    symmetrized adjacency-count graph (mass conservation falls out)."""
    from quatrain_mapreduce_spark.operators.text import textrank_words

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r["word"]: r["rank_n"] for r in textrank_words(df, "text").collect()}

    # python model
    from collections import Counter, defaultdict
    w = Counter()
    for t in texts:
        toks = [x for x in t.split(" ") if x]
        for a, b in zip(toks, toks[1:]):
            if a != b:
                w[(a, b)] += 1
                w[(b, a)] += 1
    if not w:
        assert got == {}
        return
    out = defaultdict(float)
    for (a, _b), c in w.items():
        out[a] += c
    nodes = sorted(out)
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        nxt = {v: 0.0 for v in nodes}
        for (a, b), c in w.items():
            nxt[b] += (c / out[a]) * r[a]
        r = {v: (1.0 - 0.85) / n + 0.85 * m for v, m in nxt.items()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - r[v] * n) < 1e-6, (v, got[v], r[v] * n)


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="pq rs", min_size=0, max_size=30),
        min_size=1, max_size=12,
    ),
)
def test_bigram_lm_score_invariants(spark, texts):
    """avg_p in (0,1], hit_rate in [0,1], n_bigrams = per-doc token count - 1
    for docs with >= 2 tokens (and absent otherwise)."""
    from quatrain_mapreduce_spark.operators.text import bigram_lm_score

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           bigram_lm_score(df, "doc_id", "text").collect()}
    for i, t in rows:
        toks = [x for x in t.split(" ") if x]
        if len(toks) >= 2:
            assert got[i]["n_bigrams"] == len(toks) - 1
            assert 0.0 < got[i]["avg_p"] <= 1.0
            assert 0.0 <= got[i]["hit_rate"] <= 1.0
        else:
            assert i not in got


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="pq rs", min_size=1, max_size=20),
        min_size=2, max_size=10,
    ),
)
def test_doc_cosine_pairs_bounds_and_self_similarity(spark, texts):
    """cos <= 1 for every emitted pair; a duplicated doc always pairs with
    its twin at exactly 1.0 (when both have tokens)."""
    from quatrain_mapreduce_spark.operators.text import doc_cosine_pairs

    rows = [(i, t, "en") for i, t in enumerate(texts)]
    # append an exact duplicate of doc 0
    rows.append((len(rows), texts[0], "en"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = doc_cosine_pairs(df, "doc_id", "text", "lang", threshold=0.0).collect()
    for r in out:
        assert r["cos_r"] <= 1.0 + 1e-9
    toks0 = [x for x in texts[0].split(" ") if x]
    if toks0:
        twin = [r for r in out
                if r["id_a"] == 0 and r["id_b"] == len(rows) - 1]
        assert len(twin) == 1 and twin[0]["cos_r"] == 1.0


@settings(**SETTINGS)
@given(
    log=st.lists(
        st.tuples(
            st.integers(1, 5),            # key
            st.integers(0, 30),           # seq
            st.sampled_from(["I", "U", "D"]),
            st.integers(-100, 100),       # payload
        ),
        min_size=1, max_size=40,
        unique_by=lambda r: (r[0], r[1]),  # seq unique per key (CDC contract)
    ),
)
def test_cdc_apply_matches_python_model(spark, log):
    """cdc_apply == per-key max-seq winner, tombstoned keys absent."""
    from quatrain_mapreduce_spark.operators.merge import cdc_apply

    df = spark.createDataFrame(log, "k long, seq int, op string, v long")
    got = {
        r["k"]: (r["v"], r["last_seq"])
        for r in cdc_apply(df, "k", "seq", "op", ["v"]).collect()
    }
    model = {}
    for k, seq, op, v in log:
        if k not in model or seq > model[k][0]:
            model[k] = (seq, op, v)
    want = {k: (v, seq) for k, (seq, op, v) in model.items() if op != "D"}
    assert got == want


@settings(**SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 4),                      # user
            st.integers(0, 10**7),                  # ts micros
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1, max_size=50,
    ),
)
def test_funnel_counts_match_python_model(spark, events):
    """funnel_counts == the strict min-chain model; counts non-increasing."""
    from quatrain_mapreduce_spark.operators.temporal import funnel_counts

    rows = [(i, u, ts, et) for i, (u, ts, et) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, us long, event_type string"
    ).select("event_id", "user_id", F.timestamp_micros("us").alias("ts"),
             "event_type")
    got = {r["stage"]: r["n_users"]
           for r in funnel_counts(df, "user_id", "ts", "event_type",
                                  ["view", "click", "purchase"]).collect()}
    stages = ["view", "click", "purchase"]
    users = {u for u, _, _ in events}
    model = {}
    for s_i, stage in enumerate(stages):
        passed = {}
        for u in users:
            t_prev = 0 if s_i == 0 else model[stages[s_i - 1]].get(u)
            if s_i > 0 and t_prev is None:
                continue
            ts_c = [ts for (uu, ts, et) in events
                    if uu == u and et == stage
                    and (s_i == 0 or ts > t_prev)]
            if ts_c:
                passed[u] = min(ts_c)
        model[stage] = passed
    for s_i, stage in enumerate(stages):
        assert got[stage] == len(model[stage])
    assert got["view"] >= got["click"] >= got["purchase"]


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(1, 8), st.integers(1, 8)),
        min_size=1, max_size=25,
    ),
)
def test_bfs_distances_match_python_model(spark, edges):
    """bfs_distances == plain Python BFS from the min endpoint, 3 hops."""
    from quatrain_mapreduce_spark.operators.graph import bfs_distances

    clean = [(a, b) for a, b in edges if a != b]
    if not clean:
        return
    df = spark.createDataFrame(clean, "src long, dst long")
    src_df = df.agg(F.min(F.least("src", "dst")))
    got = {r["vertex"]: r["dist"]
           for r in bfs_distances(df, src_df, max_hops=3).collect()}
    adj = {}
    for a, b in clean:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    source = min(min(a, b) for a, b in clean)
    want, frontier = {source: 0}, {source}
    for hop in (1, 2, 3):
        nxt = {v for u in frontier for v in adj[u]} - set(want)
        for v in nxt:
            want[v] = hop
        frontier = nxt
    assert got == want


@settings(**SETTINGS)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 1000)),
        min_size=3, max_size=30,
    ),
)
def test_spearman_matches_scipy_free_python_model(spark, pairs, tmp_path_factory):
    """rho from the bucketed per-row rank plan must equal a direct Python
    computation with tie-averaged ranks (and stay within [-1, 1])."""
    import math

    qmult = any(p[0] != pairs[0][0] for p in pairs)
    pmult = any(p[1] != pairs[0][1] for p in pairs)
    if not (qmult and pmult):
        return  # zero variance -> rho undefined; the query emits NULL/NaN
    tmp = tmp_path_factory.mktemp("sp")
    rows = [(q / 100.0, p / 100.0) for q, p in pairs]
    spark.createDataFrame(
        rows, "l_quantity double, l_extendedprice double"
    ).write.mode("overwrite").parquet(str(tmp / "lineitem.parquet"))
    from quatrain_mapreduce_spark.registry import all_queries
    [r] = all_queries()["spearman_rank_corr"].fn(spark, str(tmp)).collect()

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            r = (i + j + 1) / 2.0  # average of 1-based positions i+1..j
            for k2 in range(i, j):
                ranks[order[k2]] = r
            i = j
        return ranks

    qs_ = [p[0] for p in pairs]
    ps_ = [p[1] for p in pairs]
    ra, rb = avg_ranks(qs_), avg_ranks(ps_)
    n = len(pairs)
    ma, mb = sum(ra) / n, sum(rb) / n
    cov = sum((x - ma) * (y - mb) for x, y in zip(ra, rb))
    va = sum((x - ma) ** 2 for x in ra)
    vb = sum((y - mb) ** 2 for y in rb)
    want = cov / math.sqrt(va * vb)
    assert abs(r["rho"] - want) < 1e-5
    assert -1.0 <= r["rho"] <= 1.0


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.tuples(st.booleans(), st.integers(0, 50)),
        min_size=2, max_size=40,
    ),
)
def test_auc_matches_pairwise_count(spark, vals, tmp_path_factory):
    """AUC from the rank-sum plan must equal the O(n^2) definition:
    (wins + ties/2) / (np*nn)."""
    pos = [v for is_p, v in vals if is_p]
    neg = [v for is_p, v in vals if not is_p]
    if not pos or not neg:
        return
    tmp = tmp_path_factory.mktemp("auc")
    rows = [(i, "purchase" if is_p else "click", v / 100.0)
            for i, (is_p, v) in enumerate(vals)]
    spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    from quatrain_mapreduce_spark.registry import all_queries
    [r] = all_queries()["auc_mann_whitney"].fn(spark, str(tmp)).collect()
    num2 = sum(2 if p > n else (1 if p == n else 0)
               for p in pos for n in neg)
    assert r["auc_num2"] == num2
    assert abs(r["auc"] - num2 / (2.0 * len(pos) * len(neg))) < 1e-5
