"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its closest analogue is DISTINCT / group-by
key — SemanticAnalyzer.java:747); these are the engine's first-class
extensions, each designed for the 100 TB path:

- exact_dedup:     hash-groupBy on a normalized fingerprint — one shuffle,
                   map-side combinable.
- ngram_jaccard_pairs: exact blocked n-gram Jaccard by inverted-index
                   overlap counting — (doc, shingle) rows, equi-join on
                   the shingle, count per pair. Ground truth; its join
                   rows grow with shingle document frequency per block.
- minhash_lsh_pairs: shingle → minhash signature → banded LSH buckets →
                   bucket self-join → exact-jaccard verify. The standard
                   near-dup pipeline (Broder '97): candidate generation is
                   linear in corpus size; only colliding pairs are verified.
- simhash_pairs:   64-bit simhash signatures (Charikar '02) via a vectorized
                   Pandas UDF, banded on 16-bit chunks, hamming-verified with
                   JVM-side bit_count(xor).

Skew/scale guards: LSH buckets larger than ``max_bucket`` are dropped from
candidate generation (a degenerate bucket means the band is non-discriminative
for those docs; they are still covered by the other bands), keeping the
self-join near-linear under skew.
"""

from __future__ import annotations

import math
import random

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.storagelevel import StorageLevel

from quatrain_mapreduce_spark.operators.projection import tokenize
from quatrain_mapreduce_spark.operators.util import spread

# 31-bit Mersenne prime field: with a,b < 2^31 and base hash masked to 31
# bits, a*h + b < 2^62 — always inside int64, so the expression never trips
# Spark 4's default ANSI overflow check.
MERSENNE_31 = (1 << 31) - 1


def normalized_text(col) -> F.Column:
    """Canonical text form: collapse whitespace, lowercase, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized-content fingerprint.

    Emits one row per distinct content: md5 fingerprint, the kept (minimum)
    id, and the duplicate count. Single hash shuffle on the fingerprint.
    """
    return (
        spread(df).select(F.md5(normalized_text(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


def word_shingles(text_col: str, n: int) -> F.Column:
    """Distinct word n-gram shingles of a text column (empty-safe)."""
    toks = tokenize(text_col)
    if n == 1:
        return F.array_distinct(toks)
    # sequence(1, size-n+1) is only valid when size >= n (Spark's sequence
    # would otherwise count *down* and fabricate indices). array_join(slice)
    # is one codegen call per gram — measured ~3.4x faster than per-element
    # F.get() lookups on the same data.
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>")))


def _jaccard(a: F.Column, b: F.Column) -> F.Column:
    """Exact Jaccard over two distinct-element arrays: |∩| / (|A|+|B|-|∩|)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact blocked n-gram Jaccard near-dup pairs: (a_id, b_id, jac) for
    every same-block pair with J >= ``threshold``, a_id < b_id.

    Kernel — an inverted-index overlap count, the MapReduce set-similarity
    join (Vernica, Carey & Li, SIGMOD 2010): each document's distinct
    shingle set, carried as xxhash64 longs (8-byte join keys), is exploded
    to one (doc, block, band, size, tok) row, the two sides are
    equi-joined on (block, band, tok), and ``groupBy(pair).count()`` is
    |A∩B| for every pair that shares a shingle. A pair sharing nothing has J = 0 and is never emitted, which
    is the right answer for any t > 0 — so no per-pair set intersection is
    ever computed, and pairs are only touched through the shingles they
    share.

    Blocking: ``block_col`` composed with a logarithmic size band. J >= t
    implies |A|/|B| in [t, 1/t], so with bands of ratio 1/t a qualifying
    pair lies in the same or adjacent bands. Side A probes its own band and
    both neighbours under a.id < b.id, so every pair is enumerated once,
    from its smaller id. At t = 1, J = 1 forces equal sizes, so the exact
    size is the band and only it is probed. The id order is a plain
    attribute comparison in the join, so Catalyst proves a consumer's
    ``a_id = b_id`` filter empty: ``connected_components``' self-loop
    branch is pruned instead of re-running this join. (Probing only band
    and band + 1 and emitting least/greatest of the ids joins fewer rows
    but hides that order; ``dedup_components`` measured slower with it.)

    Exactness: before counting, join rows are pruned by the size bound
    min(na, nb) / max(na, nb) >= t. That drops no true pair even in
    floating point: J <= min/max, and IEEE division is correctly rounded
    and monotone, so fl(i/u) <= fl(min/max). The kept pairs' ``jac`` is
    i / (na + nb - i), the same int/int IEEE division as a per-pair
    intersection would give — bit-identical, so the DuckDB oracle compares
    it without rounding. A 64-bit shingle-hash collision inside one pair
    (probability ~pairs * |union|^2 / 2^64) is the only way this can differ
    from string-set Jaccard, and the oracle computes the string form.

    Trade: the count shuffles one row per shared (pair, shingle) — more
    shuffle bytes than probing pairs in place — in exchange for dropping
    the hash-set intersection of every same-band candidate pair, nearly
    all of which share little or nothing. Measured in the benchmark's
    ``llm_dedup_batch`` (sf0.1, 4-core host): ``dedup_components`` executor
    CPU 20.2 -> 4.4 s, shuffle write 0.1 -> 9.8 MB, no spill.

    SCALE LIMIT: a shingle shared by k docs of one block and band yields
    k² join rows, and block sizes grow with the corpus, so this exact
    enumeration is the oracle-checkable ground truth, not the 100 TB path.
    At scale, generate candidates with ``minhash_lsh_pairs`` (linear) and
    verify them with ``verify_pairs`` (touches candidates only) — the
    composition ``dedup_components_lsh`` demonstrates.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")
    # filter on the CHEAP equivalent predicate (token count >= n) instead of
    # size(sh) > 0: Catalyst pushes filters through Repartition, and a pushed
    # filter over the full shingle expression would evaluate it on the
    # pre-spread (often single) input partition.
    docs = (
        spread(df)
        .where(F.size(tokenize(text_col)) >= n)
        .select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("block"),
            F.transform(word_shingles(text_col, n), lambda g: F.xxhash64(g)).alias("sh"),
        )
        .withColumn("n", F.size("sh"))
    )
    if threshold >= 1.0:
        # log(1/t) is 0 at t = 1; the exact size is the complete band
        docs = docs.withColumn("band", F.col("n").cast("long"))
        probes = F.array(F.col("band"))
    else:
        docs = docs.withColumn(
            "band", F.floor(F.log(F.col("n").cast("double")) / F.lit(math.log(1.0 / threshold)))
        )
        probes = F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
    # both join sides consume the exploded rows — persist them once instead
    # of shingling the corpus twice; MEMORY_AND_DISK so a large index spills
    # instead of recomputing
    toks = docs.select("id", "block", "band", "n", F.explode("sh").alias("tok")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a = toks.withColumn("probe", F.explode(probes)).alias("a")
    b = toks.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    cond = (
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.probe") == F.col("b.band"))
        & (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.least(na, nb) / F.greatest(na, nb) >= threshold)
    )
    inter = (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            (na + nb).alias("sizes"),
        )
        .groupBy("a_id", "b_id", "sizes")
        .count()
    )
    return (
        inter.select(
            "a_id", "b_id",
            (F.col("count") / (F.col("sizes") - F.col("count"))).alias("jac"),
        )
        .where(F.col("jac") >= threshold)
    )


def base_hashes(shingles: F.Column) -> F.Column:
    """xxhash64 per shingle, masked to 31 bits (the minhash base hash).

    Materialize this ONCE (withColumn) before building signatures: Spark
    higher-order functions run interpreted per element, so inlining the hash
    transform into every permutation would recompute it num_perm times.
    """
    return F.transform(shingles, lambda s: F.xxhash64(s).bitwiseAND(F.lit(MERSENNE_31)))


def _perm_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_31), rng.randrange(0, MERSENNE_31)) for _ in range(num_perm)]


def signature_from_hashes(bh: F.Column, num_perm: int = 32, seed: int = 42) -> F.Column:
    """MinHash signature from a precomputed base-hash array.

    Permutation family: h_j(x) = (a_j * x + b_j) mod (2^31 - 1) with
    (a_j, b_j) from a fixed seeded PRNG — deterministic, all JVM-side, and
    overflow-free under ANSI mode (a*x+b < 2^62 < int64 max).
    """
    sig = [
        F.array_min(F.transform(bh, lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE_31))))
        for a, b in _perm_params(num_perm, seed)
    ]
    return F.array(*sig)


def minhash_signature(shingles: F.Column, num_perm: int = 32, seed: int = 42) -> F.Column:
    """MinHash signature array over a shingle array (one-shot convenience;
    pipelines should materialize ``base_hashes`` first — see
    ``signature_from_hashes``)."""
    return signature_from_hashes(base_hashes(shingles), num_perm, seed)


def lsh_band_rows(
    docs_sh: DataFrame,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """(id, band, bhash) LSH bucket rows from a (id, sh) shingle frame —
    the INDEX side of banded MinHash. Shared by the one-shot pair finder
    and the incremental probe path (where this frame is persisted as the
    corpus index). ``max_bucket`` drops degenerate buckets (skew guard);
    pass None to keep all buckets (e.g. when capping is applied later over
    a combined index+increment view)."""
    rows_per_band = num_perm // bands
    signed = docs_sh.withColumn("bh", base_hashes(F.col("sh"))).withColumn(
        "sig", signature_from_hashes(F.col("bh"), num_perm)
    )
    band_rows = signed.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(F.concat_ws(",", *[
                        F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ])).alias("bhash"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bhash")
    if max_bucket is not None:
        w = Window.partitionBy("band", "bhash")
        band_rows = band_rows.withColumn("bucket_n", F.count("*").over(w)).where(
            F.col("bucket_n") <= max_bucket
        ).drop("bucket_n")
    return band_rows


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Distinct LSH candidate pairs (a_id, b_id), WITHOUT the exact-Jaccard
    verify — for pipelines that run their OWN downstream verification
    (``verify_pairs`` at the pair-definition's n/threshold), where
    ``minhash_lsh_pairs``' interior verify is a redundant second pass: it
    re-joins both shingle sets onto every candidate and filters at the LSH
    threshold, only for the caller to re-shingle and re-filter at the real
    one. Composition equivalence (dedup_components_lsh and family): the
    final edge set is candidates ∩ {exact-verified pairs}; the interior
    0.5-filter could only REMOVE candidates that the exact verify keeps, and
    the driver-checked ``dedup_lsh_recall`` gate pins candidate recall at
    1.0 over the ground truth — so with or without the interior verify the
    verified edge set equals the ground truth (oracle-checked per round).

    Plan shape vs the full pipeline: the verify-side joins (and the persist
    they required) are gone — candidate generation is shingle → signature →
    band explode → bucket self-join → distinct, exactly the linear-in-
    corpus half. The band-rows frame feeds both self-join sides and is
    deliberately NOT persisted: a 6-rep interleaved A/B of the full
    dedup_components_lsh pipeline measured recompute ahead of a
    MEMORY_AND_DISK shingle persist (min 3.26 s vs 3.36, med 4.00 vs 4.60
    at sf0.1) — the same materialization-barrier trade r13 measured when
    it rejected the band-rows persist inside minhash_lsh_pairs.
    """
    docs = (
        spread(df)
        .where(F.size(tokenize(text_col)) >= shingle_n)
        .select(F.col(id_col), word_shingles(text_col, shingle_n).alias("sh"))
    )
    band_rows = lsh_band_rows(docs, id_col, num_perm, bands, max_bucket)
    a, b = band_rows.alias("a"), band_rows.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bhash") == F.col("b.bhash"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, exact-Jaccard verified.

    Pipeline: shingle → signature → explode into ``bands`` band-hashes →
    self-join within (band, band_hash) buckets → distinct candidate pairs →
    verify exact Jaccard on shingle sets ≥ threshold. Candidate generation is
    one explode + one shuffle; verification touches only colliding pairs.
    """
    # cheap pushdown-safe filter; the expensive shingle projection stays
    # above the spread repartition (see ngram_jaccard_pairs note)
    docs = (
        spread(df)
        .where(F.size(tokenize(text_col)) >= shingle_n)
        .select(F.col(id_col), word_shingles(text_col, shingle_n).alias("sh"))
    )
    # shingling is the expensive narrow stage and is consumed three times
    # (signature branch + both verify-join sides): cache it. MEMORY_AND_DISK
    # so a 100 TB corpus's shingle sets spill instead of recomputing.
    from pyspark.storagelevel import StorageLevel

    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    band_rows = lsh_band_rows(docs, id_col, num_perm, bands, max_bucket)
    a, b = band_rows.alias("a"), band_rows.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bhash") == F.col("b.bhash"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )
    sets = docs.select(F.col(id_col), F.col("sh"))
    return (
        cand.join(sets.withColumnsRenamed({id_col: "a_id", "sh": "a_sh"}), "a_id")
        .join(sets.withColumnsRenamed({id_col: "b_id", "sh": "b_sh"}), "b_id")
        # filter on the RAW division, round only the reported column:
        # rounding first admitted pairs up to 5e-7 below the threshold,
        # disagreeing with ngram_jaccard_pairs / verify_pairs at the
        # boundary (those compare unrounded — dedup.py 'no rounding
        # needed' note)
        .where(_jaccard(F.col("a_sh"), F.col("b_sh")) >= threshold)
        .select("a_id", "b_id", F.round(_jaccard(F.col("a_sh"), F.col("b_sh")), 6).alias("jac"))
    )


def incremental_lsh_candidates(
    existing_bands: DataFrame, arriving_bands: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Candidate near-dup pairs TOUCHING an increment: arriving docs probe
    the persisted corpus index bucket-by-bucket (cross pairs) plus the
    increment's own self-join (within pairs).

    The property that makes continuous corpus dedup affordable: per-
    increment work scales with |increment| + matched bucket rows, never
    with |corpus| — the index is built once and only READ here (at scale,
    store it bucketed by (band, bhash) so probes co-locate without a
    shuffle of the index side). Pair orientation (a_id < b_id) matches the
    one-shot finder.
    """
    a = arriving_bands.alias("a")
    e = existing_bands.alias("e")
    cross = (
        a.join(e, (F.col("a.band") == F.col("e.band")) & (F.col("a.bhash") == F.col("e.bhash"))
               # a re-ingested doc exists on BOTH sides of the index probe;
               # without this guard it pairs with itself, verifies at
               # J=1.0 and enters the pair graph as a self-edge (review
               # finding) — the within branch already filters a < b
               & (F.col(f"a.{id_col}") != F.col(f"e.{id_col}")))
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"e.{id_col}")).alias("a_id"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"e.{id_col}")).alias("b_id"),
        )
    )
    b = arriving_bands.alias("b")
    within = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bhash") == F.col("b.bhash"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
    )
    return cross.unionByName(within).distinct()


def verify_pairs(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.8,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard verification restricted to a CANDIDATE pair set.

    The scale path around ``ngram_jaccard_pairs``'s blocked all-pairs join:
    candidate generation (LSH) is linear in corpus size, and verification
    here touches only the candidate pairs — never a block². Shingle sets
    are carried as xxhash64 longs (same trade as ngram_jaccard_pairs).
    ``cand`` must have (a_id, b_id) columns.

    ``block_col``: when the pair definition is blocked (ngram_jaccard_pairs
    only ever pairs same-block docs, e.g. same lang), enforce block equality
    here too — LSH candidates ignore blocks, so without this the verified
    set is a strict SUPERSET whenever near-dups cross block boundaries.
    """
    from pyspark.storagelevel import StorageLevel

    cols = [F.col(id_col), F.transform(word_shingles(text_col, n), lambda g: F.xxhash64(g)).alias("sh")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    # persist: the shingle frame feeds BOTH join sides below, and without
    # it the corpus is tokenized/shingled/hashed twice per action — the
    # same ~2x the sibling operators measured when they added this
    # (ngram_jaccard_pairs / minhash_lsh_pairs MEMORY_AND_DISK notes)
    sets = (spread(df).where(F.size(tokenize(text_col)) >= n).select(*cols)
            .persist(StorageLevel.MEMORY_AND_DISK))
    a_renames = {id_col: "a_id", "sh": "a_sh"}
    b_renames = {id_col: "b_id", "sh": "b_sh"}
    if block_col:
        a_renames["blk"], b_renames["blk"] = "a_blk", "b_blk"
    out = (
        cand.join(sets.withColumnsRenamed(a_renames), "a_id")
        .join(sets.withColumnsRenamed(b_renames), "b_id")
    )
    if block_col:
        out = out.where(F.col("a_blk") == F.col("b_blk"))
    return (
        out.select("a_id", "b_id", _jaccard(F.col("a_sh"), F.col("b_sh")).alias("jac"))
        .where(F.col("jac") >= threshold)
    )


def simhash_signature(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document via a vectorized Pandas UDF.

    Token hashes are computed JVM-side (xxhash64 per token); the bit-vote
    accumulation (popcount over 64 bit positions, weighted sign sum) runs in
    numpy over Arrow batches — the sanctioned Python path for logic Spark
    expressions can't vectorize.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(LongType())
    def simhash(hashes: pd.Series) -> pd.Series:
        # vectorized across the Arrow batch, CHUNKED along the token axis:
        # the one-shot (total_tokens x 64) sign/cumsum matrices peak at
        # ~1.3 KB per token — multi-GB transients on a 10k-row batch of
        # long documents (r13 review, Python-worker OOM risk). Instead the
        # running per-bit vote cumsum is materialized only at document
        # boundaries, CHUNK tokens at a time: peak extra memory is
        # CHUNK*64*12 B (~200 MB at 2^18) regardless of batch size, and
        # the integer sums are bit-identical to the one-shot form
        # (zero-length docs fall out naturally as sig=0)
        arrs = [
            np.asarray(h, dtype=np.int64).astype(np.uint64) if h is not None
            else np.empty(0, dtype=np.uint64)
            for h in hashes
        ]
        lens = np.array([a.size for a in arrs], dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series(np.zeros(len(hashes), dtype=np.int64))
        flat = np.concatenate(arrs)
        ends = np.cumsum(lens)
        starts = ends - lens
        bits = np.arange(64, dtype=np.uint64)
        # cumulative vote totals are needed only at these positions
        need = np.unique(np.concatenate([starts, ends]))
        cum_at = np.empty((need.size, 64), dtype=np.int64)
        run = np.zeros(64, dtype=np.int64)
        CHUNK = 1 << 18
        ni = 0
        off = 0
        while True:
            seg = flat[off:off + CHUNK]
            if seg.size:
                signs = (2 * ((seg[:, None] >> bits) & np.uint64(1))
                         .astype(np.int32)) - 1
                cseg = np.cumsum(signs, axis=0, dtype=np.int64)
            while ni < need.size and need[ni] <= off + seg.size:
                p = need[ni]
                cum_at[ni] = run if p == off else run + cseg[p - off - 1]
                ni += 1
            if seg.size:
                run = run + cseg[-1]
            off += seg.size
            if seg.size < CHUNK:
                break
        votes = (cum_at[np.searchsorted(need, ends)]
                 - cum_at[np.searchsorted(need, starts)])
        sig = ((votes > 0).astype(np.uint64) << bits).sum(axis=1)
        return pd.Series(sig.astype(np.int64))

    toks = spread(df).select(
        F.col(id_col), F.transform(tokenize(text_col), lambda t: F.xxhash64(t)).alias("th")
    )
    return toks.select(F.col(id_col), simhash(F.col("th")).alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, max_bucket: int = 1000
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into 4×16-bit chunks
    (pigeonhole: hamming ≤ 3 ⇒ at least one chunk identical), self-join per
    chunk, verify hamming via bit_count(xor)."""
    if max_hamming >= 4:
        # the fixed 4-chunk banding's pigeonhole guarantee stops at
        # hamming 3: two signatures differing by one bit in EVERY chunk
        # (hamming 4) share no identical chunk and would be silently
        # absent from the candidates — refuse rather than under-recall
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4x16-bit banding's "
            "pigeonhole guarantee (hamming <= 3); re-band with "
            ">= max_hamming+1 chunks for larger radii"
        )
    sigs = simhash_signature(df, id_col, text_col)
    chunks = sigs.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("simhash"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("ckey"),
            ) for c in range(4)
        ])).alias("ck"),
    ).select(id_col, "simhash", "ck.chunk", "ck.ckey")
    w = Window.partitionBy("chunk", "ckey")
    chunks = chunks.withColumn("n", F.count("*").over(w)).where(F.col("n") <= max_bucket).drop("n")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.ckey") == F.col("b.ckey"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    t_num: int = 4,
    t_den: int = 5,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (Chaudhuri et
    al. ICDE'06; Bayardo et al. WWW'07 "all-pairs"): all document pairs
    with shingle-set Jaccard >= t_num/t_den, with NO approximation.

    Completeness argument (why the oracle can be the plain all-pairs
    filter): sort each doc's shingles by a global canonical order
    (ascending document frequency, i.e. rarest first) and keep only the
    first |x| - ceil(t*|x|) + 1 as its PREFIX; two sets with J >= t must
    overlap in > (1-t)*|x| elements, so they cannot disagree on all
    prefix positions — every qualifying pair shares >= 1 prefix token.
    Candidates therefore come from an equi-join on prefix tokens only,
    and rarest-first ordering makes those join buckets the SMALLEST ones
    (the PPJoin insight): frequent shingles never enter short prefixes,
    so no stop-shingle bucket blowup. The threshold is carried as an
    integer fraction — ceil(t*|x|) = (t_num*|x| + t_den - 1) div t_den —
    because float ceil(0.8*n) rounds UP spuriously (0.8*5 -> 4.0000...2
    -> ceil 5) and a too-short prefix silently LOSES pairs.

    Exact-Jaccard verify runs on candidates only; shingles ride as
    xxhash64 longs (the ngram_jaccard convention — integer joins beat
    string joins ~2.4x).
    """
    from pyspark.sql import Window

    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(word_shingles(text_col, n), lambda g: F.xxhash64(g))
        ).alias("tok"),
    ).distinct().persist()

    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    freq = sh.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "tok")
    prefix = (
        sh.join(freq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "id")
        .where(
            F.col("rn")
            <= F.col("sz")
            - F.expr(f"({t_num} * sz + {t_den - 1}) div {t_den}")
            + 1
        )
        .select("id", "tok")
    )
    psz = prefix.join(sizes, "id")
    p1, p2 = psz.alias("p1"), psz.alias("p2")
    # PPJoin length filter: J >= t forces min(|a|,|b|) >= t*max(|a|,|b|)
    # — prunes cross-size candidates before the pair even materializes
    cand = (
        p1.join(
            p2,
            (F.col("p1.tok") == F.col("p2.tok"))
            & (F.col("p1.id") < F.col("p2.id"))
            & (F.least(F.col("p1.sz"), F.col("p2.sz")) * t_den
               >= F.greatest(F.col("p1.sz"), F.col("p2.sz")) * t_num),
        )
        .select(F.col("p1.id").alias("a_id"), F.col("p2.id").alias("b_id"))
        .distinct()
    )
    x, y = sh.alias("x"), sh.alias("y")
    overlap = (
        cand.join(x, F.col("x.id") == F.col("a_id"))
        .join(
            y,
            (F.col("y.id") == F.col("b_id"))
            & (F.col("y.tok") == F.col("x.tok")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("a_id"), F.col("sz").alias("na"))
    sb = sizes.select(F.col("id").alias("b_id"), F.col("sz").alias("nb"))
    # Threshold check stays in INTEGER arithmetic (inter*t_den >=
    # union*t_num) — jac is a double and a boundary pair with
    # inter*t_den == union*t_num could be dropped by double rounding if the
    # filter rode on jac itself (ADVICE r6). jac is computed only as output.
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        overlap.join(sa, "a_id").join(sb, "b_id")
        .where(
            F.col("inter") * t_den
            >= (F.col("na") + F.col("nb") - F.col("inter")) * t_num
        )
        .select("a_id", "b_id", jac.alias("jac"))
    )



def window_fingerprints(
    docs: DataFrame, id_col: str, text_col: str, w: int
) -> DataFrame:
    """(id, pos, whash): xxhash64 fingerprint of every w-token rolling
    window, built scan-local (sequence -> slice -> hash inside one
    projection). Shared by the substring-dedup family.

    Fingerprints are 8-byte longs, not md5 strings: the whash exchange is
    the family's dominant cost and longs shuffle/sort ~1.5x faster end-to-
    end (measured at sf1). Hash values never reach any output — results
    can differ from the md5 form only on a 64-bit collision (~3e-10 false-
    duplicate rate even at 10^13 windows; a curation pipeline eats that,
    and the DuckDB oracles recompute with md5 so a collision would be
    CAUGHT, not masked — the ngram_jaccard convention)."""
    toks = tokenize(text_col)
    hashes = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (w - 1)),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i, w), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return spread(docs).select(
        F.col(id_col), F.posexplode(hashes).alias("pos", "whash")
    )


def _cross_doc_windows(win: DataFrame, id_col: str) -> DataFrame:
    """Filter the window frame to windows whose fingerprint occurs in more
    than one document (cross-doc witness is min != max doc, never
    countDistinct): a map-combinable per-fingerprint min/max aggregate
    plus a join back to the persisted window frame.

    Skew contract (why NOT an analytic min/max-over-partition window,
    which measured slightly faster at sf1): a boilerplate fingerprint —
    a license header or template sentence shared by millions of documents
    — would put every occurrence into ONE window partition and serialize
    the stage on a single straggler task. The aggregate combines map-side
    under the same hot key, and the join back is an equi-join AQE's
    skew-join handling splits at runtime; the window operator gets
    neither defense. Same reasoning as the LSH family's max_bucket cap,
    except here the hot key cannot be dropped (its windows ARE
    duplicated), so the plan must absorb it rather than skip it."""
    win = win.persist(StorageLevel.MEMORY_AND_DISK)
    crossdoc = (
        win.groupBy("whash")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .where(F.col("_mn") < F.col("_mx"))
        .select("whash")
    )
    return win.join(crossdoc, "whash").select(F.col(id_col), F.col("pos"))


def substring_window_report(
    docs: DataFrame, id_col: str, text_col: str, w: int = 8
) -> DataFrame:
    """Cross-document duplicated-SPAN detection via rolling token-window
    fingerprints — the distributed form of exact substring dedup (Lee et
    al. ACL'22, "Deduplicating Training Data Makes Language Models
    Better", which builds a corpus suffix array single-node).

    Witness argument: any verbatim span of >= w tokens shared by two
    documents contains at least one aligned w-token window, so every such
    span is caught by flagging w-window fingerprints that occur in more
    than one document — no suffix array, no all-pairs work. (Spans
    duplicated only WITHIN one document are deliberately out of scope
    here; the repetition_filter covers intra-doc repetition.)

    Plan shape for 100 TB: window fingerprints are built scan-local
    (~n_tokens windows per doc, corpus-linear); duplicated windows come
    from ONE analytic exchange over the fingerprint (_cross_doc_windows);
    one per-doc agg + a left join against the doc base complete the
    report. O(1) state per fingerprint.

    Output per document: window count, duplicated-window count, the sum of
    duplicated window START POSITIONS (pins WHICH spans matched, not just
    how many), and a >=20% duplication flag in exact integer arithmetic.
    """
    base = docs.select(
        F.col(id_col),
        F.greatest(F.size(tokenize(text_col)) - (w - 1), F.lit(0))
        .cast("bigint").alias("n_windows"),
    )
    dup = (
        _cross_doc_windows(window_fingerprints(docs, id_col, text_col, w), id_col)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("dup_windows"),
            F.sum("pos").alias("dup_pos_sum"),
        )
    )
    joined = base.join(dup, id_col, "left")
    dup_w = F.coalesce(F.col("dup_windows"), F.lit(0)).cast("bigint")
    return joined.select(
        F.col(id_col),
        F.col("n_windows"),
        dup_w.alias("dup_windows"),
        F.coalesce(F.col("dup_pos_sum"), F.lit(0)).cast("bigint").alias("dup_pos_sum"),
        ((dup_w * 5 >= F.col("n_windows")) & (F.col("n_windows") > 0)).alias("dup_heavy"),
    )


def dup_span_extract(
    docs: DataFrame, id_col: str, text_col: str, w: int = 8
) -> DataFrame:
    """Reconstruct MAXIMAL cross-document duplicated spans from the flagged
    rolling windows — the cut-list half of substring dedup (Lee et al.
    ACL'22 removes the duplicated byte ranges; substring_window_report only
    counts them). A run of consecutive duplicated window starts
    [p, p+1, ..., q] witnesses one duplicated token span [p, q+w-1];
    merging runs is the classic gaps-and-islands grouping (pos minus its
    per-doc rank is constant within a run).

    Plan: scan-local window build -> ONE analytic exchange flags the
    duplicated windows (_cross_doc_windows) -> the duplicated positions
    (tiny vs corpus) take one per-doc window for the island key and one
    group agg. Output is exact integers: one row per (doc, island) with
    token-index bounds and the witness-window count.
    """
    duppos = _cross_doc_windows(
        window_fingerprints(docs, id_col, text_col, w), id_col
    )
    rn = F.row_number().over(Window.partitionBy(id_col).orderBy("pos"))
    islands = duppos.withColumn("grp", F.col("pos") - rn)
    return (
        islands.groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + (w - 1)).cast("bigint").alias("span_end"),
            F.count("*").cast("bigint").alias("n_dup_windows"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_dup_windows",
        )
    )
