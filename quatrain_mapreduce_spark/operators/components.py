"""Connected components over near-duplicate pair graphs.

The canonical last step of fuzzy deduplication at corpus scale: pairwise
near-dup relations (from MinHash-LSH / SimHash / n-gram Jaccard) are not
transitive, so production pipelines (C4/RefinedWeb-style) contract the pair
graph into components and keep one canonical document per component. The
reference engine has no analogue (its dedup ceiling is DISTINCT /
group-by-key — SemanticAnalyzer.java:747); this is an engine extension.

Algorithm: alternating large-star / small-star contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", 2014) — O(log²) rounds
regardless of graph diameter, every round two shuffles (a groupBy-min and a
join), no driver-side graph state. Each round ends in an eager
``localCheckpoint`` to truncate lineage — an iterative self-join otherwise
compounds the plan exponentially and re-executes prior rounds on every
action. On a cluster, swap localCheckpoint for a reliable checkpoint dir;
the call site is the single place that changes. The input edges are
usually a lazy frame (e.g. ``ngram_jaccard_pairs``), so the first eager
checkpoint executes the whole upstream pair plan: a profile that times
this loop includes the cost of generating its edges.

Convergence is detected by an edge-set fingerprint (count + sum of
xxhash64(u,v)) — O(edges) with no driver-side collection, robust enough for
a fixed-point check (a collision would need two consecutive edge sets with
equal count AND colliding hash sums). The fingerprint rides the checkpoint
job itself via ``observe()`` (r13 optimization): each round is ONE action —
the eager localCheckpoint materializes the round's edges and the
observation aggregates count/hash-sum on the rows as they stream through,
replacing the previous per-round second job (a separate collect re-reading
the checkpointed partitions; measured ~1 s across the ~4 rounds of the
bench's near-dup graphs, and one fewer scheduler round-trip per iteration
at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every larger neighbor of u to u's minimum neighborhood node:
    emit (v, m(u)) for v in Γ(u), v > u, where m(u) = min(Γ(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn")) \
        .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the larger endpoint and connect all smaller
    neighbors (and u itself) to the minimum: for each u, m = min(N(u) ∪ {u})
    over neighbors N(u) < u; emit (v, m) for v in N(u) ∪ {u}, v ≠ m."""
    oriented = edges.select(
        F.greatest(F.col("u"), F.col("v")).alias("u"),
        F.least(F.col("u"), F.col("v")).alias("v"),
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = oriented.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfs = mins.select(F.col("u"), F.col("m").alias("v"))
    return nbrs.union(selfs).where(F.col("u") != F.col("v")).distinct()


def _fingerprint_obs(edges: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """Attach the edge-set fingerprint (count + xxhash64 sum) as an
    ``observe`` node so it is computed BY the next action over ``edges``
    (the round's eager checkpoint) instead of a second job. The sum rides
    in decimal(38,0): a raw int64 sum of xxhash64 overflows under ANSI
    mode after a handful of edges; decimal holds ~10^19 edges' worth."""
    obs = Observation(name)
    h = F.xxhash64("u", "v").cast("decimal(38,0)")
    return edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("h"),
    ), obs


def connected_components(
    edges: DataFrame, src: str = "u", dst: str = "v", max_iter: int = 25
) -> DataFrame:
    """Component labels for an undirected edge list.

    Returns (node, root) for every node appearing in ``edges``, where root is
    the minimum node id of its connected component (roots label themselves).
    Self-loops contribute no connectivity but their nodes ARE labeled (as
    their own roots) — dropping them broke the "every node" contract for
    nodes appearing only in self-loop edges (review finding). The input
    need not be deduplicated or symmetric.

    ``max_iter`` is a safety bound only — star contraction converges in
    O(log² n) alternations (near-dup graphs: almost always ≤ 4).
    """
    from pyspark.sql.types import NumericType

    # normalize BOTH endpoints to one comparable type, but never force
    # long: string/uuid/md5 doc ids flow fine through every pair
    # generator (min/least/< are total on strings), and a long cast on
    # them aborts under ANSI — or NULL-collapses the whole graph with
    # ANSI off. For string ids "minimum node id" means lexicographic min.
    numeric = all(
        isinstance(edges.schema[c].dataType, NumericType) for c in (src, dst)
    )
    tgt = "long" if numeric else "string"
    raw = edges.select(
        F.col(src).cast(tgt).alias("u"), F.col(dst).cast(tgt).alias("v")
    )
    # nodes seen ONLY in self-loops still need a label row below
    loop_only = (
        raw.where(F.col("u") == F.col("v")).select("u").distinct()
    )
    e = (
        raw.where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev: tuple[int, int] | None = None
    for i in range(max_iter):
        # ONE action per round: the eager checkpoint materializes the
        # round's edges, and the observe node fingerprints the rows as they
        # stream through it. (A LAZY checkpoint folding everything into one
        # later action re-plans the round inside the agg job — measured
        # slower in r12; a separate fingerprint collect after the eager
        # checkpoint was the r12 shape — one extra job per round, measured
        # ~1 s slower across the bench graphs in r13.)
        nxt, obs = _fingerprint_obs(_small_star(_large_star(e)), f"cc_round_{i}")
        e = nxt.localCheckpoint(eager=True)
        m = obs.get  # already populated by the checkpoint's own job
        cur = (int(m["n"]), int(m["h"]))
        if cur == prev:  # fixed point of the (large∘small)-star round
            break
        prev = cur
    # converged: e is a star set oriented (node > root); roots label themselves
    roots = e.select(F.col("v").alias("u"), F.col("v")).distinct()
    labeled = e.union(roots)
    # self-loop-only nodes are their own components; nodes also in real
    # edges are already labeled — anti-join keeps the contract total
    singles = (
        loop_only.join(labeled.select("u"), "u", "left_anti")
        .select(F.col("u"), F.col("u").alias("v"))
    )
    return (
        labeled.union(singles).distinct()
        .select(F.col("u").alias("node"), F.col("v").alias("root"))
    )


def keep_best_per_component(
    scored: DataFrame, comp: DataFrame,
    id_col: str = "doc_id", root_col: str = "root_id", score_col: str = "q",
) -> DataFrame:
    """Canonical-document selection: one kept row per near-dup component —
    the member with the highest ``score_col`` (deterministic id tie-break)
    — plus every singleton (docs absent from ``comp``) labeled as its own
    root.

    Scale shape: the argmax window runs ONLY over component members (a
    frame proportional to the duplicated subset, not the corpus); the
    corpus-sized work is a single anti-join against the far smaller
    component map. No corpus-wide window, no self-join.
    """
    from pyspark.sql import Window

    members = scored.join(comp, id_col)
    w = Window.partitionBy(root_col).orderBy(F.desc(score_col), F.col(id_col))
    best = (
        members.withColumn("__rk", F.row_number().over(w))
        .where("__rk = 1").drop("__rk")
    )
    singles = (
        scored.join(comp.select(id_col), id_col, "left_anti")
        .withColumn(root_col, F.col(id_col))
    )
    return singles.unionByName(best)
