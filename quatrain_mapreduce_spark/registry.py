"""Query registry — the engine's acceptance surface.

Each implemented operator/query from SURVEY.md §2 registers itself here with
(a) a Spark callable ``(spark, sf_dir) -> DataFrame`` and (b) where
expressible, an ANSI-SQL oracle string that DuckDB runs over the same parquet
tables. The driver compares both at sf=0.01 (row count + schema +
order-insensitive value hash), mirroring the reference's golden-file `.q`
test method (QTestUtil diff — SURVEY.md §5).

Determinism rules every registered query follows:
- every computed column is aliased identically in Spark and SQL;
- aggregate doubles are rounded (2dp for sums, 4dp for avgs) to absorb
  partition-order float noise; per-row arithmetic is left raw (bit-identical
  across engines for identical expression trees);
- LIMIT is always preceded by a total order with a unique tie-break key;
- double→int conversions go through floor(round(x, 2)) — never a bare cast,
  whose trunc-vs-round semantics differ between engines;
- rounding a COMPUTED double (x*1.1 etc.) uses floor(x*10^d + 0.5)/10^d, not
  round(x, d): Spark's round() rounds the shortest-decimal string of the
  double while DuckDB rounds the binary value — they disagree on ties like
  9168.005 (raw column passthroughs and post-aggregate rounding are safe;
  the tie case needs a value that is exactly representable mid-digit, which
  aggregates of many doubles don't hit but scaled money columns do).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


# The driver's correctness gate checks the FIRST 50 queries in the order
# ``queries()`` yields them (observed cap in CORRECTNESS_r03.json). With >50
# registered queries, naive registration order left the whole SQL / streaming /
# UDF / source surface unchecked. This tuple pins the gate window and is
# GENERATED, not hand-curated (r11 verdict directive #4):
#
#   python tools/coverage_rotation.py --emit-window --through <round>
#
# Composition rule (tools/coverage_rotation.py::emit_window, enforced by
# tests/test_driver_window.py): the never-green oracled queue first
# (attestation debt drains before anything else), then each plan module's
# MOST STALE green query as its representative, then the remaining slots
# filled with the oldest-last-green oracled queries repo-wide — so every
# round's window refreshes the oldest attestations and max driver-green
# staleness strictly decreases. WINDOW_LEDGER_THROUGH records which ledger
# prefix generated the tuple, making the proposal recomputable after newer
# CORRECTNESS artifacts land; the enforcement test also requires the prefix
# to lag the newest artifact by at most one round, so each session must
# regenerate. The tail (checked locally by tools/check_oracle.py) holds the
# remaining green queries plus rows-only approximate operators whose
# oracles can't exist.
WINDOW_LEDGER_THROUGH = "r14"
DRIVER_WINDOW: tuple[str, ...] = (
    "source_mixture",  # last green: r06
    "sql_case_sensitivity",  # last green: r06
    "stream_curation",  # last green: r06
    "tagged_join_shape",  # last green: r06
    "textrank_keywords",  # last green: r06
    "anomaly_mad",  # last green: r08
    "cdc_apply_orders",  # last green: r08
    "cohort_retention",  # last green: r08
    "pandas_udaf_weighted_avg",  # last green: r09
    "salted_agg",  # last green: r09
    "sql_cast1",  # last green: r06
    "sql_union",  # last green: r06
    "stream_jdbc_serving",  # last green: r06
    "stream_stream_join",  # last green: r06
    "temperature_sample",  # last green: r06
    "tfidf_keywords",  # last green: r06
    "tokenize_ids",  # last green: r06
    "xml_roundtrip",  # last green: r06
    "adaptive_quality_filter",  # last green: r08
    "anomaly_mad_approx",  # last green: r08
    "bm25_search",  # last green: r08
    "chi_square_type_hour",  # last green: r08
    "contamination_score",  # last green: r08
    "corpus_diff",  # last green: r08
    "dedup_jaccard_prefix",  # last green: r08
    "dedup_span_extract",  # last green: r08
    "funnel_analysis",  # last green: r08
    "graph_bfs_reach",  # last green: r08
    "graph_summary",  # last green: r08
    "incremental_rollup_merge",  # last green: r08
    "integrity_report",  # last green: r08
    "json_struct_parse",  # last green: r08
    "k_anonymity_audit",  # last green: r08
    "missing_hours",  # last green: r08
    "pagerank_scores",  # last green: r08
    "profile_orders",  # last green: r08
    "record_linkage_fuzzy",  # last green: r08
    "resample_ffill",  # last green: r08
    "session_path_mining",  # last green: r08
    "sessionize_incremental",  # last green: r08
    "sql_distribute_sort_by",  # last green: r08
    "sql_intersect_except",  # last green: r08
    "sql_mapjoin_hint",  # last green: r08
    "sql_qcorpus_input",  # last green: r08
    "sql_qcorpus_joins",  # last green: r08
    "sql_qcorpus_sample",  # last green: r08
    "sql_qcorpus_scalar",  # last green: r08
    "sql_window_over",  # last green: r08
    "stream_auc_monitor",  # last green: r08
    "stream_cdc_apply",  # last green: r08
)
# Rows-only by design (no SQL-expressible oracle; each differential- or
# precision-gated in pytest): bpe_train_merges, bpe_encode_corpus,
# similarity_pq, similarity_ivfpq, profile_orders_hll (float-codebook /
# HLL internals), k_core_members (anti-monotone peeling fixpoint),
# lpa_communities (iterative argmax propagation), hybrid_search_rrf_ivf
# (approximate dense side; fused-overlap differential vs the exact twin).


def all_queries() -> dict[str, Query]:
    """Import all plan modules (side-effect: registration) and return REGISTRY
    ordered so the driver's 50-query gate window samples every module."""
    from quatrain_mapreduce_spark.plans import (  # noqa: F401
        relational, mrlib, data_pipeline, curation_queries, streaming_queries,
        hive_sql, udf_surface, sources_queries, temporal_queries,
        analytics_queries,
    )

    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"DRIVER_WINDOW names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update({n: q for n, q in REGISTRY.items() if n not in ordered})
    return ordered
