"""The benchmark's workloads: query mixes and the artifacts they read.

Each mix is a fixed list of registry names (``__spark_entry__.queries()``).
The workload seed only permutes the order in which a closed loop with one
client runs them. ``artifacts`` are the ``memos.MEMO_BUILDERS`` entries
the mix reads; set-up builds them so that first-touch artifact cost never
lands on whichever op happens to run first.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    artifacts: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="coursework",
            why=(
                "read-only queries from the paper's seven storage paradigms"
                " plus TPC-H: bound by fixed per-op cost (construction,"
                " planning, job launch), with a scan/shuffle/join tail"
            ),
            queries=(
                # SQLite / RDS / Redshift: TPC-H-style relational core
                "t01_top10_recent_orders_america",
                "tpch_q01_pricing_summary",
                "tpch_q09_product_profit",
                "agg_orders_rollup",
                # MongoDB: nested documents
                "t08_top5_customers_nested",
                # BigQuery: event analytics
                "t17_event_transition_matrix",
                # Redis: key-value
                "t15_q5_top10_leaderboard_emails",
                # MySQL: music catalogue
                "t12_highly_rated_songs",
                # Bigtable: stock time series
                "t13_q1_big_or_small_companies",
            ),
            artifacts=("nested_custorders",),
        ),
        Workload(
            name="llm_pipeline",
            why=(
                "LLM-data pipeline: set-up builds the dedup artifacts; ops"
                " read them, run Arrow mapInPandas kernels, and drain stateful"
                " streams that write state and WAL files inside construction"
            ),
            queries=(
                "ext_text_features",
                "ext_lang_distribution",
                "ext_simhash_pairs",
                "ext_fuzzy_name_pairs",
                "ext_repetition_filter",
                "ext_dedup_exact_groups",
                "ext_multimodal_features",
                "mut_delete_survivors",
                "ext_streaming_session_windows",
                "ext_streaming_dedup_self_union",
            ),
            artifacts=("simhash_pair_graph", "fuzzy_pair_graph", "repetition_metrics"),
        ),
    )
}
