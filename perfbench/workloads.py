"""The benchmark's workloads: named lists of registered queries.

Each workload is run by one closed-loop client in passes; a pass runs
every query of the list once, in a seeded order, each after the previous
one has returned its rows.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    #: Tables the queries read; set-up opens these.
    tables: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "tpc_sql",
            "SplitServe's TPC-DS Q5/Q16/Q94/Q95 plus SparkPi as a no-shuffle "
            "control: Catalyst, scan, shuffle, task skew; no Python or streams",
            (
                "qds5_channel_rollup",
                "qds16_multi_site_no_returns",
                "qds94_web_no_returns",
                "qds95_both_sites_view",
                "workload_pi",
            ),
            ("lineitem", "orders"),
        ),
        Workload(
            "llm_stream",
            "LLM-data operators and a stateful stream drain: py4j plan "
            "build, Arrow Python workers, run_cache persists, state store",
            (
                "sim_cosine_topk",
                "text_bm25_search",
                "dedup_exact",
                "stream_dedup_ids",
            ),
            ("documents", "embeddings", "events"),
        ),
    )
}
