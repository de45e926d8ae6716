"""The benchmark's workloads: which registered query keys one run times.

Every workload reads the bundled copy of the seed-42 sf0.01 tables in
``perfbench/data/sf0.01`` (byte copies of the correctness gate's tables), so a
run depends on nothing outside the checkout and the stored oracle
fingerprints stay valid for exactly these bytes.

A run times one cold pass over a workload's keys, in an order set by the
seed.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: str
    keys: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    # Catalyst plans, scans, joins, aggregates, windows and shuffles; no
    # Python boundary and no state. The control for streaming and LLM-layer
    # changes. agg_hash_q1 is left out because setup already runs it as the
    # warm-up, so it could not be timed cold.
    "relational": Workload(
        sf="sf0.01",
        keys=(
            "sql_tpch_q3like",
            "sql_tpch_q5like",
            "sql_tpch_q13like",
            "sql_tpch_q18like",
            "sql_tpch_q21like",
            "agg_cube",
            "join_full",
            "window_ranking",
        ),
    ),
    # Iterative operators the Spark driver runs as many small jobs: PQ
    # training (Lloyd rounds) shared by two keys through a per-session memo,
    # and connected-components rounds over the LSH edge build.
    "llm_dedup": Workload(
        sf="sf0.01",
        keys=("embed_pq_adc_topk", "embed_pq_codes", "dedup_cluster_cc"),
    ),
    # Keyed state across micro-batches over one 10,000-event feed: pandas
    # grouped state with an event-time timeout (applyInPandasWithState), and
    # JVM-native state evicted by the watermark.
    "stateful_stream": Workload(
        sf="sf0.01",
        keys=("stateful_sessionize", "stream_dedup_watermarked"),
    ),
}
