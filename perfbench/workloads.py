"""The benchmark's workloads: named query lists from the engine's
registry, each chosen to stress a different set of layers. Every query
here has a DuckDB oracle, so every output is checked.

Left out on purpose: queries with no oracle, and ``curation_run_ledger``,
``shard_ingest_stream`` and ``shard_epoch_ledger``, whose per-process
scratch state makes the first call real work and later calls reads.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "mr_sql",
            "JVM-only MapReduce apps, relational queries and JVM-only state: "
            "planning, scheduling, scan, shuffle, checkpoints, state writes",
            (
                "wc",
                "q1_pricing_summary",
                "q3_top_orders",
                "events_json_metrics",
                "part_pagerank",
                "incremental_daily_agg",
                "events_distinct_types_stream",
            ),
        ),
        Workload(
            "llm_curation",
            "text, codec and near-dup kernels behind the Arrow/pandas UDF "
            "boundary: Python-worker CPU and data sent to the workers",
            (
                "gopher_repetition_filter",
                "minhash_lsh_pairs",
                "audio_features_flac",
                "jpeg_progressive_roundtrip",
                "sequence_packing_tokenized",
            ),
        ),
    ]
}
