"""The benchmark's workloads and metric catalogue.

Each workload is a named, fixed list of registry queries; each pass runs
every query of one workload once, in an order drawn from the run's seed.
Every query here matches its DuckDB oracle on the benchmark's lake.

The workloads' descriptions and every metric's name and unit are read from
``BENCHMARK.json`` at the repository root, so they are written in one place.
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

WORKLOADS: dict[str, list[str]] = {
    "sql_etl": [
        "q_pricing_summary", "q_join_inner", "q_window_topk", "q_sql_promo_revenue",
        "q_agg_rollup", "q_topk", "q_sessionize",
        "q_ingest_csv_roundtrip", "q_merge_upsert", "q_compact_roundtrip",
    ],
    "corpus_curation": [
        "q_c4_filters", "q_dedup_minhash_pairs", "q_semdedup", "q_ann_topk",
        "q_bm25_search",
    ],
}

# operator modules whose queries write to the lake (the write path layer)
WRITE_MODULES = ("ingest", "maintenance", "merge")

END_TO_END = [m["name"] for m in SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
