"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <sf>}

Each query is forced to full materialization with the noop sink (no
collect/driver transfer cost, no count() plan pruning). One warmup pass
amortizes JVM/codegen warmup out of the first measured query.  For
per-layer performance measurement use ``python3 perfbench/run.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fawac_cdc_spark.registry import all_specs  # noqa: E402
from fawac_cdc_spark.session import get_spark  # noqa: E402

# Frozen 20-query headline suite: the total stays comparable across
# snapshots, so don't grow this list.
HEADLINE = [
    "flagship_revenue_by_nation_month",  # 5-table join + agg + top-k
    "pricing_summary",                   # TPC-H Q1 shape
    "orders_lineitem_by_priority",       # fact-fact SMJ + agg
    "q3_shipping_priority",              # TPC-H Q3 shape
    "q10_returned_items",                # TPC-H Q10 shape
    "topk_orders_per_status",            # ranking window
    "cdc_latest_state_per_user",         # CDC upsert batch form
    "session_agg_30min_gap",             # sessionization (episodes)
    "minhash_lsh_candidates",            # near-dedup LSH
    "llm_corpus_pipeline",               # composed corpus-prep pipeline
    "cosine_topk_query0",                # similarity search
    "hourly_event_rollup",               # streaming rollup batch form
    "discounted_cumsum_closed_form",     # recurrence, pure-JVM window form
    "ngram_jaccard_pairs",               # DF-capped shingle pair join
    "reference_td_advantage_pipeline",   # reference end-to-end showcase
    "rp_lsh_topk_query0",                # bucketed ANN top-k
    "simhash_hamming_pairs",             # wide-simhash banded Hamming dedup
    "kmeans_refined_ivf_cells",          # Lloyd-refined IVF index training
    "traindata_end_to_end",              # full corpus-prep -> chunk -> pack plan
    "discounted_cumsum_per_user",        # exact recurrence via secondary-sort
                                         # mapInPandas (last: owns the
                                         # Python-worker startup)
]

# min of N runs per query: single runs on a shared host are noisy.
RUNS = 3


def compact_record(timings: dict[str, float], sf: str) -> dict:
    """The one JSON record printed to stdout.  Callers read only the
    tail of stdout, so the line must stay short; factored out so a test
    measures the real record."""
    return {
        "metric": "headline_suite_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    specs = all_specs()

    # Warmup: JVM + codegen + parquet footer caches. No Python-worker
    # pre-warm: min-of-N already absorbs worker cold start (run 1 pays
    # it), which is also why the pandas-UDF query sits last in HEADLINE.
    specs["pricing_summary"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    def time_query(name: str) -> float:
        fn = specs[name].fn
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    timings = {name: time_query(name) for name in HEADLINE}
    print(json.dumps(compact_record(timings, sf)))
    spark.stop()


if __name__ == "__main__":
    main()
