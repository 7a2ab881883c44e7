"""Dump formatted physical plans for the headline operators → PLANS.md.

The plan-shape *assertions* live in tests/test_plans.py; this tool records
the full `.explain("formatted")` output so the scale-relevant properties
(PushedFilters, ReadSchema pruning, broadcast joins, partial aggregation,
WholeStageCodegen spans, zero-Exchange maps) are reviewable without
running Spark.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

AUDITED = {
    "scan_filter_project": "filter pushdown + column pruning reach the parquet scan",
    "lookup_join": "rank lookup is a BroadcastHashJoin (corpus never shuffles)",
    "agg_pricing_summary": "partial_* map-side combine before the exchange",
    "global_topk_ordered": "TakeOrderedAndProject, not global sort",
    "seen_anti_join": "left_anti backstop join shape",
    "dedup_exact": "fingerprint groupBy partial-aggregates",
    "lsh_band_buckets": "banding = union + one shuffle on (band,bucket)",
    "ngram_jaccard_pairs": "prefix-filtered self-join (bounded fan-out)",
    "dup_clusters": "star-edge CC iteration joins",
    "kmeans_clusters": "assignment map is shuffle-free (literal centroids)",
    "ann_ivf_probe": "probe filters corpus to one cluster before scoring",
    "ann_cosine_threshold": "BroadcastNestedLoopJoin — query side broadcast",
    "bm25_scoring": "tf shuffle once; idf/dl broadcast back",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from frontier_engine import queries as Q
    from frontier_engine.session import get_spark

    spark = get_spark(cores=4, driver_memory="6g", app="plan_audit")
    reg = Q.REGISTRY
    out = [
        "# PLANS.md — formatted physical plans of the headline operators",
        "",
        f"Generated by tools/plan_audit.py over {sf_dir}; properties asserted",
        "in tests/test_plans.py. Regenerate after any operator change.",
        "",
    ]
    for name, why in AUDITED.items():
        fn = reg[name][0]
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n_{why}_\n\n```\n{buf.getvalue().rstrip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(AUDITED)} plans)")


if __name__ == "__main__":
    main()
