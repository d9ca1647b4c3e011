"""Dump formatted physical plans of registry entries.

Usage:
    python tools/dump_plans.py [sf_dir]
        the SHOWCASE below → PLANS.md (default sf0.01)
    python tools/dump_plans.py <out_dir> <suffix> <query> [query ...]
        each query → <out_dir>/<query>_<suffix>.txt, e.g. before/after
        evidence for a plan change (sf from $SPARK_GRAFT_SF_DIR,
        default sf0.1)

The point: make the plan-shape claims reviewable without running
anything — PushedFilters on scans, broadcast vs sort-merge choices,
WholeStageCodegen spans, exchange counts. Regenerate after plan-
affecting changes; tests/test_plan_hygiene.py pins the load-bearing
properties mechanically.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lol_data_pipeline_spark.io import DEFAULT_SF_DIR  # noqa: E402
from lol_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from lol_data_pipeline_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    ("rel_q1_pricing", "scan→filter(pushed)→partial/final agg; zero joins"),
    ("rel_q3_shipping", "3-table join: dims broadcast, no cartesian"),
    ("rel_q6_forecast_revenue", "full predicate pushdown to parquet scan"),
    ("rel_asof_join", "one-shuffle union-tag as-of join (no pandas cogroup)"),
    ("rel_agg_salted", "two-phase skew-safe aggregation (key+salt, then key)"),
    ("dedup_minhash_lsh", "persisted shingle pass, banded LSH self-join"),
    ("ann_ivf_topk", "broadcast centroids, cell-pruned candidate scan"),
    ("sketch_quantile_hist", "1-row bounds broadcast; cumulative over 64 bins"),
    ("graph_triangles", "degree-oriented equi-joins only (no OR-join NLJ)"),
    ("rel_funnel_steps", "all stages keyed on user_id; AQE broadcasts firsts"),
    ("text_search_bm25", "TakeOrderedAndProject top-k + k×k rank (no global window)"),
    ("rel_q15_top_supplier", "scalar-max broadcast + join (no global rank window)"),
    ("dedup_substring", "posting-list window dedup: only (doc_id, h) longs shuffle"),
    ("emb_knn_graph", "persisted coded corpus; bucket self-join is an equi-join"),
    ("rel_gap_fill_locf", "generated spine (1-row bounds broadcast); keyed LOCF window"),
    ("text_tfidf_topterms", "tf/df from one explode; WindowGroupLimit per-doc top-3"),
    ("rel_skyline_parts", "banded pruning; dominance NLJ runs on candidates only"),
    ("stat_ks_drift", "1-row bounds broadcast; 20 counters/group, no sort"),
    ("rel_rolling_wau", "active-pairs collapse first; bounded ×7 day fan-out"),
    ("rel_interval_overlap", "keyless overlap join made equi by day-bucketing"),
    ("text_unigram_loglik", "TakeOrderedAndProject vocab cap; broadcast model join"),
    ("rel_bloom_prejoin", "bitmask broadcast; bit-test projection before the shuffle"),
    ("sketch_hll_rolling", "day-grain register sketches; window = register-wise max"),
    ("ann_hybrid_rerank", "BM25 stage + 50-candidate-bounded rerank/RRF windows"),
    ("corpus_length_buckets", "per-row ladder CASE; ≤4-group constant-state agg"),
    ("corpus_dedup_softweight", "groupBy sizes (map-side combine) + AQE-decided join-back"),
    ("ann_filtered_topk", "label predicate pushed to scan BEFORE scoring; bounded rank"),
    ("ann_ivfpq_topk", "probe-pruned cells + pure-projection PQ encode; ADC then bounded rescore"),
    ("ann_ivf_kmeans_topk", "trained literal centroids: assignment is a join-free projection"),
    ("ann_ivfpq_served_topk", "persisted index: PartitionFilters prune to probed cells; codes-only ReadSchema"),
    ("corpus_quality_logreg", "served sidecar weights as literals: scoring is one pure projection + TakeOrdered"),
    ("corpus_semdedup", "2-column index scan supplies cells; pair join is cell-equi, never corpus NLJ"),
]


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def dump_named(out_dir: str, suffix: str, names: list[str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    for name in names:
        plan = _formatted(spark, REGISTRY[name].fn(spark, DEFAULT_SF_DIR))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


def main() -> None:
    if len(sys.argv) > 3:
        dump_named(sys.argv[1], sys.argv[2], sys.argv[3:])
        return
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("dump_plans")
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")
    out = [
        "# PLANS — formatted physical plans of representative queries",
        "",
        f"Generated by tools/dump_plans.py at {os.path.basename(sf)}; the",
        "claims each plan illustrates are pinned mechanically in",
        "tests/test_plan_hygiene.py and tools/plan_audit.py.",
        "",
    ]
    for name, note in SHOWCASE:
        plan = _formatted(spark, REGISTRY[name].fn(spark, sf))
        out.append(f"## {name}\n\n*{note}*\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
