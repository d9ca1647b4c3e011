"""Second scale datapoint: synthesize ~Kx sf0.1 locally and measure
the heavy hitters' observed scaling factor (verdict r5 #5 — every
O()-claim in SCALE.md rested on ONE scale point plus argument; this
turns the biggest claims into measured curves).

Usage: python tools/scale_probe.py [K=8] [out_dir=/tmp/sf_scaled] [q1,q2,...]

Synthesis = union of K key-shifted copies of the sf0.1 tables the
probe queries read, with content perturbed so the workload SHAPE is
preserved rather than planting K-1 exact duplicates of everything:

- lineitem: order/supp/part keys shifted per copy -> K disjoint
  copies of the co-occurrence graph (same degree distribution, so
  triangle work should scale ~linearly in rows).
- events: event/user ids shifted, timestamps kept -> K x rows per
  day over the same calendar (hll_rolling's work/report-day is the
  claim under test).
- documents: doc_id shifted AND a per-copy salt token spliced in
  every 4 words -> cross-copy shingle Jaccard drops to ~0.2-0.3, so
  LSH candidate structure stays block-local instead of every doc
  gaining K-1 near-identical twins. (A plain copy would multiply
  every LSH bucket by K and measure dup-density growth, not data
  growth.)
- embeddings: id shifted, each coordinate perturbed by a
  hash-seeded offset in [-0.15, 0.15) -> copies spread out instead
  of stacking K points at the same location in every LSH bucket.

Timing is bench.py's ``warm_min``: noop sink, one warm run, min of
two measured runs. Output: one JSON line per query with (t_base,
t_scaled, ratio, rows_base, rows_scaled) plus a summary line;
PERF_NOTES.md records the adjudicated table.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tools  # noqa: E402,F401  (the root for Spark's workers too)

from pyspark.sql import functions as F  # noqa: E402

from bench import warm_min  # noqa: E402
from lol_data_pipeline_spark.io import load_table  # noqa: E402
from lol_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from lol_data_pipeline_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"

PROBE_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_substring",
    "emb_knn_graph",
    "graph_triangles",
    "sketch_hll_rolling",
    # iterative kernels (added r7): their scaling changed most with the
    # per-round lineage truncation, and the r6 8x table predates it
    "dedup_components",
    "corpus_dedup_keep_first",
    "graph_pagerank",
    # r7 additions: length_buckets/softweight claim scan-speed
    # (expect ~linear wall vs 8x rows with fixed agg state);
    # hybrid_rerank claims its post-lexical cost is BOUNDED at 50
    # candidates (expect growth only from the BM25 scan stage)
    "corpus_length_buckets",
    "corpus_dedup_softweight",
    "ann_hybrid_rerank",
]

# key-shift offsets comfortably above each table's sf0.1 max id
OFF = 10_000_000


def synthesize(spark, k: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)

    def copies(df, transform):
        parts = [transform(df, i) for i in range(k)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    li = load_table(spark, BASE, "lineitem")
    copies(
        li,
        lambda df, i: df.withColumn("l_orderkey", F.col("l_orderkey") + i * OFF)
        .withColumn("l_suppkey", F.col("l_suppkey") + i * OFF)
        .withColumn("l_partkey", F.col("l_partkey") + i * OFF),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "lineitem.parquet"))

    # orders rides along with lineitem's key shift so graph_pagerank's
    # lineitem@orders join stays within-copy -> K disjoint graphs
    orders = load_table(spark, BASE, "orders")
    copies(
        orders,
        lambda df, i: df.withColumn("o_orderkey", F.col("o_orderkey") + i * OFF)
        .withColumn("o_custkey", F.col("o_custkey") + i * OFF),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))

    ev = load_table(spark, BASE, "events")
    copies(
        ev,
        lambda df, i: df.withColumn("event_id", F.col("event_id") + i * OFF)
        .withColumn("user_id", F.col("user_id") + i * OFF),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))

    docs = load_table(spark, BASE, "documents")
    copies(
        docs,
        lambda df, i: df.withColumn("doc_id", F.col("doc_id") + i * OFF)
        .withColumn(
            "text",
            F.col("text")
            if i == 0
            else F.regexp_replace(F.col("text"), r"((?:\S+\s+){4})", f"$1zq{i}x "),
        ),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    emb = load_table(spark, BASE, "embeddings")
    id_col, vec_col = "vec_id", "embedding"

    def emb_copy(df, i):
        if i == 0:
            return df
        perturbed = F.expr(
            f"transform({vec_col}, (x, j) -> x +"
            f" (pmod(hash({id_col}, j, {i}), 1000) / 1000.0 - 0.5) * 0.3)"
        ).cast(df.schema[vec_col].dataType)
        return df.withColumn(id_col, F.col(id_col) + i * OFF).withColumn(
            vec_col, perturbed
        )

    copies(emb, emb_copy).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )

    # remaining TPC-H tables so rel_q* probes resolve: entity keys
    # shift per copy (within-copy joins, like lineitem/orders);
    # nation/region are FIXED-cardinality dims (25/5 rows at every
    # SF) and are copied once, unshifted — n/r keys referenced by
    # shifted rows stay valid because s_nationkey/c_nationkey are
    # not shifted.
    # (no partsupp: the generated testdata has the 9-table subset)
    for tbl, keys in (
        ("part", ["p_partkey"]),
        ("supplier", ["s_suppkey"]),
        ("customer", ["c_custkey"]),
    ):
        df = load_table(spark, BASE, tbl)

        def shift(d, i, keys=keys):
            for c in keys:
                d = d.withColumn(c, F.col(c) + i * OFF)
            return d

        copies(df, shift).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{tbl}.parquet")
        )
    for tbl in ("nation", "region"):
        load_table(spark, BASE, tbl).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{tbl}.parquet")
        )


def time_query(spark, name: str, sf_dir: str) -> tuple[float, int]:
    return warm_min(spark, sf_dir, name, 2), REGISTRY[name].fn(spark, sf_dir).count()


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf_scaled"
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    spark = get_spark("scale_probe")
    synthesize(spark, k, out_dir)
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        n = spark.read.parquet(os.path.join(out_dir, f"{t}.parquet")).count()
        print(json.dumps({"table": t, "rows_scaled": n}))
    results = {}
    for name in PROBE_QUERIES if only is None else only:
        tb, rb = time_query(spark, name, BASE)
        ts_, rs = time_query(spark, name, out_dir)
        results[name] = {
            "t_base_sec": tb,
            "t_scaled_sec": ts_,
            "time_ratio": round(ts_ / tb, 2) if tb else None,
            "rows_base": rb,
            "rows_scaled": rs,
        }
        print(json.dumps({"query": name, **results[name]}))
    print(json.dumps({"k": k, "summary": results}))


if __name__ == "__main__":
    main()
