"""Physical-plan hygiene tests (the 100 TB posture, SURVEY §7 M4):
filters reach the parquet scan, projections prune columns, small
dims broadcast. A plan regression here is a scale bug even when
results stay correct."""

from __future__ import annotations

import re

import pytest

from lol_data_pipeline_spark.plans import REGISTRY


def physical_plan(spark, sf_dir, name: str) -> str:
    # default maxMetadataStringLength=100 truncates PushedFilters
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_scan(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "ref_filter_status")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "EqualTo(event_type,error)" in pushed
    assert "GreaterThan(value,5.0)" in pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "rel_q3_shipping")
    # lineitem scan must read only the 3 needed columns
    li_schema = next(s for s in re.findall(r"ReadSchema: struct<([^>]*)", plan) if "l_orderkey" in s)
    assert "l_shipdate" not in li_schema and "l_quantity" not in li_schema


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("rel_q3_shipping", "rel_q5_local_supplier", "rel_join_broadcast"):
        plan = physical_plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name


def test_timestamp_predicate_pushdown(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "rel_q1_pricing")
    assert "LessThanOrEqual(l_shipdate" in plan


def test_no_cartesian_in_relational_queries(spark, sf_dir):
    # the only intentional nested-loop joins are the pairwise
    # similarity kernels; relational queries must never degrade
    for name in ("rel_q1_pricing", "rel_q3_shipping", "rel_q5_local_supplier",
                 "rel_join_left_agg", "rel_range_join", "rel_asof_join"):
        plan = physical_plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_q6_full_predicate_pushdown(spark, sf_dir):
    plan = physical_plan(spark, sf_dir, "rel_q6_forecast_revenue")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "LessThan(l_quantity,24.0)" in pushed
    assert "GreaterThanOrEqual(l_discount,0.04)" in pushed
    # and the scan reads only the four referenced columns
    schema = re.search(r"ReadSchema: struct<([^>]*)", plan).group(1)
    assert "l_orderkey" not in schema and "l_extendedprice" in schema


def test_tpch_dims_broadcast(spark, sf_dir):
    for name in ("rel_q7_volume_shipping", "rel_q9_product_profit",
                 "rel_q14_promo_effect", "rel_q19_disjunctive_revenue"):
        plan = physical_plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-bucketed fact-fact join must read bucketed splits directly:
    no Exchange on either side (the 100-TB join strategy: shuffle
    once at write, never again)."""
    from lol_data_pipeline_spark.io import load_table
    from lol_data_pipeline_spark.operators.bucketing import cobucket_join, write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(o, "o_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = cobucket_join(
            spark, "li_b", "o_b",
            spark.table("li_b").l_orderkey == spark.table("o_b").o_orderkey,
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_bucketed_agg_has_no_exchange(spark, sf_dir):
    """groupBy on the bucket key reuses the bucketing: no exchange
    below the aggregate."""
    from lol_data_pipeline_spark.io import load_table
    from lol_data_pipeline_spark.operators.bucketing import write_bucketed
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(li, "li_agg_b", ["l_orderkey"], 8)
    try:
        agg = spark.table("li_agg_b").groupBy("l_orderkey").agg(F.sum("l_quantity"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS li_agg_b")


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """K1 sink with partitionBy: a filter on the partition column
    must become a PartitionFilter (files outside the partition are
    never opened — the dominant-filter layout at 100 TB)."""
    from pyspark.sql import functions as F

    from lol_data_pipeline_spark.io import load_table, write_overwrite

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    out = str(tmp_path / "li_by_year")
    write_overwrite(li, out, partition_by=["ship_year"])
    rd = spark.read.parquet(out).filter(F.col("ship_year") == 1996)
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*ship_year[^\]]*1996", plan)
    assert rd.count() == li.filter(F.year("l_shipdate") == 1996).count()


def test_global_window_detector_fires(spark):
    """The audit's GLOBAL_WINDOW detector must fire on a real
    unpartitioned window plan and stay quiet on partitioned and
    partition-only windows (the three plan-text shapes)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import tools.plan_audit as pa

    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("g"))

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    glob = df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    part = df.withColumn("rn", F.row_number().over(Window.partitionBy("g").orderBy("id")))
    part_only = df.withColumn("n", F.count("*").over(Window.partitionBy("g")))
    assert pa.has_global_window(plan(glob))
    assert not pa.has_global_window(plan(part))
    assert not pa.has_global_window(plan(part_only))
    # WindowGroupLimit (rank-filter pushdown) keeps its partition spec
    ranked = part.filter(F.col("rn") <= 2)
    assert "WindowGroupLimit" in plan(ranked)
    assert not pa.has_global_window(plan(ranked))


def test_topk_plans_have_no_global_window(spark, sf_dir):
    """The r4-verdict scale-killers stay fixed: BM25, n-gram top-k,
    and Q15 rank WITHOUT an unpartitioned window (TakeOrderedAndProject
    / scalar-max instead)."""
    import tools.plan_audit as pa

    for name in ("text_search_bm25", "text_ngram_topk", "rel_q15_top_supplier"):
        plan = physical_plan(spark, sf_dir, name)
        assert not pa.has_global_window(plan), name
        assert "TakeOrderedAndProject" in plan or name == "rel_q15_top_supplier", name


@pytest.mark.slow  # full-registry sweep: CI-class, excluded from the
# driver-budget fast gate (pytest.ini addopts); round close runs it via
# -m "slow or not slow"
def test_plan_audit_clean(spark, sf_dir):
    """The full-registry plan audit (tools/plan_audit.py) must stay
    clean: no unexpected cartesians, wide scans, or row-at-a-time
    Python UDFs anywhere in the catalog."""
    import tools.plan_audit as pa

    assert pa.audit(spark, sf_dir) == 0


def test_dynamic_partition_upsert(spark, sf_dir, tmp_path):
    """write_upsert_partitions replaces only the partitions present
    in the incoming frame; untouched partitions survive, and a replay
    of the same slice is idempotent."""
    from pyspark.sql import functions as F

    from lol_data_pipeline_spark.io import load_table, write_overwrite, write_upsert_partitions

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    out = str(tmp_path / "li_upsert")
    write_overwrite(li, out, partition_by=["ship_year"])
    base_total = spark.read.parquet(out).count()

    # re-load one year with a mutation: that year is replaced...
    y96 = li.filter(F.col("ship_year") == 1996).withColumn(
        "l_quantity", F.col("l_quantity") + 1000
    )
    write_upsert_partitions(y96, out, ["ship_year"])
    after = spark.read.parquet(out)
    assert after.count() == base_total  # nothing appended, nothing lost
    assert after.filter(F.col("ship_year") == 1997).count() == li.filter(
        F.col("ship_year") == 1997
    ).count()
    assert after.filter((F.col("ship_year") == 1996) & (F.col("l_quantity") > 1000)).count() == y96.count()

    # ...and replaying the same slice changes nothing (idempotent)
    write_upsert_partitions(y96, out, ["ship_year"])
    assert spark.read.parquet(out).count() == base_total


def test_aqe_splits_skewed_join(spark, sf_dir):
    """AQE skew-join must split a pathologically skewed partition at
    runtime (thresholds lowered to trigger at test scale — at 100 TB
    the defaults fire on real skew)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # 95% of the left side lands on key 0
        left = spark.range(0, 60000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
        j = left.join(right, "k")
        # collect() drives THIS DataFrame's queryExecution so the
        # adaptive plan below is the finalized one (count() would
        # execute a separate derived plan)
        assert len(j.collect()) > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a FILTERED dim on the partition
    column must inject a runtime DPP filter into the fact scan
    (dynamicpruning / SubqueryBroadcast) — at 100 TB this is the
    difference between scanning every date partition and only the
    ones the dim filter selects. Results must equal the static
    filter."""
    from pyspark.sql import functions as F

    from lol_data_pipeline_spark.io import load_table, write_overwrite

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    out = str(tmp_path / "li_dpp")
    write_overwrite(li, out, partition_by=["ship_year"])
    fact = spark.read.parquet(out)
    years = [r["ship_year"] for r in fact.select("ship_year").distinct().collect()]
    dim = spark.createDataFrame(
        [(y, "target" if y == max(years) else "other") for y in years],
        "y int, tag string",
    )
    j = fact.join(dim, fact.ship_year == dim.y).filter(F.col("tag") == "target")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "SubqueryBroadcast" in plan, plan[:1500]
    assert j.count() == fact.filter(F.col("ship_year") == max(years)).count()


def test_knn_graph_self_join_is_equi_not_cartesian(spark, sf_dir):
    """emb_knn_graph sits in the audit's CROSS_OK allowlist for its
    n_planes-row broadcast plane assignment — which would also mask
    a regression where the BUCKET SELF-JOIN (the data-sized join)
    degenerated into a nested loop. Pin it separately: the code
    self-join planned as an EQUI-join keyed on the code columns, the
    coded corpus persisted (so the plane cross join runs once even
    though it renders under both InMemoryTableScan references), and
    the top-k window partitioned (src_id), never global."""
    plan = physical_plan(spark, sf_dir, "emb_knn_graph")
    import re

    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[code#\d+L?\], \[dcode#\d+L?\]",
        plan,
    ), "bucket self-join must be an equi-join on the LSH code"
    assert plan.count("InMemoryTableScan") >= 2, "coded corpus must be persisted"
    import tools.plan_audit as pa

    assert not pa.has_global_window(plan)


def test_gap_fill_spine_join_is_equi_not_cartesian(spark, sf_dir):
    """Same masking concern for rel_gap_fill_locf: the 1-row bounds
    broadcast is the only nested loop; the spine↔hourly left join is
    an equi-join and the LOCF window is keyed by event_type."""
    plan = physical_plan(spark, sf_dir, "rel_gap_fill_locf")
    nlj = plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct")
    assert nlj == 1, f"expected only the bounds cross join, got {nlj}"
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), "spine join must be an equi-join"
    import tools.plan_audit as pa

    assert not pa.has_global_window(plan)


def test_substring_dedup_projects_arrays_before_shuffle(spark, sf_dir):
    """dedup_substring's shuffles must carry only (doc_id, h) longs —
    the token/shingle arrays are projected away before the first
    exchange. A regression that shuffles the arrays multiplies
    shuffle bytes by average document size."""
    plan = physical_plan(spark, sf_dir, "dedup_substring")
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "_ws_toks" not in keys and " s#" not in keys, keys
    # no exchange's output should include the shingle array column
    assert "CartesianProduct" not in plan


def test_r5b_entries_scale_shapes(spark, sf_dir):
    """The r5b batch keeps its scale claims at the plan level:
    unigram vocab capping is TakeOrderedAndProject (never an
    unpartitioned rank window over the data-sized vocabulary);
    skyline's exact dominance pass is a broadcast nested loop over
    the pruned candidates only; the drift/OLS aggregates carry no
    join (resp. no data-sized join) and no global window."""
    import tools.plan_audit as pa

    plan = physical_plan(spark, sf_dir, "text_unigram_loglik")
    assert not pa.has_global_window(plan)
    assert "TakeOrderedAndProject" in plan

    plan = physical_plan(spark, sf_dir, "rel_skyline_parts")
    assert not pa.has_global_window(plan)
    assert "BroadcastNestedLoopJoin" in plan

    plan = physical_plan(spark, sf_dir, "stat_ks_drift")
    assert not pa.has_global_window(plan)

    plan = physical_plan(spark, sf_dir, "stat_linreg_hourly")
    assert not pa.has_global_window(plan)
    assert "Join" not in plan

    plan = physical_plan(spark, sf_dir, "corpus_shard_plan")
    assert not pa.has_global_window(plan)
    assert "Join" not in plan


def test_single_partition_detector_fires_on_injected_plans():
    """SINGLE_PARTITION audit flag: fires on data-sized single-task
    funnels, stays quiet on scalar aggregates and limits (whose
    single-partition exchange carries one row / k rows per upstream
    partition)."""
    import tools.plan_audit as pa

    bad_sort = (
        "*(2) Sort [x#1L ASC NULLS FIRST], true, 0\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]\n"
        "   +- *(1) ColumnarToRow\n"
        "      +- FileScan parquet [x#1L]"
    )
    assert pa.has_bad_single_partition(bad_sort)

    ok_scalar_agg = (
        "*(2) HashAggregate(keys=[], functions=[sum(x#1L)])\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]\n"
        "   +- *(1) HashAggregate(keys=[], functions=[partial_sum(x#1L)])\n"
        "      +- FileScan parquet [x#1L]"
    )
    assert not pa.has_bad_single_partition(ok_scalar_agg)

    ok_limit = (
        "CollectLimit 10\n"
        "+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]\n"
        "   +- LocalLimit 10\n"
        "      +- FileScan parquet [x#1L]"
    )
    assert not pa.has_bad_single_partition(ok_limit)

    assert pa.has_bad_single_partition("*(1) Coalesce 1\n+- FileScan parquet [x#1L]")


def test_broadcast_unbounded_detector_fires_on_injected_plans():
    """BROADCAST_UNBOUNDED audit flag: fires on a HINTED broadcast of
    an SF-scaling relation, quiet on nation/region, filtered,
    aggregated, or unhinted builds."""
    import tools.plan_audit as pa

    def join_plan(hint, child):
        return (
            f"Join Inner, (l_suppkey#2L = s_suppkey#11L){hint}\n"
            ":- Filter isnotnull(l_suppkey#2L)\n"
            ":  +- Relation [l_orderkey#0L,l_suppkey#2L] parquet\n"
            + child
        )

    bad = join_plan(
        ", rightHint=(strategy=broadcast)",
        "+- Filter isnotnull(s_suppkey#11L)\n"
        "   +- Relation [s_suppkey#11L,s_name#12] parquet",
    )
    assert pa.has_unbounded_broadcast(bad)

    ok_unhinted = join_plan(
        "",
        "+- Filter isnotnull(s_suppkey#11L)\n"
        "   +- Relation [s_suppkey#11L,s_name#12] parquet",
    )
    assert not pa.has_unbounded_broadcast(ok_unhinted)

    ok_nation = join_plan(
        ", rightHint=(strategy=broadcast)",
        "+- Filter isnotnull(n_nationkey#20L)\n"
        "   +- Relation [n_nationkey#20L,n_name#21] parquet",
    )
    assert not pa.has_unbounded_broadcast(ok_nation)

    ok_filtered = join_plan(
        ", rightHint=(strategy=broadcast)",
        "+- Filter (isnotnull(s_suppkey#11L) AND StartsWith(s_name#12, X))\n"
        "   +- Relation [s_suppkey#11L,s_name#12] parquet",
    )
    assert not pa.has_unbounded_broadcast(ok_filtered)

    ok_agg = join_plan(
        ", rightHint=(strategy=broadcast)",
        "+- Aggregate [s_suppkey#11L], [s_suppkey#11L]\n"
        "   +- Relation [s_suppkey#11L,s_name#12] parquet",
    )
    assert not pa.has_unbounded_broadcast(ok_agg)


def test_no_forced_broadcast_of_scaling_tables(spark, sf_dir):
    """The whole registry carries no broadcast HINT on an SF-scaling
    unbounded build side (the audit's BROADCAST_UNBOUNDED invariant,
    pinned in CI): at 100 TB a hint is a commitment that OOMs, while
    an unhinted small table still broadcasts via the size threshold."""
    import tools.plan_audit as pa

    for name in ("rel_q5_local_supplier", "rel_q7_volume_shipping",
                 "rel_q9_product_profit", "rel_q14_promo_effect",
                 "rel_q18_large_orders", "dq_expectations"):
        df = REGISTRY[name].fn(spark, sf_dir)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert not pa.has_unbounded_broadcast(logical), name
        # and the threshold still picks broadcast at this SF
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name


def test_artifact_reads_declare_schema():
    """Source-level rule (r15, guide §6): every hot .read.parquet()
    in the engine package declares its schema — parquet footer
    inference costs a driver job per call and serve paths re-read
    their artifacts on every probe. New bare reads must either
    declare a schema or be added to the audited allowlist
    (tools/plan_audit.BARE_READ_OK) with a build-once/maintenance
    justification. Pure AST scan: no Spark session, runs in the
    driver-budget fast gate."""
    from tools.plan_audit import audit_bare_reads

    assert audit_bare_reads() == []


def test_sidecar_written_only_by_builds(tmp_path):
    """Source-level rule: ``save_meta`` is called only from a function
    named ``build`` or ``build_*``, so no upsert/delete path can bring
    back a stored count that every write must recount. The rule fires
    on a write path that saves the sidecar and passes the build shapes
    (module-level ``build_*`` and a nested ``build`` closure). Pure
    AST scan: no Spark session."""
    from tools.plan_audit import audit_sidecar_writes

    assert audit_sidecar_writes() == []
    (tmp_path / "fam.py").write_text(
        "from x import artifact\n"
        "def build_fam(path):\n"
        "    return artifact.save_meta(path, 'k', {})\n"
        "def ensure_fam(path):\n"
        "    def build(p):\n"
        "        return artifact.save_meta(p, 'k', {})\n"
        "    return build(path)\n"
        "def fam_upsert(path, meta):\n"
        "    return artifact.save_meta(path, 'k', {**meta, 'n': 1})\n"
    )
    assert audit_sidecar_writes(str(tmp_path)) == ["fam.py:fam_upsert"]


def test_driver_actions_are_allowlisted(tmp_path):
    """Source-level ratchet: every driver action (collect, count,
    first, take, toPandas, truncate_lineage) under operators/ and
    plans/ sits on tools/plan_audit.DRIVER_ACTION_OK with a reason,
    and every entry there still names a live action site, so the list
    only shrinks as kernels fuse into lazy plans. The in-query beam
    walk runs the shared graph_index.beam_walk, so it has no entry of
    its own. The rule fires on a fake package's un-listed collect and
    checkpoint, not on a lazy grouped count, a column function or a
    module outside operators/ and plans/. Pure AST scan: no Spark
    session."""
    from tools.plan_audit import DRIVER_ACTION_OK, audit_driver_actions

    assert audit_driver_actions() == []
    assert set(DRIVER_ACTION_OK) <= set(audit_driver_actions(allow={}))
    assert "plans/round10.py:ann_graph_beam_topk" not in DRIVER_ACTION_OK
    assert all(
        r.split(":", 1)[0] in ("build-once", "maintenance", "query-bounded")
        for r in DRIVER_ACTION_OK.values()
    )
    (tmp_path / "operators").mkdir()
    (tmp_path / "operators" / "fam.py").write_text(
        "from pyspark.sql import functions as F\n"
        "def probe(df):\n"
        "    return [r.id for r in df.collect()]\n"
        "def stats(df):\n"
        "    return df.groupBy('k').count().select(F.count('*'))\n"
        "def rounds(df):\n"
        "    return truncate_lineage(df)\n"
    )
    (tmp_path / "io.py").write_text("def size(df):\n    return df.count()\n")
    assert audit_driver_actions(str(tmp_path)) == [
        "operators/fam.py:probe", "operators/fam.py:rounds"
    ]


def test_plan_audit_cli_fails_on_source_rules_before_spark(
    tmp_path, monkeypatch, capsys
):
    """The CLI entry runs the three source-level rules first and exits
    1 on a package with an unlisted collect, without starting Spark
    (get_spark is replaced by a function that fails the test)."""
    import tools.plan_audit as pa

    def no_spark(*_a, **_k):
        raise AssertionError("the CLI started Spark")

    monkeypatch.setattr(pa, "get_spark", no_spark)
    (tmp_path / "plans").mkdir()
    (tmp_path / "plans" / "fam.py").write_text(
        "def probe(df):\n    return df.collect()\n"
    )
    assert pa.main("unused", str(tmp_path)) == 1
    assert "audit_driver_actions: plans/fam.py:probe" in capsys.readouterr().out
