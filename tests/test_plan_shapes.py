"""Physical-plan assertions (the 100-TB story, SURVEY §4).

Correctness tests say the answer is right; these say the PLAN is right:
filters and projections reach the parquet scan, small dims broadcast, the
hot paths stay inside WholeStageCodegen, and the politeness grant never
windows the full frontier by raw host."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


from conftest import explain  # shared plan-string helper


def test_filter_pushdown_reaches_scan(spark, sf01):
    df = (
        spark.read.parquet(f"{sf01}/orders.parquet")
        .filter(F.col("o_orderkey") == 42)
        .select("o_orderkey", "o_orderstatus")
    )
    plan = explain(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan
    # column pruning: only the two selected columns in ReadSchema
    assert "o_totalprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_dim_join_is_broadcast(spark, sf01):
    df = entrymod.queries()["dim_broadcast_join"](spark, sf01)
    plan = explain(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_strategy(spark, sf01):
    df = entrymod.queries()["anti_join_unseen"](spark, sf01)
    plan = explain(df)
    assert "LeftAnti" in plan


def test_tpch_q1_wholestage_codegen(spark, sf01):
    df = entrymod.queries()["tpch_q1"](spark, sf01)
    plan = explain(df)
    # aggregation is partial (map-side combine) before the exchange
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2
    # the hot path compiles into whole-stage codegen (codegen explain mode;
    # the AQE formatted plan hides the codegen annotation pre-execution)
    codegen = df.sparkSession._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in codegen


def test_grant_has_no_full_host_window(spark, tmp_path):
    """The politeness grant's first window must partition by
    (host, host_bucket) — a raw-host window would serialize the hot host."""
    from gsccca_tax_records_scraper_spark.operators import politeness
    import bench

    pending = bench._synth_candidates(spark, 1000)
    granted = politeness.grant(
        pending, politeness.budget_frame(spark, {"search.gsccca.org": 15})
    )
    plan = explain(granted)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    # fan-in tournament: (host, host_bucket) -> (host, bucket//8) -> host;
    # every level's task input is bounded by fan_in * budget rows
    assert len(specs) == 3
    # the first (full-frontier) window must shard on host_bucket; the
    # host-only window runs LAST, over <= fan_in*budget survivors. (the
    # literal single-host column itself constant-folds out of the spec.)
    first = [sp.split(",")[0] for sp in specs]
    # level 0 partitions on host_bucket (a partition key carries no ASC)
    assert first[0].startswith("host_bucket") and "ASC" not in first[0]
    # the mid level partitions on the pre-projected floor(bucket/fan_in)
    # expression (Spark aliases complex partition exprs to _w<N>)
    assert first[1].startswith("_w") and "ASC" not in first[1]
    assert "floor" in plan.lower()
    # the final window partitions on host only (constant-folds out here), so
    # its spec starts directly with an ORDER column
    assert "ASC" in first[2]


def test_global_topk_is_take_ordered(spark, sf01):
    """global top-k must be TakeOrderedAndProject (per-partition heaps),
    never a row_number window over an unpartitioned ORDER BY (single-task
    global sort)."""
    df = entrymod.queries()["global_topk"](spark, sf01)
    plan = explain(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_simhash_near_pairs_not_cartesian(spark, sf01):
    """the banded simhash join must be a hash equi-join on (band, value) —
    no cartesian/nested-loop theta join (the O(N^2) scale-killer)."""
    from gsccca_tax_records_scraper_spark.operators import textdedup

    docs = spark.read.parquet(f"{sf01}/documents.parquet")
    fps = textdedup.simhash_fingerprints(docs, bits=16)
    df = textdedup.simhash_near_pairs(fps, max_hamming=2, bits=16)
    plan = explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scan_partition_count_respects_input(spark, sf01):
    li = spark.read.parquet(f"{sf01}/lineitem.parquet")
    # 600k rows in a single small file: must not explode into tiny tasks
    assert li.rdd.getNumPartitions() <= 32


def test_neardup_pairs_plan_shape(spark, sf01):
    """banded sign-LSH near-dup: candidate generation is posting-list style
    (bucket groupBy + distinct = exactly 2 shuffles), never a cartesian /
    nested-loop pair join; the exact-cosine verify joins run on the PRUNED
    pair set, which AQE broadcasts against the vector table."""
    df = entrymod.queries()["cosine_neardup_pairs"](spark, sf01)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    assert len(re.findall(r"Exchange (hash|range)partitioning", plan)) <= 2
    assert plan.count("BroadcastHashJoin") == 2  # both verify joins broadcast


def test_engine_driver_frames_are_local(spark, tmp_path):
    """Frames the engine builds from driver-side lists (the robots rules,
    the grant's budgets) scan as a LocalTableScan, never a PythonRDD
    (`Scan ExistingRDD`), which would start one Python task per core every
    time an epoch reads them."""
    from gsccca_tax_records_scraper_spark.operators import politeness
    from gsccca_tax_records_scraper_spark.plans.epoch import CrawlEngine

    eng = CrawlEngine(spark, tmp_path / "wd")
    frames = [
        eng.robots_df(),
        politeness.budget_frame(spark, {"search.gsccca.org": 15, "apps.gsccca.org": 0}),
        politeness.budget_frame(spark, {}),
    ]
    for df in frames:
        plan = explain(df)
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
