"""Physical-plan assertions — the scale claims in SCALE.md, executable.

These parse `.explain`/executedPlan output to pin the plan shapes the
engine relies on at 100 TB: pushdown reaching Parquet, column pruning,
broadcast joins on dimensions, the range join compiling to a hash join
(not nested-loop), and global top-k as TakeOrderedAndProject.
"""

import pytest

from spype_spark.queries import REGISTRY


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def sf001():
    return "/root/testdata/sf0.001"


def test_scan_project_prunes_columns(spark, sf001):
    df = REGISTRY["q_scan_project"].fn(spark, sf001)
    plan = plan_of(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    # pruned: none of the other 7 columns reach the reader
    for col in ("l_returnflag", "l_shipdate", "l_tax", "l_discount"):
        assert col not in read_schema


def test_filter_pushdown_reaches_parquet(spark, sf001):
    df = REGISTRY["q_scan_filter_pushdown"].fn(spark, sf001)
    plan = plan_of(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "IsNotNull" in pushed


def test_broadcast_join_on_dimension(spark, sf001):
    df = REGISTRY["q_join_broadcast"].fn(spark, sf001)
    assert "BroadcastHashJoin" in plan_of(df)


def test_3way_join_broadcasts_nation(spark, sf001):
    plan = plan_of(REGISTRY["q_join_3way"].fn(spark, sf001))
    assert "BroadcastHashJoin" in plan


def test_range_join_is_hash_not_nested_loop(spark, sf001):
    """The banded rewrite must plan as an equi (hash/sort-merge) join;
    a BroadcastNestedLoopJoin would mean the O(n²) path came back."""
    plan = plan_of(REGISTRY["q_join_theta_range"].fn(spark, sf001))
    assert "NestedLoop" not in plan
    assert ("ShuffledHashJoin" in plan or "SortMergeJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_no_bnlj_in_data_proportional_joins(spark, sf001):
    """No data-proportional join contract may plan a nested-loop join
    (the constant-size cross joins in the audit metrics and the GEMM
    tile grid are the only sanctioned BNLJ sites — see PLANS.md note).
    """
    for key in ("q_join_inner_equi", "q_join_3way", "q_join_asof",
                "q_tpch_q5", "q_tpch_q18", "q_join_interval_overlap"):
        plan = plan_of(REGISTRY[key].fn(spark, sf001))
        assert "NestedLoop" not in plan, f"{key} plans a nested loop"


def test_global_topk_is_take_ordered(spark, sf001):
    plan = plan_of(REGISTRY["q_topk_global"].fn(spark, sf001))
    assert "TakeOrderedAndProject" in plan


def test_pipeline_chain_fuses_filter_into_scan(spark, sf001):
    """Three chained Tasks must still push the shipdate predicate into
    the Parquet scan — composition cannot break pushdown."""
    plan = plan_of(REGISTRY["q_pipe_chain"].fn(spark, sf001))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed


def test_aqe_is_active_and_coalesces(spark, sf001):
    """AQE must be on (skew handling + runtime coalescing are part of
    the scale story) and visibly re-plan: an executed aggregate's final
    plan is adaptive and its shuffle read is coalesced at this scale."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = REGISTRY["q_pricing_summary"].fn(spark, sf001)
    df.collect()  # finalize adaptive plan
    plan = plan_of(df)
    assert "AdaptiveSparkPlan isFinalPlan=true" in plan
    assert "AQEShuffleRead" in plan and "coalesced" in plan


def test_no_python_udf_in_relational_plans(spark, sf001):
    """Builtins-first policy: no Python eval nodes in any relational/
    scalar contract (UDx and GEMM contracts are the sanctioned
    exceptions)."""
    allowed_python = {
        "q_udf_python", "q_udf_pandas", "q_udaf_grouped", "q_udtf_explode",
        "q_sim_cosine_topk", "q_sim_ivf_ann", "q_dedup_embed_cosine",
        "q_multimodal_decode",
    }
    for key in ("q_pricing_summary", "q_join_3way", "q_window_topk",
                "q_text_tfidf", "q_dedup_minhash", "q_stream_session"):
        assert key not in allowed_python
        plan = optimized_of(REGISTRY[key].fn(spark, sf001))
        assert "PythonUDF" not in plan, f"{key} has Python in the plan"


def test_bucketed_join_has_zero_exchanges(spark, sf001):
    """The co-located join contract's whole point: bucketed scan join +
    same-key aggregate with NO Exchange anywhere in the executed plan
    (the 100 TB repeated fact-fact join pattern)."""
    df = REGISTRY["q_join_bucketed"].fn(spark, sf001)
    df.collect()  # finalize adaptive plan
    plan = plan_of(df)
    assert "Exchange" not in plan, plan
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_events_ts_filter_pushes_into_scan(spark, sf001):
    """A ts range predicate on the loaded events table must reach the
    Parquet reader. On the native-µs corpus normalize_events_ts is a
    no-op projection (or pure cast), so nothing blocks pushdown — the
    old unconditional ns→µs arithmetic DID block it, turning every
    time-range query into a full scan at 100 TB."""
    from pyspark.sql import functions as F

    from spype_spark.tables import load_table

    df = load_table(spark, "/root/testdata/sf0.001", "events").filter(
        F.col("ts") >= "2024-01-02"
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "ts" in pushed and "GreaterThanOrEqual" in pushed, pushed


def test_bloom_and_cms_probes_stay_jvm_side(spark, sf001):
    """The sketch probe paths (bloom might_contain, CMS estimate) must
    be pure JVM expressions — literal-array lookups, no Python eval
    nodes in the fact-side plan."""
    for key in ("q_join_bloom", "q_sketch_cms"):
        plan = optimized_of(REGISTRY[key].fn(spark, sf001))
        assert "PythonUDF" not in plan, f"{key} has Python in the plan"


def test_shard_shuffle_no_global_sort(spark, sf001):
    """The deterministic shuffle-shard must hash-partition on the
    shard keys (one exchange) — a RangePartitioning exchange would
    mean a global sort snuck in (the single-partition bottleneck the
    design avoids)."""
    plan = plan_of(REGISTRY["q_dataset_shard_shuffle"].fn(spark, sf001))
    assert "Window" in plan
    assert "rangepartitioning" not in plan.lower(), "global sort!"


def test_length_buckets_map_only_no_window(spark, sf001):
    """Length bucketing must be broadcast-minmax + map-side integer
    bucketing: no window (ntile would serialize through one
    partition), no range partitioning; the only real shuffle is the
    16-key aggregate's."""
    plan = plan_of(REGISTRY["q_dataset_length_buckets"].fn(spark, sf001))
    assert "Window" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "HashAggregate" in plan


def test_zipf_topk_is_take_ordered_no_global_sort(spark, sf001):
    """The vocabulary top-k must be TakeOrderedAndProject (per-partition
    heaps) — a global Sort before the limit would serialize the whole
    vocabulary through one partition at corpus scale."""
    df = REGISTRY["q_text_zipf"].fn(spark, sf001)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_slab_pruned_scan_reads_only_matching_files(spark, sf001):
    """The slab-pruned contract's returned frame must read only the
    requested partitions' files — slab pruning cuts the file list
    BEFORE Spark plans the scan, so inputFiles is the pruned set."""
    df = REGISTRY["q_lake_scan_slab_pruned"].fn(spark, sf001)
    # contract returns a localCheckpoint; re-derive the fixture check
    # from the engine primitives instead (cheap, sf0.001)
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from spype_spark import lakehouse as lake

    tmp = tempfile.mkdtemp(prefix="plans_slab_")
    try:
        path = os.path.join(tmp, "t")
        d = spark.createDataFrame(
            [(k, k % 10) for k in range(1000)], "k long, p long"
        )
        lake.write_table(d.repartition(8), path, partition_by="p")
        got = lake.scan_table(spark, path, where=("in", "p", [4]))
        files = set(got.inputFiles())
        assert files, "scan must read something"
        assert all("__pv_p=4" in f for f in files), (
            "slab/entry pruning must cut the file list to the "
            "requested partition before Spark sees it"
        )
        assert {r.k % 10 for r in got.collect()} == {4}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert df.count() > 0


def test_delta_hive_read_is_single_scan(spark, tmp_path):
    """A partitioned Delta read on the Hive-consistent path must plan
    as ONE parquet FileScan with partition discovery (partition filter
    prunes directories) — not a union of per-partition scans."""
    from pyspark.sql import functions as F

    from spype_spark import delta_interop as dl

    p = str(tmp_path / "dplan")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("p")
    )
    dl.write_delta(spark, df, p, partition_by=["p"])
    got = dl.read_delta(spark, p).filter(F.col("p") == 2)
    plan = plan_of(got)
    assert plan.count("Scan parquet") == 1, plan
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "p" in pf  # the partition filter prunes directories


def test_cdf_format_parallelism_is_per_change_file(spark, tmp_path):
    """The Python DataSource change feed plans ONE task per change
    file — the parallelism property PLANS.md's reading note names —
    and the plan is a PythonDataSource BatchScan (no codegen span to
    widen; the Arrow channel is the execution model)."""
    from pyspark.sql import functions as F

    from spype_spark import delta_interop as dl
    from spype_spark.cdf_source import plan_changes, register_delta_cdf

    register_delta_cdf(spark)
    p = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g")
    )
    # 3 commits, multiple files each (no coalesce)
    dl.write_delta(spark, df, p)
    dl.write_delta(spark, df.filter(F.col("k") < 20), p, mode="append")
    dl.delta_delete_rows(spark, p, F.col("k") >= 90)
    got = spark.read.format("delta_cdf").option("path", p).load()
    from spype_spark.delta_log import replay_state_py

    meta = replay_state_py(p)["meta"]
    planned = plan_changes(p, 0, 2, meta)
    assert len(planned) > 1
    assert got.rdd.getNumPartitions() == len(planned)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" in plan and "delta_cdf" in plan
    assert "WholeStageCodegen" not in plan.split("BatchScan")[-1]
