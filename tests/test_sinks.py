"""Sink-side scale features: partitioned layouts that prune and bucketed
layouts that kill the join shuffle.

These are plan/layout tests (sinks have no DuckDB-oracle form): they assert
the physical properties that make the layouts worth writing at 100 TB —
a partition filter that skips files, and a bucketed join with zero Exchange.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metas_judiciarias_etl_spark.sources.parquet import load_table


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_partitioned_write_prunes(spark, sf_small, tmp_path):
    """Hive-style partitioning by a filter column → reads touch only the
    matching directory (partition pruning at planning time)."""
    out = str(tmp_path / "li_part")
    li = load_table(spark, sf_small, "lineitem")
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(out)

    back = spark.read.parquet(out)
    picked = back.filter(F.col("l_returnflag") == "A")
    plan = _formatted_plan(picked)
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split(
        "PartitionFilters"
    )[1].split("\n")[0]

    expected = li.filter(F.col("l_returnflag") == "A").count()
    assert picked.count() == expected
    # (DataFrame.inputFiles() reports the relation pre-pruning, so the
    # physical proof is the PartitionFilters clause asserted above.)


def test_bucketed_join_has_no_exchange(spark, sf_small, tmp_path):
    """Bucketing both fact tables by the join key pre-shuffles them once at
    write time; the join then runs with ZERO Exchange — the layout move that
    makes repeated 100 TB fact-fact joins affordable."""
    orders = load_table(spark, sf_small, "orders")
    li = load_table(spark, sf_small, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", str(tmp_path / "b_orders"))
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", str(tmp_path / "b_lineitem"))
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force the shuffle-join path so the assertion is about bucketing,
        # not about one side being broadcast-small.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("b_lineitem")
            .join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _formatted_plan(joined.filter(F.lit(True)))
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_section, join_section

        unbucketed = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, unbucketed.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_roundtrip_schema(spark, sf_small, tmp_path):
    """Partition column comes back (as the directory-derived column) and row
    multiset is preserved."""
    out = str(tmp_path / "orders_part")
    orders = load_table(spark, sf_small, "orders")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert set(back.columns) == set(orders.columns)
    assert back.count() == orders.count()
    a = orders.groupBy("o_orderstatus").count()
    b = back.groupBy("o_orderstatus").count()
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@pytest.mark.parametrize("status", ["O"])
def test_dynamic_partition_overwrite(spark, sf_small, tmp_path, status):
    """Dynamic partition overwrite only replaces the partitions present in
    the incoming batch — the idempotent-backfill write mode at scale."""
    out = str(tmp_path / "dyn")
    orders = load_table(spark, sf_small, "orders")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
    before_other = (
        spark.read.parquet(out).filter(F.col("o_orderstatus") != status).count()
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        patch = (
            orders.filter(F.col("o_orderstatus") == status)
            .withColumn("o_totalprice", F.lit(0.0))
        )
        patch.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    after = spark.read.parquet(out)
    assert after.filter(F.col("o_orderstatus") != status).count() == before_other
    patched = after.filter(F.col("o_orderstatus") == status)
    assert patched.count() > 0
    assert patched.select(F.max("o_totalprice")).first()[0] == 0.0
