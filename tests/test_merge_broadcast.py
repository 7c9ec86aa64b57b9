"""Byte-estimated broadcast decisions in the merge path: a large/wide source
must take the shuffle-join fallback instead of being forced through the
broadcast limit; a CDC-sized source still gets the broadcast fast path."""

import pytest
from pyspark.sql import functions as F

from debezium_server_iceberg_spark.lakehouse.table import _plan_size_est
from debezium_server_iceberg_spark.operators import merge as merge_mod
from debezium_server_iceberg_spark.operators.merge import merge_dataframes, merge_into


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_wide_5m_key_source_not_broadcast(spark):
    # 5M rows x ~100-byte synthetic key: Catalyst's own size estimate is far
    # beyond any broadcast budget -> no broadcast hint may be applied
    target = spark.range(10).select(
        F.concat(F.lit("k" * 90), F.col("id").cast("string")).alias("k"),
        F.lit("old").alias("v"),
        F.lit("r").alias("__op"),
    )
    source = spark.range(5_000_000).select(
        F.concat(F.lit("k" * 90), F.col("id").cast("string")).alias("k"),
        F.lit("new").alias("v"),
        F.lit("u").alias("__op"),
    )
    assert _plan_size_est(source.select("k").dropDuplicates(["k"])) > merge_mod._BROADCAST_BYTES
    plan = _explain(merge_dataframes(target, source, ["k"]))
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln or "left_anti" in ln]
    assert anti and not any("Broadcast" in ln for ln in anti), plan


def test_small_source_still_broadcast(spark):
    target = spark.range(100).select(
        F.col("id").alias("k"), F.lit("old").alias("v"), F.lit("r").alias("__op")
    )
    source = spark.range(5).select(
        F.col("id").alias("k"), F.lit("new").alias("v"), F.lit("u").alias("__op")
    )
    plan = _explain(merge_dataframes(target, source, ["k"]))
    assert "BroadcastHashJoin" in plan, plan


def test_merge_into_shuffle_fallback_is_correct(spark, warehouse, monkeypatch):
    """Force the copy-on-write byte estimate over budget: the shuffle path
    must produce the same result the broadcast path does."""
    from debezium_server_iceberg_spark.lakehouse import LakeCatalog

    monkeypatch.setattr(merge_mod, "_BROADCAST_BYTES", 1)
    cat = LakeCatalog(warehouse)
    schema = "id long, v string, __op string"
    base = spark.createDataFrame([(i, f"v{i}", "r") for i in range(30)], schema)
    t = cat.create_table("ns", "bb", base.schema, identifier_fields=["id"])
    merge_into(t, base, mode="copy-on-write")
    upd = spark.createDataFrame([(7, "updated", "u")], schema)
    stats = merge_into(t, upd, mode="copy-on-write")
    assert stats.rewritten_files >= 1
    got = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert got[7] == "updated" and len(got) == 30
