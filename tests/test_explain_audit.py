"""tools/explain_audit.py: the plan rules, on hand-built frames."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from restaurant_etl_code_spark.plans import QUERIES
from tools import explain_audit
from tools.explain_audit import plan_failures


def test_cartesian_product_is_flagged(spark):
    df = spark.range(3).crossJoin(spark.range(2).hint("shuffle_replicate_nl"))
    assert plan_failures("hand_built", df, {}) == ["hand_built: CartesianProduct"]


def test_python_node_needs_a_want(spark):
    df = spark.range(4).mapInPandas(lambda batches: batches, "id long")
    assert plan_failures("hand_built", df, {}) == [
        "hand_built: Python node MapInPandas not in want"]
    assert plan_failures("hand_built", df, {"want": ["MapInPandas"]}) == []


def test_single_partition_window_needs_the_allowlist(spark):
    df = spark.range(5).withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert plan_failures("hand_built", df, {}) == [
        "hand_built: Window over Exchange SinglePartition"]
    assert "funnel" in explain_audit.SINGLE_PARTITION_WINDOWS
    assert plan_failures("funnel", df, {}) == []


def test_allowlisted_plan_without_the_window_is_flagged(spark):
    assert plan_failures("funnel", spark.range(3), {}) == [
        "funnel: no Window over Exchange SinglePartition: "
        "delete its SINGLE_PARTITION_WINDOWS entry"]


def test_every_key_is_a_registered_query():
    assert set(explain_audit.EXPECTATIONS) <= set(QUERIES)
    assert set(explain_audit.SINGLE_PARTITION_WINDOWS) <= set(QUERIES)
