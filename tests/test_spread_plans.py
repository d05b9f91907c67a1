"""Fan-out plan shape of the Python decode tiers.

The decode rows spread their input through analytics.spread_small_input:
a single-split documents table gets exactly one round-robin exchange, and
a scan that already has defaultParallelism splits gets none.
"""

import pytest

from htmlx.spark.entryqueries import QUERIES
from htmlx.spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=4, app_name="htmlx-spread-plan-test")
    yield s
    s.stop()


def _round_robin_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("RoundRobinPartitioning")


def test_decode_tier_spreads_single_split_input(spark):
    df = QUERIES["jpeg_pixel_decode"](spark, SF_DIR)
    assert _round_robin_exchanges(df) == 1


def test_decode_tier_keeps_wide_scan_unshuffled(spark, tmp_path):
    p = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.repartition(p).write.parquet(str(tmp_path / "documents.parquet"))
    wide = spark.read.parquet(str(tmp_path / "documents.parquet"))
    assert wide.rdd.getNumPartitions() >= p
    df = QUERIES["jpeg_pixel_decode"](spark, str(tmp_path))
    assert _round_robin_exchanges(df) == 0
