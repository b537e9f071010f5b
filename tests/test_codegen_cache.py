"""A warm engine reuses the code it generated: running the same declared
queries again must not Janino-compile a single class (session.py sizes
Spark's generated-class cache to the query set's working set)."""

from __future__ import annotations

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"
QUERIES = (
    "conv_features_ext",
    "gapfill_locf_hour",
    "late_data_merge_hour",
    "hll_users_hour",
    "m4_downsample",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_is_sized(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_second_round_compiles_nothing(spark):
    declared = E.queries()

    def one_round():
        for name in QUERIES:
            declared[name](spark, SF).toPandas()

    one_round()
    before = _compiles(spark)
    one_round()
    assert _compiles(spark) - before == 0
