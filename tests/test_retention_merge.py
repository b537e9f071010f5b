from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_raster_spark.operators.longform import to_long_panel
from ts_raster_spark.operators.retention import apply_retention, merge_late_turns
from ts_raster_spark.operators.rollup import rollup_simple
from ts_raster_spark.sources.catalog import ParquetTierCatalog

KINDS = ("text_len", "is_tool")


def _minute(turns):
    return rollup_simple(to_long_panel(turns, channels=KINDS), "minute")


def test_late_merge_equals_full_recompute(spark, turns_small, tmp_path):
    """Holding out 10% of turns, rolling up, then merging the late rows
    must reproduce the single-shot rollup exactly — no duplicates, no
    missing buckets (idempotent MERGE keyed (conv_id, kind, bucket))."""
    cat = ParquetTierCatalog(str(tmp_path / "t"), n_buckets=4)
    late = turns_small.where(F.col("turn_idx") % 10 == 3)
    on_time = turns_small.exceptAll(late)

    cat.write(_minute(on_time), "rollup_minute")
    stats = merge_late_turns(
        spark, cat, "rollup_minute", "minute", turns_small, late, kinds=KINDS
    )
    assert stats["affected_convs"] > 0

    got = (
        cat.read(spark, "rollup_minute")
        .orderBy("conv_id", "kind", "bucket_start")
        .toPandas()
        .reset_index(drop=True)
    )
    ref = _minute(turns_small).orderBy("conv_id", "kind", "bucket_start").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(got[ref.columns], ref)


def test_late_merge_idempotent(spark, turns_small, tmp_path):
    cat = ParquetTierCatalog(str(tmp_path / "t2"), n_buckets=4)
    late = turns_small.where(F.col("turn_idx") == 0)
    cat.write(_minute(turns_small), "rollup_minute")
    n0 = cat.read(spark, "rollup_minute").count()
    # merging "late" rows already present must not change anything
    merge_late_turns(spark, cat, "rollup_minute", "minute", turns_small, late, kinds=KINDS)
    assert cat.read(spark, "rollup_minute").count() == n0


def test_retention_ttl(spark, turns_small, tmp_path):
    cat = ParquetTierCatalog(str(tmp_path / "t3"), n_buckets=4)
    cat.write(_minute(turns_small), "rollup_minute")
    total = cat.read(spark, "rollup_minute").count()
    span = cat.read(spark, "rollup_minute").agg(
        F.min("bucket_start"), F.max("bucket_start")
    ).first()
    mid = span[0] + (span[1] - span[0]) / 2

    dropped = apply_retention(
        spark, cat, {"rollup_minute": "7 days"}, now=str(span[1])
    )
    kept = cat.read(spark, "rollup_minute")
    assert dropped["rollup_minute"] + kept.count() == total
    assert kept.agg(F.min("bucket_start")).first()[0] >= span[1] - pd.Timedelta(days=7)

    # policy None keeps everything
    n1 = kept.count()
    d2 = apply_retention(spark, cat, {"rollup_minute": None}, now=str(span[1]))
    assert d2["rollup_minute"] == 0 and cat.read(spark, "rollup_minute").count() == n1
