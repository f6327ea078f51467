"""Hydra validation semantics: strict/relaxed, ts>0, size limit.

Mirrors IngestionFlowV2Spec.scala:65-221 scenarios (FIXTURES.md §5).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hydra_spark import validation


def _clips_extra(spark, clips):
    return clips.limit(50).withColumn("debug_note", F.lit("x"))


def test_strict_rejects_extra_fields(spark, clips):
    with pytest.raises(validation.ExtraFieldsError):
        validation.conform_schema(_clips_extra(spark, clips), strict=True)


def test_relaxed_drops_extra_fields(spark, clips):
    out = validation.conform_schema(_clips_extra(spark, clips), strict=False)
    assert "debug_note" not in out.columns
    assert out.count() == 50


def test_bad_timestamp_quarantined(spark, clips):
    bad = clips.limit(20).withColumn(
        "event_time",
        F.when(F.col("ingest_offset") % 2 == 0, F.timestamp_seconds(F.lit(-5))).otherwise(
            F.col("event_time")
        ),
    )
    checked = validation.admission_checks(bad)
    quar = checked.where(F.col("reject_reason").isNotNull())
    assert quar.count() == bad.where("event_time <= timestamp_seconds(0)").count() > 0
    reasons = [r[0] for r in quar.select("reject_reason").distinct().collect()]
    assert reasons == ["InvalidLogicalType:timestamp-millis<=0"]


def test_oversize_quarantined(spark, clips):
    checked = validation.admission_checks(clips, max_bytes=20000)
    admitted = checked.where(F.col("reject_reason").isNull())
    quar = checked.where(F.col("reject_reason").isNotNull())
    n_over = clips.where(F.length("bytes") > 20000).count()
    assert quar.count() == n_over > 0
    assert admitted.count() + quar.count() == clips.count()
    assert quar.select("reject_reason").first()[0].startswith("RecordTooLarge:")
