"""Incremental gold maintenance == full rebuild, on an append-only split
of the silver table."""

import pyspark.sql.functions as F

from tests.conftest import assert_frames_equal
from wvfoia_sync_spark.foia import agencies
from wvfoia_sync_spark.plans import incremental

TODAY = "2026-08-01"


def test_incremental_agency_stats_equals_full(silver_df):
    cutoff = silver_df.approxQuantile("id", [0.8], 0.0)[0]
    old_part = silver_df.where(F.col("id") <= cutoff)
    delta_part = silver_df.where(F.col("id") > cutoff)
    assert delta_part.count() > 0

    full = agencies.agency_stats(silver_df, TODAY)
    merged = incremental.merge_agency_stats(
        agencies.agency_stats(old_part, TODAY),
        agencies.agency_stats(delta_part, TODAY),
    )

    cols = [
        "agency_slug", "requests", "requests_30d", "requests_90d",
        "requests_365d", "responded", "response_days_sum",
        "responded_365d", "response_days_sum_365d",
        "avg_response_days", "avg_response_days_365d",
    ]
    assert_frames_equal(full.select(cols), merged.select(cols).toPandas())

    # resolution maps merge key-wise to the full-rebuild maps
    fr = {r["agency_slug"]: dict(r["resolutions"] or {}) for r in full.collect()}
    mr = {r["agency_slug"]: dict(r["resolutions"] or {}) for r in merged.collect()}
    assert fr == mr

