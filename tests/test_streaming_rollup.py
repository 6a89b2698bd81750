"""Unit tests for the streaming continuous aggregate
(streaming/rollup.py). The oracle-level check (final table state ==
one-shot GROUP BY) lives in test_entry_oracle.py; these pin the upsert
semantics the oracle can't see: per-key directory replacement on
update, idempotent re-runs."""

import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, "/root/repo")

from datafusion_geo_spark.streaming.rollup import streaming_hourly_rollup

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_rollup_rerun_idempotent(spark, tmp_path):
    p = str(tmp_path / "roll")
    a = streaming_hourly_rollup(spark, SF_DIR, p).orderBy(
        "hour", "event_type").collect()
    b = streaming_hourly_rollup(spark, SF_DIR, p).orderBy(
        "hour", "event_type").collect()
    assert a == b and len(a) > 0


def test_streaming_rollup_update_replaces_only_its_key(spark, tmp_path):
    """A later cumulative update for one (hour, event_type) key must
    supersede exactly that key, leaving sibling keys' totals untouched
    — the changelog latest-per-key contract (r11 log-structured
    shape). Also pins retry idempotency: re-writing a batch id
    replaces its _bid directory instead of double-appending."""
    from datafusion_geo_spark.streaming.rollup import read_stream_rollup
    p = str(tmp_path / "roll2")
    cols = "hour long, event_type string, n_events long, sum_cents long, " \
           "min_value double, max_value double"

    def upsert(rows, bid):
        (spark.createDataFrame(rows, cols)
         .withColumn("_bid", F.lit(bid).cast("long"))
         .coalesce(1)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_bid").parquet(p))

    upsert([(1, "click", 5, 500, 1.0, 9.0),
            (1, "view", 2, 200, 2.0, 3.0)], 0)
    # cumulative update for (1, click) only, in a later batch
    upsert([(1, "click", 8, 800, 0.5, 9.0)], 1)
    got = {(r["hour"], r["event_type"]): r["n_events"]
           for r in read_stream_rollup(spark, p).collect()}
    assert got == {(1, "click"): 8, (1, "view"): 2}
    # retried batch 1 replaces itself (same totals land, no dup rows)
    upsert([(1, "click", 8, 800, 0.5, 9.0)], 1)
    again = {(r["hour"], r["event_type"]): r["n_events"]
             for r in read_stream_rollup(spark, p).collect()}
    assert again == got
    import glob
    assert len(glob.glob(f"{p}/_bid=1/*.parquet")) == 1


def test_streaming_rollup_drops_null_ts(spark, tmp_path):
    """Event-time windows drop NULL-timestamp rows; no NULL hour
    partition appears (unlike the batch rollup, which carries one)."""
    p = str(tmp_path / "roll3")
    out = streaming_hourly_rollup(spark, SF_DIR, p)
    assert out.where(F.col("hour").isNull()).count() == 0


def test_streaming_join_equals_batch_interval_join(spark):
    """Bounded availableNow replay of the dual-watermarked stream-stream
    interval join must equal the batch join over the same fixture."""
    from datafusion_geo_spark.sources.fixtures import load_events
    from datafusion_geo_spark.streaming.join import (
        streaming_click_attribution)
    got = sorted(map(tuple, streaming_click_attribution(
        spark, SF_DIR).collect()))
    ev = load_events(spark, SF_DIR)
    a = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"))
    b = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"))
    batch = (a.join(b, (F.col("user_id") == F.col("vu"))
                    & (F.col("vts") >= F.col("cts") - F.expr("INTERVAL 1 HOUR"))
                    & (F.col("vts") <= F.col("cts")))
             .select("user_id", "click_id", "view_id",
                     F.unix_micros("cts").alias("click_ts_us"),
                     F.unix_micros("vts").alias("view_ts_us")))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0
