"""Incremental time-bucketed rollups — the hypertable / continuous-
aggregate maintenance pattern (TimescaleDB-style), Spark-first.

A 100 TB event firehose is summarized into an hourly rollup table that
downstream dashboards read instead of the raw events. The rollup must be
MAINTAINABLE: applying a new micro-batch (or re-applying one after a
failure) updates only the hours it touches and is idempotent.

Storage shape (r11, log-structured — the same design as the streaming
twin ``streaming/rollup.py``): each applied batch APPENDS one parquet
file of its per-(hour, event_type) aggregates to a CHANGELOG
partitioned by batch id; the read side resolves "latest batch per
hour" to materialize the current table. The r10 shape — one directory
per hour replaced via dynamic partition overwrite — was measured at
22.8 s warm for two batches at sf0.1 (720 hour directories, two
720-task write stages dominated by sequential per-directory commit
work, the small-files failure mode of guide §6); the changelog writes
ONE file per batch (rows bounded by the batch's key count, not the
corpus) and the resolve is a key-cardinality-sized window.

Contract (documented, asserted by tests): each applied batch must carry
ALL events for every hour it contains — the standard re-aggregate-the-
bucket-from-source rule every continuous-aggregate system imposes (a
partial hour would supersede a complete one). Late data is handled by
re-applying the affected hour's full slice, which supersedes by batch
id. Retried batches are idempotent two ways: an explicit ``batch_id``
replaces its own ``_bid`` directory via dynamic overwrite, and an
auto-assigned id appends rows that resolve to the identical table.
"""

from __future__ import annotations

import re
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from .util import _fs_for


def hour_col(ts_col: str = "ts") -> Column:
    """Epoch-hour bucket (long) — THE bucketing expression. Exported so
    batch-slicing callers (who must carry each hour completely, see
    module docstring) and tests slice with the exact formula the rollup
    buckets with; a drifted copy would let a later batch supersede a
    complete hour with a partial aggregate."""
    return F.floor(F.unix_timestamp(F.col(ts_col).cast("timestamp"))
                   / 3600).cast("long")


def hourly_rollup(events: DataFrame, ts_col: str = "ts",
                  type_col: str = "event_type",
                  value_col: str = "value",
                  user_col: str = "user_id") -> DataFrame:
    """Per (hour, event_type) aggregate of an events frame: counts, user
    reach, and exact cent-sums (int64 — order-independent for the value
    hash). One partial+final hash aggregate; ``hour`` is epoch-hours
    (long)."""
    return (events
            .groupBy(hour_col(ts_col).alias("hour"),
                     F.col(type_col).alias("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct(user_col).alias("n_users"),
                 F.sum(F.round(F.col(value_col) * 100).cast("long"))
                  .alias("sum_cents")))


def _next_batch_id(spark: SparkSession, path: str) -> int:
    """Smallest unused batch id: max existing ``_bid=N`` directory + 1.
    One driver-side listing of the dataset root (no data read) through
    the Hadoop FileSystem API, so it is object-store-safe."""
    fs, hpath = _fs_for(spark, path)
    if not fs.exists(hpath):
        return 0
    ids = [int(m.group(1)) for st in fs.listStatus(hpath)
           if (m := re.fullmatch(r"_bid=(\d+)", st.getPath().getName()))]
    return (max(ids) + 1) if ids else 0


def apply_rollup_batch(events_batch: DataFrame, path: str,
                       ts_col: str = "ts",
                       batch_id: Optional[int] = None) -> None:
    """Aggregate one batch and append its hours to the rollup changelog
    at ``path`` as ONE file under a new ``_bid`` directory (the batch's
    key-cardinality rows fit one writer; never a file per hour). The
    batch's hours supersede earlier batches' rows for those hours at
    read time — an upsert without rewriting any prior data. The batch
    must contain every event of each hour it covers (module docstring).

    ``batch_id`` defaults to one past the highest existing id; a
    RETRIED application should pass its original id explicitly — the
    dynamic partition overwrite then replaces the ``_bid`` directory
    instead of appending a new one (same discipline as the streaming
    twin's foreachBatch upsert)."""
    agg = hourly_rollup(events_batch, ts_col=ts_col)
    if batch_id is None:
        batch_id = _next_batch_id(events_batch.sparkSession, path)
    (agg.withColumn("_bid", F.lit(int(batch_id)).cast("long"))
     .coalesce(1)
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_bid")
     .parquet(path))


def read_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Materialize the current rollup table from the changelog: for
    each hour, exactly the rows of the LATEST batch that wrote that
    hour (hour-granular replacement — a superseding batch's key set
    for the hour wins outright, so a key absent from the newest slice
    is correctly dropped, which per-key max_by would get wrong). One
    window over key-cardinality-sized data; ``hour`` keeps the LONG
    type the aggregate produced."""
    df = spark.read.parquet(path)
    latest = F.max("_bid").over(Window.partitionBy("hour"))
    return (df.withColumn("_latest", latest)
            .where(F.col("_bid") == F.col("_latest"))
            .select(F.col("hour").cast("long").alias("hour"),
                    "event_type", "n_events", "n_users", "sum_cents"))

