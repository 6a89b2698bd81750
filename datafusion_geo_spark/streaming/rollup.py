"""Streaming continuous aggregate: maintain the hourly rollup table
from an event STREAM — the TimescaleDB continuous-aggregate pattern as
Structured Streaming (no batch-slicing contract needed).

Design (r11 log-structured shape): the stream runs a windowed
event-time aggregate (1-hour tumbling windows, watermarked), and
``foreachBatch`` APPENDS each micro-batch's updated keys — which carry
the key's FULL running aggregate, streaming state holds the totals —
to a parquet CHANGELOG partitioned by micro-batch id; the read side
resolves "latest write per key" (max ``_bid``) to materialize the
current table. Late events inside the watermark simply re-emit their
key with new totals in a later batch, which supersedes by batch id.

Idempotency under foreachBatch's at-least-once contract: the batch-id
directory is replaced via dynamic partition overwrite, so a retried
micro-batch REPLACES its own ``_bid=N`` directory instead of
double-appending (same discipline as the geo sink's deterministic
part names).

Why not one directory per (hour, event_type) key with dynamic
overwrite (the r10 shape)? Measured at sf0.1 it wrote 3,600 single-row
partition directories (~9,300 filesystem objects) per run and cost
26.9 s — the small-files failure mode of guide §6, paid on every
trigger and dominated by sequential per-directory commit/rename work
on the driver. The changelog writes ONE file per micro-batch (rows
per batch are bounded by the updated-key count, not the corpus), and
the latest-per-key resolve is a key-cardinality-sized aggregate
(merge-on-read, what lakehouse MOR tables do).

Stats are the MERGEABLE subset (counts, exact cent-sums, min/max):
exact distinct-user counts are not mergeable from aggregated state — a
production rollup carries an HLL sketch column for reach (Spark's
hll_sketch_agg/hll_union_agg), omitted here because sketch bytes are
engine-specific and the DuckDB oracle could not replay them.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.rollup import hour_col


def _hourly_stream_agg(events: DataFrame) -> DataFrame:
    return (events
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"),
                     F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                  .alias("sum_cents"),
                 F.min("value").alias("min_value"),
                 F.max("value").alias("max_value"))
            .select(hour_col("w.start").alias("hour"),
                    "event_type", "n_events", "sum_cents",
                    "min_value", "max_value"))


def streaming_hourly_rollup(spark: SparkSession, sf_dir: str,
                            path: str) -> DataFrame:
    """Run the bounded fixture stream to completion (availableNow),
    upserting every updated (hour, event_type) into ``path``; returns
    the maintained table. NULL-timestamp events are dropped by the
    event-time window, matching the oracle's ``ts IS NOT NULL``."""
    from ..sources.fixtures import load_events_stream
    import shutil
    import uuid
    shutil.rmtree(path, ignore_errors=True)
    # the uuid'd checkpoint below makes each run independent; without
    # wiping the parent, every run would leave an orphan offset/commit
    # log tree behind
    shutil.rmtree(path + ".chk", ignore_errors=True)
    agg = _hourly_stream_agg(load_events_stream(spark, sf_dir))

    def upsert(batch: DataFrame, bid: int) -> None:
        if not batch.columns:
            return
        # ONE output file per micro-batch (rows are bounded by the
        # batch's updated-key count); dynamic overwrite of the _bid
        # directory makes a retried batch replace itself
        (batch.withColumn("_bid", F.lit(int(bid)).cast("long"))
         .coalesce(1)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_bid")
         .parquet(path))

    chk = os.path.join(path + ".chk", uuid.uuid4().hex[:8])
    # r12: state partitions sized from the source volume (the windowed
    # aggregate's store count otherwise follows the session's core
    # count); no-data drop is sound in update mode — emission happens
    # when a key's aggregate CHANGES, i.e. on data, and the trailing
    # watermark-advance batch only evicts state
    from .runner import replay_confs
    with replay_confs(spark,
                      source_paths=(f"{sf_dir}/events.parquet",),
                      drop_no_data=True):
        q = (agg.writeStream.outputMode("update")
             .foreachBatch(upsert)
             .option("checkpointLocation", chk)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return read_stream_rollup(spark, path)


def read_stream_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Materialize the current table from the changelog: the LATEST
    write per (hour, event_type) — max ``_bid`` — is the key's running
    aggregate. One key-cardinality-sized aggregate; a duplicate append
    of the same batch id (at-least-once retry that raced the dynamic
    overwrite) ties on ``_bid`` with IDENTICAL payload rows, so
    ``max_by`` is deterministic there."""
    df = spark.read.parquet(path)
    payload = F.struct("n_events", "sum_cents", "min_value", "max_value")
    return (df.groupBy(F.col("hour").cast("long").alias("hour"),
                       F.col("event_type").cast("string")
                       .alias("event_type"))
            .agg(F.max_by(payload, F.col("_bid")).alias("_s"))
            .select("hour", "event_type", "_s.n_events", "_s.sum_cents",
                    "_s.min_value", "_s.max_value"))

