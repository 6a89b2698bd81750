"""Incremental hourly rollup (operators/rollup.py, r11 changelog
layout): hour-sliced batches compose to the one-shot answer,
re-application is idempotent and append-only (prior batch files are
never rewritten), a late-data re-apply supersedes exactly its hours,
and each batch lands as ONE changelog file (the small-files guard the
r11 optimization is for)."""

import glob
import os
import shutil
import sys

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
CACHE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".cache", "rollup_test")


@pytest.fixture(scope="module", autouse=True)
def clean_dir():
    shutil.rmtree(CACHE, ignore_errors=True)
    os.makedirs(CACHE, exist_ok=True)
    yield
    shutil.rmtree(CACHE, ignore_errors=True)


def _events(spark):
    from datafusion_geo_spark.sources.fixtures import load_events
    return load_events(spark, SF_DIR)


def _hour():
    # THE bucketing formula (rollup.hour_col) — slicing with a drifted
    # copy would violate the hour-completeness contract under test
    from datafusion_geo_spark.operators.rollup import hour_col
    return hour_col("ts")


def _rows(df):
    return sorted(
        map(tuple, df.select(
            "hour", "event_type", "n_events", "n_users", "sum_cents")
            .collect()),
        key=lambda t: (t[0] is not None, t[0], t[1]))


def _data_files(path):
    return glob.glob(os.path.join(path, "_bid=*", "*.parquet"))


def test_incremental_batches_equal_one_shot(spark):
    from datafusion_geo_spark.operators.rollup import (apply_rollup_batch,
                                                       hourly_rollup,
                                                       read_rollup)
    ev = _events(spark)
    path = os.path.join(CACHE, "ds")
    # two batches sliced BY HOUR (each carries its hours completely)
    even = ev.where(_hour() % 2 == 0)
    odd = ev.where(_hour() % 2 == 1)
    apply_rollup_batch(even, path)
    apply_rollup_batch(odd, path)
    assert _rows(read_rollup(spark, path)) == _rows(hourly_rollup(ev))
    # the small-files pin: ONE changelog file per applied batch, not
    # one directory per hour (the 720-dir r10 layout this replaces)
    assert len(_data_files(path)) == 2


def test_reapply_supersedes_and_is_append_only(spark):
    from datafusion_geo_spark.operators.rollup import (apply_rollup_batch,
                                                       read_rollup)
    ev = _events(spark)
    path = os.path.join(CACHE, "ds2")
    apply_rollup_batch(ev, path)
    before = _rows(read_rollup(spark, path))
    prior_files = {f: os.path.getmtime(f) for f in _data_files(path)}
    # late-data style re-apply of ONE hour's full slice: final table
    # unchanged (the slice equals what batch 0 already recorded)
    hours = [r["hour"] for r in
             read_rollup(spark, path).select("hour").distinct().collect()
             if r["hour"] is not None]
    target = min(hours)
    apply_rollup_batch(ev.where(_hour() == target), path)
    after = _rows(read_rollup(spark, path))
    assert after == before                       # idempotent
    for f, m in prior_files.items():             # append-only log
        assert os.path.getmtime(f) == m, f


def test_retry_with_explicit_batch_id_replaces_itself(spark):
    """A retried application that passes its original batch_id must
    REPLACE its _bid directory (dynamic overwrite), not append a
    sibling — the at-least-once idempotency the streaming twin pins."""
    from datafusion_geo_spark.operators.rollup import (apply_rollup_batch,
                                                       read_rollup)
    ev = _events(spark)
    path = os.path.join(CACHE, "ds3")
    apply_rollup_batch(ev, path, batch_id=0)
    once = _rows(read_rollup(spark, path))
    apply_rollup_batch(ev, path, batch_id=0)     # the "retry"
    assert _rows(read_rollup(spark, path)) == once
    assert len(glob.glob(os.path.join(path, "_bid=*"))) == 1


def test_supersede_drops_keys_absent_from_newest_slice(spark):
    """Hour-granular replacement: when a later batch re-delivers an
    hour WITHOUT some event_type the earlier batch had, that key must
    disappear (the newest full slice wins outright) — the semantics
    per-key max_by would get wrong."""
    from datafusion_geo_spark.operators.rollup import (apply_rollup_batch,
                                                       read_rollup)
    ev = _events(spark).where(F.col("ts").isNotNull())
    path = os.path.join(CACHE, "ds4")
    apply_rollup_batch(ev, path)
    target = min(r["hour"] for r in
                 read_rollup(spark, path).select("hour")
                 .distinct().collect())
    types = [r["event_type"] for r in
             read_rollup(spark, path).where(F.col("hour") == target)
             .select("event_type").distinct().collect()]
    if len(types) < 2:
        pytest.skip("fixture hour has a single event_type")
    dropped = sorted(types)[0]
    # the hour's "corrected" full slice no longer contains ``dropped``
    apply_rollup_batch(
        ev.where((_hour() == target) & (F.col("event_type") != dropped)),
        path)
    got = read_rollup(spark, path).where(
        (F.col("hour") == target) & (F.col("event_type") == dropped))
    assert got.count() == 0
