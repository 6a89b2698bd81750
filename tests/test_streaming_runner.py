"""Bounded-replay runner (streaming/runner.py): source sizing goes
through the Hadoop FileSystem API, so a URI sizes like a plain path."""

import os

from datafusion_geo_spark.streaming.runner import _source_bytes


def test_source_bytes_file_uri_equals_plain_path(spark, tmp_path):
    src = tmp_path / "src"
    (src / "part=1").mkdir(parents=True)
    (src / "a.parquet").write_bytes(b"x" * 1000)
    (src / "part=1" / "b.parquet").write_bytes(b"y" * 234)
    want = sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(src) for f in files)
    plain = _source_bytes(spark, str(src))
    assert plain == want == 1234
    assert _source_bytes(spark, src.as_uri()) == plain
    # files, several paths and missing paths
    single = str(src / "a.parquet")
    assert _source_bytes(spark, "file://" + single) == 1000
    assert _source_bytes(spark, str(src), single) == 2234
    assert _source_bytes(spark, str(tmp_path / "missing")) == 0
