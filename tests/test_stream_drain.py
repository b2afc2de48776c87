"""`queries._drain`, the one bounded wait every availableNow stream of
the registry goes through: a failure inside the stream reaches the
caller, and a stream that outlives the bound is stopped and reported."""

from __future__ import annotations

import time

import pytest
from pyspark.errors import StreamingQueryException

from graphsense_blocksci_spark import queries


def _tiny_stream(spark, tmp_path):
    src = tmp_path / "src"
    spark.range(3).write.parquet(str(src))
    return spark.readStream.schema("id long").parquet(str(src))


def test_drain_reraises_foreach_batch_error(spark, tmp_path):
    def boom(batch_df, batch_id):
        raise ValueError("boom in batch")

    writer = _tiny_stream(spark, tmp_path).writeStream.foreachBatch(boom)
    with pytest.raises(StreamingQueryException, match="boom in batch"):
        queries._drain(writer, str(tmp_path), "drain-test")
    assert spark.streams.active == []


def test_drain_stops_hung_stream_and_raises(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(queries, "_DRAIN_TIMEOUT_S", 1)

    def slow(batch_df, batch_id):
        time.sleep(4)

    writer = _tiny_stream(spark, tmp_path).writeStream.foreachBatch(slow)
    with pytest.raises(RuntimeError, match="drain-test stream did not finish in 1s"):
        queries._drain(writer, str(tmp_path), "drain-test")
    assert spark.streams.active == []
