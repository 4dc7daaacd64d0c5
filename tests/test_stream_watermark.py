"""Watermarked streaming: cross-batch dedup with bounded state, and
event-time windowed aggregation that finalizes windows and drops late rows."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from kettle_jena_plugins_spark.streaming.dedup import (
    watermarked_dedup,
    windowed_op_counts,
)

SCHEMA = StructType(
    [
        StructField("op", StringType()),
        StructField("lsn", LongType()),
        StructField("ts", TimestampType()),
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
    ]
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _write_segment(spark, path, rows):
    import time

    time.sleep(1.05)  # distinct mtimes → deterministic file-source ordering
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _drain(spark, wal, sink_fn, transform):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(wal)
    )
    q = (
        transform(stream)
        .writeStream.foreachBatch(sink_fn)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_watermarked_dedup_across_batches(spark, tmp_path):
    wal = str(tmp_path / "wal")
    s = dt.timedelta(seconds=1)
    # batch 1: lsn 1,2,3 (3 duplicated in-batch)
    _write_segment(
        spark,
        wal,
        [
            ("I", 1, T0 + 1 * s, "c0", 0),
            ("I", 2, T0 + 2 * s, "c0", 1),
            ("I", 3, T0 + 3 * s, "c0", 2),
            ("I", 3, T0 + 3 * s, "c0", 2),
        ],
    )
    # batch 2: redelivers lsn 2 and 3 (within the watermark horizon) + new 4
    _write_segment(
        spark,
        wal,
        [
            ("U", 2, T0 + 2 * s, "c0", 1),
            ("U", 3, T0 + 3 * s, "c0", 2),
            ("I", 4, T0 + 4 * s, "c0", 3),
        ],
    )
    seen: list = []
    _drain(
        spark,
        wal,
        lambda df, bid: seen.extend(df.collect()),
        lambda st: watermarked_dedup(st, watermark="10 minutes"),
    )
    lsns = sorted(r["lsn"] for r in seen)
    assert lsns == [1, 2, 3, 4], f"duplicates survived: {lsns}"


def test_windowed_op_counts_drops_late(spark, tmp_path):
    wal = str(tmp_path / "wal")
    m = dt.timedelta(minutes=1)
    s = dt.timedelta(seconds=10)
    # batch 1: two events in window [00:00, 00:01), one in [00:01, 00:02)
    _write_segment(
        spark,
        wal,
        [
            ("I", 1, T0 + 1 * s, "c0", 0),
            ("I", 2, T0 + 2 * s, "c0", 1),
            ("U", 3, T0 + m + 3 * s, "c0", 0),
        ],
    )
    # batch 2 advances the watermark to 00:02:30 → window 1 finalizes
    # (emitted + state evicted) at this batch's end
    _write_segment(spark, wal, [("I", 4, T0 + 2 * m + 3 * s, "c0", 2)])
    # batch 3: the 00:00:50 event is LATE — its window was already emitted
    # and evicted, so the watermark filter must drop it (a re-emit of window
    # 1 would violate append-mode exactly-once); 00:03:30 closes window 3
    _write_segment(
        spark,
        wal,
        [
            ("I", 5, T0 + 5 * s, "c0", 9),  # late — dropped
            ("I", 6, T0 + 3 * m + 3 * s, "c0", 3),
        ],
    )
    out: list = []
    _drain(
        spark,
        wal,
        lambda df, bid: out.extend(df.collect()),
        lambda st: windowed_op_counts(st, window="1 minute", watermark="0 seconds"),
    )
    finalized = {}
    for r in out:
        key = (r["win_start"], r["op"])
        assert key not in finalized, f"window re-emitted: {key}"
        finalized[key] = r["n_events"]
    assert finalized[(T0, "I")] == 2  # late event NOT counted
    assert finalized[(T0 + m, "U")] == 1
    assert finalized[(T0 + 2 * m, "I")] == 1
    # the last window never finalizes under availableNow (no later event)
    assert all(ws < T0 + 3 * m for ws, _ in finalized)


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])
