"""Continuous-aggregate tests: the incrementally-maintained rollup table
must equal the batch aggregate over all data seen so far, through multiple
incremental runs against the same checkpoint."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from changesetmd_spark.sinks.txn_table import TxnTable
from changesetmd_spark.streaming.rollup import run_hourly_rollup


def _events(spark, rows):
    return spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1, h, m), t, v) for h, m, t, v in rows],
        "ts timestamp, event_type string, value double",
    )


def _batch_rollup(df):
    return {
        (r.b, r.event_type): (r.n, r.s)
        for r in df.groupBy(
            F.date_trunc("hour", "ts").alias("b"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }


def _stored(spark, rollup_dir):
    return {
        (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
        for r in TxnTable(spark, rollup_dir).read().collect()
    }


def test_rollup_matches_batch_and_updates_incrementally(spark, tmp_path):
    src = tmp_path / "ev"
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    schema = "ts timestamp, event_type string, value double"

    first = _events(
        spark,
        [(0, 5, "view", 1.0), (0, 40, "view", 2.0), (0, 50, "click", 3.0), (1, 10, "view", 4.0)],
    )
    first.coalesce(1).write.parquet(str(src / "f1"))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src / "*"))
    run_hourly_rollup(spark, stream, rollup, ckpt)
    assert _stored(spark, rollup) == _batch_rollup(first)

    # new file: more rows in hour 0 (late-but-in-watermark) and a new hour —
    # same checkpoint, only the new file is read; touched windows update
    second = _events(spark, [(0, 55, "view", 10.0), (2, 0, "click", 5.0)])
    second.coalesce(1).write.parquet(str(src / "f2"))
    stream2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src / "*"))
    run_hourly_rollup(spark, stream2, rollup, ckpt)
    assert _stored(spark, rollup) == _batch_rollup(first.unionByName(second))
