"""Continuous aggregate ("hypertable rollup") — an incrementally-maintained
time-bucketed aggregate table over a stream.

TimescaleDB-style continuous aggregates, Spark-first: the stream runs an
update-mode windowed aggregation (watermark bounds the state store); every
micro-batch emits the CURRENT totals for each window it touched, and
``foreachBatch`` MERGEs those rows into a transactional rollup table
(:class:`~..sinks.txn_table.TxnTable`) keyed by (window_start, group key).
Late rows inside the watermark update their window's totals on the next
batch; replay converges because the MERGE is last-write-wins by batch id
(same mechanism as the replication stream, T4).

Scale notes: the rollup table is tiny relative to the stream (one row per
bucket×key), so the MERGE's broadcast-anti-join never shuffles history;
aggregation state is bounded by watermark retention × |keys|.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sinks.txn_table import TxnTable


def hourly_event_rollup(events: DataFrame) -> DataFrame:
    """The rollup definition: tumbling 1h window × event_type → count+sum."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_hourly_rollup(
    spark: SparkSession,
    events: DataFrame,
    rollup_dir: str,
    checkpoint_dir: str,
    shuffle_partitions: int | None = None,
) -> None:
    """Maintain the rollup table incrementally: one availableNow pass over
    whatever new data the checkpoint hasn't seen, MERGE into ``rollup_dir``
    (read it back with ``TxnTable(spark, rollup_dir).read()``), then
    ``TxnTable.vacuum()`` the commit directories it superseded.

    ``shuffle_partitions`` pins the stateful width for this maintenance run
    (see events_stream.state_width — frozen into the checkpoint, so it must
    be chosen at first start, not left to the session default)."""

    table = TxnTable(spark, rollup_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # every action on a foreachBatch frame re-runs the stateful
        # aggregation (the reported state rows then count it once per
        # MERGE action); persisted, it runs once per micro-batch
        batch = batch_df.withColumn(
            "sequence", F.lit(batch_id).cast("long")
        ).persist()
        try:
            table.merge(batch, key=["bucket_start", "event_type"])
        finally:
            batch.unpersist()

    from .events_stream import _scoped_conf

    conf = {}
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    with _scoped_conf(spark, conf):
        q = (
            hourly_event_rollup(events)
            .writeStream.foreachBatch(apply_batch)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    table.vacuum()
    # mirror run_stream_to_table's state telemetry for the scale smoke
    from . import events_stream as _es

    try:
        prog = q.lastProgress or {}
        _es.last_state_rows = sum(
            int(op.get("numRowsTotal", 0))
            for op in prog.get("stateOperators", [])
        )
    except Exception:  # noqa: BLE001
        _es.last_state_rows = None


_TS = "yyyy-MM-dd HH:mm:ss"


@register(
    "q_stream_rollup_hourly",
    oracle="""
    SELECT
      strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start_s,
      event_type,
      COUNT(*) AS n_events,
      CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous aggregate end-to-end through the driver contract:
    run the streaming rollup (availableNow over the staged file source,
    foreachBatch MERGE into a parquet rollup table), then read the TABLE
    back — hash-checked against the batch aggregate it must converge to.
    This is the rollup's at-rest state being verified, not a transient
    query result."""
    from .events_stream import state_width, stream_events

    base = f"/tmp/changesetmd_rollup_q_{uuid.uuid4().hex}"
    rollup_dir = os.path.join(base, "rollup")
    try:
        run_hourly_rollup(
            spark,
            stream_events(spark, sf_dir),
            rollup_dir,
            os.path.join(base, "checkpoint"),
            shuffle_partitions=state_width(spark, sf_dir),
        )
        roll = TxnTable(spark, rollup_dir).read().select(
            F.date_format("bucket_start", _TS).alias("bucket_start_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
        # materialize the (tiny: buckets × event types) result so the
        # scratch table + checkpoint can be deleted — repeated invocations
        # must not accumulate /tmp state
        return roll.localCheckpoint(eager=True)
    finally:
        import shutil

        shutil.rmtree(base, ignore_errors=True)
