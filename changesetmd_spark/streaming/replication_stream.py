"""Streaming replication ingest (SURVEY.md §2.9 T1-T5, §3.2).

The Structured-Streaming shape of the reference's catch-up loop
(ref changesetmd.py:137-195): replication diff files land in a directory
(the production fetcher drops them there; tests write fixtures), a file
stream source parses them incrementally, and ``foreachBatch`` applies each
micro-batch as an idempotent last-write-wins MERGE commit on the
transactional table format (:mod:`..sinks.txn_table`).

Exactly-once story (T2-T4): the streaming checkpoint records which files
were consumed (replacing the osm_changeset_state watermark row,
ref queries.py:28-32); the MERGE key makes re-delivery harmless, so
checkpoint-replay after a crash converges to the same table.  The
``update_in_progress`` mutex (ref changesetmd.py:140-159) is subsumed by
Spark's one-active-query-per-checkpoint guarantee (T3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.txn_table import TxnTable
from ..sources.schema import CHANGESET_XML_READ_SCHEMA
from ..sources.xml_source import normalize_changesets


def stream_changeset_diffs(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Unbounded XML source over a diff-drop directory.  The replication
    sequence number rides in the file name (``NNNNNNNNN.osm.gz``, written by
    ``sources.replication`` fetchers); ``_metadata.file_path`` recovers it
    per-row so last-write-wins ordering survives multi-file micro-batches.

    ``max_files_per_trigger`` bounds each micro-batch (``availableNow``
    honors source rate limits and still drains everything): the steady-state
    knob — a 10⁴-diff backlog becomes a long sequence of bounded MERGE
    commits instead of one giant batch, which is what a continuously-running
    production stream looks like.

    In-order delivery contract: the file source orders (and batches) files
    by modification time, and the downstream LWW merge is by-arrival
    (reference parity — sequential apply, ref changesetmd.py:180-195).
    Production fetchers drop one diff per minute with naturally increasing
    mtimes; anything writing a backlog in a burst must pin increasing
    mtimes or same-second timestamps make the batch grouping arbitrary."""
    reader = (
        spark.readStream.format("xml")
        .option("rowTag", "changeset")
        .schema(CHANGESET_XML_READ_SCHEMA)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(src_dir)
    seq = F.regexp_extract(F.col("_metadata.file_path"), r"(\d+)\.osm(?:\.gz)?$", 1)
    return raw.withColumn("sequence", seq.cast("long"))


def run_replication_stream(
    spark: SparkSession,
    src_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    await_termination: bool = True,
    max_files_per_trigger: int | None = None,
    order_aware: bool = False,
):
    """Consume every currently-available diff (availableNow) and MERGE it
    into the changeset table at ``table_dir``.  Re-running with the same
    checkpoint consumes only files that arrived since — the incremental
    catch-up loop T1.

    Each micro-batch MERGEs through :class:`~..sinks.txn_table.TxnTable`,
    so commits are atomic manifests other writers (and concurrent snapshot
    readers) can see — the full parity stack for the reference's
    transactional replication (ref changesetmd.py:140-143,71-76):
    streaming checkpoint = consumed-file watermark, commit log =
    transaction boundary, LWW MERGE = idempotent delete+insert.  Read the
    table back with ``TxnTable(spark, table_dir).read()``.  The normalized
    micro-batch is persisted around the MERGE, whose eager actions would
    otherwise re-parse the diff XML once per action.  Once an awaited query
    terminates, ``TxnTable.vacuum()`` runs with its defaults: it deletes
    only directories that no manifest among the 10 newest references and
    that are older than an hour, so after a run shorter than that every
    superseded commit directory stays on disk until a later vacuum.
    ``TxnTable.compact()`` followed by ``vacuum`` with a shorter retention
    is the maintenance pass that collapses them.

    ``order_aware=True`` switches the MERGE to max-sequence-wins across
    current ∪ incoming (see :meth:`TxnTable.merge`): the stream then
    converges to the in-order state under ANY file delivery order, making
    the mtime in-order contract (see :func:`stream_changeset_diffs`)
    unnecessary — the deployment-grade default when the diff fetcher isn't
    the only writer or backfills can interleave with the tail."""
    diffs = stream_changeset_diffs(
        spark, src_dir, max_files_per_trigger=max_files_per_trigger
    )
    table = TxnTable(spark, table_dir, partition_source="created_at")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        normalized = normalize_changesets(batch_df, extra=("sequence",)).persist()
        try:
            table.merge(
                normalized,
                key="id",
                order_col="sequence",
                order_aware=order_aware,
            )
        finally:
            normalized.unpersist()

    q = (
        diffs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
        table.vacuum()
    return q
