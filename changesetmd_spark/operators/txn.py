"""Driver-checkable surface for the transactional table format
(sinks/txn_table.py) — MERGE semantics through the full commit-log path.

The reference's replication loop is: open transaction → delete+insert each
changeset → advance state → commit (ref changesetmd.py:71-76,105-106,
140-143).  ``q_txn_merge_snapshot`` replays that lifecycle on the events
table through :class:`~..sinks.txn_table.TxnTable`: an initial load commit,
then an incremental MERGE batch whose keys override the initial rows
(delete-then-insert), then a snapshot read of the committed state.  The
oracle expresses the identical two-batch semantics in SQL, so the driver
hash-checks that the REAL write path — data files, manifests, atomic
commit, snapshot resolution — preserves values bit-for-bit, not just that
the LWW window math is right (q_upsert_last_write_wins already pins that).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sinks.txn_table import TxnTable
from ..tables import load_table

_TXN_ROOT = "/tmp/changesetmd_spark_txn_demo"


def _fresh_table_path(sf_dir: str, prefix: str) -> str:
    """A new table directory under ``_TXN_ROOT``, unique per invocation.
    The returned DataFrame reads its parquet lazily, so deleting a shared
    fixed path would yank files out from under a previous invocation's
    still-pending snapshot (or a concurrent bench on the same sf_dir);
    determinism comes from the data, not the path.  Stale siblings (>1 h
    old) are swept opportunistically so repeated benches don't accumulate
    in /tmp."""
    group = os.path.join(
        _TXN_ROOT,
        prefix + hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12],
    )
    if os.path.isdir(group):
        cutoff = time.time() - 3600.0
        for d in os.listdir(group):
            full = os.path.join(group, d)
            try:
                if os.path.getmtime(full) < cutoff:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass
    return os.path.join(group, uuid.uuid4().hex)


@register(
    "q_txn_merge_snapshot",
    oracle="""
    WITH b1 AS (
      SELECT user_id, event_type, event_id, value
      FROM events WHERE event_id % 3 <> 0
    ), b2 AS (
      SELECT user_id, event_type, event_id, value
      FROM events WHERE event_id % 3 = 0
    ), l1 AS (
      SELECT * FROM b1
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                 ORDER BY event_id DESC) = 1
    ), l2 AS (
      SELECT * FROM b2
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                 ORDER BY event_id DESC) = 1
    )
    SELECT user_id, event_type,
           event_id AS last_event_id, value AS last_value
    FROM l2
    UNION ALL
    SELECT l1.user_id, l1.event_type, l1.event_id, l1.value
    FROM l1 ANTI JOIN l2 USING (user_id, event_type)
    """,
)
def q_txn_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial-load commit + incremental MERGE commit + snapshot read.

    Batch 1 (event_id % 3 ≠ 0) is the bulk load; batch 2 (% 3 = 0) is the
    incremental diff — its keys REPLACE batch-1 rows unconditionally
    (delete-then-insert, S6), so a batch-1 row survives only if its key
    never appears in batch 2.  The table is hive-partitioned on
    ``date(ts)`` and the MERGE rewrites only partitions holding batch-2
    keys; the read resolves the committed manifest (snapshot isolation) —
    at 100 TB this is the same per-day-partition incremental rewrite as
    sinks.upsert, with commits visible to every writer on the shared
    filesystem instead of one host."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value", "ts"
    )
    table = TxnTable(spark, _fresh_table_path(sf_dir, ""), partition_source="ts")
    # the bulk load is itself a MERGE into the empty table so batch-1 rows
    # get the same per-key LWW dedup the reference's loader applies
    table.merge(
        events.filter(F.col("event_id") % 3 != 0),
        key=["user_id", "event_type"],
        order_col="event_id",
    )
    table.merge(
        events.filter(F.col("event_id") % 3 == 0),
        key=["user_id", "event_type"],
        order_col="event_id",
    )
    return table.read().select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


@register(
    "q_txn_change_feed",
    oracle="""
    WITH b1 AS (
      SELECT user_id, event_type, event_id, value
      FROM events WHERE event_id % 3 <> 0 AND user_id % 11 <> 3
    ), b2 AS (
      SELECT user_id, event_type, event_id, value
      FROM events WHERE event_id % 3 = 0 OR user_id % 11 = 3
    ), l1 AS (
      SELECT * FROM b1
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                 ORDER BY event_id DESC) = 1
    ), l2 AS (
      SELECT * FROM b2
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                 ORDER BY event_id DESC) = 1
    ), v1 AS (
      SELECT * FROM l2
      UNION ALL
      SELECT l1.* FROM l1 ANTI JOIN l2 USING (user_id, event_type)
    ), v2 AS (
      SELECT * FROM v1 WHERE user_id % 5 <> 0
    ), feed AS (
      SELECT COALESCE(o.user_id, n.user_id) AS user_id,
             CASE WHEN o.user_id IS NULL THEN 'insert'
                  WHEN n.user_id IS NULL THEN 'delete'
                  WHEN o.event_id <> n.event_id OR o.value <> n.value
                    THEN 'update'
                  ELSE 'unchanged' END AS change_type,
             COALESCE(n.event_id, o.event_id) AS eid
      FROM l1 o FULL OUTER JOIN v2 n
        ON o.user_id = n.user_id AND o.event_type = n.event_type
    )
    SELECT change_type,
           COUNT(*) AS n_rows,
           CAST(SUM(eid) AS BIGINT) AS event_id_checksum
    FROM feed WHERE change_type <> 'unchanged'
    GROUP BY change_type
    """,
)
def q_txn_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read over the real commit log (the lakehouse CDF):
    three commits — bulk load (v0 = batch 1's LWW state), incremental
    MERGE (v1 adds batch 2 — including the user_id % 11 = 3 keys held out
    of the bulk load, so genuine inserts exist at every SF — replacing
    overlapping keys), and an overwrite
    that drops every user_id % 5 = 0 key (v2, the retention/GDPR-style
    delete) — then ``TxnTable.changes(v0, v2)`` classifies every key as
    insert / update / delete by diffing the two snapshot reads through the
    manifest (time travel), and the query rolls the feed up per change
    type with an exact integer event-id checksum.  The oracle recomputes
    the identical three-commit semantics in pure SQL, so the hash check
    covers the whole path: data files, manifests, version resolution,
    null-safe diff classification.

    Scale shape: the CDF is one key-shuffle outer join between two
    manifest-pruned snapshot scans (TxnTable.changes); the rollup is a
    3-row aggregate.  Deletes exist because commit v2 overwrites — MERGE
    alone never deletes, and a feed that can't show deletes is not a CDF."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value", "ts"
    )
    table = TxnTable(
        spark, _fresh_table_path(sf_dir, "cdf-"), partition_source="ts"
    )
    # user_id % 11 = 3 keys are held out of the bulk load entirely so the
    # feed is guaranteed genuine inserts at every SF (not just updates)
    table.merge(
        events.filter(
            (F.col("event_id") % 3 != 0) & (F.col("user_id") % 11 != 3)
        ),
        key=["user_id", "event_type"],
        order_col="event_id",
    )
    v0 = table.current_version()
    table.merge(
        events.filter(
            (F.col("event_id") % 3 == 0) | (F.col("user_id") % 11 == 3)
        ),
        key=["user_id", "event_type"],
        order_col="event_id",
    )
    v1 = table.current_version()
    table.overwrite(table.read(v1).filter(F.col("user_id") % 5 != 0))
    v2 = table.current_version()
    feed = table.changes(v0, v2, key=["user_id", "event_type"])
    eid = F.coalesce(F.col("new_event_id"), F.col("old_event_id"))
    return feed.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(eid).alias("event_id_checksum"),
    )
