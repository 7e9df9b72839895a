"""Idempotent upsert sink for the changeset store (SURVEY.md §2.1 S5-S6,
§2.9 T4-T5).

The reference achieves replay-safe replication by delete-then-insert per
changeset id inside one transaction (ref changesetmd.py:71-76,105-106;
"safe to apply older diffs", ref README.md:59).  The Spark-native equivalent
is MERGE semantics expressed as set algebra over immutable columnar files:

    new_state = latest_per_key(batch)  ∪  (current ∖ batch.keys)

computed with a window dedup + broadcast anti-join, applied **per partition**:
the table is hive-partitioned by ``created_date`` (the layout ``bulk_load``
writes, SURVEY §4.2's created_idx replacement) and a MERGE rewrites ONLY the
partitions that contain batch keys — every other partition's files are left
untouched, byte for byte.  This is the reference's true incremental semantics
(delete+insert touches only the affected rows) at columnar scale: a minutely
diff against a 100 TB store rewrites a handful of day-partitions, not the
table.

``ChangesetStore`` is the only table on this sink.  Every other MERGE
(the streaming replication table, the continuous-aggregate rollup) commits
through :mod:`.txn_table`, which reuses this module's ``latest_per_key``
kernel and partition helpers.

Scale notes (100 TB):
  * the anti-join broadcasts only the *batch key set* (a minutely diff is
    thousands of ids — tiny), so current data is never shuffled;
  * locating the partitions that hold batch keys is a column-pruned scan of
    ``(id, created_date)`` only — parquet reads two narrow columns;
  * the rewrite reads back just the affected partitions (partition-pruned
    scan) and swaps exactly those partition directories.

Crash safety: all scratch state (staging writes AND pre-swap backups) lives
in *sibling* directories of the target (``{target}.staging-*``,
``{target}.bak-*``) — never inside it, so Spark partition discovery on a
replay can never parse leftover scratch as data.  ``upsert_parquet`` starts
by recovering from any interrupted predecessor: a partition that was moved
out to a backup but whose replacement never landed is renamed back, then
every remaining scratch sibling is swept.  After recovery the table holds
either the pre-batch or the post-batch rows for each partition — and the
store's watermark is unadvanced, so the batch replays, which the idempotent
MERGE absorbs (T4; the same contract as the reference's replayable diffs,
ref README.md:59).

Concurrency: the reference takes an exclusive NOWAIT lock on the state
table and bails if another run is live (ref changesetmd.py:140-143,
153-159).  ``upsert_parquet`` mirrors that with an exclusive lock file
(``{target}.lock``, O_CREAT|O_EXCL): a second concurrent upsert against the
same target raises :class:`ConcurrentUpsertError` immediately.  A lock left
by a *crashed* process (recorded pid no longer alive) is stolen, matching
the reference's session-scoped lock that dies with its holder.  Single-host
semantics by design — the cluster-visible multi-writer path is
:mod:`.txn_table` (commit-log table format, Delta-style optimistic
concurrency).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

PARTITION_COL = "created_date"
PARTITION_SOURCE = "created_at"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class ConcurrentUpsertError(RuntimeError):
    """Another upsert holds the exclusive lock on this target (parity with
    the reference's LOCK ... ACCESS EXCLUSIVE NOWAIT bail-out, ref
    changesetmd.py:140-143)."""


def _lock_path(target_dir: str) -> str:
    return f"{os.path.abspath(target_dir)}.lock"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _acquire_lock(target_dir: str) -> str:
    path = _lock_path(target_dir)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    for attempt in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            return path
        except FileExistsError:
            try:
                with open(path) as fh:
                    holder = int(fh.read().strip() or "-1")
            except (OSError, ValueError):
                holder = -1
            if attempt == 0 and holder != -1 and not _pid_alive(holder):
                # crashed holder: steal the stale lock and retry once
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
                continue
            raise ConcurrentUpsertError(
                f"upsert already in progress on {target_dir!r} "
                f"(lock {path}, holder pid {holder})"
            ) from None
    raise ConcurrentUpsertError(f"could not acquire lock {path}")  # pragma: no cover


def _release_lock(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:  # pragma: no cover
        pass


def _scratch_siblings(target_dir: str) -> list[str]:
    target_dir = os.path.abspath(target_dir)
    parent, base = os.path.dirname(target_dir), os.path.basename(target_dir)
    if not os.path.isdir(parent):
        return []
    out = []
    for d in os.listdir(parent):
        for marker in (".staging-", ".bak-"):
            if d.startswith(base + marker):
                out.append(os.path.join(parent, d))
                break
    return sorted(out)


def _recover_and_sweep(target_dir: str) -> None:
    """Undo any interrupted predecessor's swap, then remove its scratch.

    Invariants restored: every partition exists exactly once under its
    canonical name; no ``.staging-* / .bak-*`` sibling of the target
    survives."""
    target_dir = os.path.abspath(target_dir)
    scratch = _scratch_siblings(target_dir)

    # Partition swap crashed mid-loop: restore any partition that was moved
    # out to a .bak- root but whose replacement never landed.
    if os.path.isdir(target_dir):
        for d in scratch:
            if ".bak-" not in os.path.basename(d) or not os.path.isdir(d):
                continue
            for name in os.listdir(d):
                dst = os.path.join(target_dir, name)
                if not os.path.exists(dst):
                    os.rename(os.path.join(d, name), dst)

    for d in scratch:
        if os.path.isdir(d):
            shutil.rmtree(d)
        elif os.path.exists(d):
            os.unlink(d)


def latest_per_key(
    df: DataFrame, key: str | list[str] = "id", order_col: str = "sequence"
) -> DataFrame:
    """Last-write-wins dedup: keep each key's row from the highest
    ``order_col`` (a changeset appears in many diffs as it evolves
    open→closed, T5; the reference overwrites the row each time it is seen,
    ref changesetmd.py:105-106).

    Within one replication file an id normally appears once, but nothing
    guarantees it — and the reference's sequential delete+insert keeps the
    *last* occurrence deterministically.  ``row_number`` over the order col
    alone would pick an arbitrary survivor on ties, so ties break on the more
    evolved row (``closed_at`` present beats open, then more ``num_changes``)
    and finally on a whole-row hash: a total order, so replaying the same
    batch always keeps the same row."""
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.col(order_col).desc()]
    if "closed_at" in df.columns:
        order.append(F.col("closed_at").desc_nulls_last())
    if "num_changes" in df.columns:
        order.append(F.col("num_changes").desc_nulls_last())
    hashable = [
        f.name for f in df.schema.fields if not _contains_map(f.dataType)
    ]
    if hashable:
        order.append(F.xxhash64(*[F.col(c) for c in hashable]).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _contains_map(dt: DataType) -> bool:
    """True if ``dt`` is or nests a MapType (struct fields, array elements)
    — Spark's hash expressions reject MapType at any depth (unordered ⇒
    unstable hash), so a deterministic tie-break hash must skip such
    columns."""
    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _partition_dirname(partition_col: str, value) -> str:
    return f"{partition_col}={_HIVE_NULL if value is None else value.isoformat()}"


def _write_partitioned(df: DataFrame, path: str) -> None:
    (
        df.sortWithinPartitions(PARTITION_COL)
        .write.mode("overwrite")
        .partitionBy(PARTITION_COL)
        .parquet(path)
    )


def upsert_parquet(spark: SparkSession, target_dir: str, batch: DataFrame) -> None:
    """MERGE the changeset ``batch`` into the store table at ``target_dir``:
    batch rows replace current rows with the same ``id`` (delete+insert
    parity, S6), applied idempotently — replaying the identical batch yields
    an identical table (T4; proven by the replay test).

    The table is hive-partitioned on ``created_date = date(created_at)``
    and the MERGE rewrites only the partitions containing batch keys; files
    of untouched partitions are not rewritten.
    """
    lock = _acquire_lock(target_dir)
    try:
        _recover_and_sweep(target_dir)
        _upsert_parquet_locked(spark, target_dir, batch)
    finally:
        _release_lock(lock)


def _upsert_parquet_locked(
    spark: SparkSession, target_dir: str, batch: DataFrame
) -> None:
    key_cols = ["id"]
    incoming = latest_per_key(batch)
    if PARTITION_COL not in incoming.columns:
        incoming = incoming.withColumn(PARTITION_COL, F.to_date(PARTITION_SOURCE))

    if not os.path.exists(target_dir):
        _write_partitioned(incoming, target_dir)
        return

    keys = incoming.select(*key_cols).distinct()
    current = spark.read.parquet(target_dir)

    # Partitions to rewrite: where a batch key currently lives (column-pruned
    # scan of key + partition col only, broadcast semi-join — no shuffle of
    # current data) ∪ where incoming rows land.  created_at is immutable for
    # a changeset in practice, so the two sets normally coincide; computing
    # both keeps a key whose date DID change from leaving a stale row behind.
    hit = (
        current.select(*key_cols, PARTITION_COL)
        .join(F.broadcast(keys), on=key_cols, how="left_semi")
        .select(PARTITION_COL)
    )
    affected = [
        r[0]
        for r in hit.union(incoming.select(PARTITION_COL)).distinct().collect()
    ]
    if not affected:
        return

    non_null = [d for d in affected if d is not None]
    cond = F.col(PARTITION_COL).isin(non_null) if non_null else F.lit(False)
    if any(d is None for d in affected):
        cond = cond | F.col(PARTITION_COL).isNull()

    kept = current.filter(cond).join(
        F.broadcast(keys), on=key_cols, how="left_anti"
    )
    new_state = kept.unionByName(incoming.select(*kept.columns))

    staging = f"{target_dir}.staging-{uuid.uuid4().hex}"
    _write_partitioned(new_state, staging)

    # Swap exactly the affected partition directories; an affected partition
    # absent from staging lost all its rows (key moved dates) and is removed.
    # Backups are staged in a SIBLING root (never inside target_dir, where
    # partition discovery would read them as data); per partition the order
    # is move-out-then-move-in, so _recover_and_sweep can always restore a
    # partition whose replacement never landed.
    bak_root = f"{target_dir}.bak-{uuid.uuid4().hex}"
    os.makedirs(bak_root)
    for value in affected:
        name = _partition_dirname(PARTITION_COL, value)
        old = os.path.join(target_dir, name)
        new = os.path.join(staging, name)
        if os.path.exists(old):
            os.rename(old, os.path.join(bak_root, name))
        if os.path.exists(new):
            os.rename(new, os.path.join(target_dir, name))
    shutil.rmtree(bak_root)
    shutil.rmtree(staging)
