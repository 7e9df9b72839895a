"""Structured-Streaming tests (SURVEY.md §2.9): the streaming replication
pipeline's incremental consumption + exactly-once convergence, and the
event-time window queries (their value-correctness is covered by the oracle
suite; here we assert streaming-specific behavior)."""

from __future__ import annotations

import gzip
import os

from changesetmd_spark.sinks.txn_table import TxnTable
from changesetmd_spark.streaming import run_replication_stream
from tests.test_replication import _cs, _diff_xml


def _write_diff(src_dir: str, seq: int, changesets: list[str]) -> None:
    os.makedirs(src_dir, exist_ok=True)
    path = os.path.join(src_dir, f"{seq:09d}.osm.gz")
    with open(path, "wb") as f:
        f.write(gzip.compress(_diff_xml(changesets)))
    # The file stream orders (and batches) by modification time, and the
    # LWW merge is by-arrival (reference parity: sequential apply,
    # ref changesetmd.py:180-195) — so in-order delivery is part of the
    # source contract.  Production fetchers drop one diff per minute with
    # naturally increasing mtimes; fixtures written in a burst must pin
    # them explicitly or same-second mtimes make batch grouping arbitrary.
    t = 1_700_000_000 + seq
    os.utime(path, (t, t))


def _rows(spark, table_dir):
    return sorted(
        (r.id, r.open, r.num_changes, r.sequence)
        for r in TxnTable(spark, table_dir).read().collect()
    )


def test_streaming_replication_incremental(spark, tmp_path):
    src = str(tmp_path / "diffs")
    table = str(tmp_path / "store" / "changesets")
    ckpt = str(tmp_path / "ckpt")

    # round 1: two diffs available — changeset 7 opens, 8 closes
    _write_diff(src, 101, [_cs(7, True, 1), _cs(8, False, 2)])
    _write_diff(src, 102, [_cs(7, False, 5)])
    run_replication_stream(spark, src, table, ckpt)
    assert _rows(spark, table) == [(7, False, 5, 102), (8, False, 2, 101)]

    # round 2: same checkpoint, one new diff — ONLY it is consumed (T1);
    # already-applied state is untouched
    _write_diff(src, 103, [_cs(9, False, 3)])
    run_replication_stream(spark, src, table, ckpt)
    assert _rows(spark, table) == [
        (7, False, 5, 102),
        (8, False, 2, 101),
        (9, False, 3, 103),
    ]

    # round 3: nothing new — no-op, table unchanged (exactly-once)
    run_replication_stream(spark, src, table, ckpt)
    assert _rows(spark, table) == [
        (7, False, 5, 102),
        (8, False, 2, 101),
        (9, False, 3, 103),
    ]


def test_streaming_replication_fresh_checkpoint_converges(spark, tmp_path):
    """Losing the checkpoint (full replay) must converge to the same table —
    the T4 idempotence property end-to-end through the streaming path."""
    src = str(tmp_path / "diffs")
    table = str(tmp_path / "store" / "changesets")

    _write_diff(src, 101, [_cs(7, True, 1), _cs(8, False, 2)])
    _write_diff(src, 102, [_cs(7, False, 5)])
    run_replication_stream(spark, src, table, str(tmp_path / "ckpt1"))
    first = _rows(spark, table)
    run_replication_stream(spark, src, table, str(tmp_path / "ckpt2"))
    assert _rows(spark, table) == first


def test_stream_events_is_streaming(spark, sf_dir):
    from changesetmd_spark.streaming import stream_events

    sdf = stream_events(spark, sf_dir)
    assert sdf.isStreaming
    assert dict(sdf.dtypes)["ts"] == "timestamp"


def test_streaming_replication_txn_sink(spark, tmp_path):
    """The foreachBatch → TxnTable path: every micro-batch is one atomic
    commit; incremental consumption, idempotent replay, and version history
    all hold through the commit log."""
    src = str(tmp_path / "diffs")
    table_dir = str(tmp_path / "store" / "changesets_txn")
    ckpt = str(tmp_path / "ckpt")

    _write_diff(src, 101, [_cs(7, True, 1), _cs(8, False, 2)])
    _write_diff(src, 102, [_cs(7, False, 5)])
    run_replication_stream(spark, src, table_dir, ckpt)
    table = TxnTable(spark, table_dir, partition_source="created_at")
    v_after_first = table.current_version()

    def rows():
        return sorted(
            (r.id, r.open, r.num_changes, r.sequence)
            for r in table.read().collect()
        )

    assert rows() == [(7, False, 5, 102), (8, False, 2, 101)]

    # same checkpoint + one new diff: exactly the new file is consumed and
    # lands as one more commit
    _write_diff(src, 103, [_cs(9, False, 3)])
    run_replication_stream(spark, src, table_dir, ckpt)
    assert rows() == [(7, False, 5, 102), (8, False, 2, 101), (9, False, 3, 103)]
    assert table.current_version() == v_after_first + 1

    # lost checkpoint → full replay → same table state (T4 through the
    # commit log); history shows the replay commits without corrupting state
    run_replication_stream(spark, src, table_dir, str(tmp_path / "ckpt2"))
    assert rows() == [(7, False, 5, 102), (8, False, 2, 101), (9, False, 3, 103)]


def test_stream_builders_leave_session_conf_untouched(spark, sf_dir):
    """Building AND running a streaming query must not leak conf mutations
    (nanosAsLong / session timezone / shuffle width) into the caller's
    session (VERDICT r5 #5)."""
    from changesetmd_spark.registry import queries

    keys = (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.session.timeZone",
        "spark.sql.shuffle.partitions",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    queries()["q_stream_tumbling_hourly"](spark, sf_dir).collect()
    after = {k: spark.conf.get(k, None) for k in keys}
    assert after == before


def test_streaming_replication_steady_state_batches(spark, tmp_path):
    """The long-run knobs (VERDICT r7 #8): ``max_files_per_trigger`` bounds
    each micro-batch while availableNow still drains the whole backlog
    (one atomic MERGE commit per bounded batch), and the post-run compact +
    vacuum collapse the commit-history backlog to one live data dir with
    rows intact."""
    src = str(tmp_path / "diffs")
    table_dir = str(tmp_path / "store" / "cs_txn")
    ckpt = str(tmp_path / "ckpt")

    # 9 diffs, each evolving the previous diff's changeset (LWW pressure)
    for seq in range(101, 110):
        _write_diff(
            src,
            seq,
            [_cs(seq - 100, False, seq - 100), _cs(seq - 99, True, 1)],
        )
    run_replication_stream(
        spark, src, table_dir, ckpt, max_files_per_trigger=3
    )
    table = TxnTable(spark, table_dir, partition_source="created_at")

    ops = [m["op"] for m in table.history()]
    # 9 files / 3 per trigger = exactly 3 bounded merge commits
    assert ops == ["merge"] * 3, ops

    def rows():
        return sorted(
            (r.id, r.open, r.num_changes) for r in table.read().collect()
        )

    # ids 1..9 each closed by their own diff, id 10 still open from seq 109
    expected = [(i, False, i) for i in range(1, 10)] + [(10, True, 1)]
    assert rows() == expected

    # incremental: same checkpoint, one late diff -> exactly one more commit
    _write_diff(src, 110, [_cs(10, False, 7)])
    run_replication_stream(
        spark, src, table_dir, ckpt, max_files_per_trigger=3
    )
    assert [m["op"] for m in table.history()].count("merge") == 4
    expected[-1] = (10, False, 7)
    assert rows() == expected

    # long-run maintenance: OPTIMIZE unshards the commit dirs, vacuum
    # reclaims every unreferenced one; data survives bit-identically
    table.compact()
    removed = table.vacuum(keep_versions=1, retention_seconds=0.0)
    live = {
        d
        for dirs in table._manifest(table.current_version())[
            "partitions"
        ].values()
        for d in dirs
    }
    assert len(live) == 1, live
    assert removed, "vacuum reclaimed nothing after the multi-commit run"
    assert rows() == expected


def test_streaming_replication_order_aware_shuffled_delivery(spark, tmp_path):
    """order_aware=True removes the in-order mtime contract: diffs delivered
    in REVERSE order (newest file oldest mtime, so the file source batches
    them backwards) still converge to the in-order final state."""
    src = str(tmp_path / "diffs")
    table_dir = str(tmp_path / "store" / "cs_txn")
    ckpt = str(tmp_path / "ckpt")

    # id 1 evolves across three diffs; reverse the mtimes so arrival order
    # is 103, 102, 101 with one file per micro-batch
    for seq, nc in ((101, 1), (102, 5), (103, 9)):
        _write_diff(src, seq, [_cs(1, seq == 101, nc)])
        t = 1_700_000_000 - seq  # REVERSED
        path = os.path.join(src, f"{seq:09d}.osm.gz")
        os.utime(path, (t, t))
    run_replication_stream(
        spark, src, table_dir, ckpt,
        max_files_per_trigger=1, order_aware=True,
    )
    table = TxnTable(spark, table_dir, partition_source="created_at")
    got = [
        (r.id, r.open, r.num_changes, r.sequence)
        for r in table.read().collect()
    ]
    # the in-order outcome: seq 103 wins despite arriving first
    assert got == [(1, False, 9, 103)]
