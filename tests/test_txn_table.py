"""Transactional table format: atomic commits, snapshot isolation,
optimistic multi-writer concurrency, MERGE parity, vacuum retention.

Reference parity target: the Postgres transaction + LOCK NOWAIT surface
(ref changesetmd.py:140-143, 71-76) — reproduced cluster-visibly via a
commit log instead of a host-local lock file (see sinks/txn_table.py)."""

from __future__ import annotations

import datetime
import os

import pytest

from changesetmd_spark.sinks import txn_table
from changesetmd_spark.sinks.txn_table import TxnConflictError, TxnTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, rows):
    """rows: (id, sequence, created_at date string, payload)"""
    df = spark.createDataFrame(
        rows, "id long, sequence long, created_at timestamp, payload string"
    )
    return df


D1 = datetime.datetime(2024, 1, 1, 10, 0)
D2 = datetime.datetime(2024, 1, 2, 10, 0)
D3 = datetime.datetime(2024, 1, 3, 10, 0)


def _live(table, version=None):
    """The live map of ``version`` (default: current)."""
    v = table.current_version() if version is None else version
    return table._manifest(v)["partitions"]


def _merge(table, spark, rows):
    return table.merge(_mk(spark, rows), key="id", order_col="sequence")


@pytest.fixture()
def table(spark, tmp_path):
    return TxnTable(
        spark, str(tmp_path / "t"), partition_source="created_at"
    )


def test_overwrite_read_roundtrip_and_time_travel(spark, table):
    v0 = table.overwrite(_mk(spark, [(1, 1, D1, "a"), (2, 1, D2, "b")]))
    assert v0 == 0
    first = _rows(table.read().select("id", "payload"))
    v1 = table.overwrite(_mk(spark, [(3, 1, D1, "c")]))
    assert v1 == 1
    assert _rows(table.read().select("id", "payload")) == [(3, "c")]
    # snapshot isolation: the old version is still fully readable
    assert _rows(table.read(version=0).select("id", "payload")) == first


def test_merge_lww_and_partition_scoped_rewrite(spark, table):
    table.overwrite(_mk(spark, [(1, 1, D1, "old1"), (2, 1, D2, "old2")]))
    live_before = _live(table)
    # batch holds two versions of id=1 → LWW keeps sequence 3; id=2 untouched
    table.merge(
        _mk(spark, [(1, 2, D1, "mid"), (1, 3, D1, "new1")]),
        key="id",
        order_col="sequence",
    )
    assert _rows(table.read().select("id", "payload")) == [
        (1, "new1"),
        (2, "old2"),
    ]
    live_after = _live(table)
    # only the D1 partition's files changed; D2 still points at the same dir
    assert (
        live_after["created_date=2024-01-02"]
        == live_before["created_date=2024-01-02"]
    )
    assert (
        live_after["created_date=2024-01-01"]
        != live_before["created_date=2024-01-01"]
    )


def test_merge_replay_is_idempotent(spark, table):
    table.overwrite(_mk(spark, [(1, 1, D1, "a"), (2, 1, D2, "b")]))
    batch = _mk(spark, [(1, 5, D1, "a2")])
    table.merge(batch, key="id", order_col="sequence")
    state1 = _rows(table.read())
    table.merge(batch, key="id", order_col="sequence")  # replayed diff (T4)
    assert _rows(table.read()) == state1


def test_lost_race_disjoint_partitions_rebases(spark, table):
    """A merge that loses the version slot to a commit touching OTHER
    partitions must converge with BOTH effects kept (the merge recomputes
    against the winner's snapshot — partition-level disjointness is not
    sufficient to prove key-level disjointness, see TxnTable.merge)."""
    table.overwrite(_mk(spark, [(1, 1, D1, "a"), (2, 1, D2, "b")]))
    writer2 = TxnTable(spark, table.path, partition_source="created_at")

    real = table._try_commit
    fired = {"done": False}

    def racing(version, manifest):
        if not fired["done"]:
            fired["done"] = True
            # concurrent writer adds a key in D2 and steals our slot
            _merge(writer2, spark, [(9, 1, D2, "z")])
        return real(version, manifest)

    table._try_commit = racing
    try:
        table.merge(_mk(spark, [(1, 7, D1, "a2")]), key="id", order_col="sequence")
    finally:
        table._try_commit = real
    assert _rows(table.read().select("id", "payload")) == [
        (1, "a2"),
        (2, "b"),
        (9, "z"),
    ]


def test_lost_race_overlapping_partition_recomputes(spark, table):
    """A merge that loses the slot to a commit touching the SAME partition
    must recompute against the winner's snapshot — both writes survive,
    ours wins only for our keys."""
    table.overwrite(_mk(spark, [(1, 1, D1, "a")]))
    writer2 = TxnTable(spark, table.path, partition_source="created_at")

    real = table._try_commit
    fired = {"done": False}

    def racing(version, manifest):
        if not fired["done"]:
            fired["done"] = True
            writer2.merge(
                _mk(spark, [(1, 2, D1, "theirs"), (5, 1, D1, "keep")]),
                key="id",
                order_col="sequence",
            )
        return real(version, manifest)

    table._try_commit = racing
    try:
        table.merge(_mk(spark, [(1, 9, D1, "ours")]), key="id", order_col="sequence")
    finally:
        table._try_commit = real
    assert _rows(table.read().select("id", "payload")) == [
        (1, "ours"),
        (5, "keep"),
    ]


def test_sustained_contention_raises(spark, table):
    table.overwrite(_mk(spark, [(1, 1, D1, "a")]))
    table._try_commit = lambda version, manifest: False
    with pytest.raises(TxnConflictError):
        _merge(table, spark, [(2, 1, D1, "b")])


def test_uncommitted_data_invisible_and_vacuumed(spark, table):
    table.overwrite(_mk(spark, [(1, 1, D1, "a")]))
    # a crashed writer: data directory written, commit never happened
    written, _ = table._write_data_dir(_mk(spark, [(99, 1, D1, "ghost")]))
    (orphan_rel,) = set(sum(written.values(), []))
    assert _rows(table.read().select("id")) == [(1,)]
    removed = table.vacuum(keep_versions=10, retention_seconds=0.0)
    assert orphan_rel in removed
    assert _rows(table.read().select("id")) == [(1,)]


def test_vacuum_prunes_old_versions_keeps_current(spark, table):
    table.overwrite(_mk(spark, [(1, 1, D1, "a")]))
    table.overwrite(_mk(spark, [(2, 1, D1, "b")]))
    table.overwrite(_mk(spark, [(3, 1, D1, "c")]))
    removed = table.vacuum(keep_versions=1, retention_seconds=0.0)
    assert len(removed) == 2  # the two superseded commit dirs
    assert table.versions() == [2]
    assert _rows(table.read().select("id")) == [(3,)]


def test_unpartitioned_merge(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "u"))  # no partition_source
    df = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], "id long, sequence long, payload string"
    )
    t.overwrite(df)
    t.merge(
        spark.createDataFrame([(2, 9, "b2")], "id long, sequence long, payload string"),
        key="id",
        order_col="sequence",
    )
    assert _rows(t.read().select("id", "payload")) == [(1, "a"), (2, "b2")]


def test_manifest_commit_is_atomic_no_partial_state(spark, table):
    """Every version file on disk must parse as complete JSON (the tmp+link
    protocol); no .tmp files survive a commit."""
    table.overwrite(_mk(spark, [(1, 1, D1, "a")]))
    _merge(table, spark, [(2, 1, D2, "b")])
    log = table._log_path()
    names = os.listdir(log)
    assert all(not n.startswith(".tmp-") for n in names)
    for v in table.versions():
        m = table._manifest(v)
        assert m["version"] == v and "partitions" in m


def test_concurrent_merges_from_threads_both_land(spark, table):
    """Two writers racing real merges from separate threads: optimistic
    concurrency must land BOTH effects (disjoint keys) without locks, with
    a linear version history."""
    import threading

    table.overwrite(_mk(spark, [(1, 1, D1, "a"), (2, 1, D2, "b")]))
    v0 = table.current_version()
    errs = []

    def writer(rows):
        try:
            t = TxnTable(spark, table.path, partition_source="created_at")
            t.merge(_mk(spark, rows), key="id", order_col="sequence")
        except Exception as ex:  # noqa: BLE001
            errs.append(ex)

    t1 = threading.Thread(target=writer, args=([(1, 5, D1, "a2")],))
    t2 = threading.Thread(target=writer, args=([(9, 1, D2, "z")],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    assert table.current_version() == v0 + 2
    assert _rows(table.read().select("id", "payload")) == [
        (1, "a2"),
        (2, "b"),
        (9, "z"),
    ]


def test_txn_model_based_random_ops(spark, tmp_path):
    """Model-based check: a random mix of overwrite/merge against a
    plain dict model — the committed snapshot must always equal the model.
    (Deterministic op list; hypothesis-style state-machine without the
    per-example Spark session cost.)"""
    t = TxnTable(spark, str(tmp_path / "m"), partition_source="created_at")
    model: dict[int, tuple] = {}
    ops = [
        ("overwrite", [(1, 1, D1, "a"), (2, 1, D2, "b"), (3, 1, D1, "c")]),
        ("merge", [(2, 5, D2, "b2"), (4, 1, D1, "d")]),
        ("merge", [(5, 1, D3, "e")]),
        ("merge", [(5, 9, D2, "e2"), (1, 2, D1, "a2")]),
        ("overwrite", [(7, 1, D1, "g")]),
        ("merge", [(7, 3, D1, "g2"), (8, 1, D2, "h")]),
        ("merge", [(9, 1, D3, "i")]),
        ("merge", [(9, 2, D1, "i2")]),
    ]
    for op, rows in ops:
        if op == "overwrite":
            t.overwrite(_mk(spark, rows))
            model = {r[0]: r for r in rows}
        else:
            t.merge(_mk(spark, rows), key="id", order_col="sequence")
            best: dict[int, tuple] = {}
            for r in rows:  # LWW within the batch by sequence
                if r[0] not in best or r[1] > best[r[0]][1]:
                    best[r[0]] = r
            model.update(best)
        got = _rows(t.read().select("id", "sequence", "payload"))
        want = sorted((k, v[1], v[3]) for k, v in model.items())
        assert got == want, f"after {op}: {got} != {want}"


def test_lost_race_same_key_other_partition_no_duplicate(spark, table):
    """The key-level conflict the partition-level rebase used to miss: while
    our merge (affected = D1) is in flight, a concurrent commit lands the
    SAME key in D2.  The merge must recompute against the winner's snapshot
    and publish exactly one row for the key — never both."""
    table.overwrite(_mk(spark, [(1, 1, D1, "a"), (2, 1, D2, "b")]))
    writer2 = TxnTable(spark, table.path, partition_source="created_at")

    real = table._try_commit
    fired = {"done": False}

    def racing(version, manifest):
        if not fired["done"]:
            fired["done"] = True
            # concurrent writer moves key 1 to the D2 partition — outside
            # the D1 'affected' set our in-flight merge computed
            _merge(writer2, spark, [(1, 2, D2, "theirs")])
        return real(version, manifest)

    table._try_commit = racing
    try:
        table.merge(_mk(spark, [(1, 9, D1, "ours")]), key="id", order_col="sequence")
    finally:
        table._try_commit = real
    rows = _rows(table.read().select("id", "payload"))
    assert rows == [(1, "ours"), (2, "b")]  # exactly ONE row for key 1


def test_empty_batch_on_new_table_publishes_readable_v0(spark, table):
    """ADVICE r6: an empty first batch must not hand back the -1 sentinel.
    It publishes a schema-only v0 (no data dir, no "" pseudo-partition)
    that reads as a typed empty frame, and later writes proceed normally."""
    empty = _mk(spark, []).limit(0)
    v = table.merge(empty, key="id", order_col="sequence")
    assert v == 0
    assert _live(table, 0) == {}
    got = table.read()
    assert got.count() == 0
    assert "created_date" in got.columns  # partitioned schema published
    # a second empty batch is a pure no-op at the existing version
    assert table.merge(empty, key="id", order_col="sequence") == 0
    assert table.versions() == [0]
    table.merge(_mk(spark, [(1, 1, D1, "a")]), key="id", order_col="sequence")
    assert _rows(table.read().select("id", "payload")) == [(1, "a")]


def test_empty_batch_append_and_merge_are_noops(spark, table):
    """An empty micro-batch (e.g. an empty replication diff) must not
    commit, in either merge mode: on a partitioned table it would otherwise
    register the "" pseudo-partition and corrupt partition resolution for
    later merges."""
    table.overwrite(_mk(spark, [(1, 1, D1, "a")]))
    v = table.current_version()
    empty = _mk(spark, []).limit(0)
    assert table.merge(empty, key="id", order_col="sequence") == v
    assert (
        table.merge(empty, key="id", order_col="sequence", order_aware=True)
        == v
    )
    assert table.current_version() == v
    live = _live(table, v)
    assert "" not in live
    # and the table still merges correctly afterwards (partitioned branch)
    table.merge(_mk(spark, [(1, 5, D1, "a2")]), key="id", order_col="sequence")
    assert _rows(table.read().select("id", "payload")) == [(1, "a2")]


def test_overwrite_empty_truncates_partitioned_table(spark, table):
    table.overwrite(_mk(spark, [(1, 1, D1, "a")]))
    full = table.read()
    table.overwrite(_mk(spark, []).limit(0))
    live = _live(table)
    assert live == {}  # truly empty — no "" pseudo-partition
    # truncate reads back as a TYPED empty frame (Delta parity, ADVICE r6)
    # with the same schema a populated snapshot shows
    empty = table.read()
    assert empty.count() == 0
    assert empty.schema == full.schema
    # and the table recovers on the next write
    table.merge(_mk(spark, [(2, 1, D2, "b")]), key="id", order_col="sequence")
    assert _rows(table.read().select("id", "payload")) == [(2, "b")]


def _one_dir_per_partition(spark, table, n=3):
    """Merges into ``n`` different date partitions: one commit directory
    per partition."""
    for i in range(n):
        day = datetime.datetime(2024, 1, 1 + i, 10, 0)
        _merge(table, spark, [(i, 1, day, f"p{i}")])


def _live_dirs(table, version=None):
    return {d for dirs in _live(table, version).values() for d in dirs}


def test_compact_consolidates_fragmented_partitions(spark, table):
    """OPTIMIZE parity: merges into different partitions leave one commit
    dir each; compact rewrites every live partition into one dir, preserves
    rows exactly, keeps time travel."""
    _one_dir_per_partition(spark, table, 4)
    before = _rows(table.read().select("id", "payload"))
    v_before = table.current_version()
    assert len(_live_dirs(table)) == 4

    v = table.compact()
    assert v == v_before + 1
    assert len(_live_dirs(table, v)) == 1
    assert set(_live(table, v)) == set(_live(table, v_before))
    assert _rows(table.read().select("id", "payload")) == before
    # time travel still sees the pre-compaction state
    assert _rows(table.read(version=v_before).select("id", "payload")) == before
    assert table._manifest(v)["op"] == "compact"


def test_compact_noop_when_already_compact(spark, table):
    table.overwrite(_mk(spark, [(1, 1, D1, "a"), (2, 1, D2, "b")]))
    v = table.current_version()
    assert table.compact() == v  # one live dir: no empty commit
    _merge(table, spark, [(3, 1, D3, "c")])
    v = table.compact()
    assert table.compact() == v  # compacted once, nothing left to do


def test_compact_then_vacuum_reclaims_fragments(spark, table):
    _one_dir_per_partition(spark, table, 3)
    v = table.compact()
    removed = table.vacuum(keep_versions=1, retention_seconds=0.0)
    # the 3 per-commit dirs are unreferenced by the surviving manifest
    assert len(removed) == 3
    assert _rows(table.read().select("id")) == [(0,), (1,), (2,)]
    assert table.versions() == [v]


def test_compact_lost_race_recomputes_with_concurrent_append(spark, table):
    """A commit that lands between compact's snapshot and its publish must
    not be dropped: simulate by injecting a concurrent writer's merge of a
    new key at first publish."""
    _one_dir_per_partition(spark, table, 3)
    writer2 = TxnTable(spark, table.path, partition_source="created_at")
    real_try = table._try_commit
    state = {"raced": False}

    def racing_try(version, manifest):
        if not state["raced"]:
            state["raced"] = True
            _merge(writer2, spark, [(7, 1, D1, "late")])
            # version slot now taken -> compact must lose and recompute
        return real_try(version, manifest)

    table._try_commit = racing_try
    try:
        v = table.compact()
    finally:
        table._try_commit = real_try
    assert state["raced"]
    assert table._manifest(v)["op"] == "compact"
    assert len(_live_dirs(table, v)) == 1
    assert _rows(table.read().select("id")) == [(0,), (1,), (2,), (7,)]


def test_read_scans_with_manifest_schema_no_spark_job(spark, table):
    """read() types its scan from the manifest: building the snapshot frame
    over several commit dirs launches no Spark job (schema inference would
    launch one per dir), and the frame has the published schema."""
    _one_dir_per_partition(spark, table, 3)
    assert len(_live_dirs(table)) == 3
    sc = spark.sparkContext
    group = "txn-read-no-job"
    sc.setJobGroup(group, "TxnTable.read() plan only")
    try:
        df = table.read()
        schema = df.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert [(f.name, f.dataType.simpleString()) for f in schema.fields] == [
        ("id", "bigint"),
        ("sequence", "bigint"),
        ("created_at", "timestamp"),
        ("payload", "string"),
        ("created_date", "date"),
    ]
    assert _rows(df.select("id", "payload", "created_date")) == [
        (i, f"p{i}", datetime.date(2024, 1, 1 + i)) for i in range(3)
    ]


def test_merge_strict_mode_rejects_missing_columns(spark, table):
    """A batch missing a table column must fail loudly, not silently fork
    the schema."""
    table.overwrite(_mk(spark, [(1, 1, D1, "a")]))
    bad = _mk(spark, [(2, 2, D1, "x")]).drop("payload")
    with pytest.raises(Exception):
        table.merge(bad, key="id", order_col="sequence")


def test_merge_order_aware_out_of_order_converges(spark, table):
    """order_aware=True: max-sequence-wins across current ∪ incoming, so
    applying diffs in ANY order reaches the in-order state — unlike the
    default by-arrival mode, where a stale batch resurrects old rows
    (reference parity, asserted below as the contrast)."""
    table.overwrite(_mk(spark, [(1, 5, D1, "v5"), (2, 1, D2, "x")]))

    # stale batch (sequence 3 < live 5) must NOT regress id=1, but must
    # still insert the unseen id=3; same-sequence replay converges
    table.merge(
        _mk(spark, [(1, 3, D1, "v3"), (3, 3, D2, "new")]),
        key="id",
        order_col="sequence",
        order_aware=True,
    )
    assert _rows(table.read().select("id", "sequence", "payload")) == [
        (1, 5, "v5"),
        (2, 1, "x"),
        (3, 3, "new"),
    ]

    # newer batch still wins, and replaying it bit-identically is a no-op
    for _ in range(2):
        table.merge(
            _mk(spark, [(1, 7, D1, "v7")]),
            key="id",
            order_col="sequence",
            order_aware=True,
        )
        assert _rows(table.read().select("id", "sequence", "payload")) == [
            (1, 7, "v7"),
            (2, 1, "x"),
            (3, 3, "new"),
        ]

    # contrast: the default by-arrival mode DOES resurrect the stale row
    table.merge(
        _mk(spark, [(1, 3, D1, "v3")]), key="id", order_col="sequence"
    )
    assert _rows(table.read().select("id", "payload"))[0] == (1, "v3")


def test_merge_order_aware_partition_migration(spark, table):
    """A key whose newest row moved partitions must end up ONLY in the
    winning row's partition, whichever side (current or incoming) wins."""
    table.overwrite(_mk(spark, [(1, 5, D2, "newer-in-d2")]))
    # stale incoming targets D1: both partitions rewritten, row stays in D2
    table.merge(
        _mk(spark, [(1, 2, D1, "stale-in-d1")]),
        key="id",
        order_col="sequence",
        order_aware=True,
    )
    assert _rows(table.read().select("id", "sequence", "payload")) == [
        (1, 5, "newer-in-d2")
    ]
    live = _live(table)
    assert "created_date=2024-01-01" not in live  # no stale-row partition
    # and the mirror case: newer incoming moves the row D2 -> D1
    table.merge(
        _mk(spark, [(1, 9, D1, "newest-in-d1")]),
        key="id",
        order_col="sequence",
        order_aware=True,
    )
    assert _rows(table.read().select("id", "payload")) == [(1, "newest-in-d1")]
    live = _live(table)
    assert "created_date=2024-01-02" not in live


def test_merge_order_aware_same_sequence_duplicate_keys_deterministic(
    spark, table
):
    """ADVICE r8: two incoming rows sharing (key, order_col) must produce
    the SAME winner on every replay — the window adds a content-hash
    tie-break, so the surviving row is a pure function of the data, not of
    task scheduling."""
    table.overwrite(_mk(spark, [(9, 1, D1, "seed")]))
    dup_batch = _mk(
        spark, [(1, 4, D1, "alpha"), (1, 4, D1, "beta"), (1, 4, D1, "gamma")]
    )
    table.merge(dup_batch, key="id", order_col="sequence", order_aware=True)
    first = _rows(table.read().filter("id = 1").select("id", "payload"))
    assert len(first) == 1
    # replaying the identical batch (fresh shuffle, fresh task order) must
    # keep the exact same winner, and repeating N times stays stable
    for _ in range(3):
        table.merge(
            dup_batch, key="id", order_col="sequence", order_aware=True
        )
        assert (
            _rows(table.read().filter("id = 1").select("id", "payload"))
            == first
        )


def _parquet_files(root):
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def test_cluster_write_gate_rows_identical_fewer_files(
    spark, tmp_path, monkeypatch
):
    """r18 size-gated clustered write (guide §6 small-files): forcing the
    gate on must hash-cluster rows by partition value — one file per value
    per commit instead of (tasks x values) shards — with byte-identical
    table contents; the default 256m threshold leaves the small-corpus
    regime (and the bench) untouched."""
    rows = [
        (i, 1, D1 if i % 2 else D2, f"p{i}") for i in range(200)
    ]
    # parquet-backed batch: the gate reads the optimizer's size estimate,
    # which is only real for file-backed plans (RDD-backed frames carry
    # the Long.MaxValue default and must never engage the gate)
    _mk(spark, rows).repartition(8).write.parquet(str(tmp_path / "src"))
    batch = spark.read.parquet(str(tmp_path / "src"))
    # disable AQE's small-partition coalescing for BOTH writes: at test
    # scale it collapses the tiny shuffle to one task (masking the
    # many-files regime this gate exists for); a real wide write keeps
    # many tasks per partition value
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        plain = TxnTable(
            spark, str(tmp_path / "plain"), partition_source="created_at"
        )
        plain.merge(batch, key="id", order_col="sequence")
        monkeypatch.setattr(txn_table, "_CLUSTER_WRITE_BYTES", 1)
        gated = TxnTable(
            spark, str(tmp_path / "gated"), partition_source="created_at"
        )
        gated.merge(batch, key="id", order_col="sequence")
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
    cols = ["id", "sequence", "payload"]
    assert _rows(gated.read().select(*cols)) == _rows(
        plain.read().select(*cols)
    )
    n_plain = len(_parquet_files(str(tmp_path / "plain")))
    n_gated = len(_parquet_files(str(tmp_path / "gated")))
    # 2 partition values -> exactly 2 files when clustered; the plain
    # write shards each value across the 8 input tasks
    assert n_gated == 2, n_gated
    assert n_plain > n_gated, (n_plain, n_gated)
