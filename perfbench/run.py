"""Benchmark of the changeset store: bulk ingest and replicate-while-serving.

Run from the repository root:

    env SPARK_GRAFT_CPUS=4 SPARK_GRAFT_DRIVER_MEM=2g \
        python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the timed region untraced, traced
(spans and Spark's event log on) and untraced again, then probes the parser
and (on ``bulk_ingest``) the operator registry, and reports the per-layer
metrics instead.  See README.md in this directory for the workloads, metrics
and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

# perfbench/ is on sys.path as the script's directory; the engine and
# storeq.py (which imports it) are imported only after main() has checked
# that the working directory is a repository root.
import gen
import opsdata
from spans import SpanStages, Tracer, parse_event_logs, totals

# Sizes, chosen so that one run takes about a minute on a 4-core host.
BULK_CHANGESETS = 8_000
BULK_PARTS = 4
WARMUP_SHARE = 4  # bulk_ingest warms up on every 4th changeset of its dump
BASE_CHANGESETS = 6_000
DIFF_CHANGESETS = 60
CATCHUP_DIFFS = 3
FIRST_SEQ = 1_000
SETUP_REPS = 2  # set-ups per run, each launching a new JVM
WARMUP_ITERATIONS = 2  # untimed iterations before the timed region
MIN_ITERATIONS = 3  # timed iterations, at least
TRACE_PASSES = ("untraced", "traced", "untraced")
TRACE_ITERATIONS = 1  # timed iterations per pass of a traced run; keeps it under two minutes
OP_WARM_PASSES = 1  # warm passes of the operator probe, after its cold one


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far: stolen ticks are those
    the hypervisor ran another guest on one of this machine's CPUs."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return sum(t), t[7]


def _rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _tree_stats(table_dir: str) -> tuple[int, int, int]:
    """(parquet files, bytes, partitions) of a store table."""
    files = nbytes = 0
    parts = set()
    for root, _dirs, names in os.walk(table_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
                parts.add(root)
    return files, nbytes, len(parts)


def _file_set(table_dir: str) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for d in os.listdir(table_dir):
        p = os.path.join(table_dir, d)
        if os.path.isdir(p):
            out[d] = {n for n in os.listdir(p) if n.endswith(".parquet")}
    return out


def _plan_s(df) -> float:
    """Catalyst analysis + optimisation + planning time of a collected frame."""
    phases = df._jdf.queryExecution().tracker().phases()
    ms = 0
    for ph in ("analysis", "optimization", "planning"):
        o = phases.get(ph)
        if o.isDefined():
            ms += o.get().durationMs()
    return ms / 1000


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, work: str) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = Tracer(False)
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")
        self.samples: dict[str, list[float]] = {}
        self.counters: dict[str, list[float]] = {}
        self.query_spans: list[tuple[int, float, float, float]] = []  # span, build, plan, exec
        self.op_spans: list[tuple[str, int, float]] = []  # warm operator runs: query, span, build
        self.last_answer: tuple = (0, 0)
        self.last_op: tuple = (None, None)

    # -- session ------------------------------------------------------------
    def start_session(self, event_log: bool = False) -> float:
        """Start a session (and the JVM, when none is running), with Spark's
        event log on when ``event_log``; returns the seconds it took."""
        from changesetmd_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            # the heap starts at full size, so its growth does not drift
            # timings within a run
            "spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"],
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        return time.perf_counter() - t0

    def restart(self, event_log: bool) -> None:
        """A new session in the running JVM."""
        self.stop_session()
        self.start_session(event_log)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.tracer.sc = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited; the
        next ``start_session`` launches a new JVM, as a CLI invocation does."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    # -- bookkeeping ----------------------------------------------------------
    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def count(self, key: str, value: float) -> None:
        self.counters.setdefault(key, []).append(value)

    def check(self, what: str, got, want) -> bool:
        """Count one attempted operation; a wrong answer is a failed one."""
        self.attempted += 1
        if got != want:
            self.failed += 1
            print(f"WRONG {what}: got {repr(got)[:300]} want {repr(want)[:300]}", file=sys.stderr)
            return False
        return True

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    # -- engine operations ----------------------------------------------------
    def bulk_load(self, root: str, src: str, label: str) -> tuple[object, int, float]:
        from changesetmd_spark.sinks.store import ChangesetStore

        tr = self.tracer
        store = ChangesetStore(self.spark, root)
        with tr.op(label):
            t0 = time.perf_counter()
            tr.call("sinks.store.create", store.create)
            n = tr.call("sinks.store.bulk_load", store.bulk_load, src, start_sequence=FIRST_SEQ - 1)
            dt = time.perf_counter() - t0
        self.sample(label, dt)
        return store, n, dt

    def query_mix(self, store, params, model) -> None:
        """Open the store once, as a server does after each commit, then run
        the nine store queries; time each, then check each.  The open plus
        the nine queries is one ``query_mix`` sample, when none threw."""
        import storeq

        tr = self.tracer
        want = model.answers(params)
        try:
            with tr.op("store.open"):
                t0 = time.perf_counter()
                cs = tr.call("sinks.store.changesets", store.changesets)
                mix, whole = [time.perf_counter() - t0], True
                self.sample("store.open", mix[0])
        except Exception:
            self.fail("store open")
            return
        for name in storeq.QUERIES:
            try:
                with tr.op(f"query.{name}") as span:
                    t0 = time.perf_counter()
                    df = tr.call("store_reads.build", storeq.build, name, cs, params)
                    t1 = time.perf_counter()
                    rows = tr.call("store_reads.collect", df.collect)
                    t2 = time.perf_counter()
                self.sample("query_s", t2 - t0)
                mix.append(t2 - t0)
                if tr.enabled:
                    self.query_spans.append((span.sid, t1 - t0, _plan_s(df), t2 - t1))
            except Exception:
                self.fail(f"query {name}")
                whole = False
                continue
            got = storeq.normalise(name, rows)
            self.check(f"query {name}", got, want[name])
            self.last_answer = (got, want[name])
        if whole:
            self.sample("query_mix", sum(mix))

    def check_digest(self, store, model, what: str) -> None:
        import storeq

        try:
            got = storeq.digest(store.changesets())
        except Exception:
            self.fail(f"digest {what}")
            return
        self.check(f"digest {what}", got, model.digest())

    def selfcheck(self) -> bool:
        """Corrupted copies of the last checked store answer and of the last
        checked operator result must each be counted as failed; the counts
        are restored afterwards."""
        cases = [(_corrupt(got), want) for got, want in (self.last_answer, self.last_op) if want is not None]
        a, f = self.attempted, self.failed
        caught = all([not self.check("self-check, a mismatch is expected", bad, want) for bad, want in cases])
        self.attempted, self.failed = a, f
        return caught

    # -- traced probes ----------------------------------------------------------
    def parse_probe(self, src: str, label: str) -> None:
        """``read_changeset_xml`` → ``normalize_changesets`` into a noop sink."""
        from changesetmd_spark.sources.xml_source import normalize_changesets, read_changeset_xml

        tr = self.tracer
        with tr.op(label):
            t0 = time.perf_counter()
            df = tr.call("sources.xml_source", lambda: normalize_changesets(read_changeset_xml(self.spark, src)))
            tr.call("sinks.noop", df.write.format("noop").mode("overwrite").save)
            self.sample(label, time.perf_counter() - t0)

    def operator_probe(self, sf_dir: str, want: dict[str, dict]) -> None:
        """Registry builders on the operator tables: a cold pass in a new JVM,
        then ``OP_WARM_PASSES`` warm passes; every result is checked."""
        from changesetmd_spark import registry

        tr = self.tracer
        builders = registry.queries()
        for p in range(1 + OP_WARM_PASSES):
            total = 0.0
            for name in opsdata.QUERIES:
                try:
                    with tr.op(f"ops.{name}") as span:
                        t0 = time.perf_counter()
                        df = tr.call("registry.build", builders[name], self.spark, sf_dir)
                        t1 = time.perf_counter()
                        rows = tr.call("operators.collect", df.collect)
                        total += time.perf_counter() - t0
                except Exception:
                    self.fail(f"operator {name}")
                    continue
                if p:
                    self.op_spans.append((name, span.sid, t1 - t0))
                got = opsdata.spark_answer(df, rows)
                self.check(f"operator {name}", got, want[name])
                self.last_op = (got, want[name])
            self.sample("ops.warm" if p else "ops.cold", total)

    def instrument_store(self) -> None:
        """Wrap the names ``sinks/store.py`` imports, so the product path
        ``ChangesetStore.replicate`` is the one measured."""
        import changesetmd_spark.sinks.store as store_mod

        for name, layer in (
            ("read_replication_batch", "sources.replication"),
            ("upsert_parquet", "sinks.upsert"),
        ):
            fn = getattr(store_mod, name)
            setattr(store_mod, name, self.tracer.wrap(layer, getattr(fn, "__wrapped__", fn)))


def _corrupt(got):
    """A wrong copy of a checked answer."""
    if isinstance(got, int):
        return got + 1
    if isinstance(got, tuple):
        return (got[0] + 1, *got[1:])
    if isinstance(got, dict):  # an operator result
        return {**got, "rows": got["rows"][:-1] or [[0]]}
    return got[:-1] if got else [(0, 1)]


# -- workloads ----------------------------------------------------------------


class Workload:
    """Inputs are made once per run; ``prepare`` runs after every session
    start of the set-up and creates a fresh store, as the CLI does first;
    ``warmup`` runs ``WARMUP_ITERATIONS`` untimed iterations; ``loop`` is the
    timed region; ``rebind`` reopens the stores on a restarted session.

    The timed region is a fixed amount of work, so both sides of an A/B
    comparison measure the same operations: ``--seconds`` divided by the
    nominal time of one iteration on a 4-core host."""

    primary = ""  # sample key of the workload's main write
    iteration_s = 6.5  # nominal seconds of one timed iteration
    operator_probe = False  # whether the traced run probes the registry

    def __init__(self, bench: Bench) -> None:
        self.bench = bench
        self.stores = os.path.join(bench.work, "stores")

    def _make_inputs(self, n: int, diffs: int) -> None:
        b = self.bench
        self.generator = gen.Generator(b.seed, n)
        self.dump = self.generator.dump()
        self.backlog = self.generator.diffs(self.dump, diffs, DIFF_CHANGESETS) if diffs else []
        self.plain, self.bz2 = gen.write_dump(self.dump, os.path.join(b.work, "in"), BULK_PARTS)
        self.paths = gen.write_diffs(self.backlog, os.path.join(b.work, "diffs"), FIRST_SEQ)
        self.qrng = random.Random(b.seed * 31 + len(self.backlog))

    def iterations(self) -> int:
        return max(MIN_ITERATIONS, round(self.bench.seconds / self.iteration_s))

    def prepare(self, i: int) -> None:
        from changesetmd_spark.sinks.store import ChangesetStore

        shutil.rmtree(self.stores, ignore_errors=True)
        self.created = ChangesetStore(self.bench.spark, os.path.join(self.stores, f"setup{i}"))
        self.created.create()
        self.model = gen.StoreModel(self.dump)

    def warmup(self) -> None:
        """Untimed iterations at full size, so class loading and most JIT
        compilation happen before timing."""
        self.loop(WARMUP_ITERATIONS)

    def params(self):
        return gen.QueryParams.draw(self.qrng, self.generator.users, gen.DUMP_DAYS)


class BulkIngest(Workload):
    """Fresh-store bulk loads of one dump, plain and bz2 in turn; the query
    mix runs on each freshly loaded plain store."""

    primary = "load.plain"
    operator_probe = True

    def serving(self):
        """The store the query mix last ran on, and the model it matches."""
        return self.last, self.last_model

    def inputs(self) -> None:
        self._make_inputs(BULK_CHANGESETS, 0)
        # the same days, hence the same store partitions, with less data
        part = self.dump[::WARMUP_SHARE]
        self.inputs_by_size = {
            "full": (self.plain, self.bz2, self.dump),
            "warm-up": (*gen.write_dump(part, os.path.join(self.bench.work, "warm-up"), BULK_PARTS), part),
        }

    def use(self, size: str) -> None:
        self.plain, self.bz2, self.dump = self.inputs_by_size[size]
        self.model = gen.StoreModel(self.dump)

    def prepare(self, i: int) -> None:
        super().prepare(i)
        self.last = None
        self.i = 0

    def warmup(self) -> None:
        """The first, coldest, untimed iteration runs on a sample of the
        dump: the same code paths and store partitions with a quarter of
        the data, so it costs less; the others at full size, because the
        first full-size loads of a JVM are still slow."""
        self.use("warm-up")
        self.loop(1)
        self.use("full")
        self.loop(WARMUP_ITERATIONS - 1)

    def rebind(self) -> None:
        from changesetmd_spark.sinks.store import ChangesetStore

        if self.last is not None:
            self.last = ChangesetStore(self.bench.spark, self.last.root)

    def loop(self, iterations: int) -> None:
        b = self.bench
        for _ in range(iterations):
            self.i += 1
            i = self.i
            for src, label in ((self.plain, "load.plain"), (self.bz2, "load.bz2")):
                root = os.path.join(self.stores, f"{label}-{i}")
                try:
                    store, n, dt = b.bulk_load(root, src, label)
                except Exception:
                    b.fail(label)
                    continue
                b.check(f"{label} rows", n, len(self.dump))
                b.check_digest(store, self.model, label)
                if label == "load.bz2":
                    shutil.rmtree(root)
                    continue
                if self.last is not None:
                    shutil.rmtree(self.last.root)
                self.last, self.last_model = store, self.model
            if self.last is not None:
                b.query_mix(self.last, self.params(), self.model)

    def summary(self) -> dict:
        bz = self.bench.samples.get("load.bz2", [])
        return {
            "write_s_p50": _median(self.bench.samples.get("load.plain", [])),
            "batch_rows_per_s": len(self.dump) / _median(bz) if bz else 0.0,
            "table_dir": self.last.table_dir,
            "rows": len(self.model.rows),
        }


class ReplicateServe(Workload):
    """One-diff replication cycles, each followed by the query mix and by a
    multi-diff catch-up, on a store bulk-loaded into the set-up's store
    before the warm-up.  That bulk load is ``bulk_ingest``'s timed operation,
    so here it is untimed."""

    primary = "replicate.one"

    def serving(self):
        return self.store, self.model

    def inputs(self) -> None:
        # enough diffs for the warm-up and for every pass of a traced run
        cycles = WARMUP_ITERATIONS + max(self.iterations(), len(TRACE_PASSES) * TRACE_ITERATIONS)
        self._make_inputs(BASE_CHANGESETS, cycles * (1 + CATCHUP_DIFFS))
        self.diff_bytes = {s: os.path.getsize(p) for s, p in self.paths.items()}

    def prepare(self, i: int) -> None:
        super().prepare(i)
        self.store = self.created
        self.seq = FIRST_SEQ - 1
        self.catchup_rate: list[float] = []

    def warmup(self) -> None:
        try:
            n = self.store.bulk_load(self.plain, start_sequence=FIRST_SEQ - 1)
        except Exception:
            self.bench.fail("base load")
            raise
        self.bench.check("base load rows", n, len(self.dump))
        super().warmup()

    def rebind(self) -> None:
        from changesetmd_spark.sinks.store import ChangesetStore

        self.store = ChangesetStore(self.bench.spark, self.store.root)
        self.catchup_rate = []

    def _replicate(self, target: int, label: str) -> float | None:
        """Catch up to ``target``; check the diff count, advance the model,
        and return the call's seconds (None when it threw)."""
        b = self.bench
        tr = b.tracer
        try:
            with tr.op(label):
                t0 = time.perf_counter()
                applied = tr.call("sinks.store.replicate", self.store.replicate, target, self.paths.__getitem__)
                dt = time.perf_counter() - t0
        except Exception:
            b.fail(f"{label} to {target}")
            return None
        b.sample(label, dt)
        b.check(f"{label} diffs applied", applied, target - self.seq)
        for s in range(self.seq + 1, target + 1):
            self.model.apply(self.backlog[s - FIRST_SEQ])
        self.seq = target
        return dt

    def loop(self, iterations: int) -> None:
        """Each iteration: one one-diff cycle followed by the query mix, then
        a catch-up of ``CATCHUP_DIFFS`` diffs in one replicate call, so both
        kinds of sample are spread over the whole timed region."""
        b = self.bench
        if self.seq < FIRST_SEQ:
            b.check_digest(self.store, self.model, "base store")
        for _ in range(iterations):
            seq = self.seq + 1
            before = _file_set(self.store.table_dir) if b.tracer.enabled else None
            dt = self._replicate(seq, "replicate.one")
            if dt is None:
                return
            if before is not None:
                self._count_rewrite(before, seq)
            b.check("watermark", self.store.state()["last_sequence"], seq)
            b.query_mix(self.store, self.params(), self.model)

            target = self.seq + CATCHUP_DIFFS
            rows = sum(len(self.backlog[s - FIRST_SEQ]) for s in range(self.seq + 1, target + 1))
            dt = self._replicate(target, "replicate.catchup")
            if dt is None:
                return
            self.catchup_rate.append(rows / dt)
            b.check_digest(self.store, self.model, f"after catch-up to {target}")

    def _count_rewrite(self, before: dict, seq: int) -> None:
        after = _file_set(self.store.table_dir)
        changed = [d for d in set(before) | set(after) if before.get(d) != after.get(d)]
        new_bytes = sum(
            os.path.getsize(os.path.join(self.store.table_dir, d, f))
            for d in after
            for f in after[d] - before.get(d, set())
        )
        self.bench.count("upsert_partitions_rewritten", len(changed))
        self.bench.count("upsert_rewrite_bytes_per_diff_byte", new_bytes / self.diff_bytes[seq])

    def summary(self) -> dict:
        return {
            "write_s_p50": _median(self.bench.samples.get("replicate.one", [])),
            "batch_rows_per_s": _median(self.catchup_rate),
            "table_dir": self.store.table_dir,
            "rows": len(self.model.rows),
        }


WORKLOADS = {"bulk_ingest": BulkIngest, "replicate_serve": ReplicateServe}


def set_up(bench: Bench, w: Workload) -> tuple[list[float], list[float]]:
    """``SETUP_REPS`` set-ups, each a new JVM and session plus the workload's
    own preparation; returns (set-up seconds, session-start seconds)."""
    setup, session = [], []
    for i in range(SETUP_REPS):
        bench.shutdown()
        t0 = time.perf_counter()
        session.append(bench.start_session())
        w.prepare(i)
        setup.append(time.perf_counter() - t0)
    log(f"set-up {[round(x, 3) for x in setup]}, session start {[round(x, 3) for x in session]}")
    return setup, session


def finish(bench: Bench, w: Workload) -> dict:
    """The workload's summary plus the store's size on disk."""
    r = w.summary()
    r["store_files"], nbytes, r["store_partitions"] = _tree_stats(r["table_dir"])
    r["store_bytes_per_changeset"] = nbytes / r["rows"]
    return r


def _samples_json(bench: Bench) -> str:
    return json.dumps({k: [round(x, 3) for x in v] for k, v in bench.samples.items()})


def traced_run(bench: Bench, w: Workload, work: str) -> dict:
    """``TRACE_ITERATIONS`` iterations of the timed region three times on the
    warm JVM: untraced, traced, untraced, each in a new session after one
    untimed query mix.  The traced pass runs with spans and Spark's event
    log on and is followed by the parse probes; the workload's main write in
    the traced pass over the mean of the two untraced passes is the tracing
    overhead.  With ``operator_probe``, the registry probe follows in a new
    JVM."""
    bench.instrument_store()
    primary, kept = [], {}
    for mode in TRACE_PASSES:
        traced = mode == "traced"
        bench.restart(event_log=traced)
        w.rebind()
        store, model = w.serving()
        bench.query_mix(store, w.params(), model)
        bench.samples = {}
        bench.tracer.enabled = traced
        w.loop(TRACE_ITERATIONS)
        log(f"{mode} pass done: {_samples_json(bench)}")
        primary.append(_median(bench.samples.get(w.primary, [])))
        if traced:
            for src, label in ((w.plain, "parse.plain"), (w.bz2, "parse.bz2")):
                bench.parse_probe(src, label)
            kept, r = bench.samples, finish(bench, w)
            bench.samples = {}
        bench.tracer.enabled = False
    r["rss_mb"] = _rss_mb(bench.jvm_pid()) + _rss_mb("self")
    untraced = (primary[0] + primary[2]) / 2
    r["trace_overhead_ratio"] = primary[1] / untraced if untraced else 0.0
    bench.samples = kept
    if w.operator_probe:
        sf_dir = opsdata.write_tables(bench.seed, os.path.join(work, "ops"))
        oracles = opsdata.Oracles(sf_dir, os.path.join(os.path.dirname(work), "oracle-cache"))
        from changesetmd_spark import registry

        sql = registry.oracles()
        want = {name: oracles.answer(sql[name]) for name in opsdata.QUERIES}
        log("operator oracles ready")
        bench.shutdown()
        bench.start_session(event_log=True)
        bench.tracer.enabled = True
        bench.operator_probe(sf_dir, want)
        bench.tracer.enabled = False
        log(f"operator probe done: {_samples_json(bench)}")
    bench.stop_session()  # flushes the event log
    return r


# -- reporting ------------------------------------------------------------------


def end_to_end(bench: Bench, r: dict, setup: list[float]) -> dict:
    return {
        "setup_s": (_median(setup), "s"),
        "write_s_p50": (r["write_s_p50"], "s"),
        "batch_rows_per_s": (r["batch_rows_per_s"], "1/s"),
        "query_mix_s_p50": (_median(bench.samples.get("query_mix", [])), "s"),
        "store_bytes_per_changeset": (r["store_bytes_per_changeset"], "B"),
    }


def per_layer(bench: Bench, r: dict, session: list[float], stages: dict[int, SpanStages]) -> dict:
    tr = bench.tracer

    def rec(spans):
        return totals([stages[s.sid] for s in spans if s.sid in stages])

    def subtree(s):
        return [s, *tr.descendants(s)]

    ops = [s for s in tr.spans if s.parent is None]
    out: dict[str, tuple[float, str]] = {}
    out["session_start_s"] = (_median(session), "s")

    # sources.xml_source: the parse alone, into a noop sink, for both forms
    for key, label in (("xml_parse", "parse.plain"), ("xml_parse_bz2", "parse.bz2")):
        spans = tr.by_name(label)
        t = rec([x for s in spans for x in subtree(s)])
        out[f"{key}_s"] = (_median(bench.samples.get(label, [])), "s")
        out[f"{key}_tasks"] = (t.tasks / max(1, len(spans)), "count")
        out[f"{key}_task_cpu_s"] = (t.task_cpu_s / max(1, len(spans)), "s")

    # sinks.store: bulk write = bulk_load minus its parse
    loads = bench.samples.get("load.plain", [])
    out["bulk_write_s"] = (max(0.0, _median(loads) - out["xml_parse_s"][0]) if loads else 0.0, "s")
    out["store_files"] = (r["store_files"], "count")
    out["store_partitions"] = (r["store_partitions"], "count")
    out["store_open_s"] = (_median(bench.samples.get("store.open", [])), "s")

    # sources.replication and sinks.upsert, per replicate call
    calls = [tr.descendants(s) for s in ops if s.name.startswith("replicate.")]
    for key, layer in (("repl_read_s", "sources.replication"), ("upsert_s", "sinks.upsert")):
        out[key] = (_median([sum(s.dur for s in kids if s.name == layer) for kids in calls]), "s")
    upsert_spans = tr.by_name("sinks.upsert")
    up = rec([x for s in upsert_spans for x in subtree(s)])
    n_up = max(1, len(upsert_spans))
    out["upsert_jobs"] = (up.jobs / n_up, "count")
    out["upsert_stages"] = (up.stages / n_up, "count")
    out["upsert_single_task_stage_share"] = (
        up.single_task_stage_s / up.stage_wall_s if up.stage_wall_s else 0.0, "ratio")
    out["upsert_partitions_rewritten"] = (_mean(bench.counters.get("upsert_partitions_rewritten", [])), "count")
    out["upsert_rewrite_bytes_per_diff_byte"] = (
        _mean(bench.counters.get("upsert_rewrite_bytes_per_diff_byte", [])), "ratio")

    # store reads: Python build, Catalyst phases, execution, jobs, tasks
    qs = bench.query_spans
    qrec = [rec(subtree(tr.spans[sid])) for sid, *_ in qs]
    out["query_build_s"] = (_median([b for _, b, _, _ in qs]), "s")
    out["query_plan_s"] = (_median([p for _, _, p, _ in qs]), "s")
    out["query_exec_s"] = (_median([e for _, _, _, e in qs]), "s")
    out["query_jobs"] = (_mean([x.jobs for x in qrec]), "count")
    out["query_tasks"] = (_mean([x.tasks for x in qrec]), "count")

    # the traced store pass as a whole: where the wall time went
    timed = [s for s in ops if s.name.startswith(("load.", "replicate.", "query.", "store."))]
    _suite(out, "", rec, subtree, timed)

    # registry / operators.*: the warm passes of the operator probe
    cold, warm = bench.samples.get("ops.cold", []), bench.samples.get("ops.warm", [])
    out["ops_cold_pass_s"] = (_median(cold), "s")
    out["ops_pass_s"] = (_median(warm), "s")
    for name in opsdata.QUERIES:
        runs = [(tr.spans[sid], b) for q, sid, b in bench.op_spans if q == name]
        recs = [(s, rec(subtree(s))) for s, _ in runs]
        out[f"{name}.build_s"] = (_median([b for _, b in runs]), "s")
        out[f"{name}.outside_stage_s"] = (_median([max(0.0, s.dur - t.stage_busy_s) for s, t in recs]), "s")
        out[f"{name}.single_task_stage_s"] = (_median([t.single_task_stage_s for _, t in recs]), "s")
        out[f"{name}.task_cpu_s"] = (_median([t.task_cpu_s for _, t in recs]), "s")
    _suite(out, "ops_", rec, subtree, [tr.spans[sid] for _, sid, _ in bench.op_spans], len(warm))

    # every top-level operation's wall time is covered by the spans of the
    # engine calls it makes; this is the largest share that is not
    out["unattributed_share"] = (max((tr.self_time(s) / s.dur for s in ops if s.dur > 0), default=0.0), "ratio")
    out["peak_rss_mb"] = (r["rss_mb"], "MB")
    out["trace_overhead_ratio"] = (r["trace_overhead_ratio"], "ratio")
    return out


def _suite(out: dict, prefix: str, rec, subtree, spans: list, passes: int = 1) -> None:
    """Suite-wide stage statistics over ``spans`` (per pass for the byte
    counts)."""
    wall = sum(s.dur for s in spans)
    t = rec([x for s in spans for x in subtree(s)])
    out[f"{prefix}outside_stage_share"] = (max(0.0, 1 - t.stage_busy_s / wall) if wall else 0.0, "ratio")
    out[f"{prefix}tasks_per_stage"] = (t.tasks / t.stages if t.stages else 0.0, "count")
    out[f"{prefix}single_task_stage_share"] = (
        t.single_task_stage_s / t.stage_wall_s if t.stage_wall_s else 0.0, "ratio")
    if not prefix:
        out["task_cpu_per_wall"] = (t.task_cpu_s / wall if wall else 0.0, "ratio")
    out[f"{prefix}shuffle_write_bytes"] = (t.shuffle_write_bytes / max(1, passes), "B")
    out[f"{prefix}spill_bytes"] = (t.spill_bytes / max(1, passes), "B")


def _write_trace(bench: Bench, stages: dict[int, SpanStages], path: str) -> None:
    """Keep the traced run's spans, each with what Spark did for it, for
    offline analysis; the run's work directory itself is deleted."""
    with open(path, "w") as f:
        json.dump([
            {"id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": bench.tracer.self_time(s),
             **vars(stages.get(s.sid) or SpanStages())}
            for s in bench.tracer.spans
        ], f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "changesetmd_spark", "__init__.py")):
        print("perfbench: run from the repository root (changesetmd_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # The engine's Python workers and Spark's scratch space both live in the
    # checkout; these must be set before the JVM starts.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, root)

    bench = Bench(args.workload, args.seed, args.seconds, work)
    w = WORKLOADS[args.workload](bench)
    try:
        w.inputs()
        log("inputs written")
        setup, session = set_up(bench, w)
        w.warmup()
        log(f"warm-up done: {_samples_json(bench)}")
        bench.samples.clear()
        if args.trace:
            r = traced_run(bench, w, work)
            stages = parse_event_logs(bench.event_dir)
            metrics = per_layer(bench, r, session, stages)
            _write_trace(bench, stages, os.path.join(
                root, ".perfbench_work", f"trace-{args.workload}-{args.seed}.json"))
        else:
            k0 = _ticks()
            w.loop(w.iterations())
            k1 = _ticks()
            # a noisy run shows here: CPU time the hypervisor gave other guests
            log(f"timed region done, {(k1[1] - k0[1]) / max(1, k1[0] - k0[0]):.1%} of CPU ticks stolen: "
                f"{_samples_json(bench)}")
            metrics = end_to_end(bench, finish(bench, w), setup)
        selfcheck_ok = bench.selfcheck()
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    log("done")
    print(json.dumps({
        "correct": bench.failed == 0 and selfcheck_ok,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
