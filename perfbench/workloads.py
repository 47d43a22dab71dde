"""The two workloads. Each is a closed loop in one process: the next
replay, stream epoch or query starts when the previous one returns.

Both report the same end-to-end metrics, in CPU time of the process tree
(this process, the Spark JVM and its Python workers) because wall time on a
shared host swings with hypervisor steal (README.md maps them per workload
and says why):
  rows_per_cpu_s  input rows per CPU-second of the main write or query path
  step_cpu_ms     CPU of one step: a stream epoch, or building one query
  read_cpu_s      CPU of reading the results back
and the same paths in wall-clock time for reading.
Each runs untimed warm-up rounds (cold plans and JIT), then whole timed
rounds until `seconds` have passed. A timed round's outputs are checked
before the next round starts; a failed gate ends the run.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

import check
import gen
import trace

BUCKETS = 32
# replay: two large batches, so the data path (scan, shuffle, LWW window,
# normalize, parquet write) dominates. Measured warm on a 4-core host, the
# process tree spends ~7 CPU-s per replay of 2 batches whatever their size,
# plus ~29 CPU-us per event: per-event work is ~2/3 of the CPU at ~430k
# events, but ~1/5 at ~55k (README.md). The warm-up replays this same feed:
# after a warm-up on an eighth of it, the first full replay still spent ~8
# of its ~28 CPU-s in the JIT compiler.
REPLAY_FEED = gen.FeedSize(n_convs=24000, n_hot=24, hot_turns=(1500, 3000), n_batches=2, files_per_batch=4)
# tail: many small epochs (one file each), so per-batch fixed cost dominates
TAIL_FEED = gen.FeedSize(n_convs=400, n_hot=2, hot_turns=(800, 1600), n_batches=4, files_per_batch=1)
# warm-up for the tail: the same code paths on two small epochs
TAIL_WARM_FEED = gen.FeedSize(n_convs=100, n_hot=1, hot_turns=(200, 400), n_batches=2, files_per_batch=1)
TAIL_CHANGES_VERSIONS = 2  # read_changes over the last few versions
TABLES = gen.TableSize(docs=2000, events=20000, users=600)
# query -> tables it reads (for rows_per_cpu_s): the two operators with an open
# optimisation item (fit_bpe's per-merge jobs, ccnet_buckets scoring twice)
# and the diff classifier. The run-time budget of the whole benchmark leaves
# room for no more (README.md).
QUERIES = {
    "bpe_train_merges": ["documents"],
    "ccnet_bucket_counts": ["documents"],
    "diff_status": ["events"],
}


@dataclass
class Bench:
    spark: Any
    seed: int
    seconds: float
    work_dir: str
    t_start: float  # perf_counter at process start
    start_s: float  # get_spark wall
    tracer: trace.Tracer | None
    break_expectation: str | None  # the gate to make trip (run.GATES)
    inputs: dict[str, Future] = field(default_factory=dict)  # made while Spark starts
    phases: list[tuple[str, float, float]] = field(default_factory=list)  # traced run
    window_t0: float = 0.0  # wall clock (time.time) at the start of the timed window
    setup_s: float = 0.0
    setup_cpu_s: float = 0.0
    cpu_start: float = 0.0  # tree_cpu_s() at process start
    input_cpu_s: float = 0.0  # CPU of the thread that makes inputs and expectations

    def path(self, *p: str) -> str:
        return os.path.join(self.work_dir, *p)

    def rounds(self, one_round: Callable[[int], None], least: int = 1) -> int:
        """Run whole rounds until `seconds` have passed and at least `least`
        rounds have run; returns the count."""
        self.setup_s = time.perf_counter() - self.t_start
        # the benchmark's own input and oracle work is not the program's set-up
        self.setup_cpu_s = tree_cpu_s() - self.cpu_start - self.input_cpu_s
        self.window_t0 = time.time()
        if self.tracer:
            self.tracer.reset()
        t0, n = time.perf_counter(), 0
        while n < least or time.perf_counter() - t0 < self.seconds:
            one_round(n)
            n += 1
        return n

    @contextmanager
    def phase(self, name: str):
        """Traced run: spans and stages that start inside belong to `name`."""
        t = time.time()
        try:
            yield
        finally:
            self.phases.append((name, t, time.time()))

    def expect(self, gate: str, rows):
        """The expected state of `gate`, one row dropped if the run was
        asked to break that gate."""
        return check.drop_row(rows) if self.break_expectation == gate else rows

    def untraced(self):
        """Checks read the table too; keep their calls out of the spans."""
        return self.tracer.paused() if self.tracer else nullcontext()


@dataclass
class Result:
    e2e: dict[str, float]  # process-tree CPU metrics (see README.md for why not wall)
    wall: dict[str, float]  # the same paths in wall-clock time, printed for reading
    attempted: int
    # traced run: computes the per-layer metrics once Spark has stopped and
    # the event log is complete
    layers: Callable[[], dict[str, float]] | None = None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (the `cpu` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process tree: this
    process, its live descendants (the Spark JVM, the PySpark daemon and its
    Python workers) and every child they have reaped. Other processes on the
    host and time the hypervisor gave to other guests (steal) are not
    counted."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:  # exited while listing
            continue
        # after "(comm) ": state ppid ... utime(11) stime cutime cstime(14)
        fields = s[s.rindex(")") + 2 :].split()
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / _TICK


def settle(spark) -> None:
    """Collect garbage in Python and the JVM before a measured call, so
    that garbage left by earlier calls and checks is not collected, and
    counted, inside it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _costed(spark, fn: Callable[[], Any]) -> tuple[float, float, Any]:
    """(wall seconds, CPU seconds of the process tree, result) of fn(),
    measured from a settled heap."""
    settle(spark)
    c, t = tree_cpu_s(), time.perf_counter()
    out = fn()
    return time.perf_counter() - t, tree_cpu_s() - c, out


# --------------------------------------------------------------------------
# cdc: bulk replay, then a microbatch tail with merge-on-read reads
# --------------------------------------------------------------------------
def cdc(b: Bench) -> Result:
    from datachain_spark.cdc.apply import replay_feed_dir
    from datachain_spark.cdc.stream import run_stream

    spark = b.spark
    samples: dict[str, list[float]] = {}
    epochs: list[float] = []
    last: dict[str, Any] = {}

    def replay(feed_dir: str, root: str) -> dict[str, Any]:
        wall, cpu, (table, _) = _costed(
            spark,
            lambda: replay_feed_dir(spark, root, feed_dir, job_id="bulk", num_buckets=BUCKETS)
        )
        return {"table": table, "replay_wall": wall, "replay_cpu": cpu}

    def tail(feed_dir: str, root: str) -> dict[str, Any]:
        wall, cpu, (table, metrics) = _costed(
            spark,
            lambda: run_stream(spark, root, feed_dir, root + "-ckpt", job_id="tail", num_buckets=BUCKETS)
        )
        return {"table": table, "metrics": metrics, "tail_wall": wall, "tail_cpu": cpu}

    def reads(replay_table, tail_table, keys: dict[str, list[str]]) -> dict[str, Any]:
        """The read mix: bulk state read, then the tail table's full read,
        point reads and changelog read, each from a settled heap."""
        since = max(0, tail_table.current_version() - TAIL_CHANGES_VERSIONS)
        replay_full, c_replay, _ = _costed(spark, lambda: _noop(replay_table.read(spark)))
        full, c_full, _ = _costed(spark, lambda: _noop(tail_table.read(spark)))
        got, key_walls, c_keys = {}, [], 0.0
        for kind, convs in keys.items():
            w, c, got[kind] = _costed(spark, lambda: tail_table.read_keys(spark, convs).collect())
            key_walls.append(w)
            c_keys += c
        changes, c_changes, _ = _costed(spark, lambda: tail_table.read_changes(spark, since).count())
        return {
            "got": got,
            "read_cpu": c_replay + c_full + c_keys + c_changes,
            "read": replay_full + full + sum(key_walls) + changes,
            "replay_full": replay_full,
            "tail_full": full,
            "tail_keys": statistics.median(key_walls),
            "tail_changes": changes,
        }

    # the warm-up round runs while the expected states are still being made
    replay_feed = b.inputs["replay-feed"].result()
    warm_feed = b.inputs["tail-warm-feed"].result()
    reads(
        replay(b.path("replay-feed"), b.path("warm-replay"))["table"],
        tail(b.path("tail-warm-feed"), b.path("warm-tail"))["table"],
        {"hot": warm_feed.hot_convs, "cold": warm_feed.cold_convs},
    )
    shutil.rmtree(b.path("warm-replay"))
    tail_feed = b.inputs["tail-feed"].result()
    replay_rows, _ = b.inputs["replay"].result()
    tail_rows, key_rows = b.inputs["tail"].result()
    keys = {"hot": tail_feed.hot_convs, "cold": tail_feed.cold_convs}

    def one_round(i: int) -> None:
        with b.phase("replay"):
            r = replay(b.path("replay-feed"), b.path(f"replay{i}"))
        with b.phase("tail"):
            t = tail(b.path("tail-feed"), b.path(f"tail{i}"))
        with b.phase("read"):
            rd = reads(r["table"], t["table"], keys)
        with b.untraced():
            check.expect_equal(
                "replay state", check.state_table(r["table"].read(spark)), b.expect("replay", replay_rows)
            )
            check.expect_equal("tail state", check.state_table(t["table"].read(spark)), b.expect("tail", tail_rows))
            for kind, rows in rd["got"].items():
                check.expect_equal(
                    f"tail read_keys({kind})", check.collected_table(rows), b.expect("keys", key_rows[kind])
                )
            check.expect_equal(
                "tail read_changes(0, HEAD) resolved",
                check.resolve_changes(t["table"].read_changes(spark, 0)),
                b.expect("changes", tail_rows),
            )
            n_epochs = tail_feed.n_files + (b.break_expectation == "ledger")
            check.expect_ledger(t["table"].ledger_rows(), "tail", n_epochs)
        for k, v in (kv for d in (r, t, rd) for kv in d.items()):
            if isinstance(v, float):
                samples.setdefault(k, []).append(v)
        epochs.extend(m["seconds"] for m in t["metrics"])
        last.update(replay=r["table"], tail=t["table"], metrics=t["metrics"])
        if i > 0:  # keep only the last round's tables on disk
            for d in (f"replay{i - 1}", f"tail{i - 1}", f"tail{i - 1}-ckpt"):
                shutil.rmtree(b.path(d), ignore_errors=True)

    n = b.rounds(one_round)
    med = {k: statistics.median(v) for k, v in samples.items()}

    e2e = {
        "rows_per_cpu_s": replay_feed.n_delivered / med["replay_cpu"],
        "step_cpu_ms": 1000 * med["tail_cpu"] / tail_feed.n_files,
        "read_cpu_s": med["read_cpu"],
    }
    wall = {
        "rows_per_s": replay_feed.n_delivered / med["replay_wall"],
        "step_ms": 1000 * statistics.median(epochs),
        "read_s": med["read"],
    }

    def layers() -> dict[str, float]:
        tr = b.tracer
        out = {"session.start_s": b.start_s}
        out.update(cdc_layers(b, "replay", last["replay"], replay_feed, b.path("replay-feed"), n))
        out.update(cdc_layers(b, "tail", last["tail"], tail_feed, b.path("tail-feed"), n))
        replay_busy = sum(
            s["end"] - s["start"]
            for s in _in_phase(b, "replay", tr.spans)
            if s["name"] in ("apply", "lake.drain_compaction")
        )
        tail_apply = sum(s["end"] - s["start"] for s in _in_phase(b, "tail", tr.of("apply")))
        read_spans = _in_phase(b, "read", tr.spans)
        for phase, kinds in (("replay", ["read"]), ("tail", list(trace.READ_KINDS))):
            root = last[phase].root
            for kind in kinds:
                calls = [s for s in read_spans if s["name"] == f"lake.{kind}" and s["table"] == root]
                k = len(calls) or 1
                prefix = f"{phase}.{trace.READ_KINDS[kind]}"
                out[f"{prefix}.files_scanned"] = sum(s["files"] for s in calls) / k
                out[f"{prefix}.bytes_scanned"] = sum(s["bytes"] for s in calls) / k
        m = last["metrics"]
        out.update(
            {
                "replay.wall_share": replay_busy / sum(samples["replay_wall"]),
                "replay.read.full_s": med["replay_full"],
                "tail.read.full_s": med["tail_full"],
                "tail.read.keys_ms": 1000 * med["tail_keys"],
                "tail.read.changes_s": med["tail_changes"],
                "tail.stream.epochs": len(m),
                "tail.stream.overhead_s": med["tail_wall"] - tail_apply / n,
                "tail.stream.events_per_epoch_p50": statistics.median(
                    (x.get("spark_progress") or {}).get("numInputRows", 0) for x in m
                ),
            }
        )
        return out

    # replay batches, tail epochs, one bulk and four tail reads
    per_round = len(replay_feed.batch_events) + tail_feed.n_files + 5
    return Result(e2e, wall, attempted=n * per_round, layers=layers)


# --------------------------------------------------------------------------
# registry-queries
# --------------------------------------------------------------------------
def registry_queries(b: Bench) -> Result:
    import __spark_entry__ as entry

    spark = b.spark
    data = b.path("tables")
    counts = b.inputs["tables"].result()
    fns = entry.queries()
    # per query and pass: wall and CPU of build + collect, of build, and of collect
    per_query: dict[str, dict[str, list[float]]] = {q: {} for q in QUERIES}

    def run_pass(record: bool) -> None:
        for name in QUERIES:
            label = f"{trace.QUERY}{name}" if b.tracer else None
            with b.tracer.span("query", label=label) if b.tracer else nullcontext():
                build_s, build_cpu, df = _costed(spark, lambda: fns[name](spark, data))
                read_s, read_cpu, rows = _costed(spark, df.collect)
            if not record:
                continue
            check.expect_query(name, df.columns, rows, oracle[name])
            got = {
                "s": build_s + read_s, "build_s": build_s, "read_s": read_s,
                "cpu": build_cpu + read_cpu, "build_cpu": build_cpu, "read_cpu": read_cpu,
            }
            for k, v in got.items():
                per_query[name].setdefault(k, []).append(v)

    # two untimed passes: the JIT is still warming after the first, and a run
    # that fits only two timed passes would otherwise report a colder median
    run_pass(record=False)
    run_pass(record=False)
    oracle = b.inputs["oracle"].result()  # made while the warm-up ran
    # at least three timed passes: a run whose passes are slow enough to fit
    # only two would report the mean of two instead of a median
    n = b.rounds(lambda i: run_pass(record=True), least=3)
    rows_in = sum(counts[t] for tabs in QUERIES.values() for t in tabs)

    def per_pass(key: str) -> float:
        return statistics.median(sum(v[key][i] for v in per_query.values()) for i in range(n))

    # a step is building one query: plan construction plus the fitting jobs
    # that bpe and ccnet run while building (mean over the subset)
    e2e = {
        "rows_per_cpu_s": rows_in / per_pass("cpu"),
        "step_cpu_ms": 1000 * per_pass("build_cpu") / len(QUERIES),
        "read_cpu_s": per_pass("read_cpu"),
    }
    wall = {
        "rows_per_s": rows_in / per_pass("s"),
        "step_ms": 1000 * per_pass("build_s") / len(QUERIES),
        "read_s": per_pass("read_s"),
    }

    def layers() -> dict[str, float]:
        stages = _window_stages(b)
        out = {"session.start_s": b.start_s}
        for name, v in per_query.items():
            mine = [s for s in stages if s["label"] == f"{trace.QUERY}{name}"]
            out[f"query.{name}_s"] = statistics.median(v["s"])
            out[f"query.{name}.build_s"] = statistics.median(v["build_s"])
            out[f"query.{name}.jobs"] = len({s["job"] for s in mine}) / n
            out[f"query.{name}.shuffle_bytes"] = sum(s["shuffle_bytes"] for s in mine) / n
        return out

    return Result(e2e, wall, attempted=n * len(QUERIES), layers=layers)


WORKLOADS: dict[str, Callable[[Bench], Result]] = {
    "cdc": cdc,
    "registry-queries": registry_queries,
}


# --------------------------------------------------------------------------
# inputs, made in a background thread while Spark starts
# --------------------------------------------------------------------------
def prepare(name: str, b: Bench, pool: ThreadPoolExecutor) -> None:
    def submit(fn: Callable[..., Any], *a: Any) -> Future:
        return pool.submit(_input_cpu, b, fn, *a)

    if name == "registry-queries":
        b.inputs["tables"] = submit(gen.make_tables, b.seed, TABLES, b.path("tables"))
        b.inputs["oracle"] = submit(_oracle, b)
        return
    # the feeds first: the warm-up round needs them, the expected states
    # only the checks after the first timed round
    for name, seed, size in (
        ("tail-warm-feed", b.seed + 1, TAIL_WARM_FEED),
        ("replay-feed", b.seed, REPLAY_FEED),
        ("tail-feed", b.seed, TAIL_FEED),
    ):
        b.inputs[name] = submit(gen.make_feed, seed, size, b.path(name))
    for name in ("replay", "tail"):
        b.inputs[name] = submit(_expected, b.inputs[f"{name}-feed"])


def _input_cpu(b: Bench, fn: Callable[..., Any], *a: Any) -> Any:
    """fn(*a), adding its thread's CPU time to b.input_cpu_s (the pool has
    one worker)."""
    t = time.thread_time()
    try:
        return fn(*a)
    finally:
        b.input_cpu_s += time.thread_time() - t


def _expected(made: Future) -> tuple[Any, dict[str, Any]]:
    """The expected state of a feed already made, and the expected state of
    its hot and cold conversations (for read_keys), as canonical Arrow
    tables."""
    feed = made.result()
    exp = gen.expected_state(feed.events)
    keys = {"hot": feed.hot_convs, "cold": feed.cold_convs}
    key_rows = {k: check.frame_table(exp[exp["conv_id"].isin(v)]) for k, v in keys.items()}
    return check.frame_table(exp), key_rows


def _oracle(b: Bench) -> dict[str, tuple[list[str], list[tuple]]]:
    """DuckDB's results of the subset's oracle SQL on the tables already
    written, in canonical form."""
    import duckdb

    import __spark_entry__ as entry

    data = b.path("tables")
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in ("documents", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')")
        oracle = {q: check.duckdb_expected(con, sql[q]) for q in QUERIES}
    finally:
        con.close()
    if b.break_expectation == "query":  # the gate must trip: perturb one oracle row
        cols, rows = oracle["diff_status"]
        oracle["diff_status"] = (cols, [tuple("0" for _ in rows[0])] + rows[1:])
    return oracle


# --------------------------------------------------------------------------
# per-layer metrics (traced run)
# --------------------------------------------------------------------------
PHASE_LAYERS = [
    *(f"apply.{m}" for m in (
        "calls", "busy_s", "stage_s", "driver_s", "shuffle_bytes", "output_bytes", "task_skew",
        "rows_in", "rows_deleted", "rows_per_event", "skipped",
    )),
    *(f"lake.{m}" for m in (
        "commit.calls", "commit_s", "snapshot.calls", "snapshot_s", "compact.calls", "compact_s",
        "compact_bytes", "drain_wait_s", "versions", "manifest_bytes", "data_files", "data_bytes",
        "bytes_per_input_byte", "segments_per_bucket_max", "dirty_buckets", "bucket_rows_skew",
    )),
]
LAYER_METRICS = [
    "session.start_s",
    *(f"{p}.{m}" for p in ("replay", "tail") for m in PHASE_LAYERS),
    "replay.wall_share",
    "replay.read.full_s",
    "replay.read.full.files_scanned",
    "replay.read.full.bytes_scanned",
    *(f"tail.{p}.{m}" for p in trace.READ_KINDS.values() for m in ("files_scanned", "bytes_scanned")),
    "tail.read.full_s",
    "tail.read.keys_ms",
    "tail.read.changes_s",
    "tail.stream.epochs",
    "tail.stream.overhead_s",
    "tail.stream.events_per_epoch_p50",
    *(f"query.{q}{m}" for q in QUERIES for m in ("_s", ".build_s", ".jobs", ".shuffle_bytes")),
]


def _window_stages(b: Bench) -> list[dict[str, Any]]:
    return [s for s in trace.load_stages(b.path("eventlog")) if s["start"] >= b.window_t0]


def _in_phase(b: Bench, phase: str, items: list[dict[str, Any]]) -> list[dict[str, Any]]:
    wins = [(s, e) for name, s, e in b.phases if name == phase]
    return [x for x in items if any(s <= x["start"] <= e for s, e in wins)]


def cdc_layers(b: Bench, phase: str, table, feed: gen.Feed, feed_dir: str, n: int) -> dict[str, float]:
    """Per-layer metrics of one phase, per round (sums over the timed
    rounds divided by their count), plus end-state counts of the last
    round's table."""
    tr = b.tracer
    spans = _in_phase(b, phase, tr.spans)
    stages = _in_phase(b, phase, _window_stages(b))

    def named(name: str) -> list[dict[str, Any]]:
        return [s for s in spans if s["name"] == name]

    def busy(name: str) -> float:
        return sum(s["end"] - s["start"] for s in named(name))

    results = [s.get("result") or {} for s in named("apply")]
    app_st = [s for s in stages if s["label"].startswith(trace.APPLY)]
    cmp_st = [s for s in stages if s["label"] == trace.COMPACT]
    stage_s = trace.union_s([(s["start"], s["end"]) for s in app_st])
    write_tasks: dict[int, list[float]] = {}
    for s in app_st:
        if s["output_bytes"] > 0:  # the segment-write stage of each apply
            write_tasks.setdefault(s["job"], []).extend(s["task_ms"])
    rows_in = sum(r.get("rows_in", 0) for r in results)
    out = {
        "apply.calls": len(results) / n,
        "apply.busy_s": busy("apply") / n,
        "apply.stage_s": stage_s / n,
        "apply.driver_s": (busy("apply") - stage_s) / n,
        "apply.shuffle_bytes": sum(s["shuffle_bytes"] for s in app_st) / n,
        "apply.output_bytes": sum(s["output_bytes"] for s in app_st) / n,
        "apply.task_skew": statistics.median(trace.skew(t) for t in write_tasks.values()) if write_tasks else 1.0,
        "apply.rows_in": rows_in / n,
        "apply.rows_deleted": sum(r.get("rows_deleted", 0) for r in results) / n,
        "apply.rows_per_event": rows_in / (feed.n_delivered * n),
        "apply.skipped": sum(1 for r in results if "skipped" in r) / n,
        "lake.commit.calls": len(named("lake.commit")) / n,
        "lake.commit_s": busy("lake.commit") / n,
        "lake.snapshot.calls": len(named("lake.snapshot")) / n,
        "lake.snapshot_s": busy("lake.snapshot") / n,
        "lake.compact.calls": len(named("lake.compact")) / n,
        "lake.compact_s": busy("lake.compact") / n,
        "lake.compact_bytes": sum(s["output_bytes"] for s in cmp_st) / n,
        "lake.drain_wait_s": busy("lake.drain_compaction") / n,
    }
    with tr.paused():
        out.update(table_state(table, feed_dir))
    return {f"{phase}.{k}": v for k, v in out.items()}


def table_state(table, feed_dir: str) -> dict[str, float]:
    import pyarrow.parquet as pq

    snap = table.snapshot()
    vdir = os.path.join(table.root, "versions")
    manifests = [os.path.join(vdir, f) for f in os.listdir(vdir) if f.endswith(".json")]
    files = {b: [os.path.join(table.root, p) for p in fl] for b, fl in snap.buckets.items()}
    all_files = [f for fl in files.values() for f in fl]
    data_bytes = sum(os.path.getsize(f) for f in all_files)
    rows = {b: sum(pq.ParquetFile(f).metadata.num_rows for f in fl) for b, fl in files.items()}
    mean_rows = statistics.fmean(rows.values()) if rows else 0.0
    feed_bytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(feed_dir) for f in fs)
    return {
        "lake.versions": len(manifests),
        "lake.manifest_bytes": sum(os.path.getsize(m) for m in manifests),
        "lake.data_files": len(all_files),
        "lake.data_bytes": data_bytes,
        "lake.bytes_per_input_byte": data_bytes / feed_bytes,
        "lake.segments_per_bucket_max": max((len(fl) for fl in files.values()), default=0),
        "lake.dirty_buckets": sum(1 for v in snap.dirty.values() if v),
        "lake.bucket_rows_skew": max(rows.values()) / mean_rows if mean_rows else 0.0,
    }
