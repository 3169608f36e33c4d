"""One benchmark run in one process: set up, run the timed loop, report.

Started by ``run.py`` with the environment pinned; prints human-readable
lines and, last, one JSON object. See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402
from spans import TRACER  # noqa: E402

CHECK_SCALE = 0.1
# These return ~1e5 rows, which compare() canonicalises in Python (~8 s each
# at sf0.1, too long for a run): checked at sf0.01, then warmed at sf0.1.
SMALL_CHECK = frozenset({"sessionize_events", "window_running_revenue",
                         "ts_trailing_7d_stats"})


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least 10 samples
    beyond it, and never below p50. A run's sample count is fixed by its
    workload and ``--seconds``, so the percentile is too."""
    pct = max(50.0, 100.0 * (1 - 10 / len(values)))
    return pct, float(np.percentile(values, pct))


def reset_peaks(spark) -> None:
    """Start the peaks that ``memory_mb`` reads afresh (at the first timed
    operation, so the untimed oracle check's memory is not counted)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")  # resets this process's VmHWM to its current RSS
    for pool in spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getMemoryPoolMXBeans():
        pool.resetPeakUsage()


def memory_mb(spark) -> dict[str, float]:
    """Memory since ``reset_peaks``, in MiB: this process's peak resident set
    (VmHWM, /proc), the JVM's peak used heap and non-heap memory (sums of its
    memory pools' peaks), and its live heap (used heap after full GCs, made
    here, after the last timed operation)."""
    with open("/proc/self/status") as f:
        py_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    peaks = {"HEAP": 0, "NON_HEAP": 0}
    for pool in mf.getMemoryPoolMXBeans():
        peaks[pool.getType().name()] += pool.getPeakUsage().getUsed()
    # two full GCs: Spark's ContextCleaner drops the broadcasts and shuffles
    # whose handles the first one freed, and the second reclaims them
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    live = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return {"python_peak": py_kb / 1024.0, "heap_peak": peaks["HEAP"] / 2**20,
            "non_heap_peak": peaks["NON_HEAP"] / 2**20, "live_heap": live / 2**20}


def stolen_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs (the
    steal column of /proc/stat): host contention, which slows every timing."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class SparkStats:
    """Job counts per job group and stage metrics from the status store."""

    FIELDS = ("stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def set_group(self, group):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)
        return prev

    def collect(self, group: str) -> dict:
        """{"jobs": n, <FIELDS>...} over every job tagged ``group``."""
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = len(jobs)
        store = self.jsc.statusStore()
        seen = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
        return out


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class OracleClock:
    """Times the oracle side of ``plans.oracle.compare`` (the DuckDB
    connection and query, and canonicalising both results) by rebinding
    ``duckdb_connection`` and ``_canonical`` in that module while installed."""

    def __init__(self):
        self.s = 0.0

    def timed(self, fn, wrap=None):
        def call(*a, **k):
            t = time.perf_counter()
            try:
                out = fn(*a, **k)
            finally:
                self.s += time.perf_counter() - t
            return wrap(out) if wrap else out
        return call

    @contextlib.contextmanager
    def installed(self, oracle):
        clock = self

        class Con:  # a DuckDB connection whose calls are timed
            def __init__(self, con):
                self._con = con

            def __getattr__(self, name):
                return clock.timed(getattr(self._con, name),
                                   lambda out: self if out is self._con else out)

        saved = oracle.duckdb_connection, oracle._canonical
        oracle.duckdb_connection = self.timed(saved[0], Con)
        oracle._canonical = self.timed(saved[1])
        try:
            yield self
        finally:
            oracle.duckdb_connection, oracle._canonical = saved


class Run:
    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.spark_stats: dict[str, dict] = {}
        self.stats = None

    # -- bookkeeping -------------------------------------------------------

    def record(self, kind: str, seconds: float) -> None:
        self.lat.setdefault(kind, []).append(seconds)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(f"FAIL {what}")
        print(f"FAIL {what}", flush=True)
        if sys.exc_info()[0] is not None:
            traceback.print_exc()

    def gather(self, req: int, groups) -> None:
        """Fold Spark job/stage metrics of request ``req`` into the totals."""
        if not self.trace:
            return
        for g in groups:
            got = self.stats.collect(f"{req}|{g}")
            acc = self.spark_stats.setdefault(g, dict.fromkeys(got, 0.0))
            for k, v in got.items():
                acc[k] += v

    # -- query workloads ---------------------------------------------------

    def check_queries(self, spark, names, sf_dirs) -> float:
        """Untimed oracle check, which is also the warm pass that pays
        codegen. Returns the seconds spent on the benchmark's side of the
        check (DuckDB, canonicalising rows, and the whole check of a query
        checked at sf0.01), which set-up time leaves out."""
        from mandoline_hbase_spark.plans import oracle
        from mandoline_hbase_spark.queries.catalog import QUERIES

        clock = OracleClock()
        with clock.installed(oracle):
            for name in names:
                scale = 0.01 if name in SMALL_CHECK else CHECK_SCALE
                self.attempted += 1
                t = time.perf_counter()
                try:
                    if scale != CHECK_SCALE:
                        force(QUERIES[name].fn(spark, sf_dirs[CHECK_SCALE]))  # warm pass
                    before, t_check = clock.s, time.perf_counter()
                    res = oracle.compare(spark, sf_dirs[scale], QUERIES[name].fn,
                                         QUERIES[name].oracle)
                    if scale != CHECK_SCALE:  # a check only: none of it warms sf0.1
                        clock.s = before + time.perf_counter() - t_check
                except Exception as e:  # noqa: BLE001
                    self.fail(f"check {name}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                if not res["values_match"]:
                    self.fail(f"check {name} at sf{scale:g}: oracle mismatch "
                              f"(rows {res['rows_spark']} vs {res['rows_duck']})")
                elif scale != CHECK_SCALE:
                    self.notes.append(f"{name} checked at sf{scale:g}: 1e5-row result")
                print(f"  check {name} sf{scale:g} match={res['values_match']} "
                      f"{time.perf_counter() - t:.2f}s", flush=True)
        return clock.s

    def run_queries(self, spark, names, sf_dir) -> float:
        from mandoline_hbase_spark.queries.catalog import QUERIES

        rounds = wl.query_rounds(names, self.args.seed,
                                 max(1, self.args.seconds // wl.QUERY_ROUND_SECONDS))
        req = 0
        for order in rounds:
            for name in order:
                TRACER.request = req
                start = time.perf_counter()
                try:
                    with TRACER.span("op.query"):
                        with TRACER.span("queries.build", group="build"):
                            df = QUERIES[name].fn(spark, sf_dir)
                        if self.trace:
                            with TRACER.span("catalyst.plan"):
                                df._jdf.queryExecution().executedPlan()
                        with TRACER.span("exec", group="exec"):
                            force(df)
                    self.record("op", time.perf_counter() - start)
                except Exception as e:  # noqa: BLE001
                    self.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                self.attempted += 1
                TRACER.request = -1
                self.gather(req, ("build", "sources", "operators", "exec"))
                req += 1
        return sum(self.lat.get("op", []))

    # -- store workload ----------------------------------------------------

    def setup_store(self, spark, work):
        from mandoline_hbase_spark import mk_schema, storage

        # Index records carry a process-local sequence number that defaults
        # to the clock. Starting it past any clock value makes it a plain
        # counter, so the compacted index log compresses to the same bytes
        # on every run and the space metrics repeat exactly.
        storage._SEQ_STATE["last"] = wl.SEQ_BASE

        self.ops = wl.store_ops(self.args.seed,
                                int(wl.STORE_OPS_PER_SECOND * self.args.seconds))
        first = wl.initial_array(self.args.seed)
        self.shadow = wl.Shadow(first, self.ops)
        schema = mk_schema({"root": "perfbench.example.com", "base_path": work}, spark=spark)
        schema.create_dataset("slabs")
        self.conn = schema.connect("slabs")
        self.conn.write_variable("v", first, chunk_shape=wl.CHUNK, version_id=wl.VERSION_BASE)
        self.user_bytes = first.nbytes
        self.update_bytes = 0
        # warm the read path and the Spark plans of scans and compaction
        # (reads change nothing; compacting one fresh commit is a no-op rewrite)
        self.conn.read_region("v", wl.box(np.random.default_rng(0), wl.READ))
        self.conn.tidy_view("v", spark=spark, region=((0, 64), (0, 64))).count()
        self.conn.compact_chunks(spark)
        self.conn.compact_indices(spark)

    def store_files(self) -> int:
        return sum(spans.parquet_files(self.conn._dirs[t]) for t in ("chunks", "indices"))

    def run_store(self, spark) -> float:
        conn, shadow = self.conn, self.shadow
        self.maintenance_s = 0.0
        req = 0
        for op in self.ops:
            kind = op["kind"]
            TRACER.request = req
            try:
                if kind == "update":
                    data = wl.slab(op["data_seed"])
                    start = time.perf_counter()
                    with TRACER.span("op.update"):
                        conn.update_region("v", data, (op["region"][0][0], op["region"][1][0]),
                                           version_id=wl.VERSION_BASE + op["commit"])
                    self.record("commit", time.perf_counter() - start)
                    shadow.update(op, data)
                    self.user_bytes += data.nbytes
                    self.update_bytes += data.nbytes
                elif kind in ("read", "snapshot"):
                    version = None if kind == "read" else wl.VERSION_BASE + op["commit"]
                    start = time.perf_counter()
                    with TRACER.span(f"op.{kind}"):
                        got = conn.read_region("v", op["region"], version=version)
                    self.record(kind, time.perf_counter() - start)
                    want = shadow.expect(op["region"], None if kind == "read" else op["commit"])
                    if not np.array_equal(got, want):
                        self.fail(f"op {req} {kind} {op['region']}: differs from shadow model")
                elif kind == "scan":
                    start = time.perf_counter()
                    with TRACER.span("op.scan"):
                        df = conn.tidy_view("v", spark=spark, region=op["region"])
                        with TRACER.span("exec", group="exec"):
                            n = df.count()
                    self.record("scan", time.perf_counter() - start)
                    (r0, r1), (c0, c1) = op["region"]
                    if n != (r1 - r0) * (c1 - c0):
                        self.fail(f"op {req} scan {op['region']}: {n} cells")
                else:
                    before = self.store_files()
                    start = time.perf_counter()
                    with TRACER.span("op.maintain"):
                        conn.compact_chunks(spark)
                        conn.compact_indices(spark)
                    self.maintenance_s += time.perf_counter() - start
                    TRACER.count("maintenance.files_before", before)
                    TRACER.count("maintenance.files_after", self.store_files())
            except Exception as e:  # noqa: BLE001
                self.fail(f"op {req} {kind}: {type(e).__name__}: {str(e)[:200]}")
            if kind != "maintain":
                self.attempted += 1
            TRACER.request = -1
            self.gather(req, ("exec", "maintenance"))
            req += 1
        return sum(sum(v) for v in self.lat.values()) + self.maintenance_s

    def stored_bytes(self) -> int:
        total = 0
        for d, _, files in os.walk(self.conn.dataset_dir):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total


def e2e_metrics(ops: list[float], setup_s: float, wall: float, mem: dict) -> dict:
    """What a caller sees: set-up, throughput, per-op latency, memory. The
    memory figure leaves out the JVM's peak heap, which is mostly garbage
    awaiting collection and follows G1's pause-time-driven sizing: it moved
    up to 2x between runs of one workload (see ``jvm.heap_peak_mb``)."""
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / wall, "1/s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (tail(ops)[1], "s"),
        "peak_rss_mb": (mem["python_peak"] + mem["non_heap_peak"] + mem["live_heap"], "MB"),
    }


def store_metrics(run: Run) -> dict:
    """store-slabs latencies by kind, maintenance time and space use
    (zeros on the query workloads, which make no store operations)."""
    def p50(kind):
        v = run.lat.get(kind)
        return statistics.median(v) if v else 0.0

    def tl(kind):
        v = run.lat.get(kind)
        return tail(v)[1] if v else 0.0

    user = getattr(run, "user_bytes", 0)
    return {
        "commit_p50_s": (p50("commit"), "s"),
        "commit_tail_s": (tl("commit"), "s"),
        "read_p50_s": (p50("read"), "s"),
        "read_tail_s": (tl("read"), "s"),
        "snapshot_read_p50_s": (p50("snapshot"), "s"),
        "scan_view_p50_s": (p50("scan"), "s"),
        "maintenance_s": (getattr(run, "maintenance_s", 0.0), "s"),
        "stored_bytes_per_user_byte": (run.stored_bytes() / user if user else 0.0, "ratio"),
    }


def layer_metrics(run: Run, spark_s: float, mem: dict) -> dict:
    """Per-layer metrics from the spans of timed requests."""
    sp = TRACER.spans
    selfs = spans.self_times(sp)
    dur: dict[str, float] = {}
    calls: dict[str, int] = {}
    self_dur: dict[str, float] = {}
    timed = [i for i, s in enumerate(sp) if s[4] >= 0]
    for i in timed:
        name = sp[i][0]
        if name.startswith("operators."):
            name = "operators"
        dur[name] = dur.get(name, 0.0) + sp[i][2] - sp[i][1]
        calls[name] = calls.get(name, 0) + 1
        self_dur[name] = self_dur.get(name, 0.0) + selfs[i]
    roots = [i for i in timed if sp[i][3] < 0]
    op_wall = sum(sp[i][2] - sp[i][1] for i in roots)
    covered = op_wall - sum(selfs[i] for i in roots)  # op time inside child spans
    c = TRACER.counters
    st = run.spark_stats
    z = dict.fromkeys(SparkStats.FIELDS + ("jobs",), 0.0)
    ex, b, so, op, mt = (st.get(k, z) for k in ("exec", "build", "sources", "operators",
                                                "maintenance"))
    store_ops = sum(len(run.lat.get(k, [])) for k in ("commit", "read", "snapshot", "scan"))
    appended = c.get("storage.append.bytes", 0)
    written = getattr(run, "update_bytes", 0)
    # measured, but a lower bound: the tracer's own code and the Catalyst
    # probe, not the interpreter's call overhead or cache effects
    overhead = TRACER.overhead + dur.get("catalyst.plan", 0.0)
    return {
        "session.get_spark_s": (spark_s, "s"),
        "sources.load_table.calls": (calls.get("sources.load_table", 0), "count"),
        "sources.load_table.s": (dur.get("sources.load_table", 0.0), "s"),
        "sources.load_table.jobs": (so["jobs"], "count"),
        "queries.build_s": (self_dur.get("queries.build", 0.0), "s"),
        "queries.build_jobs": (b["jobs"], "count"),
        "build.stages": (b["stages"] + so["stages"] + op["stages"], "count"),
        "build.task_run_s": (b["task_run_s"] + so["task_run_s"] + op["task_run_s"], "s"),
        "operators.calls": (calls.get("operators", 0), "count"),
        "operators.s": (dur.get("operators", 0.0), "s"),
        "operators.jobs": (op["jobs"], "count"),
        "catalyst.plan_s": (dur.get("catalyst.plan", 0.0), "s"),
        "exec.s": (dur.get("exec", 0.0), "s"),
        "exec.jobs": (ex["jobs"], "count"),
        "exec.stages": (ex["stages"], "count"),
        "exec.tasks": (ex["tasks"], "count"),
        "exec.task_run_s": (ex["task_run_s"], "s"),
        "exec.task_cpu_s": (ex["task_cpu_s"], "s"),
        "exec.cpu_per_run": (ex["task_cpu_s"] / ex["task_run_s"] if ex["task_run_s"] else 0.0,
                             "ratio"),
        "exec.shuffle_read_bytes": (ex["shuffle_read_bytes"], "bytes"),
        "exec.shuffle_write_bytes": (ex["shuffle_write_bytes"], "bytes"),
        "exec.spill_bytes": (ex["spill_bytes"], "bytes"),
        "exec.input_bytes": (ex["input_bytes"], "bytes"),
        "engine.update_region.s": (dur.get("engine.update_region", 0.0), "s"),
        "engine.read_region.s": (dur.get("engine.read_region", 0.0), "s"),
        "engine.resolve_chunk_map.calls": (calls.get("engine.resolve_chunk_map", 0), "count"),
        "engine.resolve_chunk_map.s": (dur.get("engine.resolve_chunk_map", 0.0), "s"),
        "engine.tidy_view.s": (dur.get("engine.tidy_view", 0.0), "s"),
        "chunkstore.read_chunk.calls": (calls.get("chunkstore.read_chunk", 0), "count"),
        "chunkstore.reads_per_op": (calls.get("chunkstore.read_chunk", 0) / store_ops
                                    if store_ops else 0.0, "ratio"),
        "chunkstore.read_chunk.s": (dur.get("chunkstore.read_chunk", 0.0), "s"),
        "chunkstore.write_chunks_bulk.s": (dur.get("chunkstore.write_chunks_bulk", 0.0), "s"),
        "index.write_index_bulk.s": (dur.get("index.write_index_bulk", 0.0), "s"),
        "codec.encode_s": (dur.get("codec.encode", 0.0), "s"),
        "codec.decode_s": (dur.get("codec.decode", 0.0), "s"),
        "codec.hash_s": (dur.get("codec.hash", 0.0), "s"),
        "storage.scan.calls": (calls.get("storage.scan", 0), "count"),
        "storage.scan.s": (dur.get("storage.scan", 0.0), "s"),
        "storage.files_per_scan": (c.get("storage.scan.files", 0) / calls["storage.scan"]
                                   if calls.get("storage.scan") else 0.0, "ratio"),
        "storage.append.calls": (calls.get("storage.append", 0), "count"),
        "storage.append.bytes": (appended, "bytes"),
        "storage.write_amp": (appended / written if written else 0.0, "ratio"),
        "storage.lock_wait_s": (c.get("storage.lock_wait_s", 0.0), "s"),
        "storage.commit_version_row.s": (dur.get("storage.commit_version_row", 0.0), "s"),
        "maintenance.compact_chunks.s": (dur.get("maintenance.compact_chunks", 0.0), "s"),
        "maintenance.compact_indices.s": (dur.get("maintenance.compact_indices", 0.0), "s"),
        "maintenance.jobs": (mt["jobs"], "count"),
        "maintenance.files_before": (c.get("maintenance.files_before", 0), "count"),
        "maintenance.files_after": (c.get("maintenance.files_after", 0), "count"),
        "python.peak_rss_mb": (mem["python_peak"], "MB"),
        "jvm.heap_peak_mb": (mem["heap_peak"], "MB"),
        "jvm.non_heap_peak_mb": (mem["non_heap_peak"], "MB"),
        "jvm.live_heap_mb": (mem["live_heap"], "MB"),
        "trace.overhead_frac": (overhead / op_wall if op_wall else 0.0, "frac"),
        "trace.coverage_frac": (covered / op_wall if op_wall else 0.0, "frac"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at launch")
    args = ap.parse_args()
    run = Run(args)

    from mandoline_hbase_spark.queries.catalog import QUERIES  # noqa: F401  (registers all)
    from mandoline_hbase_spark.session import get_spark

    if run.trace:
        spans.install()
    t = time.perf_counter()
    sf_dirs = {s: corpus.ensure_corpus(os.path.dirname(args.work), s) for s in (0.1, 0.01)}
    corpus_s = time.perf_counter() - t
    t = time.perf_counter()
    conf = {"spark.ui.showConsoleProgress": "false"}
    if run.trace:  # keep every job's stages for SparkStats
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark_s = time.perf_counter() - t
    if run.trace:
        run.stats = SparkStats(spark)
        TRACER.set_group = run.stats.set_group
    check_s = 0.0
    try:
        if args.workload == wl.STORE_WORKLOAD:
            run.setup_store(spark, os.path.join(args.work, "store"))
        else:
            names = wl.QUERY_WORKLOADS[args.workload]
            check_s = run.check_queries(spark, names, sf_dirs)
        setup_s = time.monotonic() - args.t0 - corpus_s - check_s
        reset_peaks(spark)
        steal = stolen_s()
        if args.workload == wl.STORE_WORKLOAD:
            wall = run.run_store(spark)
        else:
            wall = run.run_queries(spark, names, sf_dirs[0.1])
        steal = stolen_s() - steal
        mem = memory_mb(spark)
    finally:
        spark.stop()

    ops = [x for k in ("op", "commit", "read", "snapshot", "scan") for x in run.lat.get(k, [])]
    pct = tail(ops)[0]
    e2e = e2e_metrics(ops, setup_s, wall, mem)
    store = store_metrics(run)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} ops={len(ops)} "
          f"wall_s={wall:.3f} tail=p{pct:.4g} over n={len(ops)} corpus_s={corpus_s:.3f} "
          f"check_s={check_s:.3f} (both left out of setup_s) steal_s={steal:.2f}")
    for k, (v, u) in {**e2e, "fail_frac": (run.failed / run.attempted, "frac"),
                      **store}.items():
        print(f"  {k} = {v:.6g} {u}")
    for n in run.notes:
        print(f"  note: {n}")
    if run.trace:
        metrics = {**layer_metrics(run, spark_s, mem), **store}
        out = os.path.join(os.path.dirname(args.work), "traces",
                           f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": TRACER.spans,
                       "counters": TRACER.counters, "spark": run.spark_stats}, f)
        print(f"  trace written to {os.path.relpath(out, ROOT)}")
    else:
        metrics = e2e
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
