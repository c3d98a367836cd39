#!/usr/bin/env python3
"""sync2any_spark benchmark: one command, two workloads, oracle-checked.

    python3 perfbench/run.py --workload search|cdc --seed N --seconds S --trace 0|1

Run from the repository root. Every run starts Spark on ``local[nproc]``,
builds the corpus, serves the query stream on both query tiers, applies one
2,500-row CDC batch and compacts, checking every answer against
``sync2any_spark.oracle``. The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``
(spans around the engine calls plus Spark's event log). METHODOLOGY.md says
what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import gc
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from tracing import (  # noqa: E402
    MIN_TAIL,
    Tracer,
    attribute_jobs,
    job_rollup,
    median,
    percentile,
    rate,
    read_event_log,
    samples_beyond,
    self_times,
    subtree,
)

WORK = os.path.join(ROOT, ".bench_work")
# sized for a 4-core, 15 GB box shared with other tenants; never taken from
# SPARK_DRIVER_MEMORY
DRIVER_MEMORY = "3g"
MIN_TAIL_SAMPLES = 200  # p95 needs >= 10 samples beyond it
TOL = 1e-9
# a run that is still going this long after its inputs are ready stops
# itself, with its Spark app and children, instead of being killed
RUN_BUDGET_S = 150
ROUNDS = 2  # interleaved rounds of the timed query legs
LAPS = (
    "join_and_tombstones",
    "new_doc_ids",
    "term_deltas_and_stats",
    "delta_postings",
    "segment_writes",
)
E2E_UNITS = {
    "setup_s": "s",
    "build_turns_per_s": "turns/s",
    "index_bytes_per_source_byte": "ratio",
    "query_cpu_p50_ms": "ms",
    "query_cpu_p95_ms": "ms",
    "serving_p50_ms": "ms",
    "serving_p95_ms": "ms",
    "cdc_rows_per_s": "rows/s",
    "cdc_visible_p50_s": "s",
    "compact_s": "s",
    "driver_peak_rss_mb": "MB",
}


PER_LAYER_UNITS = {
    "session.empty_job_ms": "ms",
    "session.empty_task_ms": "ms",
    "tokenize.mb_per_s": "MB/s",
    "codec.encode_mpostings_per_s": "Mpostings/s",
    "codec.decode_mpostings_per_s": "Mpostings/s",
    "builder.segments_s": "s",
    "builder.terms_s": "s",
    "builder.postings_s": "s",
    "builder.force_merge_s": "s",
    "builder.spark_jobs": "count",
    "builder.tasks": "count",
    "builder.executor_cpu_s": "s",
    "builder.shuffle_write_mb": "MB",
    "builder.task_max_over_p50": "ratio",
    "builder.scaling_2_to_n": "ratio",
    **{f"incremental.{lap}_s": "s" for lap in LAPS},
    "incremental.spark_jobs_per_batch": "count",
    "incremental.store_rows_scanned_per_batch_row": "rows/row",
    "incremental.bytes_written_per_row": "B/row",
    "incremental.compact_spliced": "bool",
    "incremental.compact_rewritten_mb": "MB",
    "wand.open_s": "s",
    "wand.p50_ms": "ms",
    "wand.p95_ms": "ms",
    "wand.distributed_p50_ms": "ms",
    "wand.distributed_spark_jobs": "jobs/query",
    "wand.distributed_tasks": "tasks/query",
    "wand.distributed_shuffle_records": "records/query",
    "wand.distributed_shuffle_mb": "MB/query",
    "serving.open_s": "s",
    "serving.resident_mb": "MB",
    "serving.cpu_ms_p50": "ms",
    "serving.qps": "queries/s",
    "serving.qps_scaling": "ratio",
}


def layer_units() -> dict:
    """Every per-layer metric, then the traced-minus-untraced delta of
    every end-to-end metric (the tracing overhead)."""
    return {
        **PER_LAYER_UNITS,
        **{f"trace.delta.{k}": u for k, u in E2E_UNITS.items()},
    }


def build_params(cpus: int) -> dict:
    return dict(
        n_partitions=4 * cpus, n_buckets=16, n_salts=4, heavy_df_threshold=20_000,
        resume=False, input_split_mb=1, span_mb=4,
    )


def refuse_tuning_env() -> None:
    """Engine knobs must not move a number between commits."""
    bad = sorted(
        k for k in os.environ if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS"
    )
    if bad:
        sys.exit(f"refusing to run with engine tuning variables set: {', '.join(bad)}")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


@contextlib.contextmanager
def gc_paused():
    """Collect first, then keep the collector out of the timed loop."""
    gc.collect()
    gc.disable()
    try:
        yield
    finally:
        gc.enable()


class Checker:
    """Counts operations and oracle mismatches (the run's error rate)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"MISMATCH {what}", file=sys.stderr)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def answer(self, got, want, what: str) -> None:
        self.op(same_answer(got, [tuple(p) for p in want]), what)


def same_answer(got, want) -> bool:
    """Doc ids exact and scores within TOL. Docs whose oracle scores tie
    within TOL may come in either order; in the last tied group (cut at k)
    only the scores are compared, since either tied doc is a right answer."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > TOL for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and abs(want[j][1] - want[i][1]) <= TOL:
            j += 1
        if j < len(want) and {int(d) for d, _ in got[i:j]} != {d for d, _ in want[i:j]}:
            return False
        i = j
    return True


def prep_path(workload: str, seed: int) -> str:
    return os.path.join(WORK, "prep", f"{workload}-{seed}.json")


def run_prepare(workload: str, seed: int) -> dict:
    """Inputs and oracle answers, in a child process and cached per
    (corpus, workload, seed); never timed."""
    path = prep_path(workload, seed)
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        done = subprocess.run(
            [sys.executable, __file__, "--workload", workload, "--seed", str(seed), "--prepare"],
            cwd=ROOT, stdout=sys.stderr, timeout=600, preexec_fn=die_with_parent,
        )
        if done.returncode != 0:
            sys.exit(f"input preparation failed (exit {done.returncode})")
    with open(path) as f:
        return json.load(f)


PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36
# loaded up front: a preexec_fn must not import anything after the fork
LIBC = ctypes.CDLL(None)


def prctl(option: int, value: int) -> None:
    """Linux prctl(2); a no-op where libc has none."""
    fn = getattr(LIBC, "prctl", None)
    if fn is not None:
        fn.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
        fn.restype = ctypes.c_int
        fn(option, int(value), 0, 0, 0)


def become_subreaper() -> None:
    """Have orphaned descendants (the Python workers Spark forks, a killed
    child's JVM) re-parented to this process, so reap_children sees them."""
    prctl(PR_SET_CHILD_SUBREAPER, 1)


def die_with_parent() -> None:
    """preexec_fn of every child run: the kernel kills it if this process
    dies, even by SIGKILL. Its JVM then sees EOF on stdin and exits."""
    prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def exit_on_signal(signum, _frame) -> None:
    """TERM, HUP, INT and the run's own deadline (ALRM) unwind the stack, so
    every ``finally`` stops Spark and reaps children. Later signals are
    ignored until that is done."""
    for sig in EXIT_SIGNALS:
        signal.signal(sig, signal.SIG_IGN)
    os.write(2, f"stopping on signal {signal.Signals(signum).name}\n".encode())
    raise SystemExit(128 + signum)


EXIT_SIGNALS = (signal.SIGTERM, signal.SIGHUP, signal.SIGINT, signal.SIGALRM)


def child_pids() -> "list[int]":
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses; ppid follows it
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def reap_children(wait_s: float = 10.0, term_s: float = 5.0) -> None:
    """Return only when this process has no children left: wait for them
    to end, then TERM and finally KILL the ones that do not."""
    start = time.monotonic()
    while True:
        alive = []
        for pid in child_pids():
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                done = pid
            if not done:
                alive.append(pid)
        if not alive:
            return
        waited = time.monotonic() - start
        sig = None if waited < wait_s else signal.SIGTERM if waited < wait_s + term_s else signal.SIGKILL
        for pid in alive if sig else ():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.05)


def start_spark(cpus: int, run_dir: str, event_dir: "str | None"):
    from sync2any_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                # no zstandard module here to read the default compressed log
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def stop_spark(spark, clean: bool = True) -> None:
    """Stop the app and wait for its JVM to end. ``clean=False`` is the
    path out of an error or a signal, where the gateway may be mid-call:
    it skips the py4j calls and only closes the JVM's stdin."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if clean:
        spark.stop()
        gateway.shutdown()
    if proc is not None:  # the JVM exits on EOF of its stdin
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextlib.contextmanager
def spark_app(cpus: int, run_dir: str, event_dir: "str | None" = None):
    spark = start_spark(cpus, run_dir, event_dir)
    try:
        yield spark
    except BaseException:
        stop_spark(spark, clean=False)
        raise
    stop_spark(spark)


def warm_up(spark, index_dir: str, run_dir: str, batch_path: str, distributed: bool) -> None:
    """JIT and Python-worker warm-up for the later timed calls: the run's
    own CDC batch applied to a throwaway copy of the freshly built index,
    and one distributed query when the run times that route. A first apply
    took twice as long as the next and varied far more, so the timed apply
    is a second call on the same data."""
    import pandas as pd

    from sync2any_spark.query.wand import IndexSearcher
    from sync2any_spark.streaming.incremental import apply_increments

    idx = os.path.join(run_dir, "warm")
    shutil.copytree(index_dir, idx)
    batch = pd.read_parquet(batch_path)
    apply_increments(spark, idx, spark.createDataFrame(batch[inputs.CORPUS_COLS + ["op"]]))
    if distributed:
        IndexSearcher(spark, idx).search("w0001", 10, route="distributed")
    shutil.rmtree(idx, ignore_errors=True)


class Run:
    def __init__(self, args, cpus: int) -> None:
        self.args = args
        self.cpus = cpus
        self.seed = args.seed
        self.run_id = f"{os.getpid()}-{args.workload}-{args.seed}-{int(time.time())}"
        self.run_dir = os.path.join(WORK, "runs", self.run_id)
        self.tracer = Tracer(self.run_id, enabled=bool(args.trace))
        self.check = Checker()
        self.e2e: dict = {}
        self.layer: dict = {}

    # -- query legs ------------------------------------------------------
    def stream(self, prep: dict) -> "list[tuple[str, int]]":
        import numpy as np

        s = [tuple(q) for q in prep["stream"]]
        order = np.random.default_rng(self.seed).permutation(len(s))
        return [s[i] for i in order]

    def closed_loop(self, fn, queries, want, seconds: float, min_calls: int, name: str):
        """One client; runs for ``seconds`` and at least ``min_calls``
        calls. Returns (latencies s, cpu s)."""
        lat, cpu = [], []
        end = time.perf_counter() + seconds
        i = 0
        # whole passes only, so every query weighs the same in the percentiles
        while len(lat) < min_calls or time.perf_counter() < end or i % len(queries):
            q, k = queries[i % len(queries)]
            i += 1
            with self.tracer.span(name):
                c0, t0 = time.process_time(), time.perf_counter()
                got = fn(q, k)
                lat.append(time.perf_counter() - t0)
                cpu.append(time.process_time() - c0)
            self.check.answer(got, want[inputs.qkey(q, k)], f"{name} {q!r} k={k}")
        return lat, cpu

    def qps(self, fn, queries, want, seconds: float) -> "tuple[int, float]":
        """nproc closed-loop client threads for ``seconds``; returns
        (calls, wall s)."""
        from concurrent.futures import ThreadPoolExecutor

        def client(offset: int) -> int:
            n, end = 0, time.perf_counter() + seconds
            while time.perf_counter() < end:
                q, k = queries[(offset + n) % len(queries)]
                got = fn(q, k)
                self.check.answer(got, want[inputs.qkey(q, k)], f"qps {q!r} k={k}")
                n += 1
            return n

        with self.tracer.span("serving_qps"):
            t0 = time.perf_counter()
            with ThreadPoolExecutor(self.cpus) as ex:
                done = sum(ex.map(client, range(0, self.cpus * 7, 7)))
            return done, time.perf_counter() - t0

    def query_phase(self, spark, idx: str, prep: dict, want: dict) -> None:
        """Both tiers, timed in ROUNDS interleaved rounds whose samples are
        pooled, so a burst of load from outside the run touches a part of
        each leg instead of the whole of one."""
        from sync2any_spark.query.serving import LocalSearcher
        from sync2any_spark.query.wand import IndexSearcher

        queries = self.stream(prep)
        secs = float(self.args.seconds) / ROUNDS
        with self.tracer.span("wand_open"):
            t0 = time.perf_counter()
            searcher = IndexSearcher(spark, idx)
            self.layer["wand.open_s"] = time.perf_counter() - t0
        with self.tracer.span("serving_open"):
            r0, t0 = rss_mb(), time.perf_counter()
            local = LocalSearcher(idx)
            self.layer["serving.open_s"] = time.perf_counter() - t0
            self.layer["serving.resident_mb"] = rss_mb() - r0
        for q, k in queries:  # warm passes, checked too
            key = inputs.qkey(q, k)
            self.check.answer(searcher.search(q, k), want[key], f"warm {q!r}")
            self.check.answer(local.search(q, k), want[key], f"warm serving {q!r}")

        q_lat, q_cpu, s_lat, s_cpu, calls, wall = [], [], [], [], 0, 0.0
        min_calls = -(-MIN_TAIL_SAMPLES // ROUNDS)
        for _ in range(ROUNDS):
            with gc_paused():
                lat, cpu = self.closed_loop(searcher.search, queries, want, secs / 2, min_calls, "query")
                q_lat += lat
                q_cpu += cpu
                lat, cpu = self.closed_loop(local.search, queries, want, secs / 4, min_calls, "serving")
                s_lat += lat
                s_cpu += cpu
                n, w = self.qps(local.search, queries, want, secs / 4)
                calls, wall = calls + n, wall + w
        # The driver route fans each query out over threads, and on a shared
        # VM its wall time swung by half from run to run; its CPU time per
        # call held within a few percent.
        self.e2e["query_cpu_p50_ms"] = percentile(q_cpu, 0.5) * 1e3
        self.e2e["query_cpu_p95_ms"] = self.p95(q_cpu) * 1e3
        self.layer["wand.p50_ms"] = percentile(q_lat, 0.5) * 1e3
        self.layer["wand.p95_ms"] = self.p95(q_lat) * 1e3
        self.e2e["serving_p50_ms"] = percentile(s_lat, 0.5) * 1e3
        self.e2e["serving_p95_ms"] = self.p95(s_lat) * 1e3
        self.layer["serving.cpu_ms_p50"] = percentile(s_cpu, 0.5) * 1e3
        self.layer["serving.qps"] = rate(calls, wall)
        one_client_qps = rate(len(s_lat), sum(s_lat))
        self.layer["serving.qps_scaling"] = self.layer["serving.qps"] / (self.cpus * one_client_qps)

        if not self.args.trace:
            return
        # at this size route="auto" never goes distributed, so the forced
        # leg is a layer diagnostic for the traced run, not what users see
        dist = []
        for q, k in (tuple(x) for x in prep["distributed"]):
            with self.tracer.span("distributed_query"):
                t0 = time.perf_counter()
                got = searcher.search(q, k, route="distributed")
                dist.append(time.perf_counter() - t0)
            self.check.answer(got, want[inputs.qkey(q, k)], f"distributed {q!r} k={k}")
        self.layer["wand.distributed_p50_ms"] = median(dist) * 1e3
        self.n_distributed = len(dist)

    @staticmethod
    def p95(lat) -> float:
        if samples_beyond(len(lat), 0.95) < MIN_TAIL:
            raise RuntimeError(f"p95 over {len(lat)} samples has too thin a tail")
        return percentile(lat, 0.95)

    # -- writes ----------------------------------------------------------
    def cdc_phase(self, spark, idx: str, prep: dict) -> None:
        import pandas as pd

        from sync2any_spark.query.wand import IndexSearcher
        from sync2any_spark.streaming.incremental import apply_increments

        batch = pd.read_parquet(prep["batch_path"])
        df = spark.createDataFrame(batch[inputs.CORPUS_COLS + ["op"]])
        marker_ids = set(prep["marker_ids"])
        before = dir_bytes(idx)
        with self.tracer.span("apply"):
            t0 = time.perf_counter()
            res = apply_increments(spark, idx, df)
            apply_s = time.perf_counter() - t0
        with self.tracer.span("visible"):
            got = IndexSearcher(spark, idx).search(prep["marker"], 10)
            visible_s = time.perf_counter() - t0
        self.check.op(bool(got) and {d for d, _ in got} <= marker_ids, "marker doc visible")
        self.check.op(
            res["tombstones"] == len(prep["removed_ids"]) and res["new_docs"] == len(marker_ids),
            f"apply summary {res['tombstones']}/{res['new_docs']}",
        )
        self.e2e["cdc_rows_per_s"] = rate(prep["batch_rows"], apply_s)
        self.e2e["cdc_visible_p50_s"] = visible_s
        walls = res.get("stage_walls", {})
        for lap in LAPS:
            self.layer[f"incremental.{lap}_s"] = float(walls.get(lap, 0.0))
        self.layer["incremental.bytes_written_per_row"] = (dir_bytes(idx) - before) / prep["batch_rows"]

    def check_index(
        self, spark, idx: str, prep: dict, want: dict, label: str, stream: bool = True
    ) -> None:
        """Reopen both tiers and check against ``want``: the marker docs on
        both, the stream on the serving tier (unless the measured legs check
        both tiers on this state), and after the batch the probes for
        removed rows."""
        from sync2any_spark.query.serving import LocalSearcher
        from sync2any_spark.query.wand import IndexSearcher

        searcher, local = IndexSearcher(spark, idx), LocalSearcher(idx)
        marker_q = (prep["marker"], len(prep["marker_ids"]))
        key = inputs.qkey(*marker_q)
        self.check.answer(searcher.search(*marker_q), want[key], f"{label} marker")
        self.check.answer(local.search(*marker_q), want[key], f"{label} serving marker")
        for q, k in (tuple(x) for x in prep["stream"]) if stream else ():
            self.check.answer(local.search(q, k), want[inputs.qkey(q, k)], f"{label} serving {q!r}")
        if label != "after_batch":
            return
        for q, k, old_id in prep["probes"]:
            got = searcher.search(q, k)
            self.check.answer(got, want[inputs.qkey(q, k)], f"probe {q!r}")
            self.check.op(old_id not in {d for d, _ in got}, f"removed doc {old_id} absent")

    # -- the run ---------------------------------------------------------
    def execute(self) -> None:
        from sync2any_spark.index.builder import build_index, force_merge_postings
        from sync2any_spark.streaming.incremental import compact

        workload = self.args.workload
        prep = run_prepare(workload, self.seed)
        signal.alarm(RUN_BUDGET_S)
        os.makedirs(self.run_dir)
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        event_dir = os.path.join(self.run_dir, "eventlog") if self.args.trace else None
        idx = os.path.join(self.run_dir, "index")
        src = prep["source"]

        with contextlib.ExitStack() as stack:
            t_setup = time.perf_counter()
            with self.tracer.span("setup"):
                spark = stack.enter_context(spark_app(self.cpus, self.run_dir, event_dir))
                # the first build of a fresh Spark app, as a snapshot-load
                # job runs it: JIT and Python-worker start-up included
                with self.tracer.span("build"):
                    t0 = time.perf_counter()
                    build_index(spark, spark.read.parquet(src), idx, source_path=src,
                                **build_params(self.cpus))
                    build_s = time.perf_counter() - t0
                self.e2e["build_turns_per_s"] = rate(prep["n_docs"], build_s)
                self.e2e["index_bytes_per_source_byte"] = dir_bytes(idx) / os.path.getsize(src)
                self.builder_stage_rows(idx)
                self.layer["builder.force_merge_s"] = 0.0
                if workload == "search":
                    with self.tracer.span("force_merge"):
                        self.layer["builder.force_merge_s"] = force_merge_postings(spark, idx)["wall_s"]
                with self.tracer.span("warm_up"):
                    warm_up(spark, idx, self.run_dir, prep["batch_path"], distributed=bool(self.args.trace))
            self.e2e["setup_s"] = time.perf_counter() - t_setup

            if workload == "search":
                self.query_phase(spark, idx, prep, prep["base"])
                self.cdc_phase(spark, idx, prep)
                self.check_index(spark, idx, prep, prep["after_batch"], "after_batch")
            else:
                self.cdc_phase(spark, idx, prep)
                self.check_index(spark, idx, prep, prep["after_batch"], "after_batch", stream=False)
                self.query_phase(spark, idx, prep, prep["after_batch"])
            out_dir = os.path.join(self.run_dir, "compacted")
            with self.tracer.span("compact"):
                t0 = time.perf_counter()
                out = compact(spark, idx, out_dir)
                self.e2e["compact_s"] = time.perf_counter() - t0
            self.check_index(spark, out_dir, prep, prep["after_compact"], "after_compact")
            self.layer["incremental.compact_spliced"] = float(bool(out.get("live_spliced")))
            self.layer["incremental.compact_rewritten_mb"] = dir_bytes(out_dir) / 2**20
            self.e2e["driver_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            if self.args.trace:
                self.kernel_layers(spark, prep, out_dir)
        if self.args.trace:
            self.event_log_layers(event_dir, prep)
            self.layer["builder.scaling_2_to_n"] = self.scaling(self.e2e["build_turns_per_s"])
            self.overhead()
            self_s: dict = {}
            for sp, own in zip(self.tracer.spans, self_times(self.tracer.spans)):
                self_s[sp["name"]] = self_s.get(sp["name"], 0.0) + own
            self.tracer.dump(
                os.path.join(WORK, "traces", f"{self.run_id}.json"),
                e2e_traced=self.e2e, layers=self.layer, kernels=self.kernels,
                self_time_s=self_s,
            )

    def builder_stage_rows(self, idx: str) -> None:
        """The stage walls ``build_index`` writes to its metrics table."""
        import pyarrow.dataset as ds

        rows = ds.dataset(os.path.join(idx, "metrics")).to_table().to_pylist()
        walls = {r["stage"]: float(r["value"]) for r in rows if r["key"] == "wall_s"}
        self.layer["builder.segments_s"] = walls.get("spimi", 0.0)
        self.layer["builder.terms_s"] = walls.get("terms", 0.0)
        self.layer["builder.postings_s"] = walls.get("postings", 0.0)

    # -- traced-run layers -----------------------------------------------
    def kernel_layers(self, spark, prep: dict, index_dir: str) -> None:
        from layers import kernel_rows
        from sync2any_spark.tokenize import tokenize

        terms = sorted({t for q, _ in prep["stream"] for t in tokenize(q)})
        with self.tracer.span("kernels"):
            self.kernels = kernel_rows(spark, prep["source"], index_dir, terms, self.cpus)
        r = self.kernels
        self.layer["session.empty_job_ms"] = r["empty_job"]["wall_s"] * 1e3
        self.layer["session.empty_task_ms"] = r["empty_task"]["wall_s"] * 1e3
        self.layer["tokenize.mb_per_s"] = rate(r["tokenize"]["work"], r["tokenize"]["wall_s"])
        for row, name in (("codec_encode", "encode"), ("codec_decode", "decode")):
            self.layer[f"codec.{name}_mpostings_per_s"] = rate(r[row]["work"], r[row]["wall_s"])

    def event_log_layers(self, event_dir: str, prep: dict) -> None:
        (log,) = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        jobs, tasks = read_event_log(log)
        spans = self.tracer.spans
        owner = attribute_jobs(jobs, spans)

        def under(name: str) -> dict:
            ids = subtree(spans, {s["id"] for s in spans if s["name"] == name})
            return job_rollup({j for j, s in owner.items() if s in ids}, jobs, tasks)

        b = under("build")
        self.layer.update(
            {
                "builder.spark_jobs": b["jobs"],
                "builder.tasks": b["tasks"],
                "builder.executor_cpu_s": b["executor_cpu_s"],
                "builder.shuffle_write_mb": b["shuffle_mb"],
                "builder.task_max_over_p50": b["task_max_over_p50"],
            }
        )
        a = under("apply")
        self.layer["incremental.spark_jobs_per_batch"] = a["jobs"]
        self.layer["incremental.store_rows_scanned_per_batch_row"] = a["input_records"] / prep["batch_rows"]
        d, n = under("distributed_query"), self.n_distributed
        self.layer["wand.distributed_spark_jobs"] = d["jobs"] / n
        self.layer["wand.distributed_tasks"] = d["tasks"] / n
        self.layer["wand.distributed_shuffle_records"] = d["shuffle_records"] / n
        self.layer["wand.distributed_shuffle_mb"] = d["shuffle_mb"] / n

    def scaling(self, thr_n: float) -> float:
        """Informational: build throughput at local[nproc] over local[2],
        divided by the real core ratio."""
        out = subprocess.run(
            [sys.executable, __file__, "--workload", self.args.workload,
             "--seed", str(self.seed), "--build-only-cpus", "2"],
            cwd=ROOT, stdout=subprocess.PIPE, timeout=RUN_BUDGET_S, check=True, text=True,
            preexec_fn=die_with_parent,
        )
        thr_2 = json.loads(out.stdout.strip().splitlines()[-1])["build_turns_per_s"]
        return (thr_n / thr_2) / (self.cpus / 2)

    def overhead(self) -> None:
        """trace.delta.<metric>: traced minus untraced end-to-end value, the
        untraced side being the median of this checkout's untraced runs of
        the workload. A nested untraced run would not fit in one run's time
        limit, so with none recorded yet every delta is 0 and stderr says so."""
        path = os.path.join(WORK, "results", f"{self.args.workload}.jsonl")
        runs = []
        if os.path.exists(path):
            with open(path) as f:
                runs = [json.loads(line) for line in f if line.strip()]
        if not runs:
            print("no untraced run of this workload yet: trace.delta.* are 0", file=sys.stderr)
        for name, value in self.e2e.items():
            ref = median([r[name] for r in runs]) if runs else value
            self.layer[f"trace.delta.{name}"] = value - ref


def remove_dead_runs() -> None:
    """A killed run leaves its directory (named after its pid) behind."""
    runs = os.path.join(WORK, "runs")
    for name in os.listdir(runs) if os.path.isdir(runs) else []:
        try:
            os.kill(int(name.split("-")[0]), 0)
        except (ProcessLookupError, ValueError):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


def build_only(args, cpus: int) -> None:
    """Child mode for the scaling row: build once in a fresh Spark app at
    ``local[cpus]`` and print the rate."""
    prep = run_prepare(args.workload, args.seed)
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-scaling")
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    from sync2any_spark.index.builder import build_index

    try:
        with spark_app(cpus, run_dir) as spark:
            t0 = time.perf_counter()
            build_index(spark, spark.read.parquet(prep["source"]), os.path.join(run_dir, "index"),
                        source_path=prep["source"], **build_params(cpus))
            thr = rate(prep["n_docs"], time.perf_counter() - t0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"build_turns_per_s": thr}))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=inputs.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-only-cpus", type=int, help=argparse.SUPPRESS)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    refuse_tuning_env()
    if not os.path.isfile(os.path.join(ROOT, "sync2any_spark", "__init__.py")):
        sys.exit("sync2any_spark is not in this checkout")
    os.environ["SYNC2ANY_DATA_ROOT"] = os.path.join(WORK, "data")
    sys.path.insert(0, ROOT)
    become_subreaper()
    for sig in EXIT_SIGNALS:
        signal.signal(sig, exit_on_signal)
    try:
        return run_mode(args)
    finally:
        reap_children()


def run_mode(args) -> int:
    cpus = len(os.sched_getaffinity(0))
    if args.prepare:
        inputs.prepare(ROOT, WORK, args.workload, args.seed, prep_path(args.workload, args.seed))
        return 0
    if args.build_only_cpus:
        build_only(args, args.build_only_cpus)
        return 0

    remove_dead_runs()
    run = Run(args, cpus)
    try:
        run.execute()
    finally:
        signal.alarm(0)
        shutil.rmtree(run.run_dir, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": run.layer[k], "unit": u} for k, u in layer_units().items()}
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps(run.e2e) + "\n")
    ok = run.check.failed == 0
    print(json.dumps({
        "correct": ok,
        "attempted": run.check.attempted,
        "failed": run.check.failed,
        "metrics": metrics,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
