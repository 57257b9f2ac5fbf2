"""One benchmark run in one process: generate the workload's inputs, set
up Spark, warm up, run timed passes over the workload's ops, check
every op's output, and write the result JSON to --result.

Started by run.py in a session of its own, which run.py sweeps when
this process exits; this process also tears Spark down itself (streams,
SparkContext, py4j gateway, JVM) on success, error, SIGTERM and SIGINT.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from tracing import Tracer, proc_io, vm_hwm_mb  # noqa: E402

OP_TIMEOUT_S = 90
PASS_BUDGET_S = 135  # no new pass starts after this many seconds of the run

# The registry op run through REGISTRY[name].build: the incremental
# corpus release drained from a stream into written shards, over the
# fixed corpus inputs.make_corpus writes. Its rows must hash to the
# recorded digest (rows_digest).
RELEASE_OP = "stream_corpus_release"
RELEASE_DIGEST = "1e9691dfc7cd91b0d7687a9db7fcb4028998028a85f1d6b0e6667bc2126c9731"


class Interrupted(BaseException):
    """SIGTERM or SIGINT arrived; unwinds through every finally."""


def _on_signal(signum, frame):
    raise Interrupted(signum)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class PanelOut(io.StringIO):
    """Captures the CLI's stdout and notes when the first panel printed."""

    first_write: float | None = None

    def write(self, s):
        if self.first_write is None and s.strip():
            self.first_write = time.time()
        return super().write(s)


def cpu_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat (user .. steal, in ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def rows_digest(columns, rows) -> str:
    """sha256 of the rows with columns sorted by name and values
    normalized as in the oracle parity test, floats rounded to 9
    places, rows sorted."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if isinstance(v, float):
            return "NaN" if v != v else repr(round(v, 9) + 0.0)
        if isinstance(v, bytes):
            return v.hex()
        return repr(v)

    body = sorted(tuple(norm(r[i]) for i in idx) for r in rows)
    return hashlib.sha256(repr(([columns[i] for i in idx], body)).encode()).hexdigest()


# --------------------------------------------------------------------
# workloads: each op is (name, fn) with fn() -> (ok, detail, latency_s)
# --------------------------------------------------------------------


class Diag:
    """cli.main --files ... --maintenance, once per generated table."""

    pass_s = 7.0  # a warm pass on an idle 4-vCPU box

    def __init__(self, work: str, seed: int):
        self.tables = inputs.make_diag(os.path.join(work, "diag"), seed)
        self.input_bytes = sum(inputs.tree_bytes(t["path"]) for t in self.tables)
        self.scan_probe = self.tables[-1]["path"]

    def restore(self):
        pass

    def ops(self, spark, tracer):
        return [(f"panel:{i}", lambda t=t: self._panel(spark, t))
                for i, t in enumerate(self.tables)]

    @staticmethod
    def _panel(spark, table):
        from iceberg_diag_spark import cli

        out = PanelOut()
        t = time.time()
        with contextlib.redirect_stdout(out):
            rc = cli.main(["--files", table["path"], "--manifest-count",
                           str(table["manifests"]), "--maintenance"], spark=spark)
        latency = (out.first_write or time.time()) - t
        if rc != 0:
            return False, f"cli exit {rc}", latency
        got = {}
        for line in out.getvalue().splitlines():
            cells = [c.strip() for c in line.split(" | ")]
            if len(cells) == 4 and cells[0] in table["expected"]:
                got.setdefault(cells[0], tuple(cells[1:3]))
        bad = {k: (got.get(k), v) for k, v in table["expected"].items()
               if got.get(k) != tuple(v)}
        return not bad, f"panel mismatch {bad}" if bad else "", latency


class Maintain:
    """Writes beside reads: bin-pack compaction of a fragmented layout,
    re-diagnosis of the rewritten layout, the clustering rewrite of an
    arrival-order layout (both restored from pristine copies before every
    pass, since compaction converges on re-runs), and the streaming
    corpus release, which drains a stream into written shards."""

    pass_s = 13.0  # a warm pass on an idle 4-vCPU box

    def __init__(self, work: str, seed: int):
        pristine = os.path.join(work, "pristine")
        self.layouts = inputs.make_maintain(pristine, seed)
        self.corpus = inputs.make_corpus(os.path.join(work, "corpus"))
        self.pristine, self.live = pristine, os.path.join(work, "live")
        self.input_bytes = inputs.tree_bytes(pristine) + inputs.tree_bytes(self.corpus)
        self.scan_probe = os.path.join(self.corpus, "documents.parquet")

    def restore(self):
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)

    def _live(self, layout):
        return os.path.join(self.live, os.path.basename(layout["path"]))

    def ops(self, spark, tracer):
        lay = self.layouts
        return [
            ("compact", lambda: self._compact(spark, tracer, lay["compaction"])),
            ("rediag", lambda: self._rediag(spark, lay["compaction"])),
            ("cluster", lambda: self._cluster(spark, lay["cluster"])),
            (RELEASE_OP, lambda: self._release(spark, tracer)),
        ]

    def _compact(self, spark, tracer, lay):
        from pyspark.sql import functions as F

        from iceberg_diag_spark.operators.compaction import compact_apply_binpack

        t = time.time()
        ledger = compact_apply_binpack(
            spark, self._live(lay), inputs.COMPACTION_READ_SCHEMA,
            row_size=F.col("row_bytes"), key=F.col("row_key"),
            order_cols=("row_key",),
        ).collect()
        latency = time.time() - t
        exp = lay["partitions"]
        bad = []
        for r in ledger:
            e = exp.get(r["partition_key"])
            if e is None or r["rows_before"] != e["rows"] or r["rows_after"] != e["rows"] \
                    or (r["members_xor_after"], r["members_xor2_after"]) != tuple(e["digests"]) \
                    or r["compacted"] != e["compacted"]:
                bad.append(r["partition_key"])
        if len(ledger) != len(exp):
            bad.append(f"{len(ledger)} ledger rows for {len(exp)} partitions")
        if tracer:
            tracer.counters["sinks.untouched_share"] += (
                sum(not r["compacted"] for r in ledger) / max(1, len(ledger)))
        return not bad, f"ledger mismatch {bad}" if bad else "", latency

    def _rediag(self, spark, lay):
        from pyspark.sql import functions as F

        from iceberg_diag_spark.operators.compaction import physical_file_sizes
        from iceberg_diag_spark.operators.diagnostics import table_metrics

        path = self._live(lay)
        t = time.time()
        files = physical_file_sizes(spark, path, "partition_key", "file_id").select(
            "partition_key", F.col("size_in_bytes").alias("file_size_in_bytes"),
            F.lit(0).alias("content"))
        got = {r["metric"]: r["before"] for r in table_metrics(files).collect()}
        latency = time.time() - t
        on_disk = inputs.parquet_files(path)
        want = {"FILE_COUNT": len(on_disk),
                "TOTAL_TABLE_SIZE": sum(os.path.getsize(p) for p in on_disk),
                "TOTAL_PARTITIONS": len(lay["partitions"])}
        bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
        return not bad, f"re-diagnosis mismatch {bad}" if bad else "", latency

    def _cluster(self, spark, lay):
        from iceberg_diag_spark.operators.compaction import cluster_apply_sorted

        t = time.time()
        (r,) = cluster_apply_sorted(
            spark, self._live(lay), inputs.CLUSTER_READ_SCHEMA, value_col="v",
            key_col="row_key", rows_per_file=inputs.CLUSTER_ROWS_PER_FILE,
        ).collect()
        latency = time.time() - t
        checks = {
            "rows_before": (r["rows_before"], lay["rows"]),
            "rows_after": (r["rows_after"], lay["rows"]),
            "digests": ((r["members_xor_after"], r["members_xor2_after"]),
                        tuple(lay["digests"])),
            "files_after": (r["files_after"], lay["files_after"]),
            "overlap_after": (r["overlap_pairs_after"], r["overlap_pairs_planned"]),
            "depth_after": (r["max_depth_after"], r["max_depth_planned"]),
        }
        bad = {k: v for k, v in checks.items() if v[0] != v[1]}
        return not bad, f"clustering mismatch {bad}" if bad else "", latency

    def _release(self, spark, tracer):
        from iceberg_diag_spark.plans.registry import REGISTRY

        t = time.time()
        with tracer.span("plans.build") if tracer else contextlib.nullcontext():
            df = REGISTRY[RELEASE_OP].build(spark, self.corpus)
        rows = df.collect()
        latency = time.time() - t
        got = rows_digest(df.columns, rows)
        ok = got == RELEASE_DIGEST
        return ok, "" if ok else f"digest {got} != {RELEASE_DIGEST}", latency


WORKLOADS = {"diag": Diag, "maintain": Maintain}


# --------------------------------------------------------------------
# running
# --------------------------------------------------------------------


def run_op(spark, name, fn, failures):
    """Run one op under a timeout; a raise, a timeout or a failed check
    is recorded in failures. Returns the op's latency."""
    timed_out = threading.Event()

    def cancel():
        timed_out.set()
        spark.sparkContext.cancelAllJobs()
        for q in spark.streams.active:
            q.stop()

    timer = threading.Timer(OP_TIMEOUT_S, cancel)
    timer.start()
    t = time.time()
    try:
        ok, detail, latency = fn()
    except Exception:
        ok, detail, latency = False, traceback.format_exc(limit=3), None
    finally:
        timer.cancel()
    if timed_out.is_set():
        ok, detail = False, f"timed out after {OP_TIMEOUT_S} s"
    if not ok:
        failures.append({"op": name, "detail": detail})
        log(f"op {name} FAILED: {detail}")
    return latency if latency is not None else time.time() - t


def run_pass(spark, wl, java_pid, tracer=None):
    """One pass over the workload's ops; returns the pass record."""
    wl.restore()
    ops = wl.ops(spark, tracer)
    failures, latencies, op_times = [], [], []
    io0, cpu0 = proc_io(java_pid), time.process_time()
    t = time.time()
    for name, fn in ops:
        t_op = time.time()
        with tracer.op(name) if tracer else contextlib.nullcontext():
            latency = run_op(spark, name, fn, failures)
        op_times.append(time.time() - t_op)
        latencies.append(latency)
        log(f"  {name}: {op_times[-1]:.2f} s")
    wall = time.time() - t
    io1, cpu1 = proc_io(java_pid), time.process_time()
    return {
        "wall_s": wall,
        "ops_s": sum(op_times),
        "latencies": latencies,
        "attempted": len(ops),
        "failures": failures,
        "jvm_read": io1["rchar"] - io0["rchar"],
        "jvm_write": io1["wchar"] - io0["wchar"],
        "py_cpu_s": cpu1 - cpu0,
    }


def shutdown_spark(spark) -> None:
    """Stop streams and the SparkContext, then the py4j gateway and the
    JVM it launched, and wait for the JVM to exit. An interrupt can leave
    the py4j connection unusable, so the graceful part is bounded and
    the JVM is stopped through its stdin (and killed) regardless."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)

    def graceful():
        if spark is None:
            return
        with contextlib.suppress(Exception):
            for q in spark.streams.active:
                q.stop()
        with contextlib.suppress(Exception):
            spark.stop()

    t = threading.Thread(target=graceful, daemon=True)
    t.start()
    t.join(timeout=10)
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=15)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    state: dict = {}
    try:
        return run(args, state)
    except Interrupted as ex:
        log(f"interrupted by signal {ex.args[0]}")
        return 128 + ex.args[0]
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        shutdown_spark(state.get("spark"))


def run(args, state: dict) -> int:
    load_start = os.getloadavg()[0]
    t_gen = time.time()
    wl = WORKLOADS[args.workload](args.work, args.seed)
    gen_s = time.time() - t_gen

    t_session = time.time()
    from iceberg_diag_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    state["spark"] = spark
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t_session
    java_pid = spark.sparkContext._gateway.proc.pid

    # Warm-up: one untimed pass over the real inputs, so first-touch
    # class loading, codegen, JIT and Python-worker spawn land in setup.
    log("warm-up pass started")
    t_warm = time.time()
    warm = run_pass(spark, wl, java_pid)
    warmup_s = time.time() - t_warm
    setup_s = time.time() - args.t0 - gen_s
    log(f"setup {setup_s:.2f} s (session {session_s:.2f}, warm-up {warmup_s:.2f}; "
        f"inputs generated in {gen_s:.2f} s, not counted)")

    tracer = input_check = None
    if args.trace:
        tracer = Tracer(spark, args.t0)
        input_check = check_input_counter(spark, tracer, wl.scan_probe)

    # The pass count follows from --seconds and the workload's nominal
    # pass time, not from the clock, so a slow box runs the same passes.
    # A traced run measures untraced, traced, untraced, so that drift
    # across passes does not bias the tracing overhead.
    n = max(1, round(args.seconds / wl.pass_s))
    ticks0 = cpu_ticks()
    schedule = [False, True, False] if tracer is not None else [False] * n
    passes, traced = [], []
    for i, trace_this in enumerate(schedule):
        last = (traced or passes)[-1]["wall_s"] if i else 0.0
        if i and time.time() - args.t0 + last > PASS_BUDGET_S:
            log(f"run budget spent; {len(schedule) - i} pass(es) skipped")
            break
        log(f"pass {i + 1} started" + (" (traced)" if trace_this else ""))
        if trace_this:
            tracer.install()
            try:
                traced.append(run_pass(spark, wl, java_pid, tracer))
            finally:
                tracer.uninstall()
        else:
            passes.append(run_pass(spark, wl, java_pid))

    peak_rss_mb = vm_hwm_mb(java_pid) + vm_hwm_mb(os.getpid())
    load_end = os.getloadavg()[0]
    # Share of CPU time the hypervisor gave to other guests while the
    # passes ran: on a shared VM it moves every timing of the run.
    dt = [b - a for a, b in zip(ticks0, cpu_ticks())]
    steal = dt[7] / max(1, sum(dt))
    measured = passes + traced
    attempted = sum(p["attempted"] for p in measured)
    failed = sum(len(p["failures"]) for p in measured)
    med = statistics.median
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (med(p["wall_s"] for p in passes), "s"),
        "panel_p50_s": (med(x for p in passes for x in p["latencies"]), "s"),
        "write_amp": (med(p["jvm_write"] for p in passes) / wl.input_bytes, "ratio"),
    }
    print(f"perfbench: {args.workload} seed={args.seed} passes={len(passes)}"
          f"+{len(traced)} traced, failed_ops={failed / attempted:.4f} "
          f"({failed}/{attempted}, share), loadavg_1m start={load_start:.2f} "
          f"end={load_end:.2f}, cpu steal={steal:.1%}, warm-up failures="
          f"{len(warm['failures'])}, peak_rss_mb={peak_rss_mb:.1f}")
    for k, (v, unit) in e2e.items():
        print(f"perfbench:   {k} = {v:.4f} {unit}")
    if tracer is None:
        metrics = e2e
    else:
        metrics = layer_metrics(tracer, traced, passes, session_s, warmup_s,
                                peak_rss_mb)
        write_trace(args, tracer, metrics, e2e, input_check,
                    {"loadavg_1m_start": load_start, "loadavg_1m_end": load_end,
                     "cpu_steal_share": steal}, failed, attempted)
    result = {
        "correct": failed == 0 and not warm["failures"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def check_input_counter(spark, tracer, path: str) -> dict:
    """Scan one parquet file fully and compare the status store's input
    bytes with its size on disk."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    first = tracer.status.next_job_id()
    df.agg(*[F.count(F.col(c)) for c in df.columns]).collect()
    got = tracer.status.read(first, "")["counters"]["spark.input_mb"] * 2**20
    size = os.path.getsize(path)
    check = {"file": os.path.basename(path), "on_disk_bytes": size,
             "input_bytes": got, "ratio": got / size}
    if not 0.5 <= check["ratio"] <= 2.0:
        log(f"spark.input_mb does not track the bytes scanned: {check}; "
            "use jvm.read_mb for read volume")
    return check


def layer_metrics(tracer, traced, passes, session_s, warmup_s,
                  peak_rss_mb) -> dict:
    """Per-layer metrics, per traced pass; trace.overhead_s is the traced
    pass's op time minus the untraced passes' median wall time."""
    n = len(traced)
    c = {k: v / n for k, v in tracer.counters.items()}
    untraced_wall = statistics.median(p["wall_s"] for p in passes)
    traced_ops = statistics.median(p["ops_s"] for p in traced)
    drain = tracer.span_total("streaming.drain") / n
    stages = c.get("spark.stages", 0)
    return {
        "session.start_s": (session_s, "s"),
        "warmup_s": (warmup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "cli.panel_s": (tracer.span_total("cli.panel") / n, "s"),
        "catalyst.plan_s": (c.get("catalyst.plan_s", 0), "s"),
        "plans.build_s": (tracer.span_total("plans.build") / n, "s"),
        "plans.build_self_s": (tracer.self_time("plans.build") / n, "s"),
        "driver.py_cpu_s": (statistics.median(p["py_cpu_s"] for p in traced), "s"),
        "operators.materialize_n": (c.get("operators.materialize_n", 0), "count"),
        "operators.materialize_s": (tracer.span_total("operators.materialize") / n, "s"),
        "spark.jobs": (c.get("spark.jobs", 0), "count"),
        "spark.stages": (stages, "count"),
        "spark.tasks": (c.get("spark.tasks", 0), "count"),
        "spark.tasks_per_stage": (c.get("spark.tasks", 0) / stages if stages else 0, "ratio"),
        "spark.executor_run_s": (c.get("spark.executor_run_s", 0), "s"),
        "spark.executor_cpu_s": (c.get("spark.executor_cpu_s", 0), "s"),
        "spark.gc_s": (c.get("spark.gc_s", 0), "s"),
        "spark.input_mb": (c.get("spark.input_mb", 0), "MB"),
        "spark.shuffle_read_mb": (c.get("spark.shuffle_read_mb", 0), "MB"),
        "spark.shuffle_write_mb": (c.get("spark.shuffle_write_mb", 0), "MB"),
        "spark.spill_mb": (c.get("spark.spill_mb", 0), "MB"),
        "spark.failed_tasks": (c.get("spark.failed_tasks", 0), "count"),
        "jvm.read_mb": (statistics.median(p["jvm_read"] for p in traced) / 2**20, "MB"),
        "jvm.write_mb": (statistics.median(p["jvm_write"] for p in traced) / 2**20, "MB"),
        "sinks.write_s": (tracer.span_total("sinks.write") / n, "s"),
        "sinks.files_written": (c.get("sinks.files_written", 0), "count"),
        "sinks.delete_n": (c.get("sinks.delete_n", 0), "count"),
        "sinks.untouched_share": (c.get("sinks.untouched_share", 0), "ratio"),
        "streaming.drain_s": (drain, "s"),
        "streaming.batches": (c.get("streaming.batches", 0), "count"),
        "streaming.overhead_s": (drain - c.get("streaming.add_batch_s", 0), "s"),
        "trace.overhead_s": (traced_ops - untraced_wall, "s"),
    }


def write_trace(args, tracer, metrics, e2e, input_check, box, failed,
                attempted) -> None:
    ops = tracer.op_checks
    jobs = sum(o["jobs"] for o in ops)
    doc = {
        "workload": args.workload, "seed": args.seed,
        "box": box,
        "failed_ops": {"failed": failed, "attempted": attempted},
        "end_to_end_untraced": {k: v for k, (v, _) in e2e.items()},
        "per_layer": {k: v for k, (v, _) in metrics.items()},
        "validation": {
            "input_counter": input_check,
            "job_group_coverage": (sum(o["jobs_in_group"] for o in ops) / jobs
                                   if jobs else None),
            "stages_lost": sum(o["stages_lost"] for o in ops),
            "ops": ops,
        },
        "spans": tracer.spans,
    }
    os.makedirs(os.path.dirname(args.trace_out), exist_ok=True)
    with open(args.trace_out, "w") as f:
        json.dump(doc, f, indent=1)
    log(f"trace written to {args.trace_out}")


if __name__ == "__main__":
    sys.exit(main())
