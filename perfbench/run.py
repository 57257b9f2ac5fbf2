"""Benchmark entry point.

    python3 perfbench/run.py --workload {diag,maintain} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Prints a summary on earlier lines and, as
the last line of stdout, one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1 (whose spans also go to
.perfbench/traces/).

This process is only a supervisor. The run itself happens in worker.py,
started in a session of its own with a private work directory for
Spark's local dirs, warehouse and temp files. Whatever way the run ends
(success, error, timeout, SIGTERM or SIGINT here), every process left in
that session is killed and waited for, and the work directory is
removed, before this process exits.
"""

from __future__ import annotations

import argparse
import ctypes
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 150  # the worker is stopped after this; the run ends within 180 s
GRACE_S = 12  # time the worker gets to stop Spark itself after SIGTERM
WORKLOADS = ("diag", "maintain")


class Interrupted(Exception):
    pass


def _on_signal(signum, frame):
    raise Interrupted(signum)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def session_members(sid: int, zombies: bool = False) -> list[int]:
    """Processes whose session id is sid; zombies only if asked."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid and (zombies or fields[0] != "Z"):
            out.append(int(name))
    return out


def reap() -> None:
    """Collect exit statuses of children and of orphans handed to us."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_session(proc: subprocess.Popen) -> int:
    """Ask the worker to stop, then kill whatever is left in its
    session, and wait until the session is empty, zombies reaped too
    (as the subreaper, orphans of the session are ours to reap).
    Returns the number of processes that had to be killed."""
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=GRACE_S)
        except subprocess.TimeoutExpired:
            pass
    killed = set()
    deadline = time.time() + 10
    while True:
        if not session_members(proc.pid, zombies=True):
            break
        left = session_members(proc.pid)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
                killed.add(pid)
            except ProcessLookupError:
                pass
        if proc.poll() is None:
            try:
                proc.wait(timeout=1)
            except subprocess.TimeoutExpired:
                pass
        reap()
        if time.time() > deadline:
            raise RuntimeError(f"processes {left} in session {proc.pid} "
                               "survive SIGKILL")
        time.sleep(0.05)
    reap()
    return len(killed)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("iceberg_diag_spark/__init__.py",
                           "iceberg_diag_spark/cli.py",
                           "iceberg_diag_spark/plans/registry.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing or importlib.util.find_spec("pyspark") is None:
        log(f"cannot run: missing {missing or ['pyspark']} under {ROOT}")
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(
        state, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "tmp", "warehouse")}
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run with our pid
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        TMPDIR=dirs["tmp"],
        PYSPARK_PYTHON=sys.executable,
        # JVM temp files, and no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    )
    # Orphans of the worker's session (the pyspark daemon runs in its
    # own process group) are re-parented here, so they can be reaped.
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER

    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    t0 = time.time()
    proc = None
    outcome = "error"
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", work, "--result", result, "--trace-out", trace_out,
             "--t0", repr(t0)],
            cwd=ROOT, env=env, start_new_session=True,
        )
        log(f"worker pid {proc.pid} session {proc.pid}")
        rc = proc.wait(timeout=DEADLINE_S)
        outcome = "ok" if rc == 0 else f"worker exit {rc}"
    except subprocess.TimeoutExpired:
        outcome = f"timed out after {DEADLINE_S} s"
    except Interrupted as ex:
        outcome = f"interrupted by signal {ex.args[0]}"
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        killed = stop_session(proc) if proc is not None else 0
        if killed:
            log(f"killed {killed} process(es) left in the worker's session")
        line = None
        if outcome == "ok" and os.path.isfile(result):
            with open(result) as f:
                line = json.dumps(json.load(f))
        shutil.rmtree(work, ignore_errors=True)
    if line is None:
        log(f"run failed: {outcome}")
        return 1
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
