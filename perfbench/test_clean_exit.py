"""The benchmark leaves no process behind.

Runs the benchmark from the repository root twice: once to completion,
and once interrupted with SIGINT in the middle of its first timed pass.
After each, no live process may remain in the supervisor's session or
in the worker's session: no JVM, no pyspark daemon, no Python worker.

    python3 -m pytest perfbench/test_clean_exit.py -q
"""

from __future__ import annotations

import json
import os
import queue
import re
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import session_members  # noqa: E402

RUN = [sys.executable, "perfbench/run.py", "--workload", "diag",
       "--seed", "7", "--seconds", "1", "--trace", "0"]
WORKER = re.compile(r"perfbench: worker pid (\d+) session (\d+)")


def _start() -> tuple[subprocess.Popen, queue.Queue]:
    p = subprocess.Popen(RUN, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    lines: queue.Queue = queue.Queue()

    def pump():
        for line in p.stderr:
            lines.put(line)
        lines.put(None)

    threading.Thread(target=pump, daemon=True).start()
    return p, lines


def _wait_for(lines: queue.Queue, pattern: str, seen: list, timeout=240) -> None:
    deadline = time.time() + timeout
    while time.time() < deadline:
        line = lines.get(timeout=max(0.1, deadline - time.time()))
        if line is None:
            raise AssertionError("stderr closed before: " + pattern + "\n"
                                 + "".join(seen[-30:]))
        seen.append(line)
        if pattern in line:
            return
    raise AssertionError(f"no '{pattern}' within {timeout} s")


def _drain(lines: queue.Queue, seen: list) -> None:
    while (line := lines.get(timeout=60)) is not None:
        seen.append(line)


def _assert_no_survivor(p: subprocess.Popen, seen: list) -> None:
    m = next(WORKER.search(s) for s in seen if WORKER.search(s))
    for sid in (p.pid, int(m.group(2))):
        assert session_members(sid) == [], f"processes left in session {sid}"
    assert not os.path.exists(os.path.join(ROOT, ".perfbench", f"work-{p.pid}"))


def test_completed_run_leaves_no_process():
    p, lines = _start()
    seen: list = []
    out = p.stdout.read()
    _drain(lines, seen)
    assert p.wait(timeout=60) == 0, "".join(seen[-30:])
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) >= {"setup_s", "wall_s", "panel_p50_s"}
    _assert_no_survivor(p, seen)


def test_interrupted_run_leaves_no_process():
    p, lines = _start()
    seen: list = []
    try:
        _wait_for(lines, "pass 1 started", seen)
        time.sleep(1.5)  # inside the first timed op
        p.send_signal(signal.SIGINT)
        out = p.stdout.read()
        _drain(lines, seen)
        assert p.wait(timeout=60) != 0
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    assert '"correct"' not in out
    assert any("interrupted by signal" in s for s in seen), "".join(seen[-30:])
    _assert_no_survivor(p, seen)
