"""Benchmark entry point.

    python3 perfbench/run.py --workload cqc_adhoc --seed 1 --seconds 10 --trace 0

Starts the measuring process (``worker.py``) in a session of its own,
relays its output, and when it has ended — normally, by exception or by
time-out — stops every process left in that session (the gateway JVM,
PySpark worker daemons) and checks that none survives. The result line
is printed last, and only if the run succeeded and left nothing behind.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
import workloads  # noqa: E402

# the whole command must end within 180 s; leave room to clean up
TIME_LIMIT_S = 165.0


def _relay(stream, results: list[str]) -> None:
    """Echo the worker's log lines; keep its JSON result lines."""
    for line in stream:
        if line.startswith("{"):
            results.append(line)
        else:
            print(line, end="", flush=True)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the reaping below


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sparksqlplus_spark")):
        print("engine sources (sparksqlplus_spark/) not found next to perfbench/",
              file=sys.stderr)
        return 2

    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    signal.signal(signal.SIGTERM, _terminate)
    worker = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              start_new_session=True)
    lines: list[str] = []
    reader = threading.Thread(target=_relay, args=(worker.stdout, lines), daemon=True)
    reader.start()
    timed_out = False
    try:
        worker.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        timed_out = True
    finally:
        survivors = procs.reap_session(worker.pid)
        worker.wait()
        reader.join(timeout=5.0)
        worker.stdout.close()
    last = lines[-1] if lines else None
    if timed_out:
        print(f"# time-out after {TIME_LIMIT_S:.0f} s", file=sys.stderr)
        return 3
    if survivors:
        print(f"# processes left running: {survivors}", file=sys.stderr)
        return 4
    if worker.returncode != 0 or last is None:
        print(f"# measuring process failed (exit {worker.returncode})", file=sys.stderr)
        return 1
    print("# no process of the run is left", flush=True)
    result = json.loads(last)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
