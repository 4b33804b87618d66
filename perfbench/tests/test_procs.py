import os
import shutil
import subprocess
import sys
import time
import uuid

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)

# a process that leaves a grandchild behind in a process group of its own
# (as PySpark's worker daemon does), then exits, raises or hangs
LEAVER = """
import os, subprocess, sys, time
marker, mode = sys.argv[1], sys.argv[2]
subprocess.Popen([sys.executable, "-c", "import os, time; os.setpgid(0, 0); time.sleep(600)",
                  marker])
time.sleep(0.5)
if mode == "raise":
    raise RuntimeError("injected")
if mode == "hang":
    time.sleep(600)
print('{"correct": true, "attempted": 1, "failed": 0, "metrics": {}}', flush=True)
"""


def _alive_with(marker: str) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/cmdline", "rb") as f:
                    if marker.encode() in f.read():
                        out.append(int(entry))
            except OSError:
                pass
    return [p for p in out if procs._stat_fields(p) and procs._stat_fields(p)[0] != "Z"]


def test_reap_session_stops_every_process_after_a_time_out():
    marker = f"leftover-{uuid.uuid4()}"
    leader = subprocess.Popen([sys.executable, "-c", LEAVER, marker, "hang"],
                              start_new_session=True)
    try:
        deadline = time.monotonic() + 10
        while len(procs.session_members(leader.pid)) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert len(procs.session_members(leader.pid)) == 2
        assert procs.reap_session(leader.pid) == []
        leader.wait(timeout=5)
        assert _alive_with(marker) == []
    finally:
        leader.kill()
        leader.wait()


def _bench_copy(tmp_path, worker_source: str | None):
    """perfbench/ copied next to an engine directory; optionally with the
    measuring process replaced."""
    dest = tmp_path / "perfbench"
    shutil.copytree(BENCH, dest, ignore=shutil.ignore_patterns("tests", "__pycache__"))
    if worker_source is not None:
        (tmp_path / "sparksqlplus_spark").mkdir()
        (dest / "worker.py").write_text(worker_source)
    return dest / "run.py"


def _run(run_py, *extra):
    return subprocess.run(
        [sys.executable, str(run_py), "--workload", "cqc_adhoc", "--seed", "1",
         "--seconds", "1", *extra],
        capture_output=True, text=True, timeout=170,
    )


def test_no_process_survives_a_normal_exit_or_an_exception(tmp_path):
    for mode in ("ok", "raise"):
        marker = f"leftover-{uuid.uuid4()}"
        worker = f"import sys\nsys.argv[1:] = [{marker!r}, {mode!r}]\n{LEAVER}"
        res = _run(_bench_copy(tmp_path / mode, worker))
        assert _alive_with(marker) == []
        if mode == "ok":
            assert res.returncode == 0
            assert res.stdout.strip().splitlines()[-1].startswith('{"correct": true')
        else:
            assert res.returncode != 0
            assert '"correct"' not in res.stdout


def test_fails_without_a_result_where_the_engine_is_missing(tmp_path):
    res = _run(_bench_copy(tmp_path, None))
    assert res.returncode != 0
    assert '"correct"' not in res.stdout
