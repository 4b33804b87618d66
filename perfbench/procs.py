"""Finding and stopping every process of a session.

The measuring process runs in a session of its own, so the gateway JVM it
launches and the PySpark worker daemons the JVM forks (which move to
process groups of their own, but never leave the session) can all be
found by session id and stopped together.
"""

from __future__ import annotations

import os
import signal
import time


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is ``sid``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        # fields[0] is the state, fields[3] the session id
        if fields and fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(entry))
    return out


def _signal_all(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def reap_session(sid: int, grace_s: float = 5.0) -> list[int]:
    """Stop every process of session ``sid``: SIGTERM, wait up to
    ``grace_s``, then SIGKILL and wait again. Returns the pids still alive
    afterwards (empty on success)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = session_members(sid)
        if not pids:
            return []
        _signal_all(pids, sig)
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            if not session_members(sid):
                return []
            time.sleep(0.05)
    return session_members(sid)
