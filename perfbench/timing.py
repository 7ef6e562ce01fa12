"""Set-up and timed reps, shared by the untraced and the traced run."""

from __future__ import annotations

import time

from perfbench import host

SETUPS = 4
# untimed reps after the set-ups: the JVM needs ~7 reps to settle, the last
# session's Python workers ~4
WARM_REPS = 3
MIN_REPS = 3


def measure(wl, seconds: float) -> dict:
    """Timed reps until ``seconds`` of rep wall have passed (at least
    MIN_REPS); each rep carries its external-core load and is verified."""
    import benchguard

    walls, ext, attempted, failed = [], [], 0, 0
    out = None
    while sum(walls) < seconds or len(walls) < MIN_REPS:
        _, ext_cores, (wall, out) = benchguard.measure(wl.rep)
        a, f = wl.verify(out)
        walls.append(wall)
        ext.append(ext_cores)
        attempted += a
        failed += f
    return {"walls": walls, "ext_cores": ext, "attempted": attempted,
            "failed": failed, "last": out}


def open_workload(cls, path: str, seed: int, sizes: dict, cores: int, event_log=None):
    """Session start, input open and one full-size warm-up rep."""
    wl = cls(host.start_session(cores, event_log=event_log), path, seed, sizes)
    wl.rep()
    return wl


def set_up(cls, path: str, seed: int, sizes: dict, cores: int):
    """SETUPS set-ups (session start, input open, one full-size warm-up
    rep).  The first also launches the JVM; each later one starts a new
    session in it.  The first is always the slowest, so the median is the
    middle of the later ones, which every run repeats alike.  The last
    session stays open.  Returns (workload, set-up walls)."""
    walls, wl = [], None
    for _ in range(SETUPS):
        if wl is not None:
            host.stop_session(wl.spark)
        t0 = time.perf_counter()
        wl = open_workload(cls, path, seed, sizes, cores)
        walls.append(time.perf_counter() - t0)
    return wl, walls
