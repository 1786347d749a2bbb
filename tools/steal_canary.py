"""Shared hypervisor-steal canary: a pinned busy-loop whose per-proc
Miters/s is comparable across every tool that embeds it.

This host suffers episodic hypervisor CPU steal (documented rounds
2-4: measured 10x task-time inflation during one burst while
/proc/stat steal read 0 before and after). A measurement bracketed by
depressed canary readings was taken during a burst and must be re-run
or compared via contention-free bounds, not averaged in.

``bench.py`` and ``tools/scaling_bench.py`` both import THIS loop
body — the per-proc Miters/s scale (quiet host ~7 per proc when all
cores busy, ~19-21 single-proc) stays comparable across tools because
the iteration cost is identical. The callers differ only in probe
width/duration (bench: CPUS procs — its own run width, default 32 —
x 1.5 s, after the 8-wide probe was measured green during bursts
that still capped the 32-wide run; scaling: the leg's full affinity
mask x 2 s).
"""

from __future__ import annotations

import time

# single source of truth for every publication gate that brackets a
# measurement with this canary (bench.py): the
# quiet-host per-proc reference and the default contended threshold.
# Re-baselining the host means editing THESE, not per-tool literals.
QUIET_MITERS = 7.0
DEFAULT_GATE = 0.85


def burn(secs: float) -> int:
    t0 = time.time()
    x = 0
    while time.time() - t0 < secs:
        x += 1
    return x


def canary(procs: int, secs: float) -> float:
    """Per-proc busy-loop Miters/s over ``procs`` concurrent workers
    (inherits the caller's cpu affinity mask)."""
    import multiprocessing as mp

    with mp.Pool(procs) as pool:
        total = sum(pool.map(burn, [secs] * procs))
    return round(total / procs / secs / 1e6, 2)
