"""In-run box state for the bench tools, from ``/proc/stat``.

A tool brackets its measured work with ``InRun`` and stamps the result
with the CPU-time shares of that whole window — run-long deltas, not
instant controls, so a degraded window in the middle of a run still
counts:

- ``sys_frac``: system time over user+system time. Kernel-time storms
  slow this sandbox 2-5x and show up here.
- ``steal_frac``: hypervisor steal over all elapsed CPU time, idle
  included. Steal is time the hypervisor ran someone else on our vCPUs;
  it never shows up as system time.

The repo-root ``bench.py`` keeps its own reader: it is the frozen harness.
"""

from __future__ import annotations

import time


def cpu_jiffies() -> tuple[int, int, int, int]:
    """(user+nice, system, steal, total) jiffies across all cpus — the
    first line of /proc/stat (steal is field 8; 0 on kernels without it)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[0] + vals[1], vals[2], vals[7] if len(vals) > 7 else 0, sum(vals)


class InRun:
    """``with InRun() as m:`` — then ``m.wall`` (seconds), ``m.sys_frac``
    and ``m.steal_frac`` of the block."""

    def __enter__(self) -> InRun:
        self._j0, self._t0 = cpu_jiffies(), time.time()
        return self

    def __exit__(self, *exc) -> bool:
        user, system, steal, total = (b - a for a, b in zip(self._j0, cpu_jiffies()))
        self.wall = time.time() - self._t0
        self.sys_frac = round(system / max(1, user + system), 3)
        self.steal_frac = round(steal / max(1, total), 4)
        return False
