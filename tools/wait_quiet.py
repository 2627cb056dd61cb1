"""Block until the box shows a sustained quiet window (low steal AND
low other-process busy), then exit 0 — a measurement gate for a host
whose hypervisor steal arrives in multi-minute storms (round-12
sessions discarded five sweeps to them).

Both halves of the claim are checked (ADVICE r12 flagged that only
steal was): hypervisor steal from /proc/stat, and non-self CPU busy —
total busy minus this process's own utime/stime delta — so a sweep
can't start while another local process is burning cores.

Usage: python tools/wait_quiet.py [max_wait_sec] [window_sec]
Exits 0 on quiet (prints the observed steal%/busy%), 1 on timeout.
"""
from __future__ import annotations

import os
import sys
import time

STEAL_PCT_MAX = 0.3
NONSELF_BUSY_PCT_MAX = 15.0
CONSECUTIVE = 3


def _stat() -> tuple[int, int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # busy = everything except idle (3), iowait (4) and steal (7) —
    # steal has its own gate; folding it into busy would double-count
    busy = sum(vals[:8]) - vals[3] - vals[4] - vals[7]
    return sum(vals[:8]), vals[7], busy


def _self_ticks() -> int:
    with open(f"/proc/{os.getpid()}/stat") as fh:
        parts = fh.read().rsplit(")", 1)[1].split()
    # fields 14/15 (utime, stime) are parts[11]/parts[12] after comm
    return int(parts[11]) + int(parts[12])


def main() -> int:
    max_wait = float(sys.argv[1]) if len(sys.argv) > 1 else 1800.0
    window = float(sys.argv[2]) if len(sys.argv) > 2 else 10.0
    deadline = time.time() + max_wait
    quiet = 0
    while time.time() < deadline:
        t0, s0, b0 = _stat()
        p0 = _self_ticks()
        time.sleep(window)
        t1, s1, b1 = _stat()
        p1 = _self_ticks()
        dt = t1 - t0
        steal = 100.0 * (s1 - s0) / dt if dt else 0.0
        nonself = 100.0 * max(0, (b1 - b0) - (p1 - p0)) / dt if dt else 0.0
        if steal <= STEAL_PCT_MAX and nonself <= NONSELF_BUSY_PCT_MAX:
            quiet += 1
            if quiet >= CONSECUTIVE:
                print(f"quiet: steal {steal:.2f}%, non-self busy "
                      f"{nonself:.2f}% over {CONSECUTIVE} x "
                      f"{window:.0f}s windows")
                return 0
        else:
            quiet = 0
            print(f"contended: steal {steal:.2f}%, non-self busy "
                  f"{nonself:.2f}%", flush=True)
    print("timeout waiting for quiet window")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
