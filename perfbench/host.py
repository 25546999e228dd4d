"""What the host did to a run, read from ``/proc``: the pre-flight
check, CPU seconds, the hypervisor's steal, peak memory, and the
steal-adjusted time of a timed section.

Steal adjustment.  On a shared virtual machine the hypervisor now and
then runs other guests on this guest's CPUs.  The time a runnable CPU
waited is its steal, and it comes in waves about a minute long.  On a
4-core VM a pass of the polygon join took 2.0 s with no steal and up
to 3.6 s in a wave.  A timed section is therefore reported as its
steal-adjusted time: every 0.1 s interval in it counts its wall time
scaled by the share of the CPU time asked for in that interval that
the guest got, busy / (busy + steal), both read guest-wide from
``/proc/stat`` (the guest runs nothing else of note).  Short intervals
matter: while only the driver thread runs, steal on its CPU stalls
the whole section, and a share taken over a whole section would mix
that with the steal on CPUs that were merely busy.  With no steal the
adjusted time is the wall time; the raw wall, CPU and steal stay in
each run's detail line.
"""

from __future__ import annotations

import dataclasses
import os
import sys
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def preflight() -> dict:
    """1-min load and any Spark JVM already running: a leftover local[N]
    JVM spinning at full load silently slows every timing."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    stray = [
        int(p) for p in os.listdir("/proc")
        if p.isdigit() and "org.apache.spark.deploy.SparkSubmit" in _cmdline(p)
    ]
    if stray:
        print(f"perfbench: stray Spark JVMs running: {stray}", file=sys.stderr)
    return {"load1": load1, "stray_spark_jvms": len(stray), "stray_pids": stray[:8], "cores": os.cpu_count()}


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_launcher: int) -> float:
    """VmHWM of the Spark driver JVM plus this Python driver."""
    todo, jvm_kb = [jvm_launcher], 0
    while todo:
        pid = todo.pop()
        if "java" in _cmdline(str(pid)).split(" ")[0]:
            jvm_kb = max(jvm_kb, _vm_hwm_kb(pid))
        todo += _children(pid)
    return (jvm_kb + _vm_hwm_kb("self")) / 1024.0


def _stat() -> tuple[float, float]:
    """(busy, steal) CPU seconds of this guest since boot, summed over its
    CPUs: busy is user, nice, system, irq and softirq time; steal is the
    time its runnable CPUs waited while the hypervisor ran others."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / TICK, v[7] / TICK


@dataclasses.dataclass
class Timing:
    wall: float
    cpu: float  # the guest's busy CPU seconds
    steal: float
    adjusted: float  # steal-adjusted seconds

    @property
    def granted(self) -> float:
        """Share of the wall time left after the steal adjustment."""
        return self.adjusted / self.wall if self.wall > 0 else 1.0


class _Meter:
    """Integrates the steal-adjusted time.  A daemon thread samples
    ``/proc/stat`` every ``PERIOD`` seconds, and every read samples too;
    each interval between samples counts its wall time scaled by the
    share busy / (busy + steal) of that interval."""

    PERIOD = 0.1

    def __init__(self):
        self._lock = threading.Lock()
        self._t = time.perf_counter()
        self._busy, self._steal = _stat()
        self._total = Timing(0.0, 0.0, 0.0, 0.0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-steal", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD):
            self.sample()

    def sample(self) -> Timing:
        """Totals from the meter's start to now."""
        with self._lock:
            t = time.perf_counter()
            busy, steal = _stat()
            dt, db, ds = t - self._t, busy - self._busy, steal - self._steal
            share = db / (db + ds) if db + ds > 0 else 1.0
            a = self._total
            self._total = Timing(a.wall + dt, a.cpu + db, a.steal + ds, a.adjusted + dt * share)
            self._t, self._busy, self._steal = t, busy, steal
            return self._total

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


_meter: _Meter | None = None


def _start_meter() -> None:
    global _meter
    if _meter is None:
        _meter = _Meter()


def stop_meter() -> None:
    """Stop the sampling thread and wait for it."""
    global _meter
    if _meter is not None:
        _meter.close()
        _meter = None


class Clock:
    """Wall, busy CPU, steal and steal-adjusted seconds from its start to
    each ``read()``."""

    def __init__(self):
        _start_meter()
        self.start = _meter.sample()

    def read(self) -> Timing:
        end = _meter.sample()
        return Timing(*(getattr(end, k) - getattr(self.start, k) for k in ("wall", "cpu", "steal", "adjusted")))
