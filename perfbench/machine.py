"""Machine state, memory peaks and process cleanup for one run."""

from __future__ import annotations

import hashlib
import os
import shutil
import signal
import sys
import time

#: command-line fragments of processes that contend for the same cores
#: (a test run or a tools/driver_sim.py sweep holding its own Spark JVM)
CONTENDERS = ("pytest", "driver_sim", "org.apache.spark.deploy.SparkSubmit")


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _ppids() -> dict[int, int]:
    out = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    out[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def _descendants(pid: int) -> set[int]:
    ppids = _ppids()
    found, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in ppids.items() if p in frontier} - found
        found |= frontier
    return found


def state() -> dict:
    """nproc, 1-minute load average, and any live contender process
    that is not part of this run."""
    ours = {os.getpid()} | _descendants(os.getpid())
    contenders = []
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) in ours:
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if any(c in cmd for c in CONTENDERS):
            contenders.append(cmd[:120])
    if contenders:
        print(f"perfbench: WARNING contended machine: {contenders[:3]}", file=sys.stderr)
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "contended": bool(contenders),
        "contenders": contenders[:3],
        "cpu_jiffies": sum(cpu),
        "steal_jiffies": cpu[7],
    }


def cpu_counters() -> tuple[int, int]:
    """(busy, stolen) CPU time in jiffies, summed over all CPUs: time
    the machine's threads ran, and time they were ready to run while
    the hypervisor ran other guests."""
    with open("/proc/stat") as f:
        c = [int(x) for x in f.readline().split()[1:9]]
    return c[0] + c[1] + c[2] + c[5] + c[6], c[7]


#: a time measured while the machine's threads got a share ``u`` of the
#: CPU time they were ready to use is reported as ``time * u**2``.  The
#: counters see time taken from running threads but not the wait of a
#: thread that wakes another on an idle CPU the host has given away, and
#: a Spark operation makes many such hand-offs.  On two ten-seed sets
#: of each workload on a shared 4-core VM, the exponent 2 left less
#: spread between runs than 1 or 3 (perfbench/README.md)
STEAL_EXPONENT = 2


def unstolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """busy / (busy + stolen) between two ``cpu_counters()`` snapshots:
    the share of the CPU time they were ready to use that the
    machine's threads got."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0


def net_of_steal(seconds: float, share: float) -> float:
    """``seconds`` measured at ``unstolen_share`` ``share``, as it would
    read had the hypervisor taken nothing."""
    return seconds * share**STEAL_EXPONENT


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``state()`` snapshots (high values inflate every timing)."""
    total = after["cpu_jiffies"] - before["cpu_jiffies"]
    return (after["steal_jiffies"] - before["steal_jiffies"]) / total if total else 0.0


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set of this process and of its Spark JVM."""
    proc = _jvm_proc()
    jvm = _hwm_kb(proc.pid) if proc is not None else 0
    return {"python": _hwm_kb(os.getpid()) / 1024, "jvm": jvm / 1024}


def stop_jvm(timeout: float = 20.0) -> None:
    """End the Spark JVM and every process it started (Python
    workers), waiting until all of them are gone."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    proc = _jvm_proc()
    if proc is None:
        return
    kids = _descendants(proc.pid)
    try:
        SparkContext._gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait(timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while kids:
        kids = {k for k in kids if os.path.exists(f"/proc/{k}")}
        if kids and time.monotonic() > deadline:
            for k in kids:
                try:
                    os.kill(k, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def cleanup_stream_stage(sf_dir: str) -> None:
    """Remove the symlink directory the package's event-stream reader
    stages for ``sf_dir`` (streaming.windows.read_events_stream keys it
    by a hash of the corpus path, outside any directory the caller can
    choose)."""
    stage = os.path.join("/tmp", "prs_stream_" + hashlib.sha1(sf_dir.encode()).hexdigest()[:10])
    if os.path.isdir(stage) and all(
        os.path.islink(os.path.join(stage, f)) for f in os.listdir(stage)
    ):
        shutil.rmtree(stage, ignore_errors=True)
