"""One-command live-process stall diagnosis (VERDICT r12 item 8).

The r12 sf30 streaming-stall root-cause (BENCH_scale_r12.md §3.5) was
pinned with an ad hoc jstack + /proc capture; this checks that recipe
in so the next wedge is a single command::

    python tools/stall_dump.py [--out DIR] [PID ...]

With no PIDs it auto-discovers every live JVM (jstack/jcmd present in
the sandbox) and every python process whose cmdline mentions the repo,
driver_sim, bench, or pytest — i.e. the processes a stalled sweep is
made of — excluding itself.  For each target it captures:

- JVM: ``jstack <pid>`` (full thread dump — the r12 tell was "no
  micro-batch thread, all task slots idle"), plus ``jcmd GC.heap_info``;
- python: /proc status (state, VmRSS), wchan (the kernel wait channel —
  a py4j-blocked driver shows a socket wait), kernel stack when
  readable, and open-fd count (fd leaks wedge file streams);
- machine: loadavg, meminfo head, df of /tmp and the repo, and sizes
  of the pandas_redshift_spark staging dirs under /tmp (a stalled
  drain leaves a growing sink/checkpoint dir — or a conspicuously
  static one).

Everything lands in one timestamped directory (default
``benchruns/stall_dump_<ts>/``) so the capture can be committed next
to the cert log it diagnoses.  Read-only: never signals, pauses, or
touches the target processes (SIGSTOP on a Spark JVM killed it in
r12 — see memory/ops notes).
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import time


def _read(path: str, limit: int = 65536) -> str:
    try:
        with open(path) as f:
            return f.read(limit)
    except OSError as exc:
        return f"<unreadable: {exc}>"


def _run(cmd: list[str], timeout: int = 30) -> str:
    try:
        r = subprocess.run(
            cmd, capture_output=True, text=True, timeout=timeout
        )
        return r.stdout + (("\n[stderr]\n" + r.stderr) if r.stderr else "")
    except Exception as exc:  # jstack on a dying pid, timeout, ...
        return f"<{' '.join(cmd)} failed: {exc}>"


def _cmdline(pid: int) -> str:
    return _read(f"/proc/{pid}/cmdline").replace("\0", " ").strip()


def discover() -> tuple[list[int], list[int]]:
    """(java_pids, python_pids) worth dumping, newest first."""
    me = os.getpid()
    java, py = [], []
    for ent in os.listdir("/proc"):
        if not ent.isdigit() or int(ent) == me:
            continue
        pid = int(ent)
        cmd = _cmdline(pid)
        if not cmd:
            continue
        exe = cmd.split(" ", 1)[0]
        if exe.endswith("java") or "/java " in cmd:
            java.append(pid)
        elif "python" in exe and any(
            k in cmd
            for k in ("driver_sim", "bench", "pytest", "repo", "spark")
        ):
            py.append(pid)
    return sorted(java), sorted(py)


def dump_jvm(pid: int, out_dir: str) -> None:
    base = os.path.join(out_dir, f"jvm_{pid}")
    with open(base + "_threads.txt", "w") as f:
        f.write(f"# cmdline: {_cmdline(pid)}\n\n")
        f.write(_run(["jstack", str(pid)]))
    with open(base + "_heap.txt", "w") as f:
        f.write(_run(["jcmd", str(pid), "GC.heap_info"]))


def dump_python(pid: int, out_dir: str) -> None:
    lines = [
        f"# cmdline: {_cmdline(pid)}",
        "\n## status\n" + _read(f"/proc/{pid}/status"),
        "\n## wchan\n" + _read(f"/proc/{pid}/wchan"),
        "\n## kernel stack\n" + _read(f"/proc/{pid}/stack"),
    ]
    try:
        nfds = len(os.listdir(f"/proc/{pid}/fd"))
    except OSError:
        nfds = -1
    lines.append(f"\n## open fds: {nfds}\n")
    with open(os.path.join(out_dir, f"py_{pid}.txt"), "w") as f:
        f.write("\n".join(lines))


def dump_machine(out_dir: str) -> None:
    # each application's scratch root (session.scratch_root) lives in
    # Spark's per-application dir under the local dirs
    local_dirs = os.environ.get("SPARK_LOCAL_DIRS", "/tmp").split(",")
    stages = sorted(
        p for d in local_dirs for p in glob.glob(os.path.join(d, "spark-*", "userFiles-*", "prs"))
    )
    parts = [
        "## loadavg\n" + _read("/proc/loadavg"),
        "\n## meminfo (head)\n"
        + "\n".join(_read("/proc/meminfo").splitlines()[:12]),
        "\n## df\n" + _run(["df", "-h", "/tmp", os.path.dirname(__file__)]),
        "\n## scratch roots under " + ",".join(local_dirs) + "\n"
        + (_run(["du", "-sh", *stages]) if stages else "<none>"),
    ]
    with open(os.path.join(out_dir, "machine.txt"), "w") as f:
        f.write("\n".join(parts))


def main(argv: list[str] | None = None) -> str:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("pids", nargs="*", type=int, help="explicit targets")
    ap.add_argument(
        "--out",
        default=None,
        help="output dir (default benchruns/stall_dump_<ts>)",
    )
    args = ap.parse_args(argv)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = args.out or os.path.join(
        repo, "benchruns", f"stall_dump_{time.strftime('%Y%m%d_%H%M%S')}"
    )
    os.makedirs(out_dir, exist_ok=True)
    if args.pids:
        java = [p for p in args.pids if "java" in _cmdline(p)]
        py = [p for p in args.pids if p not in java]
    else:
        java, py = discover()
    dump_machine(out_dir)
    for pid in java:
        dump_jvm(pid, out_dir)
    for pid in py:
        dump_python(pid, out_dir)
    print(
        f"stall_dump: {len(java)} JVM(s) {java}, {len(py)} python {py} "
        f"-> {out_dir}"
    )
    return out_dir


if __name__ == "__main__":
    sys.exit(0 if main() else 1)
