#!/usr/bin/env python3
"""CPU per JVM thread class for each phase of one loadbench run.

Usage: python3 tools/thread_cpu.py [--sidecar PATH] [--json OUT] -- <command...>

    python3 tools/thread_cpu.py -- python3 loadbench/run.py --workload serve --seed 1 --seconds 20

Runs the command, finds the `loadbench.Main` JVM among its descendants and
samples /proc/<jvm>/task/*/{comm,stat} every 250 ms until the JVM exits.
Each thread's utime+stime delta between two samples is charged to its
thread class at the later sample's time:

    jit       C1/C2 compiler threads
    executor  Spark executor task threads ("Executor task launch worker ...")
    driver    the JVM's main thread, the workload driver ("java" or "main")
    gc        GC threads (GC Thread#n, G1 ...)
    other     everything else (Spark scheduler/listener/RPC, chunk pools, VM)

The phases come from the run's sidecar: the `*_end_s` marks in its `diag`
(seconds since JVM start) split the run into session, build, warmup, timed
and gate. When the sidecar's latencies hold `phrase` and `bulk` ops (the
serve workload), `timed` is split further in its op order: phrase batches
run first from the warmup mark, bulk batches last up to the timed mark, and
`timed.reads` is what lies between (writes, reads and the bulk warm-up).
These sub-phase edges are sums of op latencies, so they are exact up to
the few milliseconds of bookkeeping between ops.

The sidecar defaults to .loadbench/results/<workload>-seed<N>-trace<T>.json
under the current directory, read from the command's own arguments. Only
/proc of the command's descendants is read. A thread that exits between
two samples loses at most its last 250 ms of CPU.
"""
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

TICK = os.sysconf("SC_CLK_TCK")
INTERVAL_S = 0.25
CLASSES = ("jit", "executor", "driver", "gc", "other")


def thread_class(comm):
    if "CompilerThre" in comm:
        return "jit"
    if comm.startswith("Executor task"):
        return "executor"
    if comm in ("main", "java"):  # the launcher names the main thread after the process
        return "driver"
    if comm.startswith("GC Thread") or comm.startswith("G1 "):
        return "gc"
    return "other"


def read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def children(pid):
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return []
    return [int(c) for tid in tids
            for c in (read(f"/proc/{pid}/task/{tid}/children") or "").split()]


def find_jvm(root):
    """PID of the first descendant of `root` running loadbench.Main, or None."""
    todo = [root]
    while todo:
        pid = todo.pop()
        cmd = read(f"/proc/{pid}/cmdline") or ""
        if "loadbench.Main" in cmd.split("\0"):
            return pid
        todo += children(pid)
    return None


def stat_fields(text):
    # comm may hold spaces and parentheses: fields resume after the last ')'
    return text[text.rindex(")") + 2:].split()


def uptime():
    return float(read("/proc/uptime").split()[0])


def sample(pid):
    """{tid: (comm, cpu ticks)} of the process's live threads."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        comm = read(f"/proc/{pid}/task/{tid}/comm")
        stat = read(f"/proc/{pid}/task/{tid}/stat")
        if comm is None or stat is None:
            continue
        f = stat_fields(stat)
        out[tid] = (comm.strip(), int(f[11]) + int(f[12]))  # utime + stime
    return out


def profile(pid):
    """[(seconds since process start, class, cpu seconds)] deltas."""
    start = int(stat_fields(read(f"/proc/{pid}/stat"))[19]) / TICK
    prev, rows = {}, []
    while os.path.exists(f"/proc/{pid}/task"):
        now = sample(pid)
        t = uptime() - start
        for tid, (comm, ticks) in now.items():
            delta = ticks - prev.get(tid, (comm, 0))[1]
            if delta > 0:
                rows.append((t, thread_class(comm), delta / TICK))
        prev = {**prev, **now}
        time.sleep(INTERVAL_S)
    return rows


def arg_of(cmd, flag, default):
    return cmd[cmd.index(flag) + 1] if flag in cmd[:-1] else default


def phases(sidecar):
    """[(name, start_s, end_s)] from the sidecar's marks and op latencies."""
    diag = sidecar.get("diag", {})
    marks = sorted((v, k[:-len("_end_s")]) for k, v in diag.items() if k.endswith("_end_s"))
    out, t0 = [], 0.0
    lat = sidecar.get("latencies_ms", {})
    for end, name in marks:
        if name == "timed" and lat.get("phrase") and lat.get("bulk"):
            p_end = t0 + sum(lat["phrase"]) / 1000.0
            b_start = end - sum(lat["bulk"]) / 1000.0
            out += [("timed.phrase", t0, p_end), ("timed.reads", p_end, b_start),
                    ("timed.bulk", b_start, end)]
        else:
            out.append((name, t0, end))
        t0 = end
    out.append(("exit", t0, float("inf")))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sidecar", help="the run's sidecar JSON (default: from the command)")
    ap.add_argument("--json", help="also write the table as JSON here")
    ap.add_argument("command", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    cmd = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not cmd:
        ap.error("no command given")

    proc = subprocess.Popen(cmd)
    jvm = None
    while jvm is None and proc.poll() is None:
        jvm = find_jvm(proc.pid)
        if jvm is None:
            time.sleep(0.05)
    rows = profile(jvm) if jvm is not None else []
    code = proc.wait()
    if jvm is None:
        sys.exit(f"thread_cpu: no loadbench.Main JVM under the command (exit {code})")

    sidecar = Path(args.sidecar or Path(".loadbench") / "results" / (
        f"{arg_of(cmd, '--workload', '?')}-seed{arg_of(cmd, '--seed', '?')}"
        f"-trace{arg_of(cmd, '--trace', '0')}.json"))
    spans = phases(json.loads(sidecar.read_text()))
    table = {name: dict.fromkeys(CLASSES, 0.0) for name, _, _ in spans}
    for t, cls, cpu in rows:
        name = next(n for n, a, b in spans if a <= t < b or (n == "exit" and t >= a))
        table[name][cls] += cpu

    print(f"{'phase':<14} {'wall s':>7} " + " ".join(f"{c:>9}" for c in CLASSES)
          + f" {'total':>8}   (CPU s)")
    for name, a, b in spans:
        row = table[name]
        total = sum(row.values())
        wall = "" if b == float("inf") else f"{b - a:7.2f}"
        print(f"{name:<14} {wall:>7} " + " ".join(f"{row[c]:9.2f}" for c in CLASSES)
              + f" {total:8.2f}")
    all_cpu = {c: sum(r[c] for r in table.values()) for c in CLASSES}
    total = sum(all_cpu.values()) or 1.0
    print("share          " + " ".join(f"{all_cpu[c] / total:9.1%}" for c in CLASSES))
    if args.json:
        Path(args.json).write_text(json.dumps(
            {"phases": [{"name": n, "start_s": a, "end_s": None if b == float("inf") else b,
                         "cpu_s": table[n]} for n, a, b in spans]}, indent=1))
    sys.exit(code)


if __name__ == "__main__":
    main()
