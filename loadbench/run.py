#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 loadbench/run.py --workload {ingest,serve}
                             --seed N --seconds S --trace {0,1}

Builds the engine and the harness with sbt when their sources changed (the
classpath is resolved once, outside any measurement), then runs the workload
in a fresh JVM with a fixed heap and its own scratch root, removed on exit.
Prints a report, then as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"} -- the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Exits non-zero when a
correctness check or an operation failed. See loadbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".loadbench"          # scratch roots and result sidecars
WORKLOADS = ("ingest", "serve")
HEAP = "3g"
RUN_TIMEOUT_S = 170                  # a run must end within 180 s
BUILD_TIMEOUT_S = 850
# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def log(msg):
    print(f"loadbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [(ROOT, ["build.sbt", "project/build.properties"], ROOT / "src" / "main"),
             (BENCH, ["build.sbt", "project/build.properties"], BENCH / "src")]
    files = []
    for base, fixed, tree in roots:
        files += [base / f for f in fixed]
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def source_stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return (classpath, stamp)."""
    for required in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                     BENCH / "build.sbt", BENCH / "src"):
        if not required.exists():
            log(f"{required.relative_to(ROOT)} not found: run from the root of a "
                "full checkout of the repository")
            sys.exit(2)
    stamp = source_stamp(source_files())
    cp_file = BENCH / "target" / "classpath.txt"
    stamp_file = BENCH / "target" / "loadbench.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine and harness with sbt ...")
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        sys.exit(2)
    if proc.returncode != 0 or not cp_file.exists():
        sys.stderr.write(proc.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp_file.read_text().strip(), stamp


def git_state():
    """(HEAD, dirty) of the checkout, or (None, None) outside a git work tree."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=30)
    try:
        head = git("rev-parse", "HEAD")
        if head.returncode != 0:
            return None, None
        status = git("status", "--porcelain", "--untracked-files=no")
        return head.stdout.strip(), bool(status.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        return None, None


def tree_bytes(path):
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(dirpath, n)).st_size
            except OSError:
                pass
    return total


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return 0, 0


def declared_metrics(key):
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        return None
    return [m["name"] for m in json.loads(spec.read_text())[key]]


def run_jvm(args, classpath, run_dir, deadline):
    """Run loadbench.Main; return (result dict or None, log text)."""
    for sub in ("tmp", "spark-local", "work"):
        (run_dir / sub).mkdir(parents=True)
    out = run_dir / "result.json"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.callstack.depth=200",
           "-cp", classpath, "loadbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--trace", str(args.trace), "--cores", str(len(os.sched_getaffinity(0))),
           "--scratch", str(run_dir), "--out", str(out)]
    if args.fault:
        cmd += ["--fault", args.fault]
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=lf,
                                stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("run exceeded its time limit; killing the JVM")
            proc.kill()
            proc.wait()
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    text = log_path.read_text(errors="replace")
    result = json.loads(out.read_text()) if out.exists() else None
    return result, text


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10,
                    help="nominal length of the timed phase; the phase runs "
                         "fixed operation counts sized for it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    deadline = time.time() + RUN_TIMEOUT_S
    # on SIGTERM, unwind: the JVM is killed and the scratch root removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath, stamp = build()
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S)  # the build is not the run
    head, dirty = git_state()

    scratch = STATE / "scratch"
    stale = tree_bytes(scratch)
    shutil.rmtree(scratch, ignore_errors=True)
    run_dir = scratch / f"run-{os.getpid()}"
    steal0, total0 = cpu_ticks()
    try:
        result, jvm_log = run_jvm(args, classpath, run_dir, deadline)
        steal1, total1 = cpu_ticks()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        left = tree_bytes(run_dir)
        shutil.rmtree(scratch, ignore_errors=True)

    results_dir = STATE / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    (results_dir / f"{args.workload}-trace{args.trace}.log").write_text(jvm_log)
    if result is None:
        sys.stderr.write(jvm_log[-4000:])
        log("the JVM ended without a result")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)

    errors = list(result["errors"])
    if left:
        errors.append(f"run left {left} bytes of scratch behind")
    key = "per_layer" if args.trace else "end_to_end"
    metrics = result[key]
    declared = declared_metrics(key)
    missing = [m for m in declared or [] if m not in metrics]
    if missing:
        errors.append(f"metrics not measured: {', '.join(missing)}")
    if declared is not None:
        metrics = {m: metrics[m] for m in declared if m in metrics}

    overhead = None
    if args.trace:
        base = results_dir / f"{args.workload}-seed{args.seed}-trace0.json"
        if base.exists():
            untraced = json.loads(base.read_text())
            if untraced.get("source_sha256") == stamp:
                overhead = {m: v["value"] - untraced["end_to_end"][m]["value"]
                            for m, v in result["end_to_end"].items()
                            if m in untraced["end_to_end"]}

    extra = len(errors) - len(result["errors"])  # harness-level failures
    failed = result["failed"] + extra
    sidecar = dict(result, git_head=head, git_dirty=dirty, source_sha256=stamp,
                   seconds=args.seconds, stale_scratch_bytes=stale,
                   scratch_left_bytes=left, errors=errors, failed=failed,
                   cpu_steal_share=(steal1 - steal0) / max(1, total1 - total0),
                   tracing_overhead=overhead, fault=args.fault)
    side_path = results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    side_path.write_text(json.dumps(sidecar, indent=1))

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"git {head or '-'}{' (dirty)' if dirty else ''}  source {stamp[:12]}")
    for name, m in result["figures"].items():
        value = m["value"]
        shown = f"{value:>14.4f}" if isinstance(value, (int, float)) else f"{value!s:>14}"
        print(f"  {name:<28} {shown} {m['unit']}")
    for name, v in result["diag"].items():
        print(f"  {name:<28} {v}")
    print(f"  cpu_steal_share              {sidecar['cpu_steal_share']:.4f}")
    print(f"  stale_scratch_bytes          {stale}")
    print(f"  scratch_left_bytes           {left}")
    if args.trace:
        print(f"  per-layer sidecar            {side_path.relative_to(ROOT)}")
        if overhead is None:
            print("  tracing overhead             no untraced run of this seed and source")
        for name, v in (overhead or {}).items():
            print(f"  overhead {name:<19} {v:+.4f}")
    for e in errors:
        print(f"  FAILED {e}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, result["attempted"] + extra),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
