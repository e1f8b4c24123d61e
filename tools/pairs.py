#!/usr/bin/env python3
"""Alternating parent/change loadbench pairs from two checkouts.

Usage:
    python3 tools/pairs.py --parent DIR --change DIR --workload serve \\
        --seeds 101-110 [--seconds 20] [--out DIR]
    python3 tools/pairs.py --report DIR --workload serve [--seeds 101-110]

For each seed, runs `python3 loadbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, one run at a time. The side
that runs first alternates: the parent on the 1st, 3rd, ... seed, the change
on the 2nd, 4th, .... Each run's sidecar is copied to OUT/parent/ and
OUT/change/ (OUT defaults to ./pairs-<workload>), so `--report OUT`
re-prints the table later without running anything. A run that exits
non-zero or leaves no sidecar keeps its output as OUT/<side>/W-seedS.log.

The table gives, for every end-to-end metric the change's BENCHMARK.json
declares, each side's median with its interquartile range (inclusive
quartiles), the shift of the medians, the parent's IQR, and in how many
pairs the change was better (ties count for neither side). Below it, per
seed pair, the `index_bytes_by_entry` entries whose bytes differ between
the sides, then every run's exit status, `correct`, failed operations, CPU
steal share and CPU sentinel, and the saved log of each failed run. The
script exits 1 when any run exited non-zero or was not correct.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("parent", "change")


def seed_list(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_one(checkout, workload, seed, seconds, out):
    cmd = [sys.executable, "loadbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    name = f"{workload}-seed{seed}-trace0.json"
    sidecar = Path(checkout) / ".loadbench" / "results" / name
    log = out / f"{workload}-seed{seed}.log"
    out.mkdir(parents=True, exist_ok=True)
    if proc.returncode == 0 and sidecar.exists():
        shutil.copy(sidecar, out / name)
        log.unlink(missing_ok=True)
    else:
        # a failed run keeps no stale sidecar of an earlier run in OUT
        (out / name).unlink(missing_ok=True)
        log.write_text(proc.stdout + proc.stderr)
    return proc.returncode


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(out, workload, seeds, declared, exits):
    runs = {side: {} for side in SIDES}
    for side in SIDES:
        for path in sorted((out / side).glob(f"{workload}-seed*-trace0.json")):
            d = json.loads(path.read_text())
            if seeds is None or d["seed"] in seeds:
                runs[side][d["seed"]] = d
    paired = sorted(set(runs["parent"]) & set(runs["change"]))
    print(f"{workload}: {len(paired)} pairs, seeds {paired}")
    print(f"{'metric':<26} {'parent median (q1-q3)':<32} {'change median (q1-q3)':<32}"
          f" {'shift':>8} {'parent IQR':>11} {'better':>7}")
    for metric, better in declared:
        vals = {side: [runs[side][s]["end_to_end"][metric]["value"] for s in paired]
                for side in SIDES}
        if not paired:
            break
        (p1, p2, p3), (c1, c2, c3) = (quartiles(vals[side]) for side in SIDES)
        sign = 1 if better == "lower" else -1
        wins = sum(1 for p, c in zip(vals["parent"], vals["change"])
                   if sign * (p - c) > 0)
        shift = (c2 - p2) / p2 * 100 if p2 else float("nan")
        print(f"{metric:<26} {f'{p2:.6g} ({p1:.6g}-{p3:.6g})':<32}"
              f" {f'{c2:.6g} ({c1:.6g}-{c3:.6g})':<32}"
              f" {shift:>+7.1f}% {p3 - p1:>11.4g} {wins:>4}/{len(paired)}")
    print("\nindex_bytes_by_entry that differ (entry parent -> change):")
    for seed in paired:
        by_entry = [runs[side][seed].get("diag", {}).get("index_bytes_by_entry", {})
                    for side in SIDES]
        diff = [f"{k} {by_entry[0].get(k)} -> {by_entry[1].get(k)}"
                for k in sorted(set(by_entry[0]) | set(by_entry[1]))
                if by_entry[0].get(k) != by_entry[1].get(k)]
        print(f"  seed {seed:>4}: {', '.join(diff) or 'none'}")
    bad = 0
    print("\nruns (side seed exit correct failed steal calib_start/end):")
    for side in SIDES:
        logs = {int(p.stem.rpartition("-seed")[2]): p
                for p in (out / side).glob(f"{workload}-seed*.log")}
        for seed in sorted(set(runs[side]) | set(logs)
                           | {s for (sd, s) in exits if sd == side}):
            if seeds is not None and seed not in seeds:
                continue
            d = runs[side].get(seed)
            code = exits.get((side, seed), "?" if seed in logs else 0)
            if d is None:
                log = f", log {logs[seed]}" if seed in logs else ""
                print(f"  {side:<6} {seed:>4} exit {code} (no sidecar{log})")
                bad += 1
                continue
            bad += code not in (0, "?") or not d["correct"]
            diag = d.get("diag", {})
            print(f"  {side:<6} {seed:>4} exit {code} correct {d['correct']} "
                  f"failed {d['failed']} steal {d['cpu_steal_share']:.4f} "
                  f"calib {diag.get('cpu_calib_start_mops', 0):.0f}/"
                  f"{diag.get('cpu_calib_end_mops', 0):.0f}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--report", help="only summarise the sidecars under this dir")
    ap.add_argument("--workload", required=True, choices=("ingest", "serve"))
    ap.add_argument("--seeds", help="e.g. 101-110 or 1,3,5-7")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--out")
    args = ap.parse_args()
    seeds = seed_list(args.seeds) if args.seeds else None
    exits = {}
    if args.report:
        out = Path(args.report)
        bench_root = Path(args.change or ".")
    else:
        if not (args.parent and args.change and seeds):
            ap.error("--parent, --change and --seeds are required to run pairs")
        out = Path(args.out or f"pairs-{args.workload}")
        bench_root = Path(args.change)
        for i, seed in enumerate(seeds):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for side in order:
                checkout = args.parent if side == "parent" else args.change
                code = run_one(checkout, args.workload, seed, args.seconds, out / side)
                exits[(side, seed)] = code
                print(f"[pairs] {args.workload} seed {seed} {side}: exit {code}",
                      file=sys.stderr, flush=True)
    bench = json.loads((bench_root / "BENCHMARK.json").read_text())
    declared = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    sys.exit(1 if report(out, args.workload, seeds, declared, exits) else 0)


if __name__ == "__main__":
    main()
