#!/usr/bin/env python3
"""Alternating parent/change A/B of one perfbench workload.

Runs `python3 perfbench/run.py --workload W --seed S --seconds T --trace 0`
in two checkouts, one run at a time, in pairs on consecutive seeds: the
parent runs first on odd pairs and the change first on even ones. Then,
per end-to-end metric, it prints each side's q1/median/q3, the shift of
the change's median from the parent's, the parent's IQR and how many
pairs the change won (lower or higher is better as BENCHMARK.json says).

    scripts/perfbench_ab.py --parent ../graft-parent --change . \\
        --workload corpus --pairs 10 --seed 9101 --log ab-corpus.jsonl

Each run's JSON line is appended to --log as it finishes; `--from-log`
prints the table of a log again without running anything.

Make the parent checkout a clean one, from git, so it builds from scratch:

    git worktree add ../graft-parent <parent-sha>
    # or: mkdir ../graft-parent && git archive <parent-sha> | tar -x -C ../graft-parent

Never `cp -a` a built checkout: the copy's incremental-compiler analysis
still names the original's class files, so compiling the copy deletes
the original's `target/.../classes`. Each checkout builds the engine and
generates its fixture on its first run (cached under `.perfbench/`); run
one short warm-up (`--seconds 3`, a seed kept out of the A/B) on each
side first, so that no pair pays for a build. Use seeds that were not
used while developing the change.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    """one perfbench run; its last stdout line, parsed"""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, check=False)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {out.returncode}):\n"
                         + out.stdout[-2000:])
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def table(rows, better):
    """rows: dicts with side, seed, result (a pair is one seed run on
    both sides); prints one line per metric"""
    pairs = sorted({r["seed"] for r in rows})
    by = {(r["side"], r["seed"]): r["result"] for r in rows}
    pairs = [p for p in pairs if ("parent", p) in by and ("change", p) in by]
    if not pairs:
        print("no complete pair")
        return
    bad = [(s, p) for (s, p), res in by.items()
           if not res.get("correct") or res.get("failed")]
    print(f"{len(pairs)} pairs; runs not correct or with failures: {bad or 'none'}")
    print("| metric | parent q1/median/q3 | change q1/median/q3 | shift | parent IQR | change won |")
    print("|---|---|---|---|---|---|")
    for m in better:
        a = [by[("parent", p)]["metrics"][m]["value"] for p in pairs
             if m in by[("parent", p)]["metrics"]]
        b = [by[("change", p)]["metrics"][m]["value"] for p in pairs
             if m in by[("change", p)]["metrics"]]
        if len(a) != len(pairs) or len(b) != len(pairs):
            continue
        qa, qb = quartiles(a), quartiles(b)
        lower = better[m] == "lower"
        won = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        shift = qb[1] - qa[1]
        pct = f" ({100 * shift / qa[1]:+.1f} %)" if qa[1] else ""
        fmt = lambda q: "/".join(f"{v:.3f}" for v in q)
        print(f"| {m} | {fmt(qa)} | {fmt(qb)} | {shift:+.3f}{pct} | "
              f"{qa[2] - qa[0]:.3f} | {won}/{len(pairs)} |")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="parent checkout")
    ap.add_argument("--change", help="change checkout")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, help="first seed; pair i runs seed + i")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--log", help="append each run's JSON line here")
    ap.add_argument("--from-log", help="print the table of an earlier --log and exit")
    args = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(args.parent or here, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}

    if args.from_log:
        with open(args.from_log) as f:
            rows = [json.loads(l) for l in f if l.strip()]
        for w in sorted({r["workload"] for r in rows}):
            print(f"## {w}")
            table([r for r in rows if r["workload"] == w], better)
        return
    if not (args.parent and args.change and args.workload and args.seed is not None):
        ap.error("--parent, --change, --workload and --seed are required to run")
    rows = []
    for i in range(args.pairs):
        seed, pair = args.seed + i, i + 1
        order = ["parent", "change"] if pair % 2 else ["change", "parent"]
        for side in order:
            res = run_once(getattr(args, side), args.workload, seed, args.seconds)
            row = {"workload": args.workload, "side": side, "pair": pair,
                   "seed": seed, "result": res}
            rows.append(row)
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps(row) + "\n")
            print(f"pair {pair} seed {seed} {side}: "
                  f"wall_s {res['metrics'].get('wall_s', {}).get('value')}",
                  file=sys.stderr, flush=True)
    table(rows, better)


if __name__ == "__main__":
    main()
