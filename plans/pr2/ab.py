#!/usr/bin/env python3
"""Interleaved same-box A/B of the sync benchmark: a parent checkout against
a change checkout, each run in its own fresh JVM, alternating which side
goes first per seed so host drift falls on both sides evenly.

    python3 ab.py run PARENT_DIR CHANGE_DIR OUT_DIR
    python3 ab.py summarize OUT_DIR

`run` does, per workload, one untraced run per seed and side, then one
traced run per side, and copies each run's result line (`*.line`) and full
report (`perfbench/.out/*.json`) to OUT_DIR/<side>/; a run whose result
line is already there is skipped, so an interrupted `run` resumes.
`summarize` prints the medians, quartile spreads and per-pair win counts
as markdown.
"""

import json
import os
import statistics
import subprocess
import sys

SEEDS = {"cdc_bulk": list(range(31, 41)), "fanout_live": list(range(41, 51))}
TRACE_SEED = {"cdc_bulk": 77, "fanout_live": 41}
SECONDS = 5
SIDES = ["parent", "change"]
E2E = ["setup_s", "snapshot_s", "op_p50_s", "items_per_s", "probe_p50_s", "heap_retained_mb"]
HIGHER_IS_BETTER = {"items_per_s"}
TRACED = ["probe.doc.jobs", "probe.doc.tasks", "probe.doc.wall_s", "index.commit.tasks",
          "index.commit.wall_s", "index.initialize.tasks", "index.initialize.wall_s",
          "cdc.resolve.roots_per_change", "index.commit.rewrite_ratio", "cdc.resolve.wall_s",
          "cdc.reassemble.wall_s", "op.cdc_batch.wall_s", "stream.docs.tasks",
          "leak.persistent_rdds"]


def run_one(side, checkout, out, workload, seed, trace):
    tag = f"{workload}-seed{seed}-trace{trace}"
    dest = os.path.join(out, side)
    os.makedirs(dest, exist_ok=True)
    if load(out, side, workload, seed, trace) is not None:
        return
    proc = subprocess.run([sys.executable, os.path.join(checkout, "perfbench", "run.py"),
                           "--workload", workload, "--seed", str(seed), "--seconds", str(SECONDS),
                           "--trace", str(trace)], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, check=False)
    # the checkout's location is not part of the result
    stdout = proc.stdout.replace(checkout, "<checkout>")
    last = stdout.strip().splitlines()[-1:]
    with open(os.path.join(dest, tag + ".log"), "w") as fh:
        fh.write(stdout)
    with open(os.path.join(dest, tag + ".line"), "w") as fh:
        fh.write(last[0] + "\n" if last else "")
    report = os.path.join(checkout, "perfbench", ".out", tag + ".json")
    if os.path.isfile(report):
        with open(report) as src, open(os.path.join(dest, tag + ".json"), "w") as fh:
            fh.write(src.read().replace(checkout, "<checkout>"))
    print(f"{side} {tag}: {last[0][:160] if last else 'no output'}", flush=True)


def run(parent, change, out):
    dirs = {"parent": parent, "change": change}
    for workload, seeds in SEEDS.items():
        for i, seed in enumerate(seeds):
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                run_one(side, dirs[side], out, workload, seed, 0)
        for side in SIDES:
            run_one(side, dirs[side], out, workload, TRACE_SEED[workload], 1)


def load(out, side, workload, seed, trace):
    path = os.path.join(out, side, f"{workload}-seed{seed}-trace{trace}.line")
    try:
        with open(path) as fh:
            return json.loads(fh.read())
    except (OSError, ValueError):
        return None


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(out):
    for workload, seeds in SEEDS.items():
        pairs = [(load(out, "parent", workload, seed, 0), load(out, "change", workload, seed, 0))
                 for seed in seeds]
        pairs = [pair for pair in pairs if all(pair)]
        if not pairs:
            continue
        ok = all(r["correct"] and r["failed"] == 0 for pair in pairs for r in pair)
        print(f"\n### {workload} ({len(pairs)} pairs, untraced; all correct, 0 failed: {ok})\n")
        print("| metric | parent median | parent IQR | change median | change IQR | change better in pairs |")
        print("|---|---|---|---|---|---|")
        for m in E2E:
            vals = [(p["metrics"][m]["value"], c["metrics"][m]["value"]) for p, c in pairs]
            better = sum((c > p) if m in HIGHER_IS_BETTER else (c < p) for p, c in vals)
            cells = []
            for side in (0, 1):
                xs = [v[side] for v in vals]
                lo, hi = quartiles(xs)
                cells += [f"{statistics.median(xs):.4g}", f"{hi - lo:.3g}"]
            print(f"| `{m}` | {' | '.join(cells)} | {better}/{len(vals)} |")
        traced = {s: load(out, s, workload, TRACE_SEED[workload], 1) for s in SIDES}
        if all(traced.values()):
            print(f"\nTraced, seed {TRACE_SEED[workload]}:\n")
            print("| metric | parent | change |")
            print("|---|---|---|")
            for m in TRACED:
                p, c = (traced[s]["metrics"].get(m, {}).get("value") for s in SIDES)
                if p is not None and c is not None and (p or c):
                    print(f"| `{m}` | {p:.4g} | {c:.4g} |")


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "run":
        run(*(os.path.abspath(a) for a in sys.argv[2:5]))
    elif len(sys.argv) == 3 and sys.argv[1] == "summarize":
        summarize(sys.argv[2])
    else:
        sys.exit(__doc__)
