#!/usr/bin/env python3
"""Same-host A/B of two checkouts on one perfbench workload.

    python3 tools/perf_ab.py --parent ../parent --change . \\
        --workload ingest_drain [--pairs 10] [--seed 1] [--out ab.jsonl]

Each pair runs ``python3 perfbench/run.py --trace 0`` once in each
checkout, one after the other, on a seed of its own (``--seed``,
``--seed``+1, ...). Odd pairs run the parent first, even pairs the
change. Each run lasts BENCHMARK.json's ``run_seconds``. Before the
pairs, each checkout runs once for WARMUP_S seconds so perfbench's build
is not timed. Every run's result line goes to ``--out`` as
``{"side", "pair", "seed", "r"}``.

At the end it prints, per end-to-end metric of the change's
BENCHMARK.json, each side's median and quartiles, the change's median
against the parent's, and the pairs the change won. A run that is not
correct, has failed operations or printed no result is flagged. It only
invokes ``perfbench/run.py``; nothing under ``perfbench/`` changes.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

WARMUP_S = 5


def run(checkout, workload, seed, seconds):
    """One perfbench run in `checkout`: its result line, or an error."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"error": f"exit {p.returncode}, no result line"}


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def summarize(records, spec):
    """Print per-metric medians, quartiles and wins; return the flags."""
    flags = [f"pair {r['pair']} {r['side']}: {r['r'].get('error') or 'incorrect or failed'}"
             for r in records
             if r["r"].get("error") or not r["r"].get("correct") or r["r"].get("failed")]
    ok = [r for r in records if not r["r"].get("error")]
    pairs = sorted({r["pair"] for r in ok})
    print(f"{'metric':<18} {'parent median [q1, q3]':>28} {'change median [q1, q3]':>28}"
          f" {'change':>8} {'wins':>7}")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        val = {(r["side"], r["pair"]): r["r"]["metrics"][name]["value"] for r in ok}
        sides = {s: [v for (s2, _), v in sorted(val.items()) if s2 == s] for s in ("parent", "change")}
        if not sides["parent"] or not sides["change"]:
            continue
        both = [i for i in pairs if ("parent", i) in val and ("change", i) in val]
        wins = sum(1 for i in both if (val["change", i] < val["parent", i]) == lower
                   and val["change", i] != val["parent", i])
        cols = []
        for s in ("parent", "change"):
            q = quartiles(sides[s])
            cols.append(f"{statistics.median(sides[s]):.3f} [{q[0]:.3f}, {q[2]:.3f}]")
        rel = statistics.median(sides["change"]) / statistics.median(sides["parent"]) - 1
        print(f"{name:<18} {cols[0]:>28} {cols[1]:>28} {rel:>+8.1%} {wins:>3}/{len(both):<3}")
    for f in flags:
        print(f"FLAG {f}")
    print(f"runs: {len(records)}, flagged: {len(flags)}")
    return flags


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="the parent commit's checkout")
    ap.add_argument("--change", required=True, help="the change's checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="the first pair's seed")
    ap.add_argument("--out", help="append each run's record to this JSON-lines file")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    dirs = {"parent": a.parent, "change": a.change}
    for s, d in dirs.items():
        print(f"warm-up {s}: {run(d, a.workload, 0, WARMUP_S).get('correct')}", file=sys.stderr)
    records = []
    for i in range(1, a.pairs + 1):
        seed = a.seed + i - 1
        for s in (("parent", "change") if i % 2 else ("change", "parent")):
            rec = {"side": s, "pair": i, "seed": seed, "r": run(dirs[s], a.workload, seed, seconds)}
            records.append(rec)
            print(f"pair {i} seed {seed} {s}: {json.dumps(rec['r'])}", file=sys.stderr)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
    sys.exit(1 if summarize(records, spec) else 0)


if __name__ == "__main__":
    main()
