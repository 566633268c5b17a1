#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark between two source trees.

    python3 tools/ab_pairs.py --parent TREE_A --change TREE_B \
        [--workload incr_tick] [--workload backfill] [--pairs 10] \
        [--seeds 7,8,9] [--seconds S] [--claim run_s.p50] [--out runs.jsonl]

Each tree is a checkout of the repository (for example the parent commit
unpacked with `git archive`). For every workload, pair i runs
`python3 perfbench/run.py --workload W --seed S --seconds SEC --trace 0`
once in each tree, parent first in even pairs and change first in odd
pairs, so a drifting machine favours neither side; the seed cycles over
--seeds and is the same for both runs of a pair. --seconds defaults to
`run_seconds` of BENCHMARK.json.

Per workload and end-to-end metric it prints both sides' median and
quartiles, the change's win share over complete pairs (ties count for
neither side) and a verdict:

  claim holds      (--claim metrics only) the change wins at least 9/10 of
                   the pairs and the medians differ, in the better
                   direction, by more than the parent's interquartile range
  claim not met    a --claim metric that fails that rule
  regressed        the change's median is worse than the parent's by more
                   than the metric's bound in BENCHMARK.json
  unresolved       not regressed, but the parent's own spread (IQR/median)
                   is wider than the bound, and not every change run reads
                   better than every parent run
  within bound     otherwise

Metric names, directions and bounds come from the change tree's
BENCHMARK.json, which is only read. The script writes nothing into either
tree itself (the benchmark keeps its build under each tree's .bench_build/);
--out appends every run's result as one JSON line to a file of your choice.
Exit status: 0 when no metric regressed and every --claim holds, 1
otherwise, 2 on a usage error.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

WIN_SHARE = 0.9


def quartiles(xs):
    """(q1, median, q3) with statistics.quantiles' exclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(a, b, direction):
    """True when value a beats value b in the metric's direction."""
    return a < b if direction == "lower" else a > b


def compare(parent, change, pairs, direction, bound, claimed):
    """Verdict for one metric on one workload.

    parent, change: every run's value per side; pairs: (parent, change)
    values of the complete pairs; bound: relative regression bound.
    """
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    wins = sum(1 for p, c in pairs if better(c, p, direction))
    iqr = p3 - p1
    gap = pm - cm if direction == "lower" else cm - pm  # > 0: change better
    worse = -gap / abs(pm) if pm else 0.0
    out = {"parent": (p1, pm, p3), "change": (c1, cm, c3), "wins": wins,
           "pairs": len(pairs), "gap": gap,
           "rel_change": (cm - pm) / abs(pm) if pm else 0.0}
    if claimed:
        ok = len(pairs) > 0 and wins >= WIN_SHARE * len(pairs) and gap > iqr
        out["verdict"] = "claim holds" if ok else "claim not met"
    elif worse > bound:
        out["verdict"] = "regressed"
    elif pm and iqr / abs(pm) > bound and not all(better(c, p, direction)
                                                  for c in change for p in parent):
        out["verdict"] = "unresolved"
    else:
        out["verdict"] = "within bound"
    return out


def run_once(tree, workload, seed, seconds):
    """One benchmark run in `tree`; returns its result object or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def schedule(pairs, seeds):
    """(pair index, seed, order) for every pair; order names the side that
    runs first."""
    return [(i, seeds[i % len(seeds)],
             ("parent", "change") if i % 2 == 0 else ("change", "parent"))
            for i in range(pairs)]


def run_pairs(trees, workload, pairs, seeds, seconds, runner=run_once, log=None):
    """Run the alternating pairs; returns {side: [result or None]}."""
    results = {"parent": [], "change": []}
    for i, seed, order in schedule(pairs, seeds):
        for side in order:
            res = runner(trees[side], workload, seed, seconds)
            results[side].append(res)
            if log is not None:
                log.write(json.dumps({"workload": workload, "pair": i, "seed": seed,
                                      "side": side, "result": res}) + "\n")
                log.flush()
            value = res and res.get("metrics", {}).get("run_s.p50", {}).get("value")
            print(f"# {workload} pair {i} seed {seed} {side}: run_s.p50={value}",
                  file=sys.stderr)
    return results


def usable(res):
    return res is not None and res.get("correct") and res.get("failed", 0) == 0


def report(workload, results, bench, claims):
    """Verdict rows for one workload."""
    rows = []
    for m in bench["end_to_end"]:
        name = m["name"]

        def value(res):
            return res["metrics"][name]["value"] if usable(res) and name in res["metrics"] else None
        pv = [value(r) for r in results["parent"]]
        cv = [value(r) for r in results["change"]]
        parent = [v for v in pv if v is not None]
        change = [v for v in cv if v is not None]
        if not parent or not change:
            rows.append({"workload": workload, "metric": name, "verdict": "no data"})
            continue
        pairs = [(p, c) for p, c in zip(pv, cv) if p is not None and c is not None]
        row = compare(parent, change, pairs, m["better"], m["bound"], name in claims)
        row.update(workload=workload, metric=name, unit=m["unit"])
        rows.append(row)
    return rows


def print_rows(rows):
    print(f"{'workload':<10} {'metric':<13} {'parent q1/med/q3':<30} "
          f"{'change q1/med/q3':<30} {'change':>8} {'wins':>6}  verdict")
    for r in rows:
        if "parent" not in r:
            print(f"{r['workload']:<10} {r['metric']:<13} {'':<30} {'':<30} {'':>8} {'':>6}  {r['verdict']}")
            continue
        def fmt(q):
            return "/".join(f"{x:.4g}" for x in q)
        print(f"{r['workload']:<10} {r['metric']:<13} {fmt(r['parent']):<30} {fmt(r['change']):<30} "
              f"{100 * r['rel_change']:>+7.1f}% {r['wins']:>2}/{r['pairs']:<3}  {r['verdict']}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="7")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--claim", action="append", default=[])
    ap.add_argument("--out", type=Path)
    a = ap.parse_args(argv)

    trees = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    for side, tree in trees.items():
        if not (tree / "perfbench" / "run.py").is_file():
            print(f"{side} tree {tree} has no perfbench/run.py", file=sys.stderr)
            return 2
    bench = json.loads((trees["change"] / "BENCHMARK.json").read_text())
    names = {m["name"] for m in bench["end_to_end"]}
    unknown = [c for c in a.claim if c not in names]
    if unknown or a.pairs < 1:
        print(f"unknown --claim metric {unknown}" if unknown else "--pairs must be >= 1",
              file=sys.stderr)
        return 2
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    seeds = [int(s) for s in a.seeds.split(",")]
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]

    log = open(a.out, "a") if a.out else None
    try:
        rows = []
        for w in workloads:
            results = run_pairs(trees, w, a.pairs, seeds, seconds, log=log)
            for side in ("parent", "change"):
                bad = sum(1 for r in results[side] if not usable(r))
                if bad:
                    print(f"# {w} {side}: {bad}/{len(results[side])} runs failed or incorrect",
                          file=sys.stderr)
            rows += report(w, results, bench, set(a.claim))
    finally:
        if log:
            log.close()
    print_rows(rows)
    failed = any(r["verdict"] in ("regressed", "claim not met", "no data") for r in rows)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
