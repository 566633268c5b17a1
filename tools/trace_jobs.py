#!/usr/bin/env python3
"""Span -> job -> stage table of one traced benchmark run.

    python3 tools/trace_jobs.py [--run N] TRACE
    python3 tools/trace_jobs.py [--run N] --workload W --seed S

TRACE is a trace file written by `perfbench/run.py --trace 1`; with
--workload and --seed the file is `.bench_build/traces/<W>-<S>.jsonl` under
the repository root. A trace holds every traced run of the benchmark
(warm-up included): spans carry their run, and each job and stage record
carries the span whose thread submitted it. --run picks one run; by default
the run whose root `job` span is the median of all runs' (the earlier of the
two middle ones for an even count).

One row per span, in start order and indented under its parent, then a row
per job the span submitted and a row per stage of those jobs. Times are
milliseconds from the start of the run's root span. The listener records
stages by span, not by job, so a span's stages follow all of its jobs.
A last row totals the run's jobs, stages, tasks, task time, input records
and shuffle bytes. Only reads the trace.
"""
import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HEADER = ("what", "start_ms", "end_ms", "tasks", "run_ms", "input_records", "shuffle_bytes")


def load(path):
    """(spans, jobs, stages) of a trace file."""
    with open(path) as f:
        return load_records(json.loads(line) for line in f if line.strip())


def load_records(records):
    """(spans, jobs, stages) of trace records, each a list of dicts."""
    spans, jobs, stages = [], [], []
    for rec in records:
        if "span" in rec:
            spans.append(rec)
        elif "job_span" in rec:
            jobs.append(rec)
        elif "stage_span" in rec:
            stages.append(rec)
    return spans, jobs, stages


def median_run(spans):
    """Run id whose root `job` span has the median duration."""
    roots = sorted((s["end_ms"] - s["start_ms"], s["run"]) for s in spans if s["name"] == "job")
    if not roots:
        raise ValueError("the trace has no root job span")
    return roots[(len(roots) - 1) // 2][1]


def table(spans, jobs, stages, run):
    """Rows (tuples in HEADER order) of one run."""
    mine = [s for s in spans if s["run"] == run]
    if not mine:
        raise ValueError(f"the trace has no run {run}")
    t0 = min(s["start_ms"] for s in mine)
    ids = {s["span"] for s in mine}
    children = {}
    for s in sorted(mine, key=lambda s: (s["start_ms"], s["span"])):
        parent = s["parent"] if s["parent"] in ids else 0
        children.setdefault(parent, []).append(s)
    jobs_of, stages_of = {}, {}
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        jobs_of.setdefault(j["job_span"], []).append(j)
    for st in stages:
        stages_of.setdefault(st["stage_span"], []).append(st)

    def ms(x):
        return round(x - t0, 1)

    rows = []

    def walk(parent, depth):
        for s in children.get(parent, []):
            pad = "  " * depth
            rows.append((pad + s["name"], ms(s["start_ms"]), ms(s["end_ms"]), "", "", "", ""))
            for j in jobs_of.get(s["span"], []):
                rows.append((pad + "  job", ms(j["start_ms"]), ms(j["end_ms"]), "", "", "", ""))
            for st in stages_of.get(s["span"], []):
                what = pad + ("  stage (cached)" if st.get("cached") else "  stage")
                rows.append((what, "", "", st["tasks"], st["run_ms"],
                             st["input_records"], st["shuffle_bytes"]))
            walk(s["span"], depth + 1)

    walk(0, 0)
    run_jobs = [j for j in jobs if j["job_span"] in ids]
    run_stages = [st for st in stages if st["stage_span"] in ids]
    rows.append((f"total: {len(run_jobs)} jobs, {len(run_stages)} stages", "", "",
                 sum(st["tasks"] for st in run_stages), sum(st["run_ms"] for st in run_stages),
                 sum(st["input_records"] for st in run_stages),
                 sum(st["shuffle_bytes"] for st in run_stages)))
    return rows


def render(rows):
    """Rows as aligned text lines, header first."""
    cells = [HEADER] + [tuple(str(c) for c in r) for r in rows]
    widths = [max(len(r[i]) for r in cells) for i in range(len(HEADER))]
    return ["  ".join(c.ljust(w) if i == 0 else c.rjust(w) for i, (c, w) in enumerate(zip(r, widths))).rstrip()
            for r in cells]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace", nargs="?", help="trace file (.jsonl)")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--run", type=int, help="run id (default: the median run)")
    a = ap.parse_args(argv)
    if (a.trace is None) == (a.workload is None or a.seed is None):
        ap.error("give a trace file, or --workload and --seed")
    path = Path(a.trace) if a.trace else ROOT / ".bench_build" / "traces" / f"{a.workload}-{a.seed}.jsonl"
    try:
        spans, jobs, stages = load(path)
        run = a.run if a.run is not None else median_run(spans)
        rows = table(spans, jobs, stages, run)
    except (OSError, ValueError) as e:
        print(f"trace_jobs: {e}", file=sys.stderr)
        return 1
    print(f"{path} run {run}")
    print("\n".join(render(rows)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
