#!/usr/bin/env python3
"""Unit test for tools/trace_jobs.py (run directly:
python3 tools/test_trace_jobs.py). Writes a small synthetic trace in the
format `perfbench/run.py --trace 1` writes, no Spark: the default run is the
median one, jobs and stages land under the span that submitted them, times
are relative to the run's root span, other runs' records stay out, and the
totals add up."""
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import trace_jobs  # noqa: E402


def span(i, name, parent, run, start, end):
    return {"span": i, "name": name, "parent": parent, "run": run, "start_ms": start, "end_ms": end}


def job(s, start, end):
    return {"job_span": s, "start_ms": start, "end_ms": end}


def stage(s, tasks, run_ms, records, shuffle, cached=False):
    return {"stage_span": s, "tasks": tasks, "run_ms": run_ms, "input_records": records,
            "shuffle_bytes": shuffle, "cached": cached}


# three runs of 300, 500 and 900 ms: run 2 is the median
RECORDS = [
    span(1, "job", 0, 1, 1000.0, 1300.0),
    span(2, "sources.read", 1, 1, 1010.0, 1100.0),
    job(2, 1020, 1090), stage(2, 1, 40, 100, 0),
    span(3, "job", 0, 2, 5000.0, 5500.0),
    span(4, "sources.read", 3, 2, 5010.0, 5100.0),
    span(5, "reports.fanout", 3, 2, 5100.0, 5450.0),
    span(6, "reports.supplier_report", 5, 2, 5110.0, 5400.0),
    job(4, 5020, 5080), stage(4, 4, 120, 6000, 0),
    job(6, 5120, 5390), job(6, 5200, 5300),
    stage(6, 4, 300, 6000, 2048, cached=True), stage(6, 1, 20, 0, 0),
    span(7, "job", 0, 3, 9000.0, 9900.0),
    job(7, 9010, 9800), stage(7, 8, 700, 60000, 4096),
    job(0, 20, 30), stage(0, 1, 5, 7, 0),
]


def write_trace(d):
    path = os.path.join(d, "backfill-11.jsonl")
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in RECORDS) + "\n")
    return path


def test_default_run_is_the_median():
    spans, _, _ = trace_jobs.load_records(RECORDS)
    assert trace_jobs.median_run(spans) == 2


def test_rows_nest_jobs_and_stages_under_their_span():
    spans, jobs, stages = trace_jobs.load_records(RECORDS)
    rows = trace_jobs.table(spans, jobs, stages, 2)
    assert rows[0] == ("job", 0.0, 500.0, "", "", "", "")
    assert rows[1] == ("  sources.read", 10.0, 100.0, "", "", "", "")
    assert rows[2] == ("    job", 20.0, 80.0, "", "", "", "")
    assert rows[3] == ("    stage", "", "", 4, 120, 6000, 0)
    assert rows[4][0] == "  reports.fanout"
    assert rows[5] == ("    reports.supplier_report", 110.0, 400.0, "", "", "", "")
    assert [r[1:3] for r in rows[6:8]] == [(120.0, 390.0), (200.0, 300.0)]
    assert rows[8] == ("      stage (cached)", "", "", 4, 300, 6000, 2048)
    assert rows[9] == ("      stage", "", "", 1, 20, 0, 0)
    assert rows[10] == ("total: 3 jobs, 3 stages", "", "", 9, 440, 12000, 2048)
    assert len(rows) == 11


def test_unknown_run_is_an_error():
    spans, jobs, stages = trace_jobs.load_records(RECORDS)
    try:
        trace_jobs.table(spans, jobs, stages, 9)
        raise AssertionError("an unknown run was accepted")
    except ValueError:
        pass


def test_cli_prints_the_table_and_reads_nothing_else():
    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)), "trace_jobs.py")
    with tempfile.TemporaryDirectory() as d:
        path = write_trace(d)
        before = open(path).read()
        out = subprocess.run([sys.executable, tool, path], capture_output=True, text=True)
        assert out.returncode == 0, out.stderr
        lines = out.stdout.splitlines()
        assert lines[0] == f"{path} run 2"
        assert lines[1].split() == list(trace_jobs.HEADER)
        assert lines[-1].split() == ["total:", "3", "jobs,", "3", "stages", "9", "440", "12000", "2048"]
        one = subprocess.run([sys.executable, tool, "--run", "3", path], capture_output=True, text=True)
        assert one.returncode == 0 and "total: 1 jobs, 1 stages" in one.stdout, one.stdout + one.stderr
        assert open(path).read() == before and os.listdir(d) == ["backfill-11.jsonl"]
        bad = subprocess.run([sys.executable, tool, os.path.join(d, "missing.jsonl")],
                             capture_output=True, text=True)
        assert bad.returncode == 1 and "trace_jobs:" in bad.stderr
        usage = subprocess.run([sys.executable, tool], capture_output=True, text=True)
        assert usage.returncode == 2


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"{len(tests)} passed")
