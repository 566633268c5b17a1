#!/usr/bin/env python3
"""Unit test for tools/check.py (run directly: python3 tools/test_check.py).
Builds small Verify-shaped output dirs from pandas frames, no Spark. In
--same-as mode identical dumps in a different row order compare equal,
while a one-ulp float change, an int-vs-float dtype change, a missing
dump, a changed or missing oracle and a query the run reports as failed
each count as a difference. In oracle mode every declared query is
checked: one without a dump, or one its run reports as failed despite a
stale dump, fails the gate."""
import json
import os
import subprocess
import sys
import tempfile

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import check  # noqa: E402


def write_run(root, dumps, oracles):
    os.makedirs(root)
    for name, df in dumps.items():
        os.makedirs(os.path.join(root, name))
        df.to_parquet(os.path.join(root, name, "part-0.parquet"), index=False)
    with open(os.path.join(root, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)


BASE = pd.DataFrame({"k": np.array([1, 2, 3], dtype=np.int64),
                     "v": np.array([0.1, 0.2, 0.3])})
ORACLES = {"q_a": "SELECT 1", "q_b": "SELECT 2"}


def test_identical_runs_are_same():
    with tempfile.TemporaryDirectory() as t:
        a, b = os.path.join(t, "a"), os.path.join(t, "b")
        write_run(a, {"q_a": BASE, "q_b": BASE.head(1)}, ORACLES)
        # same rows in another order and column order: still the same dump
        write_run(b, {"q_a": BASE.iloc[::-1][["v", "k"]], "q_b": BASE.head(1)}, dict(ORACLES))
        lines, n_bad = check.same_as(a, b)
        assert n_bad == 0, lines
        assert "SAME q_a: 3 rows" in lines and "SAME q_b: 1 rows" in lines
        assert lines[-1].startswith("== 2 dumps bit-identical, oracle_sql.json equal")


def test_bit_level_and_dtype_changes_differ():
    with tempfile.TemporaryDirectory() as t:
        a, b = os.path.join(t, "a"), os.path.join(t, "b")
        ulp = BASE.copy()
        ulp.loc[1, "v"] = np.nextafter(0.2, 1.0)
        as_float = BASE.assign(k=BASE["k"].astype(np.float64))
        write_run(a, {"q_a": BASE, "q_b": BASE}, ORACLES)
        write_run(b, {"q_a": ulp, "q_b": as_float}, ORACLES)
        lines, n_bad = check.same_as(a, b)
        assert n_bad == 2, lines
        assert any(l.startswith("DIFF q_a: col v row 1") for l in lines), lines
        assert any(l.startswith("DIFF q_b: col k: dtype") for l in lines), lines


def test_missing_dump_and_oracle_changes_differ():
    with tempfile.TemporaryDirectory() as t:
        a, b = os.path.join(t, "a"), os.path.join(t, "b")
        write_run(a, {"q_a": BASE, "q_b": BASE}, ORACLES)
        write_run(b, {"q_a": BASE}, {"q_a": "SELECT 1 ", "q_c": "SELECT 3"})
        lines, n_bad = check.same_as(a, b)
        assert f"DIFF q_b: no dump in {b}" in lines, lines
        assert "DIFF oracle q_a: SQL differs" in lines
        assert f"DIFF oracle q_b: missing in {b}" in lines
        assert f"DIFF oracle q_c: missing in {a}" in lines
        assert n_bad == 4 and "oracle_sql.json differs" in lines[-1]
        # a name filter narrows both the dumps and the oracle maps
        lines, n_bad = check.same_as(a, b, {"q_c"})
        assert n_bad == 1, lines


def test_cli_exit_status():
    with tempfile.TemporaryDirectory() as t:
        a, b = os.path.join(t, "a"), os.path.join(t, "b")
        write_run(a, {"q_a": BASE}, {"q_a": "SELECT 1"})
        write_run(b, {"q_a": BASE}, {"q_a": "SELECT 1"})
        tool = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check.py")
        env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")
        ok = subprocess.run([sys.executable, tool, "--same-as", a, b],
                            capture_output=True, text=True, env=env)
        assert ok.returncode == 0 and "SAME q_a: 3 rows" in ok.stdout, ok.stdout + ok.stderr
        write_run(os.path.join(t, "c"), {"q_a": BASE.head(2)}, {"q_a": "SELECT 1"})
        bad = subprocess.run([sys.executable, tool, "--same-as", a, os.path.join(t, "c")],
                             capture_output=True, text=True, env=env)
        assert bad.returncode == 1 and "DIFF q_a: rows 3 vs 2" in bad.stdout, bad.stdout


def write_self(root, failed):
    """A VERIFY_SELF.json naming `failed` queries, as Verify writes it."""
    with open(os.path.join(root, "VERIFY_SELF.json"), "w") as f:
        json.dump({"n_failed": len(failed), "failures": failed}, f)


# an oracle that reproduces BASE without reading any table
BASE_SQL = ("SELECT CAST(k AS BIGINT) AS k, CAST(v AS DOUBLE) AS v "
            "FROM (VALUES (1, 0.1), (2, 0.2), (3, 0.3)) t(k, v)")


def run_check(*args):
    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check.py")
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")
    return subprocess.run([sys.executable, tool, *args],
                          capture_output=True, text=True, env=env)


def test_declared_query_without_dump_fails():
    with tempfile.TemporaryDirectory() as t:
        sf, out = os.path.join(t, "sf"), os.path.join(t, "out")
        os.makedirs(sf)
        write_run(out, {"q_a": BASE}, {"q_a": BASE_SQL, "q_b": BASE_SQL})
        r = run_check(sf, out)
        assert r.returncode == 1, r.stdout + r.stderr
        assert "PASS q_a: 3 rows" in r.stdout and "FAIL q_b: no spark output" in r.stdout
        assert "== 1 pass, 1 fail" in r.stdout, r.stdout
        # a name filter narrows the declared set; an undeclared name fails
        assert run_check(sf, out, "q_a").returncode == 0
        r = run_check(sf, out, "q_a", "q_z")
        assert r.returncode == 1 and "FAIL q_z: not declared" in r.stdout, r.stdout


def test_failed_query_with_stale_dump_fails():
    with tempfile.TemporaryDirectory() as t:
        sf, out = os.path.join(t, "sf"), os.path.join(t, "out")
        os.makedirs(sf)
        write_run(out, {"q_a": BASE, "q_b": BASE}, {"q_a": BASE_SQL, "q_b": BASE_SQL})
        write_self(out, {"q_b": "RuntimeException: boom"})
        r = run_check(sf, out)
        assert r.returncode == 1, r.stdout + r.stderr
        assert "FAIL q_b: Verify failed: RuntimeException: boom" in r.stdout, r.stdout
        write_self(out, {})
        assert run_check(sf, out).returncode == 0


def test_same_as_checks_declared_and_failed_queries():
    with tempfile.TemporaryDirectory() as t:
        a, b = os.path.join(t, "a"), os.path.join(t, "b")
        # q_b is declared by both runs and dumped by neither
        write_run(a, {"q_a": BASE}, ORACLES)
        write_run(b, {"q_a": BASE}, dict(ORACLES))
        lines, n_bad = check.same_as(a, b)
        assert n_bad == 1 and f"DIFF q_b: no dump in {a}" in lines, lines
        # a failed query's stale dump is not evidence of sameness
        write_run(os.path.join(t, "c"), {"q_a": BASE, "q_b": BASE}, ORACLES)
        write_run(os.path.join(t, "d"), {"q_a": BASE, "q_b": BASE}, ORACLES)
        write_self(os.path.join(t, "d"), {"q_b": "boom"})
        lines, n_bad = check.same_as(os.path.join(t, "c"), os.path.join(t, "d"))
        assert n_bad == 1, lines
        assert f"DIFF q_b: Verify failed in {os.path.join(t, 'd')}" in lines, lines


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"{len(tests)} passed")
