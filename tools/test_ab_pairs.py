#!/usr/bin/env python3
"""Unit test for tools/ab_pairs.py (run directly: python3 tools/test_ab_pairs.py).
Pins the pair schedule (sides alternate, both runs of a pair share a seed),
the claim rule (9/10 wins and a median gap beyond the parent's IQR), the
bound and spread verdicts, and that a whole run with a fake benchmark
writes nothing into either tree."""
import io
import json
import os
import sys
import tempfile
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import ab_pairs  # noqa: E402


def test_schedule_alternates_and_shares_seeds():
    s = ab_pairs.schedule(4, [7, 8])
    assert [o for _, _, o in s] == [("parent", "change"), ("change", "parent")] * 2
    assert [seed for _, seed, _ in s] == [7, 8, 7, 8]


def test_claim_rule():
    parent = [1.00, 1.02, 0.98, 1.01, 0.99, 1.03, 0.97, 1.00, 1.02, 0.98]
    fast = [p * 0.6 for p in parent]
    row = ab_pairs.compare(parent, fast, list(zip(parent, fast)), "lower", 0.25, True)
    assert row["wins"] == 10 and row["verdict"] == "claim holds"

    # 8/10 wins fails the share even with a large median gap
    mixed = fast[:8] + [2.0, 2.0]
    row = ab_pairs.compare(parent, mixed, list(zip(parent, mixed)), "lower", 0.25, True)
    assert row["wins"] == 8 and row["verdict"] == "claim not met"

    # every pair won, but the gap is inside the parent's own spread
    noisy = [1.0, 1.4, 0.6, 1.3, 0.7, 1.2, 0.8, 1.1, 0.9, 1.0]
    close = [p - 0.01 for p in noisy]
    row = ab_pairs.compare(noisy, close, list(zip(noisy, close)), "lower", 0.25, True)
    assert row["wins"] == 10 and row["verdict"] == "claim not met"

    # higher-is-better metrics win in the other direction
    row = ab_pairs.compare([100.0] * 10, [150.0] * 10, [(100.0, 150.0)] * 10, "higher", 0.25, True)
    assert row["verdict"] == "claim holds"


def test_bounds_and_spread():
    parent = [1.0, 1.01, 0.99, 1.0, 1.02]
    slower = [1.4] * 5
    assert ab_pairs.compare(parent, slower, list(zip(parent, slower)),
                            "lower", 0.25, False)["verdict"] == "regressed"
    flat = [1.05] * 5
    assert ab_pairs.compare(parent, flat, list(zip(parent, flat)),
                            "lower", 0.25, False)["verdict"] == "within bound"
    wide = [0.5, 1.0, 1.5, 0.6, 1.4]
    assert ab_pairs.compare(wide, flat, list(zip(wide, flat)),
                            "lower", 0.25, False)["verdict"] == "unresolved"
    # a wide parent spread is still resolved when every change run is better
    assert ab_pairs.compare(wide, [0.4] * 5, list(zip(wide, [0.4] * 5)),
                            "lower", 0.25, False)["verdict"] == "within bound"
    # higher-is-better: a drop beyond the bound regresses
    assert ab_pairs.compare([100.0] * 5, [70.0] * 5, [(100.0, 70.0)] * 5,
                            "higher", 0.25, False)["verdict"] == "regressed"


def fake_tree(root, name):
    tree = Path(root) / name
    (tree / "perfbench").mkdir(parents=True)
    (tree / "perfbench" / "run.py").write_text(
        "import json, sys\n"
        f"v = {0.6 if name == 'change' else 1.0}\n"
        "print(json.dumps({'correct': True, 'attempted': 1, 'failed': 0, 'metrics': {\n"
        "  'run_s.p50': {'value': v, 'unit': 's'},\n"
        "  'rows_per_s': {'value': 6000 / v, 'unit': 'rows/s'}}}))\n")
    (tree / "BENCHMARK.json").write_text(json.dumps({
        "run_seconds": 1,
        "workloads": [{"name": "w"}],
        "end_to_end": [
            {"name": "run_s.p50", "unit": "s", "better": "lower", "bound": 0.25},
            {"name": "rows_per_s", "unit": "rows/s", "better": "higher", "bound": 0.25}]}))
    return tree


def snapshot(tree):
    return sorted((str(p.relative_to(tree)), p.read_bytes()) for p in tree.rglob("*") if p.is_file())


def test_end_to_end_with_a_fake_benchmark():
    with tempfile.TemporaryDirectory() as d:
        parent, change = fake_tree(d, "parent"), fake_tree(d, "change")
        before = snapshot(parent), snapshot(change)
        out = Path(d) / "runs.jsonl"
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = ab_pairs.main(["--parent", str(parent), "--change", str(change), "--pairs", "4",
                                "--claim", "run_s.p50", "--out", str(out)])
        assert rc == 0, buf.getvalue()
        text = buf.getvalue()
        assert "claim holds" in text and "within bound" in text, text
        lines = [json.loads(x) for x in out.read_text().splitlines()]
        assert [x["side"] for x in lines] == ["parent", "change", "change", "parent"] * 2
        assert (snapshot(parent), snapshot(change)) == before, "a tree was written to"


def main():
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print(f"ok {name}")


if __name__ == "__main__":
    main()
