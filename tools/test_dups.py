#!/usr/bin/env python3
"""Unit test for tools/dups.py (run directly: python3 tools/test_dups.py).
Pins what counts as a repeated line: literal text is kept, so two SQL
strings that differ only inside the literal are not copies; whitespace
and comments do not hide a copy; a window overlapping its own earlier
occurrence is not a copy; and a tree count sums its files, both from the
working tree and from a git revision."""
import io
import os
import subprocess
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import dups  # noqa: E402


def sql(table):
    return "\n".join([
        '  val q = s"""WITH a AS (',
        f"    |  SELECT x FROM {table}),",
        "    |b AS (SELECT x FROM a)",
        "    |SELECT * FROM b",
        '    |ORDER BY x""".stripMargin',
        "  def f = q",
    ])


def counts(*texts):
    return [k for _, k, _ in dups.repeated(
        [(f"F{i}.scala", t) for i, t in enumerate(texts)])]


def test_literal_text_is_kept():
    # identical code shape, different table inside the string: no copy
    assert counts(sql("events"), sql("orders")) == [0, 0]
    assert counts(sql("events"), sql("events")) == [0, 6]


def test_whitespace_and_comments_do_not_hide_a_copy():
    lines = ["     " + line.strip() + "   " for line in sql("events").split("\n")]
    # comments only where they are code comments, not inside the string
    noisy = "\n".join(["// a copy", *lines[:5], "  /* moved */", lines[5] + "  // done"])
    assert counts(sql("events"), noisy) == [0, 6]
    # a comment-only copy is not code
    block = "\n".join(f"// line {i}" for i in range(8))
    assert counts(block, block) == [0, 0]


def test_overlapping_self_repeat_is_not_a_copy():
    run = "\n".join(["x = 1"] * 7)
    assert counts(run) == [0]
    # a second, disjoint run repeats the first window
    assert counts(run + "\ny = 2\n" + run) == [7]


def test_tree_counts_working_tree_and_revision():
    with tempfile.TemporaryDirectory() as d:
        tree = os.path.join(d, "src")
        os.makedirs(os.path.join(tree, "p"))
        with open(os.path.join(tree, "A.scala"), "w") as f:
            f.write(sql("events") + "\n")
        with open(os.path.join(tree, "p", "B.scala"), "w") as f:
            f.write(sql("events") + "\n")
        cwd = os.getcwd()
        os.chdir(d)
        try:
            out = io.StringIO()
            with redirect_stdout(out):
                dups.main(["--files", "src"])
            assert out.getvalue() == ("  src/A.scala 0 of 6\n  src/p/B.scala 6 of 6\n"
                                      "src 6 of 12 (2 files)\n"), out.getvalue()
            git = ["git", "-c", "user.name=t", "-c", "user.email=t@t"]
            subprocess.run(git + ["init", "-q"], check=True)
            subprocess.run(git + ["add", "."], check=True)
            subprocess.run(git + ["commit", "-qm", "x"], check=True)
            with open(os.path.join(tree, "p", "B.scala"), "w") as f:
                f.write(sql("orders") + "\n")
            out = io.StringIO()
            with redirect_stdout(out):
                dups.main(["--rev", "HEAD", "src"])
                dups.main(["src"])
            assert out.getvalue() == "src 6 of 12 (2 files)\nsrc 0 of 12 (2 files)\n", \
                out.getvalue()
        finally:
            os.chdir(cwd)


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print("ok", name)
