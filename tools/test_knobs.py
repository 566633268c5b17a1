#!/usr/bin/env python3
"""Unit test for tools/knobs.py (run directly: python3 tools/test_knobs.py).
Pins what counts as a knob: a defaulted `def` parameter, across
multi-line signatures and several parameter lists; by-name (`=> T`) and
function-typed (`A => B`) parameters count only with a default; `def`s
inside comments and strings do not count; and a tree count sums its
files, both from the working tree and from a git revision."""
import io
import os
import subprocess
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import knobs  # noqa: E402


def names(src):
    return [(d, p.split(":")[0]) for d, p in knobs.knobs(src)]


def test_multi_line_signature():
    src = "\n".join([
        "object A {",
        "  def run(df: DataFrame, k: Int,",
        "          limit: Int = 4096,",
        "          pairs: Map[String, Int] = Map(\"a\" -> 1, \"b\" -> 2))",
        "         (sink: DataFrame => Unit): Unit = sink(df)",
        "  def plain(a: Int, b: Seq[(Int, Int)]): Int = a",
        "}",
    ])
    assert names(src) == [("run", "limit"), ("run", "pairs")]


def test_by_name_and_function_types_without_default_are_not_knobs():
    src = "\n".join([
        "def once[T](key: String)(build: => T): T = build",
        "def each(f: (DataFrame, Long) => Unit, g: Long => Boolean): Unit = ()",
        "def cmp(a: Int, b: Int): Boolean = a <= b && a >= 0 && a != b && a == b",
    ])
    assert names(src) == []


def test_function_typed_parameter_with_default_is_a_knob():
    src = "def advance(g: Long, extra: Long => Map[String, Long] = _ => Map.empty): Unit = ()"
    assert names(src) == [("advance", "extra")]


def test_comments_and_strings_do_not_count():
    src = "\n".join([
        "// def commented(a: Int = 1) = a",
        "/* def blocked(a: Int = 1) = a */",
        'val sql = "def quoted(a: Int = 1)"',
        "def real(a: Int = 1, b: String = \"x, y = z\") = a",
    ])
    assert names(src) == [("real", "a"), ("real", "b")]


def test_tree_counts_working_tree_and_revision():
    with tempfile.TemporaryDirectory() as d:
        tree = os.path.join(d, "src")
        os.makedirs(os.path.join(tree, "p"))
        with open(os.path.join(tree, "A.scala"), "w") as f:
            f.write("object A { def f(a: Int = 1, b: Int = 2) = a + b }\n")
        with open(os.path.join(tree, "p", "B.scala"), "w") as f:
            f.write("object B { def g(a: Int) = a }\n")
        cwd = os.getcwd()
        os.chdir(d)
        try:
            out = io.StringIO()
            with redirect_stdout(out):
                knobs.main(["--files", "src"])
            assert out.getvalue() == "  src/A.scala 2\n  src/p/B.scala 0\nsrc 2 (2 files)\n"
            git = ["git", "-c", "user.name=t", "-c", "user.email=t@t"]
            subprocess.run(git + ["init", "-q"], check=True)
            subprocess.run(git + ["add", "."], check=True)
            subprocess.run(git + ["commit", "-qm", "x"], check=True)
            with open(os.path.join(tree, "A.scala"), "w") as f:
                f.write("object A { def f(a: Int, b: Int = 2) = a + b }\n")
            out = io.StringIO()
            with redirect_stdout(out):
                knobs.main(["--rev", "HEAD", "src"])
                knobs.main(["src"])
            assert out.getvalue() == "src 2 (2 files)\nsrc 1 (2 files)\n"
        finally:
            os.chdir(cwd)


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print("ok", name)
