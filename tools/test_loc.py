#!/usr/bin/env python3
"""Unit test for tools/loc.py (run directly: python3 tools/test_loc.py).
Pins what counts as a code line: blank lines and comment-only lines do
not; comment markers inside strings and character literals do not open
comments; block comments nest; and a tree count sums its files, both
from the working tree and from a git revision."""
import io
import os
import subprocess
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import loc  # noqa: E402


def test_blank_and_comment_lines_do_not_count():
    src = "\n".join([
        "package a",           # 1
        "",
        "   ",
        "// a line comment",
        "/** scaladoc",
        "  * body",
        "  */",
        "object A { // trailing comment",  # 2
        "  /* inline */ val x = 1",        # 3
        "}",                               # 4
    ])
    assert loc.code_lines(src) == 4


def test_block_comments_nest():
    src = "/* outer /* inner */ still comment */\nval x = 1\n/* a\n/* b */\nc */"
    assert loc.code_lines(src) == 1


def test_markers_inside_strings_and_chars_are_code():
    src = "\n".join([
        'val url = "s3://bucket/*key"',   # 1: not a comment opener
        "val q = '\"'",                   # 2: char literal holding a quote
        "val after = 2 // real comment",  # 3
        "/* closed */",
    ])
    assert loc.code_lines(src) == 3


def test_triple_quoted_and_interpolated_strings():
    src = "\n".join([
        's"""CREATE TABLE t',     # 1
        "",                       # blank line inside the string
        '   |// not a comment',   # 2
        '   |LOCATION ${dir("x")} """',  # 3: splice with a nested string
        '// a comment after the string',
        's"${a + "}"} // text"',  # 4: the brace inside the nested string does not close
        "/* c */",
    ])
    assert loc.code_lines(src) == 4


def test_tree_counts_working_tree_and_revision():
    with tempfile.TemporaryDirectory() as d:
        tree = os.path.join(d, "src")
        os.makedirs(os.path.join(tree, "p"))
        with open(os.path.join(tree, "A.scala"), "w") as f:
            f.write("object A\n// c\n")
        with open(os.path.join(tree, "p", "B.scala"), "w") as f:
            f.write("object B {\n}\n")
        with open(os.path.join(tree, "notes.txt"), "w") as f:
            f.write("ignored\n")
        cwd = os.getcwd()
        os.chdir(d)
        try:
            out = io.StringIO()
            with redirect_stdout(out):
                loc.main(["src"])
            assert out.getvalue() == "src 3 (2 files)\n"
            git = ["git", "-c", "user.name=t", "-c", "user.email=t@t"]
            subprocess.run(git + ["init", "-q"], check=True)
            subprocess.run(git + ["add", "."], check=True)
            subprocess.run(git + ["commit", "-qm", "x"], check=True)
            with open(os.path.join(tree, "A.scala"), "a") as f:
                f.write("object C\n")
            out = io.StringIO()
            with redirect_stdout(out):
                loc.main(["--rev", "HEAD", "src"])
                loc.main(["src"])
            assert out.getvalue() == "src 3 (2 files)\nsrc 4 (2 files)\n"
        finally:
            os.chdir(cwd)


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            fn()
            print("ok", name)
