#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per source tree.

    python3 tools/loc.py [--rev REV] [--files] [TREE ...]

TREE defaults to src/main/scala and src/test/scala. Each tree prints one
line, `<tree> <lines> (<files> files)`; --files adds one line per file.
--rev reads the trees as committed at a git revision (for example the
parent of a change), so a before/after pair needs no second checkout.

A line counts when any character on it lies outside a comment and is not
whitespace. Comments are `//` to end of line and `/* ... */` blocks,
which nest as in Scala; comment markers inside string literals ("...",
triple-quoted, and interpolated strings with `${...}` splices) and
character literals are code, not comments.
"""
import argparse
import os
import re
import subprocess
import sys

DEFAULT_TREES = ["src/main/scala", "src/test/scala"]
_CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


def mask(text):
    """`text` with each comment character blanked to a space and each
    non-space character of a string or character literal replaced by `_`.
    Newlines, quote marks and the code inside `${...}` splices stay, so
    the result has the same lines and columns and only code punctuation."""
    out = list(text)
    # stack of open contexts: "block" (comment, nests), (quote,
    # interpolated) (string), "splice" (code inside ${...}, tracking
    # its own braces)
    stack = []
    braces = []

    def blank(a, b, fill):
        for j in range(a, min(b, n)):
            if out[j] != "\n" and (fill == " " or not out[j].isspace()):
                out[j] = fill

    i, n = 0, len(text)
    while i < n:
        c = text[i]
        top = stack[-1] if stack else None
        if c == "\n":
            i += 1
            continue
        if top == "block":
            if text.startswith("*/", i):
                stack.pop()
                blank(i, i + 2, " ")
                i += 2
            elif text.startswith("/*", i):
                stack.append("block")
                blank(i, i + 2, " ")
                i += 2
            else:
                blank(i, i + 1, " ")
                i += 1
            continue
        if isinstance(top, tuple):
            quote, interpolated = top
            if quote == '"' and c == "\\":
                blank(i, i + 2, "_")
                i += 2
            elif text.startswith(quote, i) and not (quote == '"""' and text.startswith('""""', i)):
                stack.pop()
                i += len(quote)
            elif interpolated and text.startswith("$$", i):
                blank(i, i + 2, "_")
                i += 2
            elif interpolated and text.startswith("${", i):
                stack.append("splice")
                braces.append(0)
                i += 2
            else:
                blank(i, i + 1, "_")
                i += 1
            continue
        # code (top level or inside a splice)
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            blank(i, j, " ")
            i = j
            continue
        if text.startswith("/*", i):
            stack.append("block")
            blank(i, i + 2, " ")
            i += 2
            continue
        if c.isspace():
            i += 1
            continue
        if c == '"':
            quote = '"""' if text.startswith('"""', i) else '"'
            interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            stack.append((quote, interpolated))
            i += len(quote)
        elif c == "'":
            m = _CHAR_LIT.match(text, i)
            if m:
                blank(i + 1, m.end() - 1, "_")
                i = m.end()
            else:
                i += 1
        elif top == "splice" and c == "{":
            braces[-1] += 1
            i += 1
        elif top == "splice" and c == "}":
            if braces[-1] == 0:
                stack.pop()
                braces.pop()
            else:
                braces[-1] -= 1
            i += 1
        else:
            i += 1
    return "".join(out)


def code_lines(text):
    """Number of lines of `text` holding Scala code outside comments."""
    return sum(1 for line in mask(text).split("\n") if line.strip())


def _git(args):
    return subprocess.run(["git"] + args, check=True, capture_output=True).stdout


def tree_files(tree, rev=None):
    """(path, text) of every .scala file under `tree`, sorted by path."""
    if rev is None:
        paths = [os.path.join(d, f) for d, _, fs in os.walk(tree)
                 for f in fs if f.endswith(".scala")]
        for p in sorted(paths):
            with open(p, encoding="utf-8") as fh:
                yield p, fh.read()
    else:
        listing = _git(["ls-tree", "-r", "--name-only", rev, "--", tree]).decode()
        for p in sorted(x for x in listing.splitlines() if x.endswith(".scala")):
            yield p, _git(["show", f"{rev}:{p}"]).decode("utf-8")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("trees", nargs="*", default=DEFAULT_TREES)
    ap.add_argument("--rev", help="count the trees as committed at this git revision")
    ap.add_argument("--files", action="store_true", help="also print per-file counts")
    args = ap.parse_args(argv)
    for tree in args.trees:
        total = files = 0
        for path, text in tree_files(tree, args.rev):
            k = code_lines(text)
            total += k
            files += 1
            if args.files:
                print(f"  {path} {k}")
        print(f"{tree} {total} ({files} files)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
