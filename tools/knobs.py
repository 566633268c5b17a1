#!/usr/bin/env python3
"""Count the defaulted parameters of Scala `def` signatures per source tree.

    python3 tools/knobs.py [--rev REV] [--files] [TREE ...]

A knob is a parameter of a `def` that declares a default value
(`name: T = value`): each one is a setting a caller may leave out. TREE
defaults to src/main/scala and src/test/scala. Each tree prints one line,
`<tree> <knobs> (<files> files)`; --files adds one line per file. --rev
reads the trees as committed at a git revision, as tools/loc.py does.

Comments and the contents of string literals are ignored (tools/loc.py's
`mask`). A parameter's default is the first `=` at its own nesting depth
that is not part of `=>`, `==`, `<=`, `>=` or `!=`; so by-name (`=> T`)
and function-typed (`A => B`) parameters count only when a default
follows their type. Class constructor parameters are not `def`s and are
not counted.
"""
import argparse
import re
import sys

import loc

_DEF = re.compile(r"\bdef\s+(?:[A-Za-z_$][\w$]*|[^\w\s(\[:=]+)")
_OPEN = {"(": ")", "[": "]", "{": "}"}


def _group_end(code, i):
    """Index just past the bracket group opening at code[i]."""
    depth = []
    n = len(code)
    while i < n:
        c = code[i]
        if c in _OPEN:
            depth.append(_OPEN[c])
        elif depth and c == depth[-1]:
            depth.pop()
            if not depth:
                return i + 1
        i += 1
    return n


def _params(group):
    """Top-level comma-separated parameters of one `( ... )` group."""
    out, depth, start = [], 0, 1
    for j in range(1, len(group) - 1):
        c = group[j]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(group[start:j])
            start = j + 1
    out.append(group[start:-1])
    return [p for p in out if p.strip()]


def _has_default(param):
    depth = 0
    for j, c in enumerate(param):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            before = param[j - 1] if j else ""
            after = param[j + 1] if j + 1 < len(param) else ""
            if after not in "=>" and before not in "=<>!":
                return True
    return False


def knobs(text):
    """(def name, parameter text) of each defaulted `def` parameter in `text`."""
    code = loc.mask(text)
    found = []
    for m in _DEF.finditer(code):
        name = m.group(0).split()[-1]
        i = m.end()
        while True:
            while i < len(code) and code[i].isspace():
                i += 1
            if i < len(code) and code[i] in "([":
                end = _group_end(code, i)
                if code[i] == "(":
                    found += [(name, " ".join(p.split())) for p in _params(code[i:end])
                              if _has_default(p)]
                i = end
            else:
                break
    return found


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("trees", nargs="*", default=loc.DEFAULT_TREES)
    ap.add_argument("--rev", help="count the trees as committed at this git revision")
    ap.add_argument("--files", action="store_true", help="also print per-file counts")
    args = ap.parse_args(argv)
    for tree in args.trees:
        total = files = 0
        for path, text in loc.tree_files(tree, args.rev):
            k = len(knobs(text))
            total += k
            files += 1
            if args.files:
                print(f"  {path} {k}")
        print(f"{tree} {total} ({files} files)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
