#!/usr/bin/env python3
"""Count Scala lines that repeat an earlier 6-line window, per source tree.

    python3 tools/dups.py [--rev REV] [--files] [TREE ...]

Each file is reduced to its code lines: comments are dropped, string and
character literals are KEPT (an oracle's SQL lives inside one, and a
copied query is exactly what this looks for), runs of whitespace collapse
to one space, and lines left empty are skipped. A window is WINDOW (6)
consecutive such lines. A line is counted when it lies in a window
whose text already appeared earlier in the tree -- in an earlier file
(files are read in path order) or earlier in the same file without
overlapping it. TREE defaults to src/main/scala and src/test/scala. Each
tree prints `<tree> <repeated lines> of <lines> (<files> files)`; --files
adds `<path> <repeated> of <lines>` per file. --rev reads the trees as
committed at a git revision, as tools/loc.py does.
"""
import argparse
import sys

import loc

WINDOW = 6


def code_lines(text):
    """The whitespace-normalised non-empty lines of `text` with comments
    removed and literal text kept."""
    masked = loc.mask(text)
    # loc.mask blanks comment characters to spaces and literal characters
    # to `_`; keep every character the mask did not blank as a comment
    kept = "".join(c if not (m == " " and not c.isspace()) else " "
                   for c, m in zip(text, masked))
    lines = (" ".join(line.split()) for line in kept.split("\n"))
    return [line for line in lines if line]


def repeated(files):
    """Per file (path, repeated lines, lines) for `files` [(path, text)]:
    the lines covered by a window seen earlier in the sequence."""
    first = {}  # window text -> (file index, start line) of its first occurrence
    out = []
    for fi, (path, text) in enumerate(files):
        lines = code_lines(text)
        hit = set()
        for s in range(len(lines) - WINDOW + 1):
            key = tuple(lines[s:s + WINDOW])
            seen = first.setdefault(key, (fi, s))
            if seen[0] < fi or seen[1] + WINDOW <= s:
                hit.update(range(s, s + WINDOW))
        out.append((path, len(hit), len(lines)))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("trees", nargs="*", default=loc.DEFAULT_TREES)
    ap.add_argument("--rev", help="count the trees as committed at this git revision")
    ap.add_argument("--files", action="store_true", help="also print per-file counts")
    args = ap.parse_args(argv)
    for tree in args.trees:
        counts = repeated(list(loc.tree_files(tree, args.rev)))
        if args.files:
            for path, k, n in counts:
                print(f"  {path} {k} of {n}")
        total = sum(k for _, k, _ in counts)
        lines = sum(n for _, _, n in counts)
        print(f"{tree} {total} of {lines} ({len(counts)} files)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
