#!/usr/bin/env python3
"""Repeated-block counter for Scala sources.

Usage:
    python3 tools/dupblocks.py [PATH[:FIRST-LAST] ...]   # default: src/main
    python3 tools/dupblocks.py --total src/main          # total only

PATH is a .scala file or a directory (its .scala files, sorted by
path); FIRST-LAST limits a file to that 1-based inclusive line range.
Prints one `<count>\t<input>` line per input and a final
`<count>\tTOTAL` line.

A line counts when it is a second-or-later copy of a repeated block.
The rules:
  - a block is a window of four consecutive lines of one input, taken
    as written: indentation and trailing text kept, nothing normalized;
  - a window holding a blank or whitespace-only line is no block;
  - a window whose text equals a window seen earlier (in the same
    input or an earlier one) is a copy, and each of its four lines
    counts, once however many copies cover it;
  - blocks longer than four lines are covered by their overlapping
    four-line windows, so a copied run of n >= 4 lines counts n.
"""

import os
import sys

WINDOW = 4


def inputs(args):
    """(label, lines) per input, in argument order."""
    for arg in args:
        path, first, last = arg, 1, None
        if ":" in arg and not os.path.exists(arg):
            path, rng = arg.rsplit(":", 1)
            a, b = rng.split("-")
            first, last = int(a), int(b)
        files = [path]
        if os.path.isdir(path):
            files = sorted(
                os.path.join(d, f)
                for d, _, fs in os.walk(path) for f in fs if f.endswith(".scala"))
        for f in files:
            with open(f, encoding="utf-8") as fh:
                lines = fh.read().split("\n")
            label = f if (first, last) == (1, None) else f"{f}:{first}-{last}"
            yield label, lines[first - 1:last]


def count(all_inputs):
    """Per-input counts of copied lines, windows shared across inputs."""
    seen = set()
    out = []
    for label, lines in all_inputs:
        copied = set()
        for i in range(len(lines) - WINDOW + 1):
            block = tuple(lines[i:i + WINDOW])
            if any(not line.strip() for line in block):
                continue
            if block in seen:
                copied.update(range(i, i + WINDOW))
            else:
                seen.add(block)
        out.append((label, len(copied)))
    return out


def main(argv):
    total_only = "--total" in argv
    args = [a for a in argv if a != "--total"] or ["src/main"]
    rows = count(inputs(args))
    if not total_only:
        for label, n in rows:
            print(f"{n}\t{label}")
    print(f"{sum(n for _, n in rows)}\tTOTAL")


if __name__ == "__main__":
    main(sys.argv[1:])
