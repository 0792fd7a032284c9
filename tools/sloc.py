#!/usr/bin/env python3
"""Non-comment, non-blank line counter for Scala sources.

Usage:
    python3 tools/sloc.py [DIR_OR_FILE ...]          # default: src/main
    python3 tools/sloc.py --total src/main           # total only

Prints one `<count>\t<path>` line per .scala file (sorted by path) and a
final `<count>\tTOTAL` line.

A line counts when it holds at least one character of code. The rules:
  - blank and whitespace-only lines never count;
  - `// ...` runs to the end of the line and is a comment;
  - `/* ... */` (scaladoc `/** ... */` included) is a comment and may
    span lines; Scala nests block comments, so `/* a /* b */ c */` is
    one comment;
  - comment markers inside string literals ("...", triple-quoted
    \"\"\"...\"\"\" and interpolated forms) and character literals
    ('/') are code, not comments;
  - a line with code and a trailing comment counts once.
"""

import os
import sys


def code_lines(text):
    """Number of lines in `text` that hold code outside comments."""
    count = 0
    depth = 0          # block-comment nesting depth, carried across lines
    in_triple = False  # inside a triple-quoted string, carried across lines
    for line in text.split("\n"):
        has_code = in_triple and line.strip() != ""
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth > 0:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                if line.startswith('"""', i):
                    # a run of more than three quotes closes on its last three
                    j = i
                    while j < n and line[j] == '"':
                        j += 1
                    in_triple = False
                    i = j
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                in_triple = True
                has_code = True
                i += 3
            elif c == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                # character literal: 'x' or an escape like '\n' / 'A'
                has_code = True
                j = line.find("'", i + 2)
                i = n if j < 0 else j + 1
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if has_code:
            count += 1
    return count


def scala_files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, dirs, files in os.walk(p):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(root, f)


def main(argv):
    total_only = "--total" in argv
    paths = [a for a in argv if a != "--total"] or ["src/main"]
    total = 0
    for f in sorted(scala_files(paths)):
        with open(f, encoding="utf-8") as fh:
            c = code_lines(fh.read())
        total += c
        if not total_only:
            print(f"{c}\t{f}")
    print(f"{total}\tTOTAL")


if __name__ == "__main__":
    main(sys.argv[1:])
