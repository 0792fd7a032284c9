#!/usr/bin/env python3
"""Per-spec and slowest-test wall times from sbt's JUnit XML reports.

Usage:
    python3 tools/spectimes.py [DIR]               # default: target/test-reports
    python3 tools/spectimes.py --top 20 [DIR]      # 20 slowest tests (default 10)
    python3 tools/spectimes.py BEFORE_DIR AFTER_DIR

With one directory it prints one `<seconds>\t<tests>\t<failed>\t<spec>`
line per spec, slowest first, a `TOTAL` line, then the slowest tests as
`<seconds>\t<spec>::<test>`. With two it prints each spec's seconds in
both, the ratio, and the totals over the specs present in both; a spec
found in only one directory is marked `-` on the other side.

A directory holds the `TEST-*.xml` files a run writes; keep a copy of
one run's directory to compare it with a later run.
"""

import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(d):
    """{spec: (seconds, tests, failed, [(seconds, test name)])} for `d`."""
    specs = {}
    for f in sorted(glob.glob(os.path.join(d, "TEST-*.xml"))):
        root = ET.parse(f).getroot()
        cases = [(float(c.get("time", 0)), c.get("name", ""))
                 for c in root.iter("testcase")]
        failed = int(root.get("failures", 0)) + int(root.get("errors", 0))
        specs[root.get("name")] = (
            float(root.get("time", 0)), int(root.get("tests", 0)), failed, cases)
    return specs


def show(d, top):
    specs = load(d)
    if not specs:
        sys.exit(f"no TEST-*.xml under {d}")
    for name, (t, n, bad, _) in sorted(specs.items(), key=lambda kv: -kv[1][0]):
        print(f"{t:.1f}\t{n}\t{bad}\t{name}")
    print(f"{sum(s[0] for s in specs.values()):.1f}\t"
          f"{sum(s[1] for s in specs.values())}\t"
          f"{sum(s[2] for s in specs.values())}\tTOTAL")
    tests = [(t, f"{name}::{case}")
             for name, s in specs.items() for t, case in s[3]]
    print()
    for t, label in sorted(tests, reverse=True)[:top]:
        print(f"{t:.1f}\t{label}")


def compare(before, after):
    a, b = load(before), load(after)
    if not a or not b:
        sys.exit("no TEST-*.xml in one of the directories")
    rows = []
    for name in sorted(set(a) | set(b)):
        ta = a[name][0] if name in a else None
        tb = b[name][0] if name in b else None
        rows.append((max(ta or 0, tb or 0), name, ta, tb))
    for _, name, ta, tb in sorted(rows, reverse=True):
        ratio = f"{tb / ta:.2f}" if ta and tb is not None else "-"
        fa = f"{ta:.1f}" if ta is not None else "-"
        fb = f"{tb:.1f}" if tb is not None else "-"
        print(f"{fa}\t{fb}\t{ratio}\t{name}")
    both = set(a) & set(b)
    sa = sum(a[n][0] for n in both)
    sb = sum(b[n][0] for n in both)
    print(f"{sa:.1f}\t{sb:.1f}\t{sb / sa:.2f}\tTOTAL ({len(both)} specs in both)")


def main(argv):
    top = 10
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    if len(argv) == 2:
        compare(*argv)
    elif len(argv) <= 1:
        show(argv[0] if argv else os.path.join("target", "test-reports"), top)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
