#!/usr/bin/env python3
"""Per-suite wall seconds from sbt's JUnit XML reports.

Usage: python3 tools/suite_times.py [REPORT_DIR] [BUDGET_S]

Reads every TEST-*.xml under REPORT_DIR (default target/test-reports),
prints each suite's `time` attribute, slowest first, then the total and
the total's share of the tier-1 budget (default 2,670 s).
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suite_times(report_dir):
    out = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        suites = [root] if root.tag == "testsuite" else root.iter("testsuite")
        for s in suites:
            out.append((s.get("name"), float(s.get("time") or 0.0),
                        int(s.get("tests") or 0),
                        int(s.get("failures") or 0) + int(s.get("errors") or 0)))
    return out


def main(argv):
    report_dir = argv[1] if len(argv) > 1 else "target/test-reports"
    budget = float(argv[2]) if len(argv) > 2 else 2670.0
    rows = suite_times(report_dir)
    if not rows:
        print(f"no TEST-*.xml under {report_dir}", file=sys.stderr)
        return 1
    for name, secs, tests, bad in sorted(rows, key=lambda r: -r[1]):
        print(f"{secs:10.1f} s  {tests:4d} tests  {bad:3d} failed  {name}")
    total = sum(r[1] for r in rows)
    print(f"{total:10.1f} s  {sum(r[2] for r in rows):4d} tests  "
          f"{sum(r[3] for r in rows):3d} failed  total over {len(rows)} suites")
    print(f"{100.0 * total / budget:10.1f} %  of the {budget:,.0f} s budget")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
