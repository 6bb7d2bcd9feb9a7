#!/usr/bin/env python3
"""Print an sbt test run as one line per testcase, read from the JUnit XML
reports that sbt writes (sbt's own console output is often lost, the
reports are not).

Each line is `ok|FAIL|ERROR|SKIP <suite> :: <test>`, sorted, followed by
one totals line. Two runs compare with plain `diff`: the `<` / `>` lines
are the tests that changed status, appeared or disappeared.
Usage:
    python3 tools/test_report.py [reportDir]   # default target/test-reports
    diff <(python3 tools/test_report.py a/target/test-reports) \\
         <(python3 tools/test_report.py b/target/test-reports)
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET
from collections import Counter

STATUSES = ("ok", "FAIL", "ERROR", "SKIP")


def status_of(case):
    """JUnit outcome of one <testcase>: a child element marks a non-pass."""
    if case.find("error") is not None:
        return "ERROR"
    if case.find("failure") is not None:
        return "FAIL"
    if case.find("skipped") is not None:
        return "SKIP"
    return "ok"


def report_lines(report_dir):
    """Sorted testcase lines plus the totals line for every TEST-*.xml."""
    lines = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        suite = ET.parse(path).getroot()
        for case in suite.iter("testcase"):
            name = case.get("classname") or suite.get("name")
            lines.append(f"{status_of(case)} {name} :: {case.get('name')}")
    lines.sort()
    counts = Counter(l.split(" ", 1)[0] for l in lines)
    totals = ", ".join(f"{s} {counts[s]}" for s in STATUSES)
    return lines + [f"total {len(lines)}: {totals}"]


if __name__ == "__main__":
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    lines = report_lines(report_dir)
    if len(lines) == 1:
        sys.exit(f"no TEST-*.xml testcases under {report_dir}")
    print("\n".join(lines))
