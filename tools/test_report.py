#!/usr/bin/env python3
"""Print an sbt test run as one line per testcase, read from the JUnit XML
reports that sbt writes (sbt's own console output is often lost, the
reports are not).

Each line is `ok|FAIL|ERROR|SKIP <suite> :: <test>`, sorted, followed by
one totals line. Two runs compare with plain `diff`: the `<` / `>` lines
are the tests that changed status, appeared or disappeared.

sbt never clears the report directory, so it keeps the reports of suites
that no longer exist. A suite whose class no test source declares (under
`src/test/scala` next to the report directory's `target/`) is printed as
`STALE <suite> :: <test>` and left out of the totals.
Usage:
    python3 tools/test_report.py [reportDir]   # default target/test-reports
    diff <(python3 tools/test_report.py a/target/test-reports) \\
         <(python3 tools/test_report.py b/target/test-reports)
"""
import glob
import os
import re
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


def declared_classes(src_dir):
    """Simple names of the classes declared in the .scala files under
    `src_dir`, or None when there is no such directory."""
    if not os.path.isdir(src_dir):
        return None
    names = set()
    for path in glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True):
        with open(path, encoding="utf-8") as f:
            names.update(re.findall(r"\bclass\s+(\w+)", f.read()))
    return names


def report_lines(report_dir, src_dir=None):
    """Sorted testcase lines plus the totals line for every TEST-*.xml;
    suites not declared under `src_dir` (default: the `src/test/scala`
    beside the report directory's `target/`) are STALE."""
    if src_dir is None:
        src_dir = os.path.join(report_dir, os.pardir, os.pardir, "src", "test", "scala")
    live = declared_classes(src_dir)
    lines = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        suite = ET.parse(path).getroot()
        for case in suite.iter("testcase"):
            name = case.get("classname") or suite.get("name")
            stale = live is not None and name.rsplit(".", 1)[-1] not in live
            lines.append(f"{'STALE' if stale else status_of(case)} {name} :: {case.get('name')}")
    lines.sort()
    counts = Counter(l.split(" ", 1)[0] for l in lines)
    totals = ", ".join(f"{s} {counts[s]}" for s in STATUSES)
    left_out = f"; STALE {counts['STALE']} left out" if counts["STALE"] else ""
    return lines + [f"total {len(lines) - counts['STALE']}: {totals}{left_out}"]


if __name__ == "__main__":
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    lines = report_lines(report_dir)
    if len(lines) == 1:
        sys.exit(f"no TEST-*.xml testcases under {report_dir}")
    print("\n".join(lines))
