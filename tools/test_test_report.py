#!/usr/bin/env python3
"""Unit test for test_report.py on synthetic JUnit XML reports.

Writes two suites covering every outcome (pass, failure, error, skip),
including an escaped test name, and asserts the sorted per-testcase lines
and the totals line. Also checks that an empty report directory yields
only a zero totals line, and that a suite no test source declares is
STALE and left out of the totals.
Run: python3 tools/test_test_report.py
"""
import os
import tempfile

from test_report import report_lines

SUITE_A = """<?xml version='1.0' encoding='UTF-8'?>
<testsuite name="graft.ops.ASpec" tests="3" errors="1" failures="1" skipped="0">
  <properties><property name="k" value="v"/></properties>
  <testcase classname="graft.ops.ASpec" name="passes &amp; stays green" time="0.1"></testcase>
  <testcase classname="graft.ops.ASpec" name="asserts wrong" time="0.2">
    <failure message="1 did not equal 2" type="org.scalatest.exceptions.TestFailedException">trace</failure>
  </testcase>
  <testcase classname="graft.ops.ASpec" name="throws" time="0.3">
    <error message="boom" type="java.nio.file.NoSuchFileException">trace</error>
  </testcase>
  <system-out/>
</testsuite>
"""

SUITE_B = """<?xml version='1.0' encoding='UTF-8'?>
<testsuite name="graft.BSpec" tests="2" errors="0" failures="0" skipped="1">
  <testcase classname="graft.BSpec" name="canceled by assume" time="0.0"><skipped/></testcase>
  <testcase classname="graft.BSpec" name="a: first" time="0.0"/>
</testsuite>
"""


def test_one_line_per_testcase_sorted_with_totals():
    with tempfile.TemporaryDirectory() as d:
        for name, xml in (("TEST-graft.ops.ASpec.xml", SUITE_A),
                          ("TEST-graft.BSpec.xml", SUITE_B)):
            with open(os.path.join(d, name), "w") as f:
                f.write(xml)
        with open(os.path.join(d, "not-a-report.xml"), "w") as f:
            f.write("<junk/>")
        got = report_lines(d)
    assert got == [
        "ERROR graft.ops.ASpec :: throws",
        "FAIL graft.ops.ASpec :: asserts wrong",
        "SKIP graft.BSpec :: canceled by assume",
        "ok graft.BSpec :: a: first",
        "ok graft.ops.ASpec :: passes & stays green",
        "total 5: ok 2, FAIL 1, ERROR 1, SKIP 1",
    ], got


def test_undeclared_suite_is_stale_and_left_out():
    with tempfile.TemporaryDirectory() as d:
        reports, src = os.path.join(d, "reports"), os.path.join(d, "src", "graft", "ops")
        os.makedirs(reports)
        os.makedirs(src)
        for name, xml in (("TEST-graft.ops.ASpec.xml", SUITE_A),
                          ("TEST-graft.BSpec.xml", SUITE_B)):
            with open(os.path.join(reports, name), "w") as f:
                f.write(xml)
        # ASpec is declared in a file of another name; BSpec is gone
        with open(os.path.join(src, "Specs.scala"), "w") as f:
            f.write("package graft.ops\n\nclass ASpec extends AnyFunSuite\n")
        got = report_lines(reports, os.path.join(d, "src"))
    assert got == [
        "ERROR graft.ops.ASpec :: throws",
        "FAIL graft.ops.ASpec :: asserts wrong",
        "STALE graft.BSpec :: a: first",
        "STALE graft.BSpec :: canceled by assume",
        "ok graft.ops.ASpec :: passes & stays green",
        "total 3: ok 1, FAIL 1, ERROR 1, SKIP 0; STALE 2 left out",
    ], got


def test_empty_dir_gives_zero_totals():
    with tempfile.TemporaryDirectory() as d:
        assert report_lines(d) == ["total 0: ok 0, FAIL 0, ERROR 0, SKIP 0"]


if __name__ == "__main__":
    tests = (test_one_line_per_testcase_sorted_with_totals,
             test_undeclared_suite_is_stale_and_left_out,
             test_empty_dir_gives_zero_totals)
    for t in tests:
        t()
        print(f"ok   {t.__name__}")
    print(f"\n{len(tests)} ok, 0 fail")
