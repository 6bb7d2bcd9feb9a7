#!/usr/bin/env python3
"""Unit test for jfr_phases.py on synthetic `jfr print --json` output, with
no JVM: phase from the outermost matching frame, layer from the innermost,
driver thread only, and the time window.
Run: python3 tools/test_jfr_phases.py
"""
from jfr_phases import count, parse_time, table


def frame(cls, method):
    return {"method": {"type": {"name": cls}, "name": method}, "lineNumber": 1}


def sample(t, thread, frames):
    """One ExecutionSample; `frames` outermost first, as a call chain reads."""
    return {"type": "jdk.ExecutionSample", "values": {
        "startTime": f"2026-10-18T19:30:{t:09.6f}123Z",
        "sampledThread": {"javaName": thread},
        "stackTrace": {"truncated": False,
                       "frames": [frame(c, m) for c, m in reversed(frames)]}}}


MAIN = ("perfbench.Main$", "main")
RUN = ("graft.etl.Pipeline$", "run")
ANALYZE = ("org.apache.spark.sql.catalyst.analysis.Analyzer", "executeAndCheck")
OPTIMIZE = ("org.apache.spark.sql.catalyst.optimizer.ColumnPruning$", "apply")
CODEGEN = ("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$", "compile")
AQE = ("org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec", "getFinalPhysicalPlan")
TREE = ("org.apache.spark.sql.catalyst.trees.TreeNode", "transformDown")

DOC = {"recording": {"events": [
    sample(0.0, "main", [MAIN, RUN, ANALYZE, TREE]),              # construct, analyzer
    sample(1.0, "main", [MAIN, RUN, ("org/apache/spark/sql/classic/Dataset", "localCheckpoint"),
                         OPTIMIZE, ANALYZE]),                     # innermost wins: analyzer
    sample(2.0, "main", [MAIN, RUN, OPTIMIZE, CODEGEN]),         # construct, codegen
    sample(3.0, "main", [MAIN, ("graft.sources.CustomsSource$", "appendToHistory"), AQE,
                         OPTIMIZE]),                              # append, optimizer
    sample(4.0, "main", [MAIN, ("graft.sources.CustomsSource$", "readCustomsCsv"), TREE]),
    sample(5.0, "main", [MAIN, ("perfbench.Workloads$", "check")]),  # untimed, other
    sample(6.0, "main", [MAIN, ("graft.etl.KnowledgeBase$", "sampleModelKb"), ANALYZE]),
    sample(2.5, "Executor task launch worker", [RUN, ANALYZE]),  # not the driver thread
    {"type": "jdk.CPULoad", "values": {"startTime": "2026-10-18T19:30:00Z"}},
]}}


def test_phase_and_layer_per_sample():
    c = count(DOC)
    assert c == {("construct", "analyzer"): 3, ("construct", "codegen"): 1,
                 ("append", "optimizer"): 1, ("read", "other"): 1,
                 ("untimed", "other"): 1}, c


def test_window_is_seconds_after_the_first_sample():
    c = count(DOC, (1.0, 3.5))
    assert c == {("construct", "analyzer"): 1, ("construct", "codegen"): 1,
                 ("append", "optimizer"): 1}, c


def test_parse_time_keeps_microseconds():
    a = parse_time("2026-10-18T19:30:01.250000999Z")
    b = parse_time("2026-10-18T19:30:00.000000000+00:00")
    assert abs(a - b - 1.25) < 1e-6, a - b


def test_table_totals():
    lines = table(count(DOC))
    assert lines[0].split() == ["phase", "analyzer", "optimizer", "planner", "aqe",
                                "codegen", "other", "total"]
    rows = {l.split()[0]: [int(x) for x in l.split()[1:]] for l in lines[1:]}
    assert rows["construct"] == [3, 0, 0, 0, 1, 0, 4], rows
    assert rows["total"] == [3, 1, 0, 0, 1, 2, 7], rows


if __name__ == "__main__":
    tests = (test_phase_and_layer_per_sample, test_window_is_seconds_after_the_first_sample,
             test_parse_time_keeps_microseconds, test_table_totals)
    for t in tests:
        t()
        print(f"ok   {t.__name__}")
    print(f"\n{len(tests)} ok, 0 fail")
