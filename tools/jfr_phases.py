#!/usr/bin/env python3
"""Count the driver thread's JFR execution samples by benchmark phase and
by Spark engine layer.

Usage:
    python3 tools/jfr_phases.py <rec.jfr> [from_s to_s]

It runs `jfr print --json --stack-depth 300 --events jdk.ExecutionSample`
on the recording and keeps the samples of the driver thread (`main`).
`from_s to_s` keeps only the samples taken that many seconds after the
recording's first sample (e.g. the timed ops, leaving out set-up and the
traced layer probes).

A sample's phase is the perfbench phase its stack is in, read from the
outermost matching frame: read (CustomsSource.readCustomsCsv), construct
(Pipeline.run / runCrane and the KB and rate tables built for them),
append (CustomsSource.appendToHistory), otherwise untimed. Its layer is
read from the innermost matching frame: analyzer, optimizer, planner, aqe,
codegen, otherwise other.

To record a perfbench run, build the harness once first (a plain run), so
that sbt is not recorded too, then:
    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=2048 \\
      -XX:StartFlightRecording=filename=/tmp/rec.jfr,settings=profile" \\
      python3 perfbench/run.py --workload pipeline_monthly --seed 12 --seconds 15 --trace 0
"""
import json
import subprocess
import sys
from collections import Counter
from datetime import datetime, timezone

DRIVER_THREAD = "main"
PHASES = ("read", "construct", "append", "untimed")
LAYERS = ("analyzer", "optimizer", "planner", "aqe", "codegen", "other")

# (phase, class-name prefix, method name or None for any)
PHASE_FRAMES = (
    ("read", "graft.sources.CustomsSource$", "readCustomsCsv"),
    ("append", "graft.sources.CustomsSource$", "appendToHistory"),
    ("construct", "graft.etl.Pipeline$", "run"),
    ("construct", "graft.etl.Pipeline$", "runCrane"),
    ("construct", "graft.etl.KnowledgeBase$", None),
    ("construct", "perfbench.Customs$", "rates"),
)

# (layer, class-name prefix); the first prefix that matches a frame wins
LAYER_PREFIXES = (
    ("codegen", "org.apache.spark.sql.catalyst.expressions.codegen."),
    ("codegen", "org.apache.spark.sql.execution.WholeStageCodegenExec"),
    ("codegen", "org.codehaus.janino."),
    ("codegen", "org.codehaus.commons.compiler."),
    ("aqe", "org.apache.spark.sql.execution.adaptive."),
    ("analyzer", "org.apache.spark.sql.catalyst.analysis."),
    ("optimizer", "org.apache.spark.sql.catalyst.optimizer."),
    ("optimizer", "org.apache.spark.sql.execution.SparkOptimizer"),
    ("planner", "org.apache.spark.sql.catalyst.planning."),
    ("planner", "org.apache.spark.sql.execution.SparkStrategies"),
    ("planner", "org.apache.spark.sql.execution.SparkPlanner"),
    ("planner", "org.apache.spark.sql.execution.exchange.EnsureRequirements"),
)


def frame_name(frame):
    """(class name with dots, method name) of one JFR JSON stack frame."""
    method = frame.get("method") or {}
    cls = ((method.get("type") or {}).get("name") or "").replace("/", ".")
    return cls, method.get("name") or ""


def phase_of(frames):
    """Phase of the outermost frame that names one; frames are innermost first."""
    for cls, name in reversed(frames):
        for phase, prefix, method in PHASE_FRAMES:
            if cls.startswith(prefix) and (method is None or name == method):
                return phase
    return "untimed"


def layer_of(frames):
    """Layer of the innermost frame that names one."""
    for cls, _ in frames:
        for layer, prefix in LAYER_PREFIXES:
            if cls.startswith(prefix):
                return layer
    return "other"


def parse_time(s):
    """Seconds since the epoch of a JFR JSON timestamp (nanosecond ISO-8601)."""
    s = s.replace("Z", "+00:00")
    main, _, zone = s.partition("+")
    if "." in main:
        head, frac = main.split(".", 1)
        main = f"{head}.{frac[:6]}"
    t = datetime.fromisoformat(main + ("+" + zone if zone else ""))
    if t.tzinfo is None:
        t = t.replace(tzinfo=timezone.utc)
    return t.timestamp()


def driver_samples(doc):
    """(seconds, frames) of each driver-thread sample, in time order."""
    out = []
    for ev in doc.get("recording", {}).get("events", []):
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        v = ev.get("values", {})
        if (v.get("sampledThread") or {}).get("javaName") != DRIVER_THREAD:
            continue
        frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames", [])]
        out.append((parse_time(v["startTime"]), frames))
    out.sort(key=lambda s: s[0])
    return out


def count(doc, window=None):
    """Counter of (phase, layer) over the driver samples, optionally only
    those `window` = (from_s, to_s) seconds after the first sample."""
    samples = driver_samples(doc)
    t0 = samples[0][0] if samples else 0.0
    c = Counter()
    for t, frames in samples:
        if window and not window[0] <= t - t0 < window[1]:
            continue
        c[(phase_of(frames), layer_of(frames))] += 1
    return c


def table(c):
    """Phase × layer sample counts with row and column totals."""
    w = max(len(l) for l in LAYERS + ("total",)) + 2
    lines = ["phase".ljust(10) + "".join(l.rjust(w) for l in LAYERS + ("total",))]
    for p in PHASES + ("total",):
        row = [sum(c[(q, l)] for q in PHASES if p in ("total", q)) for l in LAYERS]
        lines.append(p.ljust(10) + "".join(str(n).rjust(w) for n in row + [sum(row)]))
    return lines


def main(argv):
    if len(argv) not in (2, 4):
        sys.exit(__doc__)
    window = (float(argv[2]), float(argv[3])) if len(argv) == 4 else None
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "300", "--events", "jdk.ExecutionSample",
         argv[1]], check=True, capture_output=True, text=True).stdout
    print("\n".join(table(count(json.loads(out), window))))


if __name__ == "__main__":
    main(sys.argv)
