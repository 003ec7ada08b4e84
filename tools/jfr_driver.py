#!/usr/bin/env python3
"""Attribute a JFR recording's driver-side CPU samples.

    tools/jfr_driver.py <recording.jfr> [--since <ISO time>]

Runs `jfr print --json --stack-depth 512 --events
jdk.ExecutionSample,jdk.NativeMethodSample` (jfr ships with the JDK) and
prints the samples of every thread but Spark's executor task threads,
for each of the two event types (an execution sample is a thread on
CPU in Java code; a native method sample is a thread in native code,
blocked waits such as an idle epoll loop included), grouped three ways:

  - by thread group: the thread's name with its digits masked, so all of
    Spark's `shuffle-exchange-N` threads count as one group;
  - by Spark phase: the first phase, in the order listed in PHASES, that
    has a frame in the sample's stack (a leaf cause such as a forked
    process or a Hadoop conf parse wins over the analysis or AQE frames
    around it);
  - by the innermost `graft.` frame: the engine line that led there.

--since drops samples taken before the given time (UTC unless it names
an offset), so a recording that covers the session start can be cut to
the timed ops. Record with a stack depth of 512, for example with

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions:stackdepth=512 \
      -XX:StartFlightRecording=filename=run.jfr,settings=profile"

JFR keeps 64 frames by default, and a truncated stack loses the outer
frames the phases and graft frames are read from; the number of
truncated samples is printed.

The JSON is parsed one event at a time, so a long recording does not
have to fit in memory as one document.
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys

EXECUTOR_THREAD = "Executor task launch worker"

# (phase, frame prefixes): class-qualified method names, matched as prefixes
PHASES = [
    ("forked process", ("org.apache.hadoop.util.Shell.runCommand", "java.lang.ProcessBuilder.start",
                        "java.lang.ProcessImpl.")),
    ("Hadoop conf parse", ("org.apache.hadoop.conf.Configuration.loadResource",
                           "org.apache.hadoop.conf.Configuration.getProps",
                           "org.apache.hadoop.conf.Configuration.parse")),
    ("footer read", ("org.apache.parquet.hadoop.ParquetFileReader.", "graft.sources.Readers.footer")),
    ("ClosureCleaner", ("org.apache.spark.util.ClosureCleaner.", "org.apache.spark.util.SparkClosureCleaner.")),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.", "org.apache.spark.sql.execution.QueryExecution.analyzed",
                  "org.apache.spark.sql.execution.QueryExecution.assertAnalyzed")),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.", "org.apache.spark.sql.execution.SparkOptimizer",
                   "org.apache.spark.sql.execution.QueryExecution.optimizedPlan")),
    ("AQE", ("org.apache.spark.sql.execution.adaptive.",)),
    ("DAG scheduler", ("org.apache.spark.scheduler.",)),
]


def frame_name(frame):
    m = frame.get("method") or {}
    cls = ((m.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{cls}.{m.get('name', '?')}"


def events(path):
    """Yield the events of `jfr print --json`, decoded one at a time."""
    cmd = ["jfr", "print", "--json", "--stack-depth", "512",
           "--events", "jdk.ExecutionSample,jdk.NativeMethodSample", path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    dec = json.JSONDecoder()
    buf = ""
    started = False
    for chunk in iter(lambda: proc.stdout.read(1 << 20), ""):
        buf += chunk
        if not started:
            i = buf.find('"events": [')
            if i < 0:
                continue
            buf, started = buf[i + len('"events": ['):], True
        while True:
            buf = buf.lstrip().lstrip(",").lstrip()
            if not buf.startswith("{"):
                break
            try:
                ev, end = dec.raw_decode(buf)
            except json.JSONDecodeError:
                break  # the event continues in the next chunk
            yield ev
            buf = buf[end:]
    if proc.wait() != 0:
        sys.exit(f"jfr print failed with exit code {proc.returncode}")


def parse_time(s):
    """An ISO time as an aware datetime; JFR's nanoseconds cut to micro."""
    s = re.sub(r"(\.\d{6})\d+", r"\1", s.strip()).replace("Z", "+00:00")
    t = datetime.datetime.fromisoformat(s)
    return t if t.tzinfo else t.replace(tzinfo=datetime.timezone.utc)


def phase_of(frames):
    for phase, prefixes in PHASES:
        if any(f.startswith(prefixes) for f in frames):
            return phase
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--since", help="ISO time; earlier samples are dropped")
    a = ap.parse_args()
    since = parse_time(a.since) if a.since else None

    # event type -> grouping -> Counter
    counts = collections.defaultdict(lambda: collections.defaultdict(collections.Counter))
    executor = collections.Counter()
    truncated = collections.Counter()
    for ev in events(a.recording):
        v = ev.get("values", {})
        if since and parse_time(v["startTime"]) < since:
            continue
        kind = ev.get("type", "?")
        name = ((v.get("sampledThread") or {}).get("javaName")) or "?"
        if name.startswith(EXECUTOR_THREAD):
            executor[kind] += 1
            continue
        stack = v.get("stackTrace") or {}
        frames = [frame_name(f) for f in stack.get("frames", [])]  # innermost first
        truncated[kind] += bool(stack.get("truncated"))
        by = counts[kind]
        by["thread group"][re.sub(r"\d+", "#", name)] += 1
        by["Spark phase"][phase_of(frames)] += 1
        by["innermost graft. frame"][next((f for f in frames if f.startswith("graft.")),
                                          "(no graft frame)")] += 1

    for kind in sorted(set(counts) | set(executor)):
        by = counts[kind]
        total = sum(by["thread group"].values())
        print(f"== {kind}: {total} driver-side samples ({executor[kind]} executor-thread "
              f"samples left out, {truncated[kind]} driver stacks truncated)")
        for title in ("thread group", "Spark phase", "innermost graft. frame"):
            print(f"\nby {title}:")
            for key, n in by[title].most_common(25):
                print(f"  {n:7d}  {100.0 * n / max(total, 1):5.1f}%  {key}")
        print()


if __name__ == "__main__":
    main()
