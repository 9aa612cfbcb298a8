#!/usr/bin/env python3
"""Count the OS processes a JVM forked, from a JFR recording.

    python3 scripts/fork_census.py <recording.jfr>

Runs `jfr print --json --events jdk.ProcessStart` on the recording and
prints two tables: forks by command (the program name, first word of the
command line) and forks by the first Spark or `graft` frame on the
forking thread's stack (the code that asked for the process), then the
total. Stdlib only; `jfr` must be on PATH (it ships with the JDK).

Taking a recording:
  - a benchmark run: JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/v.jfr"
    python3 perfbench/run.py --workload vote_stream ... (build first
    without it, or the build JVM records too);
  - a spec run: SPARK_GRAFT_EXTRA_JAVA_OPTS="-XX:StartFlightRecording=filename=/tmp/t.jfr"
    sbt "testOnly graft.StreamingSpec" (build.sbt forwards it to the
    forked test JVM).
ProcessStart events carry stack traces in JFR's default settings.
"""
import collections
import json
import os
import subprocess
import sys

# frames of these packages say who asked for the process
OWNERS = ("org.apache.spark.", "graft.", "graftbench.")
# `jfr print` keeps 5 frames by default, all inside Hadoop's Shell and
# the JDK; 64 is the depth the JVM records at by default
STACK_DEPTH = 64


def events(recording):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", str(STACK_DEPTH),
         "--events", "jdk.ProcessStart", recording],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def program(values):
    cmd = (values.get("command") or "").split()
    return os.path.basename(cmd[0]) if cmd else "?"


def owner(values):
    """`Class.method` of the first Spark or graft frame, innermost first."""
    frames = (values.get("stackTrace") or {}).get("frames") or []
    for f in frames:
        m = f.get("method") or {}
        cls = (m.get("type") or {}).get("name", "").replace("/", ".")
        if cls.startswith(OWNERS):
            return f"{cls}.{m.get('name', '?')}"
    return "(no Spark or graft frame)" if frames else "(no stack trace)"


def table(title, counts):
    print(f"{title}:")
    for key, n in counts.most_common():
        print(f"  {n:7d}  {key}")


def main(argv):
    if len(argv) != 1:
        sys.exit("usage: fork_census.py <recording.jfr>")
    evs = [e["values"] for e in events(argv[0])]
    table("by command", collections.Counter(map(program, evs)))
    table("by first Spark/graft frame", collections.Counter(map(owner, evs)))
    print(f"total: {len(evs)}")


if __name__ == "__main__":
    main(sys.argv[1:])
