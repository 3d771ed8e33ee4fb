#!/usr/bin/env python3
"""Counts process forks and checkpoint-checksum waits in a JFR recording.

Record any engine JVM with
  -XX:StartFlightRecording=filename=rec.jfr,settings=profile,dumponexit=true
(for a perfbench run: JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=..." after
`python3 perfbench/build.py`, so the compiler JVM is not recorded), then run

  python3 tools/jfr_forks.py rec.jfr

It prints one JSON line:
  fork_samples        execution/native samples inside ProcessImpl.forkAndExec
  fork_sites          those samples by (forking frame, first Spark/graft caller)
  awaitresult_parks   jdk.ThreadPark events under
                      ChecksumCheckpointFileManager.awaitResult (the profile
                      settings record parks of 10 ms or more)
  awaitresult_park_ms their total, median and longest duration
"""
import collections
import json
import re
import statistics
import subprocess
import sys

EVENTS = "jdk.ExecutionSample,jdk.NativeMethodSample,jdk.ThreadPark"
FRAME = re.compile(r"^\s+([\w.$<>]+)\(")
DURATION = re.compile(r"^\s+duration = ([\d.]+) (ns|us|ms|s)\b")
SCALE_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1000.0}
PLUMBING = ("java.", "jdk.", "sun.", "org.apache.hadoop.util.")
CALLERS = ("org.apache.spark.", "graft.", "perfbench.")


def events(path):
    """Yields (event type, stack frames, duration ms) per printed event."""
    out = subprocess.run(["jfr", "print", "--events", EVENTS, "--stack-depth", "64", path],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    kind, frames, ms = None, [], 0.0
    for line in out.splitlines():
        if line.startswith("jdk."):
            if kind:
                yield kind, frames, ms
            kind, frames, ms = line.split()[0], [], 0.0
        elif (m := FRAME.match(line)):
            frames.append(m.group(1))
        elif (m := DURATION.match(line)):
            ms = float(m.group(1)) * SCALE_MS[m.group(2)]
    if kind:
        yield kind, frames, ms


def first(frames, pred):
    return next((f for f in frames if pred(f)), "?")


def main(path):
    forks, sites, parks = 0, collections.Counter(), []
    for kind, frames, ms in events(path):
        if kind == "jdk.ThreadPark":
            if any(f.replace("$", "").endswith("ChecksumCheckpointFileManager.awaitResult")
                   for f in frames):
                parks.append(ms)
        elif any(f.endswith("ProcessImpl.forkAndExec") for f in frames):
            forks += 1
            site = first(frames, lambda f: not f.startswith(PLUMBING))
            caller = first(frames, lambda f: f.startswith(CALLERS) and f != site)
            sites[f"{site} <- {caller}"] += 1
    print(json.dumps({
        "fork_samples": forks,
        "fork_sites": dict(sites.most_common()),
        "awaitresult_parks": len(parks),
        "awaitresult_park_ms": {"total": round(sum(parks), 1),
                                "p50": round(statistics.median(parks), 1) if parks else 0,
                                "max": round(max(parks), 1) if parks else 0},
    }))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: jfr_forks.py <recording.jfr>")
    main(sys.argv[1])
