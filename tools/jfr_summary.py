#!/usr/bin/env python3
"""Summarize the process spawns in a JFR recording, and the codegen compiles
and broadcasts in a run's log.

Usage:

    python3 tools/jfr_summary.py RUN.jfr [--log RUN.err] [--top N]

Process spawns are the recording's `jdk.ProcessStart` events (on by default
in JFR's `default` and `profile` settings). Each is attributed to its call
site: the first stack frame outside the JDK, Scala, Hadoop, Jackson and
Spark's checkpoint-manager plumbing, e.g. `HDFSMetadataLog.write` for a
`chmod` forked under an offset-log write. Counts are split by thread: the
stream execution thread runs serially, task threads run in parallel.

Codegen compiles are counted from `CodeGenerator: Code generated in N ms`
lines, which Spark logs at INFO; pass the run's stderr with `--log`. A
log4j2 file (`-Dlog4j2.configurationFile=...`) that sets the logger
`org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator` to INFO
keeps those lines past a WARN root level. A perfbench log is also split
at its `drain <i>:` lines: the compiles logged before each drain's line
belong to that drain (the first segment includes setup).

Broadcasts are counted the same way, from MemoryStore's `Block broadcast_N
stored as values in memory (estimated size S ...)` lines (logger
`org.apache.spark.storage.memory.MemoryStore` at INFO), with their sizes:
per drain, and how many of each size.

Needs the JDK's `jfr` tool on PATH.
"""
import argparse
import collections
import json
import re
import subprocess
import sys

PLUMBING = ("java.", "jdk.", "sun.", "scala.", "org.apache.hadoop.", "com.fasterxml.jackson.")
CODEGEN = re.compile(r"CodeGenerator: Code generated in ([0-9.]+) ms")
DRAIN = re.compile(r"\] drain \d+: ")
BROADCAST = re.compile(
    r"Block broadcast_\d+ stored as values in memory \(estimated size ([0-9.]+) (B|KiB|MiB|GiB)")
UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30}


def class_name(f):
    return f["method"]["type"]["name"].replace("/", ".")


def frame_name(f):
    return f'{class_name(f)}.{f["method"]["name"]}:{f.get("lineNumber", -1)}'


def call_site(frames):
    for f in frames:
        cls = class_name(f)
        if cls.startswith(PLUMBING) or "CheckpointFileManager" in cls:
            continue
        return frame_name(f)
    return frame_name(frames[0]) if frames else "?"


def thread_kind(t):
    name = (t or {}).get("javaName") or (t or {}).get("osName") or "?"
    if name.startswith("stream execution thread"):
        return "stream-thread"
    if name.startswith("Executor task launch worker"):
        return "task"
    return re.sub(r"[-\s#]*\d+$", "", name)


def process_starts(jfr):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", jfr],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        frames = ((v.get("stackTrace") or {}).get("frames")) or []
        cmd = (v.get("command") or "?").split()
        yield call_site(frames), (cmd[0].rsplit("/", 1)[-1] if cmd else "?"), thread_kind(v.get("eventThread"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("jfr")
    ap.add_argument("--log", help="the run's stderr, for codegen compiles")
    ap.add_argument("--top", type=int, default=25)
    a = ap.parse_args()

    starts = list(process_starts(a.jfr))
    print(f"process starts: {len(starts)}")
    for kind, n in collections.Counter(k for _, _, k in starts).most_common():
        print(f"  {n:6d}  thread {kind}")
    print("by call site (command, thread):")
    for (site, cmd, kind), n in collections.Counter(starts).most_common(a.top):
        print(f"  {n:6d}  {site}  ({cmd}, {kind})")

    if a.log:
        # per kind: values, and per drain [count, bytes] (last = after the last drain)
        seen = {"codegen": [], "broadcast": []}
        drains = {k: [[0, 0.0]] for k in seen}
        with open(a.log, errors="replace") as fh:
            for line in fh:
                m, b = CODEGEN.search(line), BROADCAST.search(line)
                if m or b:
                    kind, v = ("codegen", float(m.group(1))) if m else \
                        ("broadcast", float(b.group(1)) * UNIT[b.group(2)])
                    seen[kind].append(v)
                    drains[kind][-1][0] += 1
                    drains[kind][-1][1] += v
                elif DRAIN.search(line):
                    for d in drains.values():
                        d.append([0, 0.0])
        ms, sizes = seen["codegen"], seen["broadcast"]
        print(f"codegen compiles: {len(ms)} ({sum(ms):.0f} ms)")
        if len(drains["codegen"]) > 1:
            print(f"  up to each perfbench drain: {[n for n, _ in drains['codegen'][:-1]]}; "
                  f"after the last: {drains['codegen'][-1][0]}")
        print(f"broadcasts: {len(sizes)} ({sum(sizes) / 1024:.0f} KiB)")
        if len(drains["broadcast"]) > 1:
            print("  up to each perfbench drain: "
                  + ", ".join(f"{n} ({kib / 1024:.0f} KiB)" for n, kib in drains["broadcast"][:-1])
                  + f"; after the last: {drains['broadcast'][-1][0]}")
        for size, n in collections.Counter(sizes).most_common(a.top):
            print(f"  {n:6d}  x {size / 1024:.1f} KiB")


if __name__ == "__main__":
    sys.exit(main())
