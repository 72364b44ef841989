#!/usr/bin/env python3
"""Process launches in a JFR recording, counted by command and by caller.

Usage: python3 tools/forks.py <recording.jfr> [--top N]

Reads the recording's `jdk.ProcessStart` events through the JDK's
`jfr print --json` and prints three tables: launches per command (the
program's base name: `chmod`, `ls`, `readlink`, `rm`, ...), launches per
caller (the first stack frame outside the JDK and Hadoop, i.e. the code
that asked for the file operation), and launches per (command, caller).

A benchmark run records with an unmodified harness: the JVM reads
`JAVA_TOOL_OPTIONS`, and the harness's java child inherits it. Build
first, so the compiler's JVM does not write the recording instead:

    python3 pipebench/build.py
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/run.jfr \\
      python3 pipebench/run.py --workload event_stream --seed 3 --seconds 1
    python3 tools/forks.py /tmp/run.jfr
"""
import argparse
import collections
import json
import subprocess
import sys

# frames from these packages are plumbing; the caller is the first other
SKIP = ("java.", "javax.", "jdk.", "sun.", "org.apache.hadoop.")
STACK_DEPTH = 96


def launches(path):
    """(command, caller) per `jdk.ProcessStart` event in the recording."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", str(STACK_DEPTH),
         "--events", "jdk.ProcessStart", path],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        program = (v.get("command") or "?").split(" ", 1)[0]
        caller = "(no frame outside the JDK and Hadoop)"
        for f in (v.get("stackTrace") or {}).get("frames", []):
            cls = f["method"]["type"]["name"].replace("/", ".")
            if not cls.startswith(SKIP):
                caller = f"{cls}.{f['method']['name']}"
                break
        yield program.rsplit("/", 1)[-1], caller


def table(title, counts, top):
    print(f"\n{title}")
    for key, n in counts.most_common(top):
        print(f"  {n:7d}  {key}")


def main():
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20)
    args = ap.parse_args()
    try:
        rows = list(launches(args.recording))
    except (OSError, subprocess.CalledProcessError) as e:
        sys.exit(f"forks: cannot read {args.recording}: {e}")
    print(f"{len(rows)} process launches in {args.recording}")
    table("by command", collections.Counter(c for c, _ in rows), args.top)
    table("by caller", collections.Counter(w for _, w in rows), args.top)
    table("by command and caller",
          collections.Counter(f"{c:<10} {w}" for c, w in rows), args.top)


if __name__ == "__main__":
    main()
