#!/usr/bin/env python3
"""Bucket a JFR recording's CPU samples by thread and by top Spark frame.

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=rec.jfr,settings=profile \\
        -XX:FlightRecorderOptions=stackdepth=256" java ...
    jfr print --json --stack-depth 200 \\
        --events jdk.ExecutionSample,jdk.JVMInformation rec.jfr > rec.json
    python3 tools/jfr_buckets.py rec.json [FROM_S TO_S]

FROM_S/TO_S keep only the samples taken that many seconds after the JVM
started (perfbench prints its phase offsets on stderr on the same clock,
give or take the JVM's start-up). A sample's top Spark frame is its
innermost `org.apache.spark` frame: Janino compilation lands under
`CodeGenerator$.doCompile`, a footer read under the parquet schema
inference it serves. The recording's own stack depth (64 frames by
default) must be raised as above, or Janino's deep recursion cuts the
Spark frames off its samples. Thread names are folded by replacing digits with
`N`, so every task thread is one bucket.
"""
import collections
import datetime
import json
import re
import sys


def instant(s):
    # "2026-10-17T18:50:01.123456789Z": Python parses microseconds only
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(?:\.(\d+))?(.*)$", s)
    frac = (m.group(2) or "0")[:6].ljust(6, "0")
    zone = m.group(3).replace("Z", "+00:00")
    return datetime.datetime.fromisoformat(f"{m.group(1)}.{frac}{zone}").timestamp()


def top_spark_frame(frames):
    for f in frames:
        # JFR writes class names with slashes, hidden (lambda) classes
        # with dots; lambda frames name no method worth a bucket
        cls = f["method"]["type"]["name"].replace("/", ".")
        if cls.startswith("org.apache.spark.") and "$$Lambda" not in cls:
            return f"{cls}.{f['method']['name']}"
    return "(no Spark frame)"


def main():
    events = json.load(open(sys.argv[1]))["recording"]["events"]
    window = tuple(map(float, sys.argv[2:4])) if len(sys.argv) >= 4 else None
    starts = [instant(e["values"]["jvmStartTime"]) for e in events
              if e["type"] == "jdk.JVMInformation"]
    if window and not starts:
        sys.exit("a window needs the jdk.JVMInformation event in the dump")
    by_thread, by_frame = collections.Counter(), collections.Counter()
    for e in events:
        if e["type"] != "jdk.ExecutionSample":
            continue
        v = e["values"]
        if window:
            t = instant(v["startTime"]) - starts[0]
            if not window[0] <= t < window[1]:
                continue
        thread = (v.get("sampledThread") or {}).get("javaName") or "?"
        by_thread[re.sub(r"\d+", "N", thread)] += 1
        by_frame[top_spark_frame((v.get("stackTrace") or {}).get("frames") or [])] += 1
    total = sum(by_thread.values())
    print(f"{total} samples")
    for title, counts in (("thread", by_thread), ("top Spark frame", by_frame)):
        print(f"\n== by {title}")
        for name, n in counts.most_common(25):
            print(f"{n:7d} {100.0 * n / max(total, 1):5.1f}%  {name}")


if __name__ == "__main__":
    main()
