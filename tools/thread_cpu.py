#!/usr/bin/env python3
"""JVM CPU per thread class per phase of one perfbench run.

    python3 tools/thread_cpu.py [--interval S] -- \\
        python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Runs the command, finds the benchmark JVM among its descendants (the
java process running perfbench.Main; an sbt build the run starts first
is skipped), and polls /proc/<jvm>/task/*/stat every --interval seconds
(default 0.1). Each thread's CPU (user + system) since the previous poll
is charged to its class and to the phase the run is in. Phases are the
`[perfbench] <t> s  <phase>` lines the run prints on stderr (backfill,
warm-up pass, store builds, timed passes, checks, done); CPU before the
first one is charged to "start". The command's output passes through
unchanged; the table follows on stdout when it exits, with the JVM's
exit status.

Thread classes go by the thread name the kernel keeps (its first 15
characters): Spark task threads, the driver (main) thread, streaming
query threads, the JIT compilers, GC and VM threads, the AQE and
scheduler threads (DAG scheduler, query-stage, shuffle and broadcast
pools, RPC dispatch, task results), listener-bus threads, the threads
that reap forked processes, and everything else.

JFR's execution samples miss most of this: they cover Java frames of
threads running Java code, not the compiler or GC threads, and on a
short run they hold a fraction of the JVM's CPU. /proc counts every
thread. The tool only reads /proc; it changes nothing on the machine.
A thread that exits between two polls loses its last interval.
"""
import argparse
import os
import re
import subprocess
import sys
import threading
import time

CLASSES = [
    ("tasks", ("Executor task l",)),
    # the Java main thread keeps the launcher's process name
    ("driver", ("java", "main")),
    ("stream", ("stream executio",)),
    ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc/vm", ("GC Thread", "G1 ", "VM Thread", "VM Periodic")),
    ("aqe/scheduler", ("dag-scheduler", "ResultQueryStag", "shuffle-exchang", "broadcast-excha",
                       "subquery", "task-result-get", "map-output-disp", "dispatcher-", "rpc-",
                       "netty-rpc", "files-client", "heartbeat", "driver-heartbea",
                       "executor-heartb", "Spark Context C", "context-cleaner")),
    ("listeners", ("spark-listener",)),
    # threads that wait on forked processes (Hadoop's local file
    # system forks chmod/readlink when it runs without native libraries)
    ("forks", ("process reaper",)),
]
MARK = re.compile(r"^\[perfbench\]\s+[\d.]+ s  (.+)$")
TICK = os.sysconf("SC_CLK_TCK")


def klass(name):
    for k, prefixes in CLASSES:
        if name.startswith(prefixes):
            return k
    return "other"


def read(path):
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def parent(pid):
    stat = read(f"/proc/{pid}/stat")
    if stat is None:
        return None
    return int(stat[stat.rindex(b")") + 2:].split()[1])


def find_jvm(root):
    """The perfbench JVM among root's descendants, or None."""
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        cmd = read(f"/proc/{d}/cmdline")
        if not cmd or b"perfbench.Main" not in cmd or not cmd.split(b"\0")[0].endswith(b"java"):
            continue
        p = int(d)
        while p and p != root:
            p = parent(p)
        if p == root:
            return int(d)
    return None


def threads(jvm):
    """{tid: (name, cpu ticks)} of the JVM's live threads."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        return out
    for t in tids:
        stat = read(f"/proc/{jvm}/task/{t}/stat")
        if stat is None:
            continue
        name = stat[stat.index(b"(") + 1:stat.rindex(b")")].decode(errors="replace")
        f = stat[stat.rindex(b")") + 2:].split()
        out[t] = (name, int(f[11]) + int(f[12]))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--interval", type=float, default=0.1)
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    cmd = a.cmd[1:] if a.cmd[:1] == ["--"] else a.cmd
    if not cmd:
        ap.error("no command to run")

    phase = ["start"]
    order = ["start"]
    child = subprocess.Popen(cmd, stderr=subprocess.PIPE, text=True)

    def tee():
        for line in child.stderr:
            sys.stderr.write(line)
            m = MARK.match(line.rstrip("\n"))
            if m:
                phase[0] = m.group(1)
                if phase[0] not in order:
                    order.append(phase[0])
    reader = threading.Thread(target=tee, daemon=True)
    reader.start()

    cpu = {}    # (class, phase) -> ticks
    last = {}   # tid -> ticks at the previous poll
    jvm = None
    while child.poll() is None:
        if jvm is None:
            jvm = find_jvm(child.pid)
        if jvm is not None:
            p = phase[0]
            for tid, (name, ticks) in threads(jvm).items():
                key = (klass(name), p)
                cpu[key] = cpu.get(key, 0) + ticks - last.get(tid, 0)
                last[tid] = ticks
        time.sleep(a.interval)
    reader.join()

    if jvm is None:
        print("thread_cpu: no perfbench JVM was seen", file=sys.stderr)
        return child.returncode or 1
    classes = [k for k, _ in CLASSES] + ["other"]
    phases = [p for p in order if any(cpu.get((k, p)) for k in classes)]
    total = sum(cpu.values()) or 1
    w = max(len(p) for p in phases + ["total"]) + 2
    print(f"JVM CPU seconds by thread class and phase (interval {a.interval} s)")
    print("class".ljust(14) + "".join(p.rjust(w) for p in phases) + "total".rjust(w) + "share".rjust(8))
    for k in classes:
        row = [cpu.get((k, p), 0) / TICK for p in phases]
        if sum(row) == 0:
            continue
        print(k.ljust(14) + "".join(f"{x:{w}.2f}" for x in row) + f"{sum(row):{w}.2f}"
              + f"{100 * sum(row) * TICK / total:7.1f}%")
    cols = [sum(cpu.get((k, p), 0) for k in classes) / TICK for p in phases]
    print("all".ljust(14) + "".join(f"{x:{w}.2f}" for x in cols) + f"{sum(cols):{w}.2f}")
    return child.returncode


if __name__ == "__main__":
    sys.exit(main())
