#!/usr/bin/env python3
"""Benchmark runner for the graft Spark engine.

    python3 perfbench/run.py --workload candle --seed 1 --seconds 10 --trace 0

Run from the repository root. The runner

1. builds the engine's sources together with the benchmark program
   (perfbench/build.sbt, output under .bench_build/) when they changed;
2. generates the workload's inputs from the seed (gen.py);
3. runs the benchmark program (perfbench.Main) in one JVM at
   local[nproc / 2];
4. on the first run of a seed, replays each engine query's oracle SQL
   in DuckDB and compares rows with the engine's written answers; the
   verified checksums are cached, and every timed op is compared with
   them;
5. prints one detail line (provenance, checks, per-op figures), then,
   as the last line, the result object the benchmark contract asks for.

Untraced runs (--trace 0) report the end-to-end metrics of
BENCHMARK.json; traced runs (--trace 1) report the per-layer metrics and
write the span file under .bench_build/spans/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_ENTRY = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
HEAP = "3g"
# Spark runs local[CORES]: half the machine, so the driver thread, the
# JIT and the collector do not queue behind the task threads
CORES = max(1, (os.cpu_count() or 2) // 2)
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850

sys.path.insert(0, HERE)
import gen  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
LOG4J = """rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, limit, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit:.0f} s", 1)
    return p.returncode, out


def build(fingerprint):
    """Returns the classpath, and whether this call had to build."""
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("fingerprint") == fingerprint:
            return b["classpath"], False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building the engine and the benchmark program (sbt)")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [ln for ln in out.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fingerprint, "classpath": cp, "build_s": time.time() - t0}, f)
    return cp, True


def generator_fingerprint():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def inputs(workload, seed):
    d = os.path.join(BUILD, "data", f"{workload}-{seed}-{generator_fingerprint()}")
    done = os.path.join(d, "inputs.json")
    if not os.path.exists(done):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        props = gen.GENERATORS[workload](seed, tmp)
        with open(os.path.join(tmp, "inputs.json"), "w") as f:
            json.dump(props, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(done) as f:
        return d, json.load(f)


def oracle_compare(data_dir, out_dir):
    """DuckDB replay of each query's oracle SQL against the engine's
    written answer: same column names and types, and equal rows as
    multisets (EXCEPT ALL both ways). Returns {query: error or None}."""
    import duckdb
    con = duckdb.connect()
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    verdicts = {}
    for name, sql in sorted(oracles.items()):
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {sql}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM '{out_dir}/{name}/*.parquet'")
            ot = {r[0]: r[1] for r in con.execute("DESCRIBE o").fetchall()}
            st = {r[0]: r[1] for r in con.execute("DESCRIBE s").fetchall()}
            if ot != st:
                verdicts[name] = f"columns differ: oracle={ot} engine={st}"
                continue
            cols = ", ".join(f'"{c}"' for c in sorted(ot))
            extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM s EXCEPT ALL SELECT {cols} FROM o)").fetchone()[0]
            miss = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM o EXCEPT ALL SELECT {cols} FROM s)").fetchone()[0]
            verdicts[name] = None if extra == 0 and miss == 0 else f"rows differ: extra={extra} missing={miss}"
        except Exception as e:  # an oracle that cannot run is a failed check
            verdicts[name] = f"oracle error: {e}"
    return verdicts


def git_provenance():
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=no"],
                               capture_output=True, text=True, timeout=10)
        return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    if not (os.path.isfile(ENGINE_ENTRY) and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail(f"engine sources not found under {ROOT}; run from the repository root")
    if a.workload not in gen.GENERATORS:
        fail(f"unknown workload {a.workload}; expected one of {sorted(gen.GENERATORS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    os.makedirs(BUILD, exist_ok=True)
    fingerprint = source_fingerprint()
    cp, built = build(fingerprint)
    data_dir, props = inputs(a.workload, a.seed)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log4j = os.path.join(BUILD, "log4j2.properties")
    with open(log4j, "w") as f:
        f.write(LOG4J)
    oracle_dir = os.path.join(BUILD, "oracle")
    os.makedirs(oracle_dir, exist_ok=True)
    cache = os.path.join(oracle_dir, f"{a.workload}-{a.seed}-{fingerprint[:16]}-"
                         f"{generator_fingerprint()}.properties")
    verify = not os.path.exists(cache)

    # class-data sharing: the first run of a build dumps the classes it
    # loaded, later runs map them instead of loading them again
    jsa = os.path.join(BUILD, f"classes-{fingerprint[:16]}.jsa")
    cds = f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else f"-XX:ArchiveClassesAtExit={jsa}"
    # C1 only: a run lasts under a minute, too short for C2's compile
    # cost to pay back, and its timing is steadier without C2
    cmd = ["java", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-XX:TieredStopAtLevel=1",
           f"-XX:ActiveProcessorCount={CORES}"] + [
        x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Dlog4j2.configurationFile={log4j}",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--data", data_dir, "--out", run_dir,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--refs", "" if verify else cache]
    # a run that built (the first in a checkout) has the build's limit;
    # later runs get the per-run limit
    limit = max(30.0, (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - started))
    code, _ = run_bounded(cmd, limit, stdout=sys.stderr, stderr=sys.stderr)
    result_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        fail(f"benchmark program exited with {code}", 1)
    with open(result_file) as f:
        r = json.load(f)

    failed = r["failed"]
    oracle = {}
    if verify:
        oracle = oracle_compare(data_dir, os.path.join(run_dir, "oracle"))
        if all(v is None for v in oracle.values()) and not r["wrong"]:
            with open(cache, "w") as f:
                f.writelines(f"{q}={r['refs'][q]}\n" for q in sorted(oracle))
    for q, err in oracle.items():
        if err is not None:
            log(f"oracle mismatch {q}: {err}")
            st = r["ops"].get(q)
            if st:
                failed += st["attempted"] - st["failed"]
    if a.trace:
        spans_dir = os.path.join(BUILD, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(spans_dir, f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    source = r["layers"] if a.trace else r["e2e"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the benchmark program's result", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    sha, dirty = git_provenance()
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "traced": bool(a.trace),
        "provenance": dict(r["provenance"], git_sha=sha, git_dirty=dirty,
                           source_sha256=fingerprint, nproc=os.cpu_count(), spark_cores=CORES, driver_heap=HEAP,
                           inputs=props),
        "failed_ratio": failed / r["attempted"],
        "oracle": {q: (e or "ok") for q, e in oracle.items()} if verify else "cached",
        "wrong": r["wrong"], "checks": r["checks"], "details": r["details"], "ops": r["ops"],
    }
    if not a.trace:
        detail["e2e_all"] = r["e2e"]
    print(json.dumps(detail))
    correct = failed == 0 and all(c["ok"] for c in r["checks"]) and not r["wrong"]
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
