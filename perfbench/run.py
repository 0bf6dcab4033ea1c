#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

    python3 perfbench/run.py --workload query|ingest|dedup \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke      # all workloads, tiny sizes

Builds the engine and the harness from source with the sbt build in this
directory (once per source state), runs one workload in a single JVM with
`local[nproc]`, and prints as its last line one JSON object: `correct`,
`attempted`, `failed` and `metrics`. Untraced runs report the end-to-end
metrics of BENCHMARK.json, traced runs the per-layer ones; the line before
it carries the workload's own figures and the run record. Spans and run
records are kept under perfbench/.out/.
"""
import argparse
import fnmatch
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
OUT_DIR = os.path.join(HERE, ".out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
WORKLOADS = ("query", "ingest", "dedup")

# The per-layer metrics each workload exercises (the layer table of the
# benchmark's definition, as the workloads measure it). A traced run must
# report every one of them; the metrics of the other layers are reported
# as 0, on purpose.
EVERY = ["jvm.*", "trace.overhead_pct", "fail_ratio"]
HOME = {
    "query": EVERY + ["serve.*", "batch.*", "Server.*", "query.*", "SparkSearcher.search.*",
                      "SparkSearcher.bm25.*", "SparkSearcher.suggest_us", "SparkSearcher.open_ms",
                      "SparkSearcher.bm25_batch.*", "SparkSearcher.search_batch.*",
                      "ContribCache.resident_mb", "BlockCache.resident_mb", "IndexBuilder.*"],
    "ingest": EVERY + ["ingest.*", "SparkSearcher.search.*", "SparkSearcher.open_ms",
                       "ContribCache.*", "BlockCache.*", "IndexBuilder.*", "text.*", "core.*",
                       "StreamingIndexer.*", "Compactor.*", "IndexStore.*"],
    "dedup": EVERY + ["dedup.*", "ops.*"],
}
# Home metrics that may be 0 in a correct run: no failures, no spill in a
# small build, no storage growth when nothing leaks.
MAY_BE_ZERO = {"fail_ratio", "IndexBuilder.spill_mb", "ops.storage_growth_mb"}


def home(workload, name):
    return any(fnmatch.fnmatchcase(name, p) for p in HOME[workload])

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the engine's own build passes to its forked JVMs).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_files():
    """Every file the build reads: the engine's sources and build, and the
    harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `timeout`, and wait for it either way."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    """Compile engine + harness with sbt when the sources changed; return
    the runtime classpath."""
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"engine sources not found ({os.path.relpath(need, ROOT)})")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    # offline resolution, as the engine's tier-1 test command sets it up
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g "
                           f"-Dsbt.repository.config={repos}")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, env=env)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cps = [l.strip() for l in out.splitlines() if "classes" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def heap_gb():
    """Half the machine's memory in whole GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def run_workload(cp, workload, seed, seconds, trace, smoke=False):
    """Run one workload JVM; return its parsed PERFBENCH record, or None."""
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT_DIR, exist_ok=True)
    heap = heap_gb()
    # the initial heap is touched up front: growing into untouched pages
    # mid-run costs page-zeroing time that lands in the measurements
    cmd = ["java", f"-Xmx{heap}g", "-Xms2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--smoke", "1" if smoke else "0", "--work", work, "--out", OUT_DIR]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE, text=True, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    recs = [l[len("PERFBENCH "):] for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if code != 0 or not recs:
        print(f"perfbench: {workload} exited {code} without a result", file=sys.stderr)
        return None
    return json.loads(recs[-1])


def measured(rec, workload, names, group):
    """The BENCHMARK.json metrics of `group` from the run's record, and the
    names the workload exercises but did not report. Per-layer metrics of
    layers the workload does not exercise are 0."""
    got = rec[group]
    out, missing = {}, []
    for n, unit in names:
        m = got.get(n)
        if m is not None and m["unit"] != unit:
            fail(f"{n}: run reports unit {m['unit']}, BENCHMARK.json says {unit}")
        if m is not None and isinstance(m["value"], (int, float)):
            out[n] = m["value"]
        elif group == "per_layer" and not home(workload, n):
            out[n] = 0.0
        else:
            missing.append(n)
    return out, missing


def result(rec, workload, names, group):
    """The contract line; a metric the workload should have reported and
    did not fails the run."""
    values, missing = measured(rec, workload, names, group)
    if missing:
        fail(f"metrics missing from the run: {', '.join(missing)}")
    units = dict(names)
    return {
        "correct": bool(rec["correct"]),
        "attempted": int(rec["attempted"]),
        "failed": int(rec["failed"]),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }


def smoke(cp, s):
    """Every workload at tiny size, untraced and traced; fail if a run fails,
    a metric named in BENCHMARK.json is missing from its output, or a
    per-layer metric of a layer the workload exercises is 0."""
    bad = []
    for w in WORKLOADS:
        for trace in (False, True):
            group = "per_layer" if trace else "end_to_end"
            t0 = time.time()
            rec = run_workload(cp, w, 1, 2, trace, smoke=True)
            if rec is None:
                bad.append(f"{w} trace={int(trace)}: no result")
                continue
            names = [(m["name"], m["unit"]) for m in s[group]]
            values, missing = measured(rec, w, names, group)
            if missing:
                bad.append(f"{w} trace={int(trace)}: missing {', '.join(missing)}")
            zero = [n for n, v in values.items()
                    if trace and v == 0 and home(w, n) and n not in MAY_BE_ZERO]
            if zero:
                bad.append(f"{w} trace={int(trace)}: 0 on its own workload: {', '.join(zero)}")
            if not rec["correct"]:
                bad.append(f"{w} trace={int(trace)}: {rec['failed']} failed: {rec['info'].get('failures')}")
            print(f"smoke {w} trace={int(trace)}: {time.time() - t0:.1f} s, "
                  f"{rec['attempted']} attempted, {rec['failed']} failed", file=sys.stderr)
    for b in bad:
        print(f"perfbench smoke: {b}", file=sys.stderr)
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found")
    s = spec()
    cp = build()
    if a.smoke:
        sys.exit(smoke(cp, s))
    if a.workload is None:
        fail("--workload is required")
    seconds = a.seconds if a.seconds is not None else s["run_seconds"]
    rec = run_workload(cp, a.workload, a.seed, seconds, a.trace == 1)
    if rec is None:
        sys.exit(1)
    group = "per_layer" if a.trace else "end_to_end"
    names = [(m["name"], m["unit"]) for m in s[group]]
    line = result(rec, a.workload, names, group)
    detail = {"workload": a.workload, "seed": a.seed,
              "workload_metrics": {} if a.trace else rec["per_layer"],
              "run": rec["info"]}
    print(json.dumps(detail))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
