#!/usr/bin/env python3
"""perfbench: the engine's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The command compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships with Spark, checks the pinned inputs, then starts one JVM that
warms up, measures for the given seconds and checks the outputs. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Everything it writes goes under
.bench_build/perfbench in the checkout; the full record of a run, with
the machine's load around it, is in .bench_build/perfbench/results.

Maintenance: --refresh-pins rewrites perfbench/inputs.json and
--refresh-expected rewrites perfbench/expected.json (and cross-checks the
batch results against DuckDB with perfbench/oracle.py).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
BASE = os.path.join(HERE, "data", "sf0.01")
PINS = os.path.join(HERE, "inputs.json")
EXPECTED = os.path.join(HERE, "expected.json")
DEADLINE_S = 170  # the whole command, the build aside
# A run counts as taken on a loaded machine when other processes used more
# than this share of the cores, or the hypervisor stole more than this over
# the run or over its timed window.
FOREIGN_LOAD_LIMIT = 0.10


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def spark_jars():
    """The Spark distribution the repo's own build compiles against."""
    candidates = []
    build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    fail("no Spark jars found (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def nproc():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Heap size by the repo's tier-1 formula: half the RAM, 2g to 8g."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def jvm_opts(trace):
    """The options build.sbt gives `run`, with every scratch path moved
    into the working directory."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(WORK, "tmp")
    opts = [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    opts += [
        f"-Xmx{driver_mem()}",
        f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
        "-Dspark.shuffle.sort.bypassMergeThreshold=1",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"-Dhive.exec.scratchdir={os.path.join(tmp, 'hive')}",
        f"-Dhive.exec.local.scratchdir={os.path.join(tmp, 'hive-local')}",
        f"-Dhive.downloaded.resources.dir={os.path.join(tmp, 'hive-resources')}",
        f"-Dhive.querylog.location={os.path.join(tmp, 'hive-log')}",
    ]
    if trace:
        opts.append("-Dspark.sql.queryExecutionListeners=perfbench.Trace$PlanListener")
    return opts


def child_env():
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    return env


def java(main, args, classes, jars, trace=False, timeout=600, log="java.log"):
    for d in ("hive", "hive-local", "hive-resources", "hive-log"):
        os.makedirs(os.path.join(WORK, "tmp", d), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    cmd = ["java"] + jvm_opts(trace) + ["-cp", f"{jars}/*:{classes}", main] + args
    with open(os.path.join(WORK, "logs", log), "w") as out:
        p = subprocess.Popen(cmd, cwd=os.path.join(WORK, "tmp"), stdout=out, stderr=subprocess.STDOUT,
                             env=child_env())
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{main} did not finish within {timeout:.0f} s (log: {out.name})")
    if rc != 0:
        fail(f"{main} exited with {rc} (log: .bench_build/perfbench/logs/{log})")
    return cmd


def build(jars):
    """Compile engine and benchmark; skipped when sources and jars are
    unchanged since the last build."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        fail("engine sources not found under src/main/scala; run from the root of a checkout")
    srcs = engine + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    jar_files = sorted(glob.glob(os.path.join(jars, "*.jar")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    for j in jar_files:
        h.update(os.path.basename(j).encode())
    classes = os.path.join(WORK, "classes")
    stamp = os.path.join(WORK, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", ":".join(jar_files), f"@{argfile}"]
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    with open(os.path.join(WORK, "logs", "build.log"), "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=900).returncode
    if rc != 0:
        fail("compilation failed (log: .bench_build/perfbench/logs/build.log)")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def check_inputs(refresh=False):
    """The committed corpus must match its pinned SHA-256 sums byte for
    byte, so a changed input stops the run instead of measuring different
    data."""
    got = {os.path.basename(p): sha256(p) for p in sorted(glob.glob(os.path.join(BASE, "*.parquet")))}
    if refresh:
        with open(PINS, "w") as f:
            json.dump({"corpus": os.path.relpath(BASE, ROOT), "sha256": got}, f, indent=2, sort_keys=True)
            f.write("\n")
    elif got != json.load(open(PINS))["sha256"]:
        fail(f"the corpus {os.path.relpath(BASE, ROOT)} differs from perfbench/inputs.json", 3)


def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    busy = v[0] + v[1] + v[2] + v[5] + v[6]
    return busy, v[7], sum(v[:8])


def box():
    with open("/proc/loadavg") as f:
        la = f.read().split()
    busy, steal, total = cpu_jiffies()
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return {"time": time.time(), "loadavg": [float(x) for x in la[:3]], "busy_jiffies": busy,
            "steal_jiffies": steal, "total_jiffies": total, "children_cpu_s": ru.ru_utime + ru.ru_stime}


def load_record(before, after, window_steal):
    hz = os.sysconf("SC_CLK_TCK")
    wall = after["time"] - before["time"]
    cores = nproc()
    busy = (after["busy_jiffies"] - before["busy_jiffies"]) / hz
    steal = (after["steal_jiffies"] - before["steal_jiffies"]) / hz
    ours = after["children_cpu_s"] - before["children_cpu_s"]
    foreign = max(0.0, busy - ours) / (wall * cores)
    steal_share = steal / (wall * cores)
    return {"nproc": cores, "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
            "wall_s": wall, "busy_cpu_s": busy, "own_cpu_s": ours, "steal_s": steal,
            "foreign_cpu_share": foreign, "steal_share": steal_share, "window_steal_share": window_steal,
            "loaded": max(foreign, steal_share, window_steal) > FOREIGN_LOAD_LIMIT}


def filesystem_of(path):
    best = ("", "?")
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best[0]):
                best = (mnt, fstype)
    return {"mount": best[0], "type": best[1]}


def run_once(workload, seed, seconds, trace, jars, classes, started):
    results = os.path.join(WORK, "results")
    run_dir = os.path.join(WORK, "run")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    os.makedirs(run_dir)
    name = f"{workload}-seed{seed}-trace{trace}"
    raw = os.path.join(run_dir, "result.json")
    before = box()
    cmd = java("perfbench.Main", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--base", BASE, "--work", run_dir, "--expected", EXPECTED,
        "--out", raw, "--spans", os.path.join(results, name + ".spans.jsonl"),
        "--launched-ms", str(int(time.time() * 1000))],
        classes, jars, trace=trace == 1, timeout=max(10.0, DEADLINE_S - (time.time() - started)),
        log=name + ".log")
    after = box()
    r = json.load(open(raw))
    r["box"] = load_record(before, after, r["window_steal_share"])
    r["command"] = cmd
    r["output_filesystem"] = filesystem_of(run_dir)
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(r, f, indent=2, sort_keys=True)
    return r


def main():
    ap = argparse.ArgumentParser(description="graft end-to-end and per-layer benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--refresh-pins", action="store_true")
    ap.add_argument("--refresh-expected", action="store_true")
    a = ap.parse_args()
    started = time.time()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    bench = json.load(open(bench_file))
    workloads = [w["name"] for w in bench["workloads"]]
    if not (a.refresh_pins or a.refresh_expected) and a.workload not in workloads:
        fail(f"--workload must be one of {workloads}")

    jars = spark_jars()
    classes = build(jars)
    check_inputs(refresh=a.refresh_pins)
    if a.refresh_pins:
        return
    if a.refresh_expected:
        dump = os.path.join(WORK, "expected-dump")
        shutil.rmtree(dump, ignore_errors=True)
        java("perfbench.Main", ["--mode", "expected", "--base", BASE,
                                "--work", os.path.join(WORK, "run"), "--dump", dump, "--out", EXPECTED],
             classes, jars, log="expected.log")
        subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"), BASE, dump], check=True)
        return
    started = time.time()  # the build happens once per checkout

    if a.trace == 1 and not glob.glob(os.path.join(WORK, "results", f"{a.workload}-seed*-trace0.json")):
        # the tracing overhead is read against an untraced run of this checkout
        run_once(a.workload, a.seed, a.seconds, 0, jars, classes, started)
        started = time.time()
    r = run_once(a.workload, a.seed, a.seconds, a.trace, jars, classes, started)

    # an op that throws and a check that fails both count against the run
    attempted = r["attempted"] + r["checks_run"]
    failed = r["failed"] + len(r["check_failures"])
    for f in r["errors"] + r["check_failures"]:
        print(f"perfbench: {f}", file=sys.stderr)
    if a.trace == 0:
        metrics = {m["name"]: {"value": r["end_to_end"][m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    else:
        layers = dict(r["per_layer"])
        untraced = max(glob.glob(os.path.join(WORK, "results", f"{a.workload}-seed*-trace0.json")),
                       key=os.path.getmtime)
        layers["trace_overhead"] = r["end_to_end"]["pass_s"] / json.load(open(untraced))["end_to_end"]["pass_s"] - 1
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
    if r["box"]["loaded"]:
        print(f"perfbench: other load was present during this run: {r['box']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and r["checks_run"] > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
