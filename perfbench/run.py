#!/usr/bin/env python3
"""Benchmark of the daily fraud cycle and of a catalog mix.

    python3 perfbench/run.py --workload batch_small --seed 1 --seconds 40 --trace 0

Run from the repository root. Builds the program and the harness into
$CARGO_TARGET_DIR (default .bench_build) when their sources changed, makes
the workload's inputs, runs the measured JVM, checks its output against an
independent oracle, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# The catalog mix, in run order: construction-dominated queries (eager jobs
# inside the query function) alternate with execution-dominated ones.
CATALOG_MIX = ["q245_kcore", "q88_containment", "q56_dedup_clusters",
               "q336_heaps_law"]
# Bank volume is a multiple of the fixture's (~15.7k transactions a day over
# 195 cards); `days` consecutive days from 2021-03-01 are delivered per run.
WORKLOADS = {
    "batch_small": {"mode": "batch", "scale": 1, "days": 3},
    "stream_small": {"mode": "stream", "scale": 1, "days": 3},
    "catalog_mix": {"mode": "catalog", "queries": CATALOG_MIX,
                    "tables": ["lineitem", "documents"]},
}
LAYERS = ["ingest", "staging", "facts", "scd2", "rules", "audit",
          "compaction", "open", "stream", "other"]
LAYER_FIELDS = [("jobs", "count"), ("busy_s", "s"), ("cpu_s", "s"),
                ("shuffle_bytes", "B"), ("read_bytes", "B"),
                ("write_bytes", "B")]
RUN_METRICS = [("driver.idle_s", "s"), ("warehouse.files", "count"),
               ("warehouse.write_amp", "ratio"), ("rules.read_amp", "ratio"),
               ("trace.overhead_s", "s")]
CATALOG_METRICS = [("construct.s", "s"), ("construct.jobs", "count"),
                   ("plan.s", "s"), ("exec.s", "s"), ("exec.jobs", "count"),
                   ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
                   ("exec.shuffle_bytes", "B"), ("exec.read_bytes", "B")]
# the catalog's tables (tools/check_oracle.py's list; the oracle reads all)
CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]
# what Spark's launcher adds for JDK 17 (JavaModuleOptions), as build.sbt
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def per_layer_names():
    """Every per-layer metric, in BENCHMARK.json's order."""
    return ([(f"{layer}.{field}", unit) for layer in LAYERS
             for field, unit in LAYER_FIELDS] + RUN_METRICS + CATALOG_METRICS
            # the heap's run-to-run spread is too wide for an end-to-end bound
            + [("heap_peak_mb", "MB")])


# --------------------------------------------------------------- machine

def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap():
    """min(8g, MemTotal/2), at least 2g: the test suite's heap rule."""
    g = mem_total_kb() // 2097152
    return f"{min(8, max(2, g))}g"


def cpu_jiffies():
    """(busy, steal) jiffies of the whole machine so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]] + [0] * 8
    return sum(v[:8]) - v[3] - v[4] - v[7], v[7]


def own_cpu_s():
    c = resource.getrusage(resource.RUSAGE_CHILDREN)
    s = resource.getrusage(resource.RUSAGE_SELF)
    return c.ru_utime + c.ru_stime + s.ru_utime + s.ru_stime


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ----------------------------------------------------------------- build

def spark_jars(root):
    """The Spark jars the build uses (build.sbt's unmanagedBase)."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            for line in f:
                if line.strip().startswith("unmanagedBase"):
                    return line.split('file("', 1)[1].split('")', 1)[0]
    except (OSError, IndexError):
        pass
    fail("build.sbt names no unmanagedBase directory of Spark jars")


def sources(root):
    main = os.path.join(root, "src", "main")
    bench = os.path.join(HERE, "src")
    if not os.path.isdir(os.path.join(main, "scala")):
        fail(f"no program sources under {main}; run from a checkout root")
    out = {"main": [], "resources": [], "bench": []}
    for base, key in ((os.path.join(main, "scala"), "main"),
                      (os.path.join(main, "resources"), "resources"),
                      (bench, "bench")):
        for d, _, fs in os.walk(base):
            out[key] += [os.path.join(d, f) for f in fs
                         if key == "resources" or f.endswith(".scala")]
        out[key].sort()
    return out


def package(classes, jar):
    """A jar of a class directory: class-data sharing maps classes from
    jar files only."""
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(jar + ".tmp", jar)


def build(root, build_dir):
    """Compile the program (src/main) and the harness with the Scala
    compiler that ships with the Spark jars, package both as jars and
    record a class-data-sharing archive for them; skipped when
    unchanged. Returns (classpath, archive)."""
    jars = spark_jars(root)
    src = sources(root)
    h = hashlib.sha256(jars.encode())
    for key in ("main", "resources", "bench"):
        for p in src[key]:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    bench = os.path.join(build_dir, "bench-classes")
    cp = ":".join([os.path.join(build_dir, "perfbench.jar"),
                   os.path.join(build_dir, "program.jar"), f"{jars}/*"])
    archive = os.path.join(build_dir, "classes.jsa")
    stamp_file = os.path.join(build_dir, "build.stamp")
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and all(os.path.exists(j) for j in cp.split(":")[:2])):
        return cp, archive
    for d in (classes, bench):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
              "-cp", f"{jars}/*",
              "scala.tools.nsc.Main", "-usejavacp", "-nowarn"]
    t0 = time.time()
    for cmd in (scalac + ["-d", classes] + src["main"],
                scalac + ["-cp", classes, "-d", bench] + src["bench"]):
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            fail("build failed:\n" + r.stdout[-4000:])
    res = os.path.join(root, "src", "main", "resources")
    for p in src["resources"]:
        dst = os.path.join(classes, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    package(classes, os.path.join(build_dir, "program.jar"))
    package(bench, os.path.join(build_dir, "perfbench.jar"))
    record_archive(build_dir, cp, archive)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp, archive


def record_archive(build_dir, cp, archive):
    """Run one streaming day on a small generated drop set and keep the
    classes it loaded as a class-data-sharing archive, which every measured
    JVM then maps instead of loading Spark's classes one by one: this takes
    a few seconds off each run's start. A JVM that cannot use the archive
    runs without it."""
    if os.path.exists(archive):
        os.remove(archive)
    data = os.path.join(build_dir, "inputs", "archive-training")
    shutil.rmtree(data, ignore_errors=True)
    gen.generate(data, 1, 1, 0)
    work = os.path.join(build_dir, "work", "archive-training")
    run_jvm((cp, None), "perfbench.PerfBench", ["stream", data, work, "1", "0"],
            work, time.time() + RUN_LIMIT_S,
            [f"-XX:ArchiveClassesAtExit={archive}"])
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(data, ignore_errors=True)
    if not os.path.exists(archive):
        print("perfbench: no class-data-sharing archive; runs load classes "
              "from the jars", file=sys.stderr)


# ---------------------------------------------------------------- inputs

def bank_inputs(root, build_dir, wl, seed):
    """Drops and replica expectations, made once per (generator and
    replica sources, volume, days, seed)."""
    tools = os.path.join(root, "tools")
    h = hashlib.sha256()
    for p in (os.path.join(HERE, "gen.py"), os.path.join(HERE, "oracle.py"),
              os.path.join(tools, "golden_reference.py")):
        with open(p, "rb") as f:
            h.update(f.read())
    key = f"x{wl['scale']}-d{wl['days']}-s{seed}-{h.hexdigest()[:12]}"
    data = os.path.join(build_dir, "inputs", key)
    exp_file = os.path.join(data, "expected.json")
    if not os.path.exists(exp_file):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(data, wl["scale"], wl["days"], seed)
        names = [gen.day_name(d) for d in gen.days_of(wl["days"])]
        exp = oracle.expected(tools, data, names)
        exp["names"] = names
        exp["isos"] = [str(d) for d in gen.days_of(wl["days"])]
        exp["drop_bytes"] = sum(os.path.getsize(os.path.join(data, "drops", f))
                                for f in os.listdir(os.path.join(data, "drops")))
        with open(exp_file + ".tmp", "w") as f:
            json.dump(exp, f)
        os.replace(exp_file + ".tmp", exp_file)
    with open(exp_file) as f:
        return data, json.load(f)


def catalog_dir(root):
    """The scale-factor directory the catalog reads: SPARK_GRAFT_SF_DIR, else
    the one the program's own graft.Bench defaults to."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf:
        try:
            with open(os.path.join(root, "src", "main", "scala", "graft",
                                   "Bench.scala")) as f:
                m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
            sf = m.group(1) if m else None
        except OSError:
            sf = None
    missing = [t for t in CATALOG_TABLES
               if not sf or not os.path.exists(os.path.join(sf, f"{t}.parquet"))]
    if missing:
        fail(f"catalog tables {missing} not found under {sf}; "
             "set SPARK_GRAFT_SF_DIR")
    return sf


# ------------------------------------------------------------------- run

def run_jvm(built, main_class, args, work, deadline, jvm_args=()):
    """One fresh JVM running `main_class args... <work>/result.json`;
    returns the result it wrote, or None."""
    cp, archive = built
    if archive and os.path.exists(archive):
        jvm_args = [f"-XX:SharedArchiveFile={archive}", *jvm_args]
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [a for p in ADD_OPENS
                       for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # no hsperfdata file: the JVM would write it under /tmp
           + ["-XX:-UsePerfData", f"-Xmx{heap()}",
              f"-XX:ActiveProcessorCount={nproc()}",
              f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", *jvm_args,
              "-cp", cp, main_class]
           + args + [out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print("perfbench: measured JVM ran out of time", file=sys.stderr)
            return None
        finally:
            for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
                signal.signal(sig, signal.SIG_DFL)
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            print("perfbench: measured JVM failed:\n" + f.read()[-3000:],
                  file=sys.stderr)
        return None
    with open(out) as f:
        res = json.load(f)
    if res.get("error"):
        print(f"perfbench: run failed: {res['error']}", file=sys.stderr)
    return res


def live_parquet_files(wh):
    return sum(len(oracle.live_files(wh, t)) for t in os.listdir(wh)
               if os.path.isdir(os.path.join(wh, t)))


def run_bank(root, build_dir, built, name, wl, seed, work, trace, deadline):
    """(attempted, failed, ops, res, traced metrics, record extras)."""
    data, exp = bank_inputs(root, build_dir, wl, seed)
    res = run_jvm(built, "perfbench.PerfBench",
                  [wl["mode"], data, work, str(wl["days"]), str(trace)],
                  work, deadline)
    n = wl["days"]
    days = res["day_s"] if res else []
    if not days:
        return n, n, [], res, {}, {}
    bad = oracle.failed_days(exp, wl["mode"], os.path.join(work, "wh"),
                             exp["isos"][:len(days)])
    txns = sum(exp["txns"][:len(days)])
    extra = {"op_cpu_s": res["day_cpu_s"], "transactions": txns,
             "txn_per_s": txns / sum(days), "day_gc_s": res["day_gc_s"]}
    layered = {}
    if trace and len(days) == n:
        layers = res["layers"]
        for layer in LAYERS:
            for field, _ in LAYER_FIELDS:
                layered[f"{layer}.{field}"] = layers[layer][field]
        layered["driver.idle_s"] = res["driver_idle_s"]
        layered["warehouse.files"] = live_parquet_files(os.path.join(work, "wh"))
        layered["warehouse.write_amp"] = (res["write_bytes_total"]
                                          / exp["drop_bytes"])
        layered["rules.read_amp"] = layers["rules"]["read_records"] / txns
        layered["trace.overhead_s"] = res["trace_overhead_s"]
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copyfile(os.path.join(work, "spans.tsv"), os.path.join(
            traces, f"{name}-{seed}.tsv"))
    return n, len(bad) + (n - len(days)), days, res, layered, extra


def run_catalog(root, build_dir, built, wl, work, trace, deadline):
    """(attempted, failed, ops, res, traced metrics, record extras)."""
    sf = catalog_dir(root)
    mix = wl["queries"]
    res = run_jvm(built, "perfbench.Catalog",
                  [sf, work, ",".join(wl["tables"]), ",".join(mix), str(trace)],
                  work, deadline)
    n = len(mix)
    if res is None:
        return n, n, [], res, {}, {}
    ran = {q["name"]: q for q in res["queries"]}
    wrong = oracle.catalog_failures(os.path.join(root, "tools"), sf,
                                    os.path.join(work, "out"),
                                    os.path.join(build_dir, "catalog-oracle"))
    bad = [q for q in mix if q not in ran or q in wrong]
    ops = [ran[q]["construct_s"] + ran[q]["plan_s"] + ran[q]["exec_s"]
           for q in mix if q in ran]
    if len(ops) != n:
        ops = []
    extra = {"op_cpu_s": [ran[q]["cpu_s"] for q in mix if q in ran],
             "queries": res["queries"], "catalog_s": sum(ops)}
    if ops:
        extra["query_p50_s"] = statistics.median(ops)
        extra["query_max_s"] = max(ops)
    layered = {}
    if trace and ops:
        ph = res["phases"]
        layered = {
            "construct.s": sum(q["construct_s"] for q in res["queries"]),
            "construct.jobs": ph["construct"]["jobs"],
            "plan.s": sum(q["plan_s"] for q in res["queries"]),
            "exec.s": sum(q["exec_s"] for q in res["queries"]),
            "exec.jobs": ph["exec"]["jobs"],
            "exec.cpu_s": ph["exec"]["cpu_ns"] / 1e9,
            "exec.gc_s": res["exec_gc_s"],
            "exec.shuffle_bytes": ph["exec"]["shuffle_bytes"],
            "exec.read_bytes": ph["exec"]["read_bytes"],
            "trace.overhead_s": res["trace_overhead_s"]}
    return n, len(bad), ops, res, layered, extra


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    wl = WORKLOADS[args.workload]
    built = build(root, build_dir)
    deadline = time.time() + RUN_LIMIT_S  # a checkout's first run also builds
    work = os.path.join(build_dir, "work", f"{args.workload}-{os.getpid()}")

    load0, (jif0, steal0) = loadavg(), cpu_jiffies()
    cpu0, wall0 = own_cpu_s(), time.time()
    if wl["mode"] == "catalog":
        attempted, failed, ops, res, layered, extra = run_catalog(
            root, build_dir, built, wl, work, args.trace, deadline)
    else:
        attempted, failed, ops, res, layered, extra = run_bank(
            root, build_dir, built, args.workload, wl, args.seed, work,
            args.trace, deadline)
    wall = time.time() - wall0
    jif1, steal1 = cpu_jiffies()
    hz = os.sysconf("SC_CLK_TCK")
    external = max(0.0, ((jif1 - jif0) / hz - (own_cpu_s() - cpu0))
                   / (wall * nproc()))
    steal = (steal1 - steal0) / hz / (wall * nproc())
    shutil.rmtree(work, ignore_errors=True)

    # An operation is a day (bank) or a query (catalog); the first one runs
    # on a fresh session and pays the cold start. Beyond that first one the
    # operations are compared by their CPU seconds: hypervisor steal on a
    # shared machine stretches their wall time by a third and more, their
    # CPU time barely.
    metrics = {}
    done = ops
    if len(ops) < attempted:  # a day or query died: no figures
        ops = []
    if ops:
        extra["op_p50_s"] = statistics.median(ops[1:])
        extra["op_max_s"] = max(ops[1:])
        extra["total_s"] = sum(ops)
    if ops and not args.trace:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "first_op_s": (ops[0], "s"),
            "op_cpu_p50_s": (statistics.median(extra["op_cpu_s"][1:]), "s"),
            "total_cpu_s": (sum(extra["op_cpu_s"]), "s"),
        }
    elif ops and layered:
        layered["heap_peak_mb"] = res["heap_peak_mb"]
        metrics = {name: (layered.get(name, 0), unit)
                   for name, unit in per_layer_names()}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, **wl, "op_s": done, "setup_s": res["setup_s"] if res else None,
        "heap_peak_mb": res["heap_peak_mb"] if res else None, **extra,
        "nproc": nproc(), "mem_total_kb": mem_total_kb(), "heap": heap(),
        "loadavg_before": load0, "loadavg_after": loadavg(),
        "external_cpu_busy": round(external, 4), "steal": round(steal, 4),
        "run_wall_s": round(time.time() - t_start, 3),
        "attempted": attempted, "failed": failed}
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print("record: " + json.dumps(record))
    print(json.dumps({
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
