#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload <headline_df|sql_interactive|cow_dml>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. The first run compiles graft and the bench
runner with the Scala compiler that ships with Spark and generates the
fixtures; everything it builds or leaves behind lives under .bench_build/.
The last stdout line is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the run writes its span file. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import gen_data  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# data scale per workload: headline_df is bound by the per-job floor and JIT
# state at any scale up to sf0.1, so it runs at sf0.01 to fit whole passes
SCALE = {"headline_df": 0.01, "sql_interactive": 0.1, "cow_dml": 0.1}
# seconds after the first (cold) warm-up pass or window in which a new
# warm-up unit may start
WARMUP_CAP_S = 9.0
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


# ----------------------------------------------------------------- build

def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main, bench


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m:
        die("set SPARK_HOME: no Spark jar directory found")
    return m.group(1)


def jars():
    d = spark_jars_dir()
    js = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not js:
        die("no Spark jars under %s" % d)
    return js


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(srcs, out, classpath):
    comp = [os.path.join(spark_jars_dir(), j) for j in
            ("scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar")]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    res = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(comp), "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", ":".join(classpath), "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        die("compilation failed")


def build():
    """Compile graft's main sources, then the bench runner against them; each
    step reruns only when its sources change. Returns the class path."""
    main, bench = sources()
    if not main:
        die("no graft sources under %s/src/main/scala: run from the repository root" % ROOT)
    os.makedirs(BUILD, exist_ok=True)
    steps = [("classes-main", main, jars()), ("classes-bench", bench, None)]
    out = []
    stamp = ""
    for name, srcs, cp in steps:
        classes = os.path.join(BUILD, name)
        stamp = stamp_of(srcs) + stamp
        stamp_file = classes + ".stamp"
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
            log("compiling %s (%d sources)" % (name, len(srcs)))
            t0 = time.time()
            scalac(srcs, classes, (cp or []) + out + jars())
            if name == "classes-main":
                res_dir = os.path.join(ROOT, "src", "main", "resources")
                if os.path.isdir(res_dir):
                    shutil.copytree(res_dir, classes, dirs_exist_ok=True)
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
            log("compiled %s in %.0f s" % (name, time.time() - t0))
        out.append(classes)
    return ":".join(out)


def java_cmd(classes, heap="3g", props=()):
    opens = []
    for p in JDK17_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    return (["java"] + opens + ["-Xmx" + heap, "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + list(props) +
            ["-cp", ":".join([classes] + jars()), "graft.perfbench.Main"])


def steal_s():
    """CPU seconds the host has taken from this machine's processors (the
    steal column of /proc/stat, in 1/100 s), as context; 0 where absent."""
    try:
        return int(open("/proc/stat").readline().split()[8]) / 100.0
    except (OSError, IndexError, ValueError):
        return 0.0


def dataset(scale):
    d = os.path.join(BUILD, "data", "sf%g" % scale)
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, scale)
        open(os.path.join(d, ".done"), "w").close()
    return d


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    # the checks run after the benchmark JVM has exited, so all cores are free
    con.execute("SET threads TO %d" % (os.cpu_count() or 2))
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, data_dir, t))
    return con


def headline_refs(classes, data_dir, scale):
    """DuckDB digests of the 25 headline queries' oracle SQL, cached."""
    path = os.path.join(BUILD, "ref_headline_sf%g.json" % scale)
    stamp = open(os.path.join(BUILD, "classes-main.stamp")).read()
    if os.path.exists(path):
        ref = json.load(open(path))
        if ref.get("stamp") == stamp:
            return ref["digests"]
    oracles = os.path.join(BUILD, "oracles.json")
    subprocess.run(java_cmd(classes, heap="1g") + ["--dump-oracles", oracles], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120, cwd=BUILD)
    con = duck(data_dir)
    digests = {n: digest.duckdb_digest(con, sql) for n, sql in json.load(open(oracles)).items()}
    json.dump({"stamp": stamp, "digests": digests}, open(path, "w"))
    return digests


# ----------------------------------------------------------------- checks

def warmup_failures(ops):
    """Warm-up ops are kept only when they failed; each counts as failed."""
    return [("warm-up " + o["name"], o["error"]) for o in ops if o["client"] == -1]


def check_headline(ops, refs):
    bad = warmup_failures(ops)
    for o in ops:
        if o["client"] == -1:
            continue
        if o["error"] is not None or o["digest"] != refs.get(o["name"]):
            bad.append((o["name"], o["error"] or "digest %s != %s" % (o["digest"], refs.get(o["name"]))))
    return bad


def check_sql(ops, plan, data_dir):
    con = duck(data_dir)
    cache = {}
    bad = warmup_failures(ops)
    for o in ops:
        if o["client"] == -1:
            continue
        trino, duck_sql = plan["clients"][o["client"]][o["index"]]
        if o["error"] is not None:
            bad.append((trino, o["error"]))
            continue
        if duck_sql not in cache:
            cache[duck_sql] = digest.duckdb_digest(con, duck_sql)
        if o["digest"] != cache[duck_sql]:
            bad.append((trino, "digest %s != %s" % (o["digest"], cache[duck_sql])))
    return bad


def check_cow(ops, plan, data_dir, executed, final_digest):
    """Check the readers against the initial table, then replay the executed
    prefix of the writer's stream in DuckDB: compare every SELECT, every
    INSERT/UPDATE/DELETE row count and the final table."""
    con = duck(data_dir)
    con.execute(plan["duck_setup"])
    bad = warmup_failures(ops)
    cache = {}
    for o in ops:
        if o["client"] <= 0:
            continue
        trino, duck_sql = plan["readers"][o["client"] - 1][o["index"]]
        if o["error"] is not None:
            bad.append((trino, o["error"]))
            continue
        if duck_sql not in cache:
            cache[duck_sql] = digest.duckdb_digest(con, duck_sql)
        if o["digest"] != cache[duck_sql]:
            bad.append((trino, "digest %s != %s" % (o["digest"], cache[duck_sql])))
    by_index = {o["index"]: o for o in ops if o["client"] == 0}
    for i in range(executed):
        trino, duck_sql, kind = plan["ops"][i]
        cur = con.execute(duck_sql)
        o = by_index.get(i)
        if o is None:
            continue
        if o["error"] is not None:
            bad.append((trino, o["error"]))
        elif kind == "read":
            names = [d[0] for d in cur.description]
            want = digest.digest(names, cur.fetchall())
            if o["digest"] != want:
                bad.append((trino, "digest %s != %s" % (o["digest"], want)))
        elif not trino.startswith("MERGE"):
            want = digest.digest(["rows"], [(int(cur.fetchall()[0][0]),)])
            if o["digest"] != want:
                bad.append((trino, "row count %s != %s" % (o["digest"], want)))
    want = digest.duckdb_digest(con, "SELECT * FROM cow_t")
    if final_digest != want:
        bad.append(("final table", "digest %s != %s" % (final_digest, want)))
    return bad


# ----------------------------------------------------------------- run

def pct(xs, q):
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    return statistics.quantiles(s, n=100, method="inclusive")[q - 1]


def throughput(ops, start_ms, seconds):
    """Ops completed per second inside the --seconds window."""
    end_ms = start_ms + seconds * 1000.0
    return sum(1 for o in ops if o["error"] is None and o["start"] + o["ms"] <= end_ms) / seconds


def run(workload, seed, seconds, trace, smoke=False):
    t_build = time.time()
    classes = build()
    scale = 0.001 if smoke else SCALE[workload]
    data_dir = dataset(scale)
    cores = os.cpu_count() or 4
    if workload == "headline_df":
        refs = headline_refs(classes, data_dir, scale)
        plan = {}
        jvm_plan = {}
    elif workload == "sql_interactive":
        plan = workloads.sql_interactive(seed, clients=min(4, cores))
        jvm_plan = {"clients": [[t for t, _ in c] for c in plan["clients"]],
                    "warmup": plan["warmup"]}
    elif workload == "cow_dml":
        plan = workloads.cow_dml(seed, readers=max(1, min(4, cores) - 1))
        jvm_plan = {"setup": plan["setup"], "readers": [[t for t, _ in c] for c in plan["readers"]],
                    "warm_ops": plan["warm_ops"],
                    "ops": [{"sql": t, "kind": k} for t, _, k in plan["ops"]]}
    else:
        die("unknown workload %s" % workload)

    # the time limit covers the run, not a first build or fixture generation
    t_start = time.time()
    # per-run isolation: catalog store, temp/warehouse and Spark local dirs
    rdir = os.path.join(BUILD, "runs", "%s-%d" % (workload, os.getpid()))
    shutil.rmtree(rdir, ignore_errors=True)
    for d in ("tmp", "local", "catalog"):
        os.makedirs(os.path.join(rdir, d))
    try:
        plan_file = os.path.join(rdir, "plan.json")
        out_file = os.path.join(rdir, "out.json")
        json.dump(jvm_plan, open(plan_file, "w"))
        spans = os.path.join(BUILD, "spans", "%s-seed%d.jsonl" % (workload, seed))
        cmd = java_cmd(classes, props=[
            "-Dgraft.catalog.store=" + os.path.join(rdir, "catalog"),
            "-Djava.io.tmpdir=" + os.path.join(rdir, "tmp"),
            "-Dspark.local.dir=" + os.path.join(rdir, "local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(rdir, "tmp", "spark-warehouse"),
            "-Dderby.system.home=" + os.path.join(rdir, "tmp")]) + [
            "--workload", workload, "--data", data_dir, "--plan", plan_file,
            "--out", out_file, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--spans", spans,
            "--warmup-cap", str(WARMUP_CAP_S)]
        budget = RUN_TIMEOUT_S - (time.time() - t_start)
        steal0 = steal_s()
        with open(os.path.join(rdir, "jvm.log"), "w") as logf:
            proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=rdir)
            try:
                proc.wait(timeout=max(30, budget))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die("workload did not finish in time")
        if proc.returncode != 0 or not os.path.exists(out_file):
            sys.stderr.write(open(os.path.join(rdir, "jvm.log")).read()[-3000:])
            die("benchmark JVM failed (exit %s)" % proc.returncode)
        res = json.load(open(out_file))
        res["info"]["host_steal_s"] = steal_s() - steal0
    finally:
        shutil.rmtree(rdir, ignore_errors=True)

    ops = res["ops"]
    t_check = time.time()
    if workload == "headline_df":
        bad = check_headline(ops, refs)
    elif workload == "sql_interactive":
        bad = check_sql(ops, plan, data_dir)
    else:
        bad = check_cow(ops, plan, data_dir, res["extra"]["executed"], res["extra"]["final_digest"])
    for what, why in bad[:5]:
        log("FAILED: %s: %s" % (what[:120], str(why)[:300]))
    attempted = len(ops)
    failed = len(bad)
    if attempted == 0:
        die("no ops ran")
    lat = [o["ms"] for o in ops if o["error"] is None] or [0.0]
    reads = [o["ms"] for o in ops if o["error"] is None and o["kind"] == "read"] or [0.0]
    writes = [o["ms"] for o in ops if o["error"] is None and o["kind"] == "write"]
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        # headline_df measures whole passes (at least one), so it divides
        # by the time those passes took
        "ops_per_s": (len(lat) / res["measured_s"] if workload == "headline_df"
                      else throughput(ops, res["window_start_ms"], seconds), "1/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_p90_ms": (pct(lat, 90), "ms"),
        "read_p50_ms": (statistics.median(reads), "ms"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }
    extra = res.get("extra") or {}
    layers = dict(res["layers"])
    layers.update({
        "e2e.failed_frac": failed / attempted,
        "e2e.write_p50_ms": statistics.median(writes) if writes else 0.0,
        "e2e.write_bytes_per_row": extra.get("write_bytes_per_row", 0.0),
        "e2e.space_amp": extra.get("space_amp", 0.0),
        "e2e.retained_storage_mb": res["retained_storage_mb"],
        "trace.latency_p50_ms": statistics.median(lat),
    })
    report = {"workload": workload, "seed": seed, "trace": trace, "correct": failed == 0,
              "attempted": attempted, "failed": failed,
              "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "per_layer": layers, "info": res["info"], "warmup_s": res["warmup_s"],
              "measured_s": res["measured_s"], "failures": bad[:20],
              "op_ms": [[o["name"], round(o["ms"], 1)] for o in ops],
              "check_s": time.time() - t_check,
              "wall_s": time.time() - t_build}
    rep_dir = os.path.join(BUILD, "reports")
    os.makedirs(rep_dir, exist_ok=True)
    if trace:
        # tracing overhead: traced latency_p50_ms over the untraced runs' median
        untraced = [json.load(open(f))["end_to_end"]["latency_p50_ms"] for f in
                    glob.glob(os.path.join(rep_dir, "%s-seed*-trace0.json" % workload))]
        if untraced:
            report["trace_overhead_frac"] = statistics.median(lat) / statistics.median(untraced) - 1
    json.dump(report, open(os.path.join(rep_dir, "%s-seed%d-trace%d.json" % (
        workload, seed, 1 if trace else 0)), "w"), indent=1)

    if trace:
        units = {m["name"]: m["unit"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]}
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in units}
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def smoke():
    """Every workload (the gated ones and sql_interactive) at sf0.001 for one
    second, traced and untraced: the result line must parse and name every
    metric BENCHMARK.json declares."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = True
    for w in [x["name"] for x in spec["workloads"]] + ["sql_interactive"]:
        for trace, names in ((0, [m["name"] for m in spec["end_to_end"]]),
                             (1, [m["name"] for m in spec["per_layer"]])):
            line = json.dumps(run(w, 1, 1, trace, smoke=True))
            res = json.loads(line)
            missing = [n for n in names if n not in res["metrics"]]
            extra = [n for n in res["metrics"] if n not in names]
            good = (set(res) == {"correct", "attempted", "failed", "metrics"} and
                    not missing and not extra and res["attempted"] >= 1)
            log("smoke %s trace=%d: %s (attempted %d, failed %d)%s" % (
                w, trace, "ok" if good else "BAD", res["attempted"], res["failed"],
                " missing %s extra %s" % (missing, extra) if not good else ""))
            ok = ok and good
    print(json.dumps({"smoke": ok}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("graft sources not found under %s: run from the repository root" % ROOT)
    if a.smoke:
        return smoke()
    if not a.workload:
        die("--workload is required")
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace == 1)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
