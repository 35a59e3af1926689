#!/usr/bin/env python3
"""Benchmark of the hourly S3 access-log export and of queries over its layout.

    python3 perfbench/run.py --workload export_hour --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the program and the
benchmark's JVM side from source (sbt, offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. Inputs are generated from
--seed; every output is checked (checks.py). The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics when --trace 0 and the per-layer metrics when --trace 1.
A full record of the run (environment, raw timings, spans, counters) is
written to .bench_build/results/. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import platform
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
DEADLINE_S = 170

sys.path.insert(0, HERE)
import checks  # noqa: E402
import loggen  # noqa: E402
import tablegen  # noqa: E402

# Input sizes. Fixed per workload, so a faster program does more operations
# on the same inputs, never other inputs. An export hour holds 150,000 lines
# in 12 objects: at that size the per-row work takes more than half of a
# runHour, the rest being per-hour and per-file costs (README.md, "Sizes").
# The first hour and two warm-up hours are set-up; the timed phase exports at
# least five hours, and more while --seconds have not passed.
EXPORT = dict(hours=10, warmup_hours=2, min_timed_hours=5, lines_per_hour=150000,
              files_per_hour=12, buckets=3, operations=4)
# 4 hours from 22:00, so the layout spans two days
QUERY = dict(hours=4, first_hour=22, lines_per_hour=6000, files_per_hour=4, buckets=2,
             operations=2, per_template=2, min_ops=100)
# one query per family of the program's query surface that fits a run
# (README.md, "query_surface")
SURFACE = dict(scale=0.2, queries=[
    "q01_pricing_summary",  # relational
    "q20_s3log_etl",  # log parse
    "q184_mutual_knn_clusters",  # kNN
    "q146_streamed_attribution",  # streaming state store
    "q243_coverage_select",  # greedy selection
])

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else None

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, or else the jar directory the repository's build.sbt
    compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("set SPARK_HOME: no Spark jar directory found")
    return m.group(1)


def sources():
    found = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not found:
        fail("no program sources under src/main/scala; run from a checkout of the repository")
    return found + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)) + [
        os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")]


def build():
    """Compile the program and the benchmark's JVM side when their sources
    changed."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(CLASSES):
        return stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
        "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}"))
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            f"-Dperfbench.sparkJars={spark_jars()}", "compile"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


def pct(values, q):
    """q-th percentile (0 < q < 100), interpolating linearly between order
    statistics (numpy's default): steadier than the exclusive method on the
    twenty-odd samples of an export run."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def environment(stamp, jvm):
    mem_kb = next((int(l.split()[1]) for l in open("/proc/meminfo")
                   if l.startswith("MemTotal:")), 0)
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True).stdout.strip() or None
    return {"host": platform.node(), "nproc": cores(), "mem_total_mb": mem_kb // 1024,
            "git_commit": commit, "source_sha256": stamp,
            "spark_version": jvm.get("spark_version"), "jvm_version": jvm.get("jvm_version"),
            "jvm_max_heap_mb": jvm.get("max_heap_mb"), "python": platform.python_version(),
            "duckdb": __import__("duckdb").__version__}


def cpu_ticks():
    """Machine-wide (busy, stolen) jiffies from /proc/stat, as Usage.sample
    in the JVM counts them."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def stolen_share(u):
    """Share of the CPU time this machine asked for that the hypervisor
    gave to other guests instead, over one measured interval."""
    asked = u["busy_ticks"] + u["steal_ticks"]
    return u["steal_ticks"] / asked if asked else 0.0


def unstolen(u):
    """Wall seconds of an interval less the share stolen by other guests of
    a shared host. On a dedicated machine the two are equal; on this kind of
    host stolen time swings wall times by up to 2x between minutes."""
    return u["s"] * (1 - stolen_share(u))


def timed(fn):
    """Run fn(); return its result and its usage record."""
    b0, st0 = cpu_ticks()
    t0 = time.perf_counter()
    out = fn()
    b1, st1 = cpu_ticks()
    return out, {"s": time.perf_counter() - t0, "busy_ticks": b1 - b0, "steal_ticks": st1 - st0}


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(workload, work, seconds, trace, budget_s):
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp",
           f"{CLASSES}:{spark_jars()}/*", "perfbench.Main", "--workload", workload,
           "--work", work, "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores())]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # the program's own defaults, whatever the caller's SPARK_GRAFT_* knobs;
    # Spark's scratch space stays inside the checkout
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # what the program persists for its oracles stays in the run's directory
    env["GRAFT_SIDECAR_DIR"] = f"{work}/sidecars"
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        tail = open(f"{work}/jvm.log").read()[-3000:]
        fail(f"benchmark JVM ended with {code}:\n{tail}", 1)
    return json.load(open(f"{work}/jvm.json"))


# --- export_hour -------------------------------------------------------------

def export_hour(seed, seconds, trace, work, t_start):
    src = f"{work}/src"
    truths, gen = timed(lambda: loggen.generate(
        seed, src, EXPORT["hours"], EXPORT["lines_per_hour"], EXPORT["files_per_hour"],
        EXPORT["buckets"], EXPORT["operations"], workers=cores()))
    manifest = dict(src=src, dst=f"{work}/dst", tracking=f"{work}/tracking",
                    dst_replay=f"{work}/dst_replay", tracking_replay=f"{work}/tracking_replay",
                    hours=[t["hour"] for t in truths], warmup_hours=EXPORT["warmup_hours"],
                    min_timed_hours=EXPORT["min_timed_hours"])
    json.dump(manifest, open(f"{work}/manifest.json", "w"))
    jvm = run_jvm("export_hour", work, seconds, trace, DEADLINE_S - (time.time() - t_start) - 20)

    truth = {t["hour"]: t for t in truths}
    problems = {}
    for rec in jvm["hours"]:
        p = checks.check_hour(manifest["dst"], manifest["tracking"], rec, truth[rec["hour"]])
        if "replay" in rec:
            r = rec["replay"]
            p += checks.check_same_rows(manifest["dst"], rec["out"]["files"],
                                        manifest["dst_replay"], r["out"]["files"])
            if r["rows"] != truth[rec["hour"]]["lines"]:
                p.append(f"replay wrote {r['rows']} rows")
        if p:
            problems[rec["hour"]] = p
    hours = [r for r in jvm["hours"] if r["phase"] == "timed"]
    first = jvm["hours"][0]
    ok_timed = [r for r in hours if r["hour"] not in problems] or hours
    secs = [unstolen(r) for r in ok_timed]
    jvm_setup = jvm["session_s"] + jvm["warmup_s"]
    e2e = {
        "setup_s": unstolen(gen) + jvm_setup * (1 - stolen_share(jvm["setup_usage"])),
        "op_p50_ms": 1000 * median(secs),
        "op_p90_ms": 1000 * pct(secs, 90),
        "rows_per_s": sum(truth[r["hour"]]["lines"] for r in ok_timed) / sum(secs),
        "bytes_ratio": sum(r["out"]["bytes"] for r in ok_timed)
                       / sum(truth[r["hour"]]["raw_bytes"] for r in ok_timed),
        "peak_heap_mb": jvm["peak_heap_mb"],
    }
    layers = None
    if trace:
        reps = [r["replay"] for r in hours]
        layers = {k: median([r[k] for r in reps]) for k in reps[0]
                  if k.startswith(("etl.", "functions."))}
        layers["trace.overhead_frac"] = (sum(r["traced_s"] for r in reps)
                                         / sum(r["s"] for r in hours) - 1)
    setup = {"setup.session_s": jvm["session_s"], "setup.generate_s": gen["s"],
             "setup.layout_s": 0.0, "setup.warmup_s": jvm["warmup_s"],
             "setup.first_op_s": first["s"], "query_session.open_s": 0.0}
    attempted = len(jvm["hours"])
    extra = {"hours": len(jvm["hours"]), "timed_hours": len(hours),
             "wall_p50_ms": 1000 * median([r["s"] for r in ok_timed]),
             "hours_left": jvm["hours_left"], "problems": problems}
    return attempted, len(problems), e2e, layers, setup, jvm, extra


# --- log_query ---------------------------------------------------------------

def log_query(seed, seconds, trace, work, t_start):
    src = f"{work}/src"
    truths, gen = timed(lambda: loggen.generate(
        seed, src, QUERY["hours"], QUERY["lines_per_hour"], QUERY["files_per_hour"],
        QUERY["buckets"], QUERY["operations"], first_hour=QUERY["first_hour"],
        workers=cores()))
    hours = [t["hour"] for t in truths]
    facts = loggen.population_facts(seed, QUERY["buckets"], QUERY["operations"])
    pool = checks.query_pool(seed, facts, hours, QUERY["per_template"])
    rng = random.Random(f"order-{seed}")
    order = [rng.randrange(len(pool)) for _ in range(20000)]
    manifest = dict(src=src, dst=f"{work}/dst", tracking=f"{work}/tracking",
                    hours=hours, pool=pool, order=order, min_ops=QUERY["min_ops"])
    json.dump(manifest, open(f"{work}/manifest.json", "w"))
    jvm = run_jvm("log_query", work, seconds, trace, DEADLINE_S - (time.time() - t_start) - 25)

    problems = {}
    dst = manifest["dst"]
    truth = {t["hour"]: t for t in truths}
    lay = jvm["layout"]
    for rec in lay:
        p = checks.check_hour(dst, manifest["tracking"], rec, truth[rec["hour"]])
        if p:
            problems[rec["hour"]] = p
    oracle = checks.oracle_answers(dst, pool)
    bad = set()
    for i, (ans, want) in enumerate(zip(jvm["answers"], oracle)):
        got = None if ans["rows"] is None else sorted(
            json.dumps(json.loads(r), separators=(",", ":"), ensure_ascii=False)
            for r in ans["rows"])
        if got != want:
            bad.add(i)
            problems[f"pool[{i}]"] = ans["error"] or f"{pool[i]['sql']}: answer differs from DuckDB's"
    ops = jvm["ops"]
    # a wrong layout hour is one failed operation of its own
    layout_failed = sum(1 for r in lay if r["hour"] in problems)
    failed = sum(1 for o in ops if not o["ok"] or o["i"] in bad) + layout_failed
    ok_ops = [o for o in ops if o["ok"] and o["i"] not in bad] or ops
    secs = [unstolen(o) for o in ok_ops]
    raw = sum(t["raw_bytes"] for t in truths)
    jvm_setup = jvm["session_s"] + jvm["layout_s"] + jvm["open_s"] + jvm["warmup_s"]
    e2e = {
        "setup_s": unstolen(gen) + jvm_setup * (1 - stolen_share(jvm["setup_usage"])),
        "op_p50_ms": 1000 * median(secs),
        "op_p90_ms": 1000 * pct(secs, 90),
        # rows of log data the client's queries answered over, per second
        "rows_per_s": sum(t["lines"] for t in truths) * len(secs) / sum(secs),
        "bytes_ratio": sum(r["out"]["bytes"] for r in lay) / raw,
        "peak_heap_mb": jvm["peak_heap_mb"],
    }
    layers = None
    if trace:
        # the layout's shape: what the read side prunes and skips over
        layers = {"etl.partition_dirs": sum(r["out"]["dirs"] for r in lay),
                  "etl.files_written": sum(len(r["out"]["files"]) for r in lay),
                  "etl.bytes_written": sum(r["out"]["bytes"] for r in lay)}
        for t in checks.TEMPLATES:
            layers[f"lq.{t}_ms"] = 1000 * median(
                [unstolen(o) for o in ok_ops if pool[o["i"]]["template"] == t])
        n = len(ops)
        tot = lambda k: sum(o[k] for o in ops)
        layers.update({
            "lq.files_read": tot("files_read") / n,
            "lq.bytes_read": tot("bytes_read") / n,
            "lq.rows_read_per_row_returned": tot("rows_read") / max(1, tot("rows_returned")),
            "lq.shuffle_bytes": tot("shuffle_bytes") / n,
            "lq.plan_ms": 1000 * median([o["plan_s"] for o in ops]),
            "lq.jobs_per_query": tot("jobs") / n,
            "lq.tasks_per_query": tot("tasks") / n,
            "trace.overhead_frac": tot("traced_s") / tot("s") - 1,
        })
    setup = {"setup.session_s": jvm["session_s"], "setup.generate_s": gen["s"],
             "setup.layout_s": jvm["layout_s"], "setup.warmup_s": jvm["warmup_s"],
             "setup.first_op_s": jvm["answers"][0]["s"], "query_session.open_s": jvm["open_s"]}
    extra = {"ops": len(ops), "pool": len(pool),
             "wall_p50_ms": 1000 * median([o["s"] for o in ok_ops]), "problems": problems}
    return len(ops) + len(lay), failed, e2e, layers, setup, jvm, extra


# --- query_surface -----------------------------------------------------------

def short(name):
    return name.split("_", 1)[0]


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def query_surface(seed, seconds, trace, work, t_start):
    tables = f"{work}/tables"
    counts, gen = timed(lambda: tablegen.generate(seed, tables, SURFACE["scale"]))
    names = SURFACE["queries"]
    manifest = dict(tables=tables, answers=f"{work}/answers", queries=names)
    json.dump(manifest, open(f"{work}/manifest.json", "w"))
    jvm = run_jvm("query_surface", work, seconds, trace, DEADLINE_S - (time.time() - t_start) - 20)

    problems = {}
    ops = jvm["ops"]
    first = {o["i"]: o for o in ops if o["pass"] == 0}
    for i, (name, sql) in enumerate(zip(names, jvm["oracle_sql"])):
        if first[i]["error"]:
            p = [first[i]["error"]]
        else:
            p = checks.surface_problems(tables, tablegen.TABLES, f"{manifest['answers']}/{name}", sql)
        if p:
            problems[name] = p
    bad = {i for i, n in enumerate(names) if n in problems}
    failed = sum(1 for o in ops if not o["ok"] or o["i"] in bad)
    passes = max(o["pass"] for o in ops) + 1
    secs = [unstolen(o) for o in ops]
    e2e = {
        "setup_s": unstolen(gen) + (jvm["session_s"] + jvm["warmup_s"])
                   * (1 - stolen_share(jvm["setup_usage"])),
        # one operation is one query of the subset
        "op_p50_ms": 1000 * median(secs),
        "op_p90_ms": 1000 * pct(secs, 90),
        # rows of the tables per second of a pass over the whole subset
        "rows_per_s": sum(counts.values()) * passes / sum(secs),
        # what the queries persist (indexes, stores, models) per table byte
        "bytes_ratio": dir_bytes(f"{work}/sidecars") / dir_bytes(tables),
        "peak_heap_mb": jvm["peak_heap_mb"],
    }
    by_query = [[o for o in ops if o["i"] == i] for i in range(len(names))]
    layers = None
    if trace:
        layers = {}
        for name, q in zip(names, by_query):
            for k in ("jobs", "tasks", "shuffle_bytes", "task_cpu_s"):
                layers[f"ops.{short(name)}.{k}"] = median([o[k] for o in q])
            layers[f"ops.{short(name)}.wall_s"] = median([o["s"] for o in q])
        for k in ("task_run_s", "gc_s", "spill_bytes"):
            layers[f"ops.{k}"] = sum(o[k] for o in ops) / passes
        layers["trace.overhead_frac"] = jvm["overhead_traced_s"] / jvm["overhead_untraced_s"] - 1
    setup = {"setup.session_s": jvm["session_s"], "setup.generate_s": gen["s"],
             "setup.layout_s": 0.0, "setup.warmup_s": jvm["warmup_s"],
             "setup.first_op_s": ops[0]["s"], "query_session.open_s": 0.0}
    extra = {"ops": len(ops), "passes": passes,
             "per_query_s": {short(n): median([o["s"] for o in q]) for n, q in zip(names, by_query)},
             "problems": problems}
    return len(ops), failed, e2e, layers, setup, jvm, extra


WORKLOADS = {"export_hour": export_hour, "log_query": log_query,
             "query_surface": query_surface}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if SPEC is None:
        fail("BENCHMARK.json not found at the repository root")
    ticks0 = cpu_ticks()
    stamp = build()
    # the deadline counts from here: only a run that builds may take longer
    t_start = time.time()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        attempted, failed, e2e, layers, setup, jvm, extra = WORKLOADS[args.workload](
            args.seed, args.seconds, args.trace, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = dict(setup)
        values.update(layers)
        spec = SPEC["per_layer"]
    else:
        values = e2e
        spec = SPEC["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    ticks1 = cpu_ticks()
    steal = stolen_share({"busy_ticks": ticks1[0] - ticks0[0], "steal_ticks": ticks1[1] - ticks0[1]})
    record = dict(result, workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, environment=dict(environment(stamp, jvm), stolen_share=steal),
                  detail=extra,
                  end_to_end=e2e, setup=setup, per_layer=layers,
                  jvm={k: v for k, v in jvm.items() if k != "spans"},
                  spans=jvm.get("spans", []), wall_s=time.time() - t_start)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    out = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    for name, m in metrics.items():
        print(f"{name:34s} {m['value']:14.6g} {m['unit']}")
    print(f"record: {os.path.relpath(out, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
