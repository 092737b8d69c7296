#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and caches the result under
.bench_build/, keyed by a hash of the sources. Each run then starts one
JVM (perfbench.Harness) at local[nproc], sets it up, measures a fixed
number of passes sized by --seconds, checks every output against its
expected value and prints, as its last stdout line, one JSON object:
correct, attempted, failed and the metrics (end-to-end with --trace 0,
per-layer with --trace 1).

Workloads (see workloads.json and predictions.json):
  etl_load            Pipeline.run: batch A fresh, then batch B merged
  registry_iterative  round-based and pinned registry queries
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(WORK, "classes.jsa")
TRAIN_FIXTURES = "fixtures/sf0.001"  # the class-data archive's training run
SETUP_REPS = 3             # set-ups per run; setup_s is their median
RUN_LIMIT_S = 170          # the whole run, build excluded
BUILD_LIMIT_S = 840
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile engine + harness once per source state; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no graft sources here; run from the root of a checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if (os.path.isfile(stamp) and os.path.isfile(cp_file)
            and open(stamp).read() == h.hexdigest()):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die("build failed: %s" % e)
    if rc != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(open(log).read()[-4000:])
        die("build failed (rc=%d), log in %s" % (rc, log))
    cp = open(cp_file).read().strip()
    dump_class_archive(cp)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


def dump_class_archive(cp):
    """Dump a class-data sharing archive from one untimed run that loads
    what every workload loads; later runs map it instead of loading and
    verifying Spark's classes from ~300 jars (JVM start-up ~13 s -> ~6 s
    at local[4]). Purely a start-up cache: without it runs still work."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.join(WORK, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, HERE)
    import gen_etl
    gen_etl.generate(os.path.join(work, "input"), 0, 400)
    specs = [s for s in load_json("workloads.json").values()
             if s["kind"] == "registry"]
    queries = sorted({q for s in specs for q in load_json(s["list"])["rows"]})
    try:
        run_jvm(cp, {"kind": "train", "input": os.path.join(work, "input"),
                     "fixtures": os.path.join(HERE, TRAIN_FIXTURES),
                     "queries": ",".join(queries), "passes": 1,
                     "cpus": cpus(), "setup_reps": 1},
                work, time.time() + 600,
                ["-XX:ArchiveClassesAtExit=" + CDS_ARCHIVE])
    except SystemExit:
        print("perfbench: no class-data archive; continuing without it",
              file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- run

def driver_mem():
    """The test suite's driver-memory rule: half of RAM, 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, deadline, jvm_opts=None):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if jvm_opts is None:
        jvm_opts = (["-XX:SharedArchiveFile=" + CDS_ARCHIVE]
                    if os.path.isfile(CDS_ARCHIVE) else [])
    cmd = (["java", "-Xmx" + driver_mem(), "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false"] + jvm_opts
           + [a for p in JVM_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", "out=" + out, "work=" + work]
           + ["%s=%s" % kv for kv in args.items()])
    env = dict(os.environ, SPARK_GRAFT_TMP=os.path.join(work, "graft-tmp"))
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("harness JVM timed out; log in %s" % log)
    if rc != 0 or not os.path.isfile(out):
        sys.stderr.write(open(log).read()[-4000:])
        die("harness JVM failed (rc=%d); log in %s" % (rc, log))
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def tail_value(values):
    """p90 by nearest rank. Below 100 samples fewer than ten lie beyond
    it; run.py prints the sample count next to it."""
    v = sorted(values)
    return v[-(-9 * len(v) // 10) - 1]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def op_walls(ops):
    """Wall times of the successful operations, by operation name."""
    per_op = {}
    for o in ops:
        if o["ok"]:
            per_op.setdefault(o["name"], []).append(o["wall_s"])
    return per_op


def pass_stats(ops):
    """Each operation of the given passes at its median over the passes
    (which one slow pass cannot move): pass_s is their sum, op_p50_s and
    op_p90_s their percentiles."""
    walls = [median(v) for v in op_walls(ops).values()]
    return {"pass_s": sum(walls), "op_p50_s": median(walls),
            "op_p90_s": tail_value(walls) if walls else 0.0}


def e2e(res, stats):
    """End-to-end metrics. A pass has 2 (etl_load) or 3 (registry_iterative)
    operations, so op_p50_s and op_p90_s are each one named operation's
    time, not percentiles of a distribution; they are per-layer metrics."""
    return {"setup_s": median(res["setup_s"]), "pass_s": stats["pass_s"],
            "retained_heap_mb": res["retained_heap_mb"]}


UNITS = {"setup_s": "s", "pass_s": "s", "retained_heap_mb": "MB"}


def layer_metrics(res, ops, untraced, traced_stats):
    """Per-layer metrics from the spans of the traced passes, each a mean
    per traced pass unless its name says otherwise."""
    spans = res["spans"]
    traced = [p for p in res["passes"] if p["traced"]]
    n = max(1, len(traced))

    def layer(prefix):
        return [s for s in spans if s["parent"] != -1 and
                (s["name"] == prefix or s["name"].startswith(prefix + "."))]

    def total(ss, key):
        return sum(s[key] for s in ss) / n

    def dur(ss):
        return sum(s["dur_s"] for s in ss) / n

    def named(name):
        return dur([s for s in spans if s["name"] == name])

    roots = [s for s in spans if s["parent"] == -1]
    child_s = {}
    for s in spans:
        if s["parent"] != -1:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["dur_s"]
    # input scans per batch (per Pipeline.run): the batch span's own plus
    # its layer spans'
    scans = {r["id"]: r["input_scans"] for r in roots
             if r["name"].startswith("batch.")}
    for s in spans:
        if s["parent"] in scans:
            scans[s["parent"]] += s["input_scans"]
    tf, ex, q, wh = (layer("transform"), layer("export"), layer("quality"),
                     layer("warehouse"))
    build, plan, exe = layer("build"), layer("plan"), layer("exec")
    tops = [o for o in ops if o["traced"] and o["ok"]]
    all_task_s = sum(s["task_s"] for s in spans)
    wall = sum(p["wall_s"] for p in traced)
    attempted = len(ops)
    m = {
        "ingest.parse_s": median([p["extra"]["parse_s"] for p in traced
                                  if "parse_s" in p["extra"]]),
        "ingest.input_scans": median(list(scans.values())),
        "ingest.bad_records_s": named("ingest.bad_records"),
        "transform.call_s": dur(tf),
        "transform.jobs": total(tf, "jobs"),
        "transform.task_s": total(tf, "task_s"),
        "warehouse.dim_users_s": named("warehouse.dim_users"),
        "warehouse.fact_events_s": named("warehouse.fact_events"),
        "warehouse.intl_s": named("warehouse.intl"),
        "warehouse.jobs": total(wh, "jobs"),
        "warehouse.task_s": total(wh, "task_s"),
        "warehouse.shuffle_write_bytes": total(wh, "shuffle_write_bytes"),
        "warehouse.bytes_written": total(wh, "bytes_written"),
        "warehouse.files_written": total(wh, "files_written"),
        "export.write_s": dur(ex),
        "export.jobs": total(ex, "jobs"),
        "quality.count_s": dur(q),
        "quality.jobs": total(q, "jobs"),
        "build.s": dur(build),
        "build.jobs": total(build, "jobs"),
        "build.task_s": total(build, "task_s"),
        "plan.s": sum(o["extra"].get("catalyst_s", 0.0) for o in tops) / n,
        "exec.s": dur(exe),
        "exec.jobs": total(exe, "jobs"),
        "exec.tasks": total(exe, "tasks"),
        "exec.task_s": total(exe, "task_s"),
        "exec.shuffle_read_bytes": total(exe, "shuffle_read_bytes"),
        "exec.shuffle_write_bytes": total(exe, "shuffle_write_bytes"),
        "exec.spill_bytes": total(exe, "spill_bytes"),
        "exec.gc_s": total(exe, "gc_s"),
        "pins.created": sum(o["extra"].get("pins_created", 0.0)
                            for o in tops) / n,
        "pins.live_end": median([p["extra"].get("pins_live_end", 0.0)
                                 for p in traced]),
        "pins.orphan_acc_errors": res["orphan_acc_errors"],
        "span.self_s": sum(r["dur_s"] - child_s.get(r["id"], 0.0)
                           for r in roots) / n,
        "spark.core_busy_frac": all_task_s / (wall * res["cores"])
        if wall else 0.0,
        "spark.task_failures": res["traced_task_failures"],
        "spark.unattributed_jobs": res["unattributed_jobs"],
        "driver.gc_s": res["driver_gc_s"] / max(1, len(res["passes"])),
        "driver.peak_rss_mb": res["peak_rss_mb"],
        "ops_failed_frac": sum(not o["ok"] for o in ops) / attempted,
    }
    for k in ("op_p50_s", "op_p90_s"):
        m[k] = untraced[k]
    for k in ("pass_s", "op_p50_s", "op_p90_s"):
        m["overhead." + k] = traced_stats[k] - untraced[k]
    return m


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_bytes") or name == "warehouse.bytes_written":
        return "bytes"
    if name.endswith("_frac") or name.endswith("_per_input_byte"):
        return "ratio"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


# ---------------------------------------------------------------- workloads

def prepare_etl(seed, work, spec):
    sys.path.insert(0, HERE)
    import gen_etl
    inp = os.path.join(work, "input")
    truth = gen_etl.generate(inp, seed, spec["lines_per_batch"])
    return {"kind": "etl", "input": inp}, truth


def check_etl(res, truth):
    """Every batch's quality report must equal the generator's counts;
    a traced replay must also equal the untraced Pipeline.run."""
    piped = {}
    for o in res["ops"]:
        if o["ok"] and not o["traced"]:
            piped.setdefault(o["name"], o["report"])
    for o in res["ops"]:
        want = truth["reports"][o["name"]]
        if o["ok"] and o["report"] != want:
            o["ok"], o["error"] = False, "report %s != expected %s" % (
                o["report"], want)
        if o["ok"] and o["traced"] and o["name"] in piped \
                and o["report"] != piped[o["name"]]:
            o["ok"], o["error"] = False, "replay differs from Pipeline.run"


ETL_METRICS = ["fresh_s", "merge_s", "events_per_s",
               "wh_bytes_per_input_byte", "wh_files"]


def etl_summary(res, ops, truth):
    ok = [o for o in ops if o["ok"]]
    fresh = [o["wall_s"] for o in ok if o["kind"] == "fresh"]
    merge = [o["wall_s"] for o in ok if o["kind"] == "merge"]
    untraced = [p for p in res["passes"] if not p["traced"]]
    out = {}
    if fresh and merge:
        f, m = median(fresh), median(merge)
        out = {"fresh_s": (f, "s"), "merge_s": (m, "s"),
               "events_per_s": (truth["input_lines"] / (f + m), "1/s")}
    if untraced:
        out["wh_bytes_per_input_byte"] = (median(
            [p["extra"]["wh_bytes"] for p in untraced]) /
            truth["input_bytes"], "ratio")
        out["wh_files"] = (median([p["extra"]["wh_files"]
                                   for p in untraced]), "count")
    return out


def prepare_registry(spec):
    """Fixed fixtures, queries in name order (as graft.Bench orders them):
    the seed does not change a registry run."""
    expected = load_json(spec["list"])["rows"]
    return {"kind": "registry",
            "fixtures": os.path.join(HERE, spec["fixtures"]),
            "warm": os.path.join(HERE, spec["warm_fixtures"]),
            "queries": ",".join(sorted(expected))}, expected


def check_registry(res, expected):
    for o in res["ops"]:
        if o["ok"] and o["rows"] != expected[o["name"]]:
            o["ok"], o["error"] = False, "rows %d != expected %d" % (
                o["rows"], expected[o["name"]])


def anatomy(res):
    """Per-query build/exec job counts of the traced passes."""
    spans = res["spans"]
    rows = {}
    for r in (s for s in spans if s["parent"] == -1):
        kids = {s["name"]: s for s in spans if s["parent"] == r["id"]}
        if "build" in kids:
            rows[r["name"]] = (kids["build"]["jobs"], kids["exec"]["jobs"]
                               if "exec" in kids else 0)
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    specs = load_json("workloads.json")
    if a.workload not in specs:
        die("unknown workload %s (have %s)" % (a.workload, ", ".join(specs)))
    spec = specs[a.workload]
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    started = time.time()
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if spec["kind"] == "etl":
        args, truth = prepare_etl(a.seed, work, spec)
    else:
        args, expected = prepare_registry(spec)
    # Fixed work per run: as many whole passes as fit --seconds at the
    # workload's nominal pass time (measured at local[4]), at least one.
    passes = max(1, round(a.seconds / spec["nominal_pass_s"]))
    # A run times its first pass cold, in a fresh JVM: a one-shot job pays
    # that cost on every run, and every run starts from the same state. A
    # traced run warms up first, so its traced and untraced passes compare
    # like with like.
    args.update({"passes": passes, "trace": a.trace, "cpus": cpus(),
                 "setup_reps": SETUP_REPS, "warmup": a.trace})
    res = run_jvm(cp, args, work, started + RUN_LIMIT_S)
    for o in res["ops"]:
        o["ok"] = o["error"] is None
    if spec["kind"] == "etl":
        check_etl(res, truth)
    else:
        check_registry(res, expected)
    ops = res["ops"]
    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        print("FAILED %s (pass %d): %s" % (o["name"], o["pass"], o["error"]),
              file=sys.stderr)
    plain = [o for o in ops if not o["traced"]]
    stats = pass_stats(plain)
    print("samples: %d untraced operations over %d passes; set-ups %s s; "
          "warm-up %.3f s" % (sum(o["ok"] for o in plain),
                              len({o["pass"] for o in plain}),
                              res["setup_s"], res["warmup_s"]))
    for name, ws in sorted(op_walls(plain).items()):
        print("op %s: %s s" % (name, " ".join("%.3f" % w for w in ws)))
    extra = etl_summary(res, plain, truth) if spec["kind"] == "etl" else {}
    for k, (v, u) in extra.items():
        print("etl.%s = %.6g %s" % (k, v, u))
    print("ops_failed_frac = %.6g (%d of %d)"
          % (len(failed) / max(1, len(ops)), len(failed), len(ops)))
    if a.trace:
        traced_ops = [o for o in ops if o["traced"]]
        metrics = layer_metrics(res, ops, stats, pass_stats(traced_ops))
        for k in ETL_METRICS:
            metrics["etl." + k] = extra[k][0] if k in extra else 0.0
        for q, (b, e) in sorted(anatomy(res).items()):
            print("anatomy %s build.jobs=%d exec.jobs=%d" % (q, b, e))
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": UNITS[k]}
               for k, v in e2e(res, stats).items()}
    for k, v in sorted(out.items()):
        print("%s = %.6g %s" % (k, v["value"], v["unit"]))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failed and len(ops) > 0,
                      "attempted": len(ops), "failed": len(failed),
                      "metrics": out}))


if __name__ == "__main__":
    main()
