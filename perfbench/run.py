#!/usr/bin/env python3
"""Benchmark of the served /fetchResult path (and, on request, the declared
query suite).

    python3 perfbench/run.py --workload fetch_interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source changed. Each run starts one JVM, sets up, measures a
closed loop for --seconds, checks every output, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. See
perfbench/README.md for the workloads and metrics.
"""

import argparse
import glob
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
sys.path.insert(0, HERE)
import stats  # noqa: E402
import suite  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("fetch_interactive", "fetch_bulk", "query_suite")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170
# The tail percentile reported: the highest whose nearest rank leaves ten
# samples beyond it at 40 ops; a 10 s run holds about 20 fetch ops or 40
# declared-query calls.
TAIL = 75


# Every per-layer metric, as BENCHMARK.json lists them. A traced run prints
# all of them; a layer its workload does not exercise reads 0.
PER_LAYER = [
    ("server.parse_ms", "ms"), ("server.overhead_ms", "ms"),
    ("domain.select_plan_ms", "ms"), ("domain.range_agg_ms", "ms"),
    ("sources.scan_rows_per_cell", "ratio"), ("sources.input_bytes_per_op", "B"),
    ("render.png_ms", "ms"), ("render.zip_ms", "ms"),
    ("render.pngs_per_op", "count"), ("render.zip_bytes_per_op", "B"),
    ("planning.ms_per_op", "ms"), ("planning.plans_per_op", "count"),
    ("scheduling.jobs_per_op", "count"), ("scheduling.stages_per_op", "count"),
    ("scheduling.tasks_per_op", "count"), ("scheduling.task_wait_ms_per_op", "ms"),
    ("scheduling.busy_ratio", "ratio"),
    ("shuffle.write_bytes_per_op", "B"), ("shuffle.read_bytes_per_op", "B"),
    ("driver.self_ms_per_op", "ms"), ("compose.self_ms_per_op", "ms"),
] + [(f"module.{m}_s", "s") for m in suite.MODULES] + [
    ("family.snapshot_s", "s"), ("family.grid_s", "s"),
    ("setup.archive_write_s", "s"), ("setup.layout_prep_s", "s"), ("setup.warmup_s", "s"),
    ("trace.ops", "count"), ("trace.overhead_ms_per_op", "ms"),
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src", "main"), os.path.join(ROOT, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx3g",
            "-Dsbt.io.implicit.relative.glob.conversion=allow"]
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build():
    """Compile with sbt unless the last build saw the same sources; return
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"engine sources not found under {ROOT}/src/main/scala; "
            "run from the root of a full checkout")
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "digest")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as cf:
                    return cf.read()
    print("perfbench: building with sbt", file=sys.stderr)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=sbt_env(), stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=800)
    if rc != 0 or not os.path.exists(cp_file):
        with open(os.path.join(BUILD_DIR, "build.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        die(f"build failed (rc={rc}); log in {BUILD_DIR}/build.log")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as cf:
        return cf.read()


def run_jvm(cp, args, budget_s):
    """Run one benchmark JVM; return its raw result document."""
    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_build", "work", tag)
    out = os.path.join(ROOT, ".bench_build", "out", tag + ".json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g",
            "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out])
    if args.workload == "query_suite":
        cmd += ["--sf-dir", suite.SF_DIR]
    log_path = os.path.join(ROOT, ".bench_build", "out", tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"run exceeded {budget_s:.0f} s; log in {log_path}")
    try:
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as log:
                sys.stderr.write(log.read()[-6000:])
            die(f"benchmark JVM failed (rc={rc}); log in {log_path}")
        with open(out) as fh:
            doc = json.load(fh)
        # keep the raw samples and spans beside the report; drop the log
        results = os.path.join(ROOT, ".bench_build", "results")
        os.makedirs(results, exist_ok=True)
        os.replace(out, os.path.join(results, f"{args.workload}-{args.seed}-{args.trace}.raw.json"))
        os.remove(log_path)
        return doc
    finally:
        shutil.rmtree(work, ignore_errors=True)


def cpu_ticks():
    """(steal, total) CPU ticks since boot from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(t) for t in fh.readline().split()[1:]]
    except OSError:
        return None
    return ticks[7], sum(ticks)


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    readings: on a shared host it explains a slow sample, which the load
    average inside a VM does not."""
    if before is None or after is None or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def setup_seconds(doc):
    """JVM start to the first timed op: session start plus every set-up phase."""
    return doc["jvm_to_session_s"] + sum(doc["setup"].values())


def end_to_end(doc):
    samples = doc["samples"]
    lat_ms = [s[1] / 1000.0 for s in samples]
    ok = sum(s[2] for s in samples)
    n = len(samples)
    if not stats.has_tail(n, TAIL):
        print(f"perfbench: only {n} ops; p{TAIL} has {stats.beyond(n, TAIL)} samples beyond it "
              f"(want {stats.MIN_BEYOND}, i.e. {stats.min_samples(TAIL)} ops)", file=sys.stderr)
    setup_s = setup_seconds(doc)
    return {
        "latency_p50_ms": (stats.nearest_rank(lat_ms, 50), "ms"),
        f"latency_p{TAIL}_ms": (stats.nearest_rank(lat_ms, TAIL), "ms"),
        "throughput_ops_s": (ok / doc["window_s"], "1/s"),
        "success_ratio": (ok / n, "ratio"),
        "setup_s": (setup_s, "s"),
        "live_heap_mb": (doc["live_heap_mb"], "MiB"),
    }


def op_attribution(doc):
    """Jobs and plans grouped by the op that ran them."""
    jobs, plans = {}, {}
    for j in doc["jobs"]:
        jobs.setdefault(j["group"], []).append(j)
    for p in doc["plans"]:
        plans.setdefault(p["group"], []).append(p)
    return jobs, plans


def engine_layers(doc, op_ids, op_spans):
    """Planning, scheduling, shuffle and driver metrics over the traced ops.
    `op_spans` maps op id to its root span (start_us, end_us)."""
    jobs, plans = op_attribution(doc)
    n = max(1, len(op_ids))
    js = [j for o in op_ids for j in jobs.get(o, [])]
    ps = [p for o in op_ids for p in plans.get(o, [])]
    walls = [j["end_ms"] - j["submit_ms"] for j in js if j["end_ms"] >= 0]
    self_ms = []
    for o in op_ids:
        s, e = op_spans[o]
        ivs = [(j["submit_ms"] * 1000, j["end_ms"] * 1000) for j in jobs.get(o, []) if j["end_ms"] >= 0]
        self_ms.append(stats.self_time((s, e), ivs) / 1000.0)
    return {
        "planning.ms_per_op": (sum(p["analysis_ms"] + p["optimization_ms"] + p["planning_ms"]
                                   for p in ps) / n, "ms"),
        "planning.plans_per_op": (len(ps) / n, "count"),
        "scheduling.jobs_per_op": (len(js) / n, "count"),
        "scheduling.stages_per_op": (sum(j["stages"] for j in js) / n, "count"),
        "scheduling.tasks_per_op": (sum(j["tasks"] for j in js) / n, "count"),
        "scheduling.task_wait_ms_per_op": (sum(j["wait_ms"] for j in js) / n, "ms"),
        "scheduling.busy_ratio": (stats.busy_ratio(sum(j["run_ms"] for j in js), walls,
                                                   doc["cores"]), "ratio"),
        "shuffle.write_bytes_per_op": (sum(j["shuffle_write"] for j in js) / n, "B"),
        "shuffle.read_bytes_per_op": (sum(j["shuffle_read"] for j in js) / n, "B"),
        "sources.input_bytes_per_op": (sum(j["input_bytes"] for j in js) / n, "B"),
        "driver.self_ms_per_op": (sum(self_ms) / n, "ms"),
    }, ps


def fetch_layers(doc):
    ops = doc["ops"]
    op_ids = [o["op"] for o in ops]
    spans = doc["spans"]
    roots = {s["op"]: (s["start_us"], s["end_us"]) for s in spans if s["name"] == "op"}
    n = max(1, len(ops))

    def span_ms(name):
        return sum(s["end_us"] - s["start_us"] for s in spans if s["name"] == name) / 1000.0 / n

    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    root_self = [stats.self_time((s["start_us"], s["end_us"]), children.get(s["id"], []))
                 for s in spans if s["name"] == "op"]
    m, ps = engine_layers(doc, op_ids, roots)
    cells = sum(o["cells"] for o in ops)
    phases = doc["setup"]
    m.update({
        "server.parse_ms": (span_ms("server.parse"), "ms"),
        "server.overhead_ms": (sum(o["http_ms"] - o["untraced_ms"] for o in ops) / n, "ms"),
        "domain.select_plan_ms": (span_ms("domain.select_plan"), "ms"),
        "domain.range_agg_ms": (span_ms("domain.range_agg"), "ms"),
        "render.png_ms": (span_ms("render.png"), "ms"),
        "render.zip_ms": (span_ms("render.zip"), "ms"),
        "render.pngs_per_op": (sum(o["pngs"] for o in ops) / n, "count"),
        "render.zip_bytes_per_op": (sum(o["zip_bytes"] for o in ops) / n, "B"),
        "sources.scan_rows_per_cell": (sum(p["scan_rows"] for p in ps) / max(1, cells), "ratio"),
        "compose.self_ms_per_op": (sum(root_self) / 1000.0 / n, "ms"),
        "setup.archive_write_s": (phases["archive_write_s"], "s"),
        "setup.warmup_s": (phases["warmup_s"], "s"),
        "trace.ops": (len(ops), "count"),
        "trace.overhead_ms_per_op": (sum(o["traced_ms"] - o["untraced_ms"] for o in ops) / n, "ms"),
    })
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="query_suite: write the observed counts as the golden file")
    args = ap.parse_args()
    started = time.time()
    cp = build()
    budget = RUN_LIMIT_S - (time.time() - started)
    if budget < 60:
        budget = RUN_LIMIT_S  # the run that built is allowed the longer first-run limit
    ticks = cpu_ticks()
    doc = run_jvm(cp, args, budget)
    steal = steal_share(ticks, cpu_ticks())
    if args.workload == "query_suite":
        metrics, errors = suite.metrics(doc, args, engine_layers, end_to_end)
    else:
        errors = doc["errors"]
        metrics = fetch_layers(doc) if args.trace else end_to_end(doc)
    if args.trace:
        units = dict(PER_LAYER)
        unlisted = set(metrics) - set(units)
        if unlisted:
            die(f"per-layer metrics missing from PER_LAYER: {sorted(unlisted)}")
        metrics = {k: metrics.get(k, (0.0, u)) for k, u in PER_LAYER}
    attempted = len(doc["samples"])
    failed = sum(1 for s in doc["samples"] if not s[2])
    correct = failed == 0 and not errors and attempted > 0
    env = dict(doc["env"], git_head=git_head(), samples=attempted,
               cpu_steal_share=steal,
               tail_beyond=stats.beyond(attempted, TAIL) if attempted else 0)
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "env": env, "errors": errors,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(ROOT, ".bench_build", "results",
                           f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    for e in errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print("perfbench env: " + json.dumps(env, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": report["metrics"]}))
    sys.exit(0 if correct else 1)


def git_head():
    """The checkout's commit, or the tree digest when it is not a git repo."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "no-git:" + source_digest()[:16]


if __name__ == "__main__":
    main()
