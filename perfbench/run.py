#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run, timed on full
results, outputs checked against DuckDB afterwards.

    python3 perfbench/run.py --workload models_full --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record (every sample, the host stamp) goes to
standard error. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

HEAVY = ["q_curate_pipeline", "q_ingest_pipeline", "q_simjoin_exact", "q_connected_components"]
with open(os.path.join(HERE, "floor_queries.txt")) as _f:
    FLOOR = [x.strip() for x in _f if x.strip() and not x.startswith("#")]

# Per workload: scale factor of the generated tables and the loop bounds.
WORKLOADS = {
    "models_full": {"sf": 0.001, "min_iters": 2, "max_iters": 50},
    "models_incremental": {"sf": 0.01, "min_iters": 4, "max_iters": 60, "deltas": 3},
    "pipelines_heavy": {"sf": 0.001, "min_iters": 2, "max_iters": 50, "queries": HEAVY},
    "inventory_floor": {"sf": 0.001, "min_iters": 2, "max_iters": 50,
                        "queries": FLOOR + ["q_pq_codes"]},
}
FEEDS = ("orders_cdc", "events_cdc")
SOURCE_TABLES = ("orders", "customer", "nation", "region", "lineitem", "events", "part") + FEEDS
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# The harness JVM is killed after this long, which keeps a run (without
# a build) inside the 180 s a run may take.
HARNESS_TIMEOUT_S = 150.0


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ------------------------------------------------------------------ build
def spark_jars():
    """The Spark distribution's jars, scala-compiler among them: from
    SPARK_HOME, else from the directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def build(root, out):
    """Compile src/main/scala and the harness with scalac (the Spark
    distribution ships scala-compiler), once per source content."""
    main_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main_src:
        fail("no src/main/scala here: run from the root of a graft checkout")
    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "classes.sha256")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = ":".join(spark_jars())
    t0 = time.time()
    for srcs, extra in ((main_src, ""), (bench_src, ":" + classes)):
        argfile = os.path.join(out, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", classes, "-classpath", cp + extra, "@" + argfile],
                           capture_output=True, text=True)
        if r.returncode != 0:
            fail("compile failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"built in {time.time() - t0:.1f} s")
    return classes


# ------------------------------------------------------------------ inputs
def make_inputs(out, seed, wl):
    """Generate the tables, and the deltas a workload needs, once per seed
    and scale. Returns their directory."""
    spec = WORKLOADS[wl]
    data = os.path.join(out, "data", f"seed{seed}_sf{spec['sf']}")
    done = os.path.join(data, ".complete")
    n_deltas = spec.get("deltas", 0)
    if not os.path.exists(done) or int(open(done).read() or 0) < n_deltas:
        shutil.rmtree(data, ignore_errors=True)
        base = gen.write_tables(seed, spec["sf"], data)
        for k in range(n_deltas):
            gen.write_delta(seed, k, base, os.path.join(data, f"delta{k}"))
        with open(done, "w") as f:
            f.write(str(n_deltas))
    return data


def table_rows(data, names):
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(os.path.join(data, f"{t}.parquet")).num_rows for t in names)


# ------------------------------------------------------------------ run
def host_stamp(root, args, jvm_heap, cpus):
    commit = None
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(root, ".git", ref[5:])
            commit = open(p).read().strip() if os.path.exists(p) else None
        else:
            commit = ref
    if commit is None:  # a checkout without git: identify the sources instead
        h = hashlib.sha256()
        for p in sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)):
            h.update(open(p, "rb").read())
        commit = "src-sha256:" + h.hexdigest()[:16]
    return {"commit": commit, "seed": args.seed, "workload": args.workload,
            "nproc": os.cpu_count(), "cpus": cpus, "jvm_heap": jvm_heap,
            "load1_before": os.getloadavg()[0],
            "graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}}


def launch(cmd, log_path, deadline):
    """Run the harness JVM; returns (exit status, peak RSS in MB)."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
    timer = threading.Timer(max(1.0, deadline - time.time()),
                            lambda: os.killpg(p.pid, signal.SIGKILL))
    timer.start()
    try:
        _, status, ru = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
        p.returncode = 0  # reaped above
    return os.waitstatus_to_exitcode(status), ru.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if args.selfcheck:
        import selfcheck
        sys.exit(selfcheck.main())
    if not args.workload:
        ap.error("--workload is required")
    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    classes = build(root, out)
    wl, spec = args.workload, WORKLOADS[args.workload]
    data = make_inputs(out, args.seed, wl)
    work = os.path.join(out, "work", f"{wl}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_workload(root, out, classes, data, work, args, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def run_workload(root, out, classes, data, work, args, spec):
    wl = args.workload
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    heap = "3g"
    stamp = host_stamp(root, args, heap, cpus)
    cfg = {"workload": wl, "data_dir": data, "work_dir": work, "cpus": cpus,
           "seconds": args.seconds, "trace": bool(args.trace),
           "min_iters": max(spec["min_iters"], 4 * args.trace),
           "max_iters": spec["max_iters"],
           "out": os.path.join(work, "result.json")}
    project_files = edits = None
    if "queries" in spec:
        order = list(spec["queries"])
        random.Random(args.seed).shuffle(order)
        cfg["queries"] = order
        input_rows = table_rows(data, gen.TABLE_NAMES)
    else:
        project_files = gen.project(args.seed)
        gen.write_project(os.path.join(work, "project"), project_files)
        cfg["project_dir"] = os.path.join(work, "project")
        if wl == "models_incremental":
            edits = [gen.edits(args.seed, k, project_files) for k in range(spec["deltas"])]
            cfg["edits"] = edits
            cfg["delta_dirs"] = [os.path.join(data, f"delta{k}") for k in range(spec["deltas"])]
            input_rows = sum(table_rows(d, FEEDS) for d in cfg["delta_dirs"]) / spec["deltas"]
        else:
            input_rows = table_rows(data, SOURCE_TABLES)
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    cp = classes + ":" + ":".join(spark_jars())
    # ParallelGC keeps the heap it grew, so peak RSS reads the same from
    # run to run; under G1 it spread by 20-30% between seeds.
    cmd = (["java"] + ADD_OPENS + [f"-Xmx{heap}", "-XX:+UseParallelGC",
                                   f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false",
                                   "-Dspark.sql.session.timeZone=UTC",
                                   "-cp", cp, "perfbench.Harness", cfg_path])
    t_launch = time.time()
    code, rss_mb = launch(cmd, os.path.join(work, "harness.log"), t_launch + HARNESS_TIMEOUT_S)
    if code != 0 or not os.path.exists(cfg["out"]):
        tail = open(os.path.join(work, "harness.log")).read()[-6000:]
        fail(f"harness exited with {code}:\n{tail}")
    with open(cfg["out"]) as f:
        rec = json.load(f)
    stamp["load1_after"] = os.getloadavg()[0]
    stamp["spark_version"] = rec.get("spark_version")
    stamp["changed_confs"] = changed_confs(rec.get("confs", {}), work)

    timed = [it for it in rec["iterations"] if not it.get("traced")]
    ops = [op for it in timed for op in it["ops"]]
    # Output checks, untimed, after the timed loop.
    check_dir = os.path.join(work, "check")
    if "queries" in spec:
        bad = checks.check_queries(data, check_dir, rec.get("oracle", {}))
    elif wl == "models_full":
        bad = checks.check_full(data, project_files, check_dir)
    else:
        k = (rec["iterations"][-1]["index"]) % spec["deltas"]
        edited = dict(project_files)
        edited.update(edits[k])
        bad = checks.check_incremental(data, cfg["delta_dirs"][k], project_files, edited,
                                       check_dir, rec["iterations"][-1].get("ran", []))
    for name, why in sorted(bad.items()):
        log(f"check failed: {name}: {why}")
    failed = sum(1 for op in ops if not op.get("ok") or op["name"] in bad)
    if "run_set" in bad:
        failed += 1
    attempted = max(1, len(ops))
    correct = failed == 0 and not rec.get("errors")

    walls = [it["wall_s"] for it in timed]
    op_s = [op["s"] for op in ops if op.get("ok")]
    tail_v, tail_pct, tail_n = stats.tail(op_s)
    run_s = stats.median(walls)
    setup_s = rec["ready_epoch_ms"] / 1000.0 - t_launch
    record = {"stamp": stamp, "setup_s": setup_s, "iterations": len(timed),
              "run_s_quartiles": stats.quartiles(walls), "walls": walls,
              "op_quartiles": stats.quartiles(op_s),
              "op_tail": {"percentile": tail_pct, "samples": tail_n},
              "ops": [[op["name"], op["s"]] for op in ops],
              "failed_ratio": failed / attempted, "input_rows": input_rows,
              "checks_failed": bad, "errors": rec.get("errors", [])}
    if args.trace:
        metrics = layers.per_layer(rec, wl, cpus, HEAVY if wl == "pipelines_heavy" else [])
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "run_s": (run_s, "s"),
            "op_p50_s": (stats.median(op_s), "s"),
            "op_tail_s": (tail_v, "s"),
            "rows_per_s": (input_rows / run_s if run_s else 0.0, "rows/s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
    log("record " + json.dumps(record))
    return {"correct": bool(correct), "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def changed_confs(confs, work):
    """Session confs that differ from Spark's defaults, leaving out the
    ones that only name this run's work directory."""
    skip = ("spark.app.", "spark.driver.", "spark.executor.id", "spark.master",
            "spark.sql.warehouse.dir", "spark.local.dir", "spark.submit.")
    return {k: v for k, v in confs.items()
            if not k.startswith(skip) and work not in v}


if __name__ == "__main__":
    main()
