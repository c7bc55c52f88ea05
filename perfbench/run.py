#!/usr/bin/env python3
"""Benchmark of record for the graft Spark engine.

    python3 perfbench/run.py --workload <olap_batch|lake_mixed> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine
(src/main/scala) and the harness (perfbench/harness) with the Scala
compiler that ships in the Spark distribution ($SPARK_HOME/jars, the jars
build.sbt compiles against) into perfbench/build/; later runs reuse that build while
the sources are unchanged. Each run is one JVM on a `local[4]` session.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The run record with host load, failures, per-op-type detail
and spans is written to perfbench/results/; its path goes to stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(HERE, "build")
RESULTS = os.path.join(HERE, "results")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "digests.json")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

CORES = 4          # pinned: the session is local[4] on any host
# A run measures a fixed amount of work sized from --seconds: whole query
# cycles or lake blocks, at about these seconds each on a 4-core host.
# Work, not a deadline, ends the run, so a slow host cannot change the mix.
OLAP_CYCLE_S = 10
LAKE_BLOCK_S = 10
HEAP = "3g"
JVM_TIMEOUT_S = 170
WORKLOADS = ("olap_batch", "lake_mixed")
# Spark on JDK 17 needs these outside spark-submit (as build.sbt sets them)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(srcs, out, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + ["@" + argfile], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compile failed: {out}")
    os.rename(tmp, out)


def build():
    """Compile engine and harness once per source state; return classpath."""
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not engine:
        fail(f"no engine sources under {ENGINE_SRC}: run from a full checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS}")
    e_id = sources_hash(engine)
    h_id = sources_hash(engine + harness)
    e_out = os.path.join(BUILD, "engine-" + e_id)
    h_out = os.path.join(BUILD, "harness-" + h_id)
    os.makedirs(BUILD, exist_ok=True)
    for d in os.listdir(BUILD):
        if os.path.join(BUILD, d) not in (e_out, h_out):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    if not os.path.isdir(e_out):
        scalac(engine, e_out, None)
    if not os.path.isdir(h_out):
        scalac(harness, h_out, e_out)
    return [h_out, e_out, os.path.join(SPARK_JARS, "*")], e_id


def host_load():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": load, "cpu_ticks": cpu}


def steal_share(before, after):
    d = [b - a for a, b in zip(before["cpu_ticks"], after["cpu_ticks"])]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)


def make_input(workload, seed, seconds, trace, work, expected):
    inp = {"workload": workload, "seed": seed, "seconds": seconds,
           "trace": trace, "cores": CORES, "work_dir": work,
           "data_dir": DATA}
    if workload == "olap_batch":
        inp.update(workloads.olap_input(seed))
        inp["expected"] = {n: q["digest"]
                           for n, q in expected["queries"].items()}
        inp["cycles"] = max(1, round(seconds / OLAP_CYCLE_S))
    else:
        inp.update(workloads.lake_input(seed))
        inp["cycles"] = max(1, round(seconds / LAKE_BLOCK_S))
    if trace:
        # every op must run both traced and untraced for the overhead figure
        inp["cycles"] = max(2, inp["cycles"])
    return inp


def run_jvm(classpath, inp, work, timeout):
    in_path = os.path.join(work, "input.json")
    rec_path = os.path.join(work, "record.json")
    log_path = os.path.join(work, "jvm.log")
    with open(in_path, "w") as f:
        json.dump(inp, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            in_path, rec_path])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM exited with {rc}")
    with open(rec_path) as f:
        return json.load(f)


def rows_ingested(inp, done):
    ops = inp["setup_ops"] + inp["warmup_ops"] + inp["ops"][:done]
    return inp["dim_rows"] + sum(len(o.get("rows", [])) for o in ops)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    classpath, source_id = build()
    expected = load_expected()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inp = make_input(a.workload, a.seed, a.seconds, a.trace, work, expected)
        h0 = host_load()
        budget = JVM_TIMEOUT_S - (time.time() - t_start)
        rec = run_jvm(classpath, inp, work, max(budget, 60))
        h1 = host_load()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = {i for i, o in enumerate(rec["ops"]) if not o["ok"]}
    bad_tables = set()
    if a.workload == "lake_mixed":
        wrong, bad_tables = workloads.lake_failures(inp, rec)
        failed |= wrong
    attempted = len(rec["ops"])
    if attempted == 0:
        fail("no operation completed")
    universe = {n: q["object"] for n, q in expected["queries"].items()}
    e2e = metrics.end_to_end(rec)
    lat = [o["ms"] for o in rec["ops"]]
    percentiles = {f"op_p{int(p * 100)}_ms": metrics.quantile(lat, p)
                   for p in (0.5, 0.75, 0.9, 0.95, 0.99)
                   if metrics.tail_supported(len(lat), p)}
    units = dict(metrics.END_TO_END)
    done = rec["state"].get("ops_done", [0])[0]
    ing = rows_ingested(inp, done) if a.workload == "lake_mixed" else 0
    if a.trace:
        vals = metrics.per_layer(rec, universe, CORES, ing)
        units = dict(metrics.per_layer_names(universe))
    else:
        vals = e2e
    out = {"correct": not failed, "attempted": attempted, "failed": len(failed),
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in vals.items()}}

    by_kind, cpu_by_kind = {}, {}
    for o in rec["ops"]:
        by_kind.setdefault(o["name"], []).append(o["ms"])
        cpu_by_kind.setdefault(o["name"], []).append(o["extra"]["cpu_ms"])
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "cores": CORES, "source_id": source_id,
        "host": {"before": h0["loadavg"], "after": h1["loadavg"],
                 "steal_share": steal_share(h0, h1)},
        "result": out, "end_to_end": e2e, "percentiles": percentiles,
        "op_geomean_ms": metrics.geomean_of_medians(rec["ops"], lambda o: o["ms"]),
        "warmup_ms": rec["warmup_ms"],
        "ops": attempted,
        "error_rate": len(failed) / attempted, "timed_s": rec["timed_s"],
        "ops_per_s": attempted / rec["timed_s"], "cpu_s": rec["cpu_s"],
        "peak_rss_mb": rec["peak_rss_kb"] / 1024, "heap_live_mb": rec["heap_live_mb"],
        "lake_files": rec["layers"].get("lake.root_files"),
        "storage_bytes_per_row": rec["layers"]["lake.root_bytes"] / ing if ing else None,
        "session_s": rec["session_s"], "setup_ms": rec["setup_ms"],
        "setup_wall_s": rec["session_s"] + (rec["setup_ms"] + rec["warmup_ms"]) / 1e3,
        "unscaled": dict(zip(("setup_s", "op_cpu_ms"), metrics.raw_cpu(rec))),
        "kernel_ns": {k: rec[f"kernel_{k}_ns"] for k in ("setup", "timed")},
        "kernel_n": {k: rec[f"kernel_{k}_n"] for k in ("setup", "timed")},
        "bad_tables": sorted(bad_tables),
        "failures": [{"op": rec["ops"][i]["name"], "err": rec["ops"][i]["err"]}
                     for i in sorted(failed)],
        "per_op_p50_ms": {k: statistics.median(v) for k, v in sorted(by_kind.items())},
        "per_op_cpu_ms": {k: statistics.median(v) for k, v in sorted(cpu_by_kind.items())},
        "per_op_n": {k: len(v) for k, v in sorted(by_kind.items())},
        "spans": rec["spans"],
    }
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(
        RESULTS, f"{a.workload}_seed{a.seed}_trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"perfbench: record {path}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
