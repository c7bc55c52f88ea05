"""Metric names and the rules that turn a raw run record into metrics."""
import math
import re
import statistics

import workloads

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# the least number of samples a reported percentile must have above it
TAIL_SAMPLES = 10

LAKE_WRITES = ["insert", "insert_inlined", "update", "merge", "delete",
               "delete_mor", "compact", "mv_refresh", "replicate"]
LAKE_READS = ["open_cold", "read_at", "read_asof", "read_range",
              "read_point", "metadata", "table_changes"]


def quantile(xs, p):
    """Linear-interpolated p-quantile of xs."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = p * (len(s) - 1)
    i = int(pos)
    j = min(i + 1, len(s) - 1)
    return s[i] + (s[j] - s[i]) * (pos - i)


def tail_supported(n, p):
    """A p-quantile of n samples is reported only with TAIL_SAMPLES above it."""
    return n - int(p * n + 0.999999) >= TAIL_SAMPLES


def per_layer_names(universe):
    """Every per-layer metric with its unit: all that some workload reaches.

    `universe` maps query name -> defining object (ops.Relational, ...).
    """
    names = [
        ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
        ("catalyst.planning_ms", "ms"), ("ops.build_ms", "ms"),
        ("spark.jobs", "count"), ("spark.stages", "count"),
        ("spark.tasks", "count"), ("spark.task_s", "s"),
        ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
        ("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
        ("spark.sched_gap_s", "s"), ("Tables.warm_s", "s"),
        ("ops.Cached.release_ms", "ms"), ("jvm.peak_rss_mb", "MB"),
        ("jvm.heap_live_mb", "MB"), ("jvm.process_cpu_s", "s"),
    ]
    names += [(f"lake.{k}_ms", "ms") for k in LAKE_WRITES + LAKE_READS]
    names += [("lake.jobs_per_commit", "count"),
              ("lake.driver_ms_per_commit", "ms"),
              ("lake.occ_retries", "count"), ("lake.files_written", "count"),
              ("lake.bytes_written", "bytes"), ("lake.manifest_bytes", "bytes"),
              ("lake.live_files", "count"), ("lake.root_files", "count"),
              ("lake.bytes_per_row", "bytes"), ("lake.prune_ratio", "ratio")]
    names += [("stream.batches", "count"), ("stream.input_rows", "count"),
              ("stream.query_planning_ms", "ms"), ("stream.add_batch_ms", "ms"),
              ("stream.wal_commit_ms", "ms"), ("stream.state_commit_ms", "ms"),
              ("stream.state_rows", "count"), ("stream.state_mb", "MB")]
    fams = sorted({family_metric(n, universe[n])
                   for n in workloads.OLAP_QUERIES})
    names += [(f, "s") for f in fams]
    names += [("trace.overhead_ms", "ms"), ("trace.ops", "count")]
    return names


def family_metric(name, obj):
    """ops.Relational.q_s; every st* drain is timed on its own."""
    if name.startswith("st"):
        return f"streaming.EventStream.{name}_s"
    return f"{obj}.{workloads.family(name)}_s"


END_TO_END = [("setup_s", "s"), ("op_cpu_ms", "ms")]

# The host-speed kernel's median CPU time on the idle 4-core host the
# benchmark was built on. CPU times are scaled by REF_KERNEL_NS / the
# kernel's median in the same phase of the run, so a host slowed by
# co-tenants does not read as more work.
REF_KERNEL_NS = 3.8e6


def geomean_of_medians(ops, key):
    """Geometric mean over operation names of each name's median `key`:
    every name weighs the same however often the run met it."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(key(o))
    meds = [max(statistics.median(v), 1e-3) for v in by.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def raw_cpu(rec):
    """Set-up CPU seconds and op CPU ms as measured, before scaling."""
    return (rec["setup_cpu_ms"] / 1e3,
            geomean_of_medians(rec["ops"], lambda o: o["extra"]["cpu_ms"]))


def end_to_end(rec):
    setup, op = raw_cpu(rec)
    return {
        # CPU time from JVM start to the first timed op (the session, the
        # workload set-up and the untimed warm-up) of the same threads
        # op_cpu_ms counts: wall time here would mostly measure the host
        "setup_s": setup * REF_KERNEL_NS / rec["kernel_setup_ns"],
        "op_cpu_ms": op * REF_KERNEL_NS / rec["kernel_timed_ns"],
    }


def per_layer(rec, universe, cores, rows_ingested):
    ops = rec["ops"]
    traced = [o for o in ops if o["traced"]]
    tot = {}
    for o in traced:
        for k, v in o["extra"].items():
            tot[k] = tot.get(k, 0.0) + v
    nt = max(len(traced), 1)
    m = {name: 0.0 for name, _ in per_layer_names(universe)}
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = tot.get(f"catalyst.{k}_us", 0) / 1e3 / nt
    m["ops.build_ms"] = tot.get("build_ms", 0) / nt
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = tot.get(f"spark.{k}", 0)
    m["spark.task_s"] = tot.get("spark.task_ms", 0) / 1e3
    m["spark.gc_s"] = tot.get("spark.gc_ms", 0) / 1e3
    for k in ("shuffle_write", "shuffle_read", "spill"):
        m[f"spark.{k}_mb"] = tot.get(f"spark.{k}_bytes", 0) / 2**20
    m["spark.sched_gap_s"] = sum(
        o["ms"] / 1e3 - o["extra"].get("spark.task_ms", 0) / 1e3 / cores
        for o in traced)
    m["Tables.warm_s"] = rec["layers"].get("Tables.warm_ms", 0) / 1e3
    m["ops.Cached.release_ms"] = sum(o["extra"].get("release_ms", 0) for o in ops)
    for k in LAKE_WRITES + LAKE_READS:
        lat = [o["ms"] for o in ops if o["kind"] == k]
        m[f"lake.{k}_ms"] = quantile(lat, 0.5)
    writes = [o for o in traced if o["kind"] in LAKE_WRITES]
    if writes:
        m["lake.jobs_per_commit"] = sum(
            o["extra"].get("spark.jobs", 0) for o in writes) / len(writes)
        m["lake.driver_ms_per_commit"] = sum(
            o["ms"] - o["extra"].get("spark.task_ms", 0) / cores
            for o in writes) / len(writes)
    for k in ("occ_retries", "files_written", "bytes_written",
              "manifest_bytes", "live_files", "root_files"):
        m[f"lake.{k}"] = rec["layers"].get(f"lake.{k}", 0)
    if rows_ingested:
        m["lake.bytes_per_row"] = rec["layers"].get("lake.root_bytes", 0) / rows_ingested
    if rec["prunes"]:
        m["lake.prune_ratio"] = statistics.mean(
            s / l for s, l in rec["prunes"] if l)
    for k in ("batches", "input_rows", "state_rows"):
        m[f"stream.{k}"] = tot.get(f"stream.{k}", 0)
    for k in ("query_planning", "add_batch", "wal_commit", "state_commit"):
        m[f"stream.{k}_ms"] = tot.get(f"stream.{k}_ms", 0)
    m["stream.state_mb"] = tot.get("stream.state_bytes", 0) / 2**20
    for o in ops:
        if o["kind"] == "query":
            f = family_metric(o["name"], universe[o["name"]])
            m[f] += o["ms"] / 1e3
    m["jvm.peak_rss_mb"] = rec["peak_rss_kb"] / 1024.0
    m["jvm.heap_live_mb"] = rec["heap_live_mb"]
    m["jvm.process_cpu_s"] = rec["cpu_s"]
    m["trace.overhead_ms"] = trace_overhead(ops)
    m["trace.ops"] = len(traced)
    return m


def trace_overhead(ops):
    """Mean traced minus mean untraced latency, paired by operation name."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], ([], []))[0 if o["traced"] else 1].append(o["ms"])
    diffs = [statistics.mean(t) - statistics.mean(u)
             for t, u in by.values() if t and u]
    return statistics.mean(diffs) if diffs else 0.0
