"""Seeded inputs for each workload, and the model that checks lake results.

Everything here is a pure function of the seed, so the same seed gives
the same op stream (tests/test_bench.py pins it).
"""
import random
import re

# lake_mixed sizes
DIM_ROWS = 2000
SENSORS = 16
BLOCKS = 20  # more query cycles and lake blocks than any run takes


def family(name):
    """Query family: the letters before the first digit (q, dd, st, ...)."""
    return re.match(r"[a-z]+", name).group(0)


# olap_batch runs one query of each family of SparkEntry.queries (the
# `l*` lake scenarios aside), so that every family weighs the same and
# each family's per-layer time is measured. The member is the family's
# cheapest: the one with the lowest warm latency when every query ran
# three times in one JVM over the sf0.01 fixture on a 4-core host
# (perfbench/BENCH.md has the profile). Its cost is mostly what every
# query of the family pays (planning, scheduling, the family's defining
# operator), and the set then fits a run: with each family's median
# member a cold run outgrew the run budget. The list is fixed, so adding
# a query to the engine does not change the mix.
OLAP_QUERIES = [
    "q6_forecast_revenue", "a1_count_global", "f27_bitwise_funcs",
    "j3_semi_join", "o4_limit", "p5_filter_like", "s4_range_source",
    "t12_ohlc_resample", "u1_union_all", "w4_rank_funcs",    # Relational
    "dd1_exact_dedup", "x9_stratified_sample", "ss1_cosine_topk",
    "mm1_binary_meta", "t10_funnel",                          # Pipeline
    "mm3_frame_profile", "ss3_ann_ivf", "st2_stream_sessions",  # LakeScenarios
]


def olap_input(seed):
    rnd = random.Random(seed)
    order = []
    for _ in range(BLOCKS):
        cyc = list(OLAP_QUERIES)
        rnd.shuffle(cyc)
        order += cyc
    return {"queries": order, "cycle": len(OLAP_QUERIES)}


class LakeModel:
    """What the lake tables must hold after each write of the op stream."""

    def __init__(self):
        self.iot = [0, 0]       # rows, sum(reading) over every append
        self.iot_files = [0, 0]  # the same over file appends (replicated)
        self.silver = [0, 0]
        self.mv = [0, 0]
        self.dim = {i: i % 97 for i in range(DIM_ROWS)}
        self.history = [self.dim_state()]  # dim (count, sum) after write w

    def dim_state(self):
        return [len(self.dim), sum(self.dim.values())]

    def apply(self, op):
        k = op["op"]
        if k in ("insert", "insert_inlined"):
            n, s = len(op["rows"]), sum(r[2] for r in op["rows"])
            self.iot = [self.iot[0] + n, self.iot[1] + s]
            if k == "insert":
                self.iot_files = [self.iot_files[0] + n, self.iot_files[1] + s]
        elif k == "update":
            for i in self.dim:
                if i % op["mod"] == op["rem"]:
                    self.dim[i] += op["delta"]
        elif k == "merge":
            for i, q in op["rows"]:
                self.dim[i] = q
        elif k in ("delete", "delete_mor"):
            for i in range(op["lo"], op["hi"]):
                self.dim.pop(i, None)
        elif k == "replicate":
            self.silver = list(self.iot_files)
        elif k == "mv_refresh":
            self.mv = list(self.iot)
        elif k != "compact":
            return False
        self.history.append(self.dim_state())
        return True

    def state(self):
        return {"iot": self.iot, "silver": self.silver,
                "dim": self.dim_state(), "iot_mv": self.mv}


# which table each write op changes, to charge a wrong final state to
WRITES = {"insert": "iot", "insert_inlined": "iot", "replicate": "silver",
          "mv_refresh": "iot_mv", "update": "dim", "merge": "dim",
          "delete": "dim", "delete_mor": "dim", "compact": "dim"}


# One lake block, in a fixed order: two rounds of appends with the
# dimension table's DML between them, then the periodic maintenance
# (replicate, MV refresh, compaction), with reads between the writes. The
# order is fixed so that each op meets the same table state (files since
# the last compaction, writes since the last replication) in every run;
# the seed draws the rows, keys, versions and deltas. The time-travel
# reads, whose cost depends on the version drawn, come three times.
BLOCK = ["insert", "read_at", "insert_inlined", "merge", "read_point",
         "read_asof", "insert", "insert_inlined", "read_range", "open_cold",
         "update", "table_changes", "read_at", "delete", "read_asof",
         "delete_mor", "open_cold", "replicate", "metadata", "read_at",
         "mv_refresh", "read_asof", "compact", "open_cold"]


def lake_input(seed):
    """Setup writes plus a long timed stream of writes and checked reads.

    The stream is built of BLOCKs: every op type, in a fixed order. One untimed block warms the JVM; the timed run covers
    whole blocks, so every run meets the same mix of op types whatever
    the seed.
    """
    rnd = random.Random(seed)
    model = LakeModel()
    ts = [0]

    def rows(lo, hi):
        out = []
        for _ in range(rnd.randint(lo, hi)):
            ts[0] += 1
            out.append([rnd.randrange(SENSORS), ts[0], rnd.randrange(1000)])
        return out

    def key_range(width):
        lo = rnd.randrange(DIM_ROWS + 200)
        return {"lo": lo, "hi": lo + width}

    def live_range(width):
        # starts at a live key, so every delete removes rows
        lo = rnd.choice(sorted(model.dim))
        return {"lo": lo, "hi": lo + width}

    def write(kind):
        if kind == "insert":
            return {"op": kind, "rows": rows(1, 10)}
        if kind == "insert_inlined":
            return {"op": kind, "rows": rows(1, 3)}
        if kind == "update":
            return {"op": kind, "mod": 50, "rem": rnd.randrange(50),
                    "delta": rnd.randint(1, 9)}
        if kind == "merge":
            ids = rnd.sample(range(DIM_ROWS + 200), 20)
            return {"op": kind, "rows": [[i, rnd.randrange(1000)] for i in ids]}
        if kind in ("delete", "delete_mor"):
            return dict(op=kind, **live_range(5))
        return {"op": kind}

    def read(kind):
        w = len(model.history) - 1
        if kind in ("read_at", "read_asof", "open_cold"):
            v = rnd.randint(0, w)
            return {"op": kind, "w": v, "expect": model.history[v]}
        if kind == "read_range":
            r = key_range(rnd.randint(20, 200))
            ids = [i for i in model.dim if r["lo"] <= i <= r["hi"]]
            return dict(op=kind, expect=[len(ids), sum(model.dim[i] for i in ids)], **r)
        if kind == "read_point":
            i = rnd.randrange(DIM_ROWS + 200)
            return {"op": kind, "id": i,
                    "expect": [1, model.dim[i]] if i in model.dim else [0, 0]}
        if kind == "metadata":
            return {"op": kind, "expect": [len(model.dim), 1]}
        if kind == "table_changes":
            # the change feed from just before the latest update to now:
            # every window holds one CoW update, whatever the seed
            w0 = last_update[0]
            a, b = model.history[w0], model.history[w]
            return {"op": kind, "w0": w0, "w1": w,
                    "expect": [b[0] - a[0], b[1] - a[1]]}
        raise ValueError(kind)

    last_update = [0]

    def emit(kind):
        if kind in WRITES:
            if kind == "update":
                last_update[0] = len(model.history) - 1
            op = write(kind)
            model.apply(op)
            return op
        return read(kind)

    def block():
        return [emit(k) for k in BLOCK]

    setup = [emit(k) for k in ("insert", "read_at")]
    warmup = block()
    ops = [op for _ in range(BLOCKS) for op in block()]
    return {"dim_rows": DIM_ROWS, "setup_ops": setup, "warmup_ops": warmup,
            "ops": ops, "cycle": len(warmup)}


def lake_failures(inp, record):
    """Indices of timed ops whose write left a table in a wrong state.

    The model is replayed over the setup and the ops the run completed;
    every write to a table whose final count or sum differs is failed.
    """
    done = record["state"]["ops_done"][0]
    model = LakeModel()
    for op in inp["setup_ops"] + inp["warmup_ops"] + inp["ops"][:done]:
        model.apply(op)
    want = model.state()
    bad = {t for t, v in want.items() if record["state"].get(t) != v}
    return {i for i, op in enumerate(inp["ops"][:done])
            if WRITES.get(op["op"]) in bad}, bad
