"""Arithmetic of the benchmark: percentiles, interval unions, span self
times, driver gaps and the per-layer roll-up of a traced run.

Times in spans are milliseconds on one clock; results are in seconds
unless a name says otherwise.
"""
import math
import statistics

PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


# ---------------------------------------------------------------- samples

def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """Samples strictly after the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def op_percentile(samples_by_op, p):
    """Geometric mean over operations of each operation's nearest-rank
    p-th percentile, so every operation weighs the same and a change to
    any one of them moves the figure. `samples_by_op` maps an operation
    to its (positive) samples."""
    if not samples_by_op:
        raise ValueError("no samples")
    logs = [math.log(percentile(xs, p)) for xs in samples_by_op.values()]
    return math.exp(sum(logs) / len(logs))


def op_tail(samples_by_op, p):
    """Tail latency over operations: the typical operation's latency
    (`op_percentile` at 50) times the nearest-rank p-th percentile of
    every sample's ratio to its own operation's median. The ratios of all
    operations are pooled, so the tail rests on every sample of the run
    rather than on each operation's few slowest ones."""
    ratios = []
    for xs in samples_by_op.values():
        m = statistics.median(xs)
        ratios += [x / m for x in xs]
    return op_percentile(samples_by_op, 50) * percentile(ratios, p)


def tail_percentile(samples, min_beyond=10):
    """The highest ladder percentile with at least `min_beyond` samples
    beyond it, as (p, value, samples beyond); None when even the median
    has fewer."""
    best = None
    for p in PERCENTILE_LADDER:
        if beyond(len(samples), p) >= min_beyond:
            best = (p, percentile(samples, p), beyond(len(samples), p))
    return best


# -------------------------------------------------------------- intervals

def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, lo, hi):
    return (max(interval[0], lo), min(interval[1], hi))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length([clip(c, s, e) for c in children])


def driver_gap(wall, jobs):
    """Wall time of `wall` during which no job interval is running."""
    return self_time(wall, jobs)


# ------------------------------------------------------------ layer roll-up

def _iv(x):
    return (x["t0"], x["t1"])


def _inside(t, iv, slack=2.0):
    return iv[0] - slack <= t <= iv[1] + slack


def op_layers(op, spans, cores):
    """Per-layer figures of one traced operation. `spans` are the Spark
    spans (phases, plans, AQE updates, jobs, stages) whose start lies in
    the operation's window."""
    wall = _iv(op)
    bench = []                                   # benchmark-side child spans
    if op.get("build"):
        bench.append(("build", tuple(op["build"][:2])))
    if op.get("read"):
        bench.append(("read", tuple(op["read"][:2])))
    if op.get("post"):
        bench.append(("post", tuple(op["post"][:2])))
    for pg in op.get("pages") or []:
        bench.append(("page", tuple(pg[:2])))
    phases = [x for x in spans if x["k"] == "phase"]
    jobs = [x for x in spans if x["k"] == "job"]
    stages = [x for x in spans if x["k"] == "stage"]

    def parent_of(t):
        for kind, iv in bench:
            if _inside(t, iv, 0.0):
                return kind, iv
        return "op", wall

    # benchmark spans' children: the phases and jobs that start inside them
    kids = {iv: [] for _, iv in bench}
    kids[wall] = []
    for x in phases + jobs:
        kids[parent_of(x["t0"])[1]].append(_iv(x))
    layer = {"client": self_time(wall, [iv for _, iv in bench] + kids[wall])}
    for kind, iv in bench:
        layer[kind] = layer.get(kind, 0.0) + self_time(iv, kids[iv])
    for x in phases:
        name = "plans." + x["name"]
        layer[name] = layer.get(name, 0.0) + (x["t1"] - x["t0"])
    by_job = {}
    for st in stages:
        by_job.setdefault(st["job"], []).append(_iv(st))
    layer["scheduler"] = sum(self_time(_iv(j), by_job.get(j["id"], [])) for j in jobs)
    layer["executor"] = sum(union_length(v) for k, v in by_job.items()
                            if any(j["id"] == k for j in jobs))
    total = sum(layer.values())
    duration = wall[1] - wall[0]
    write_jobs = [j for j in jobs
                  if any(st["job"] == j["id"] and st["out_rows"] > 0 for st in stages)]
    starts = sorted(j["t0"] for j in jobs)
    tail = 0.0
    for j in write_jobs:
        nxt = [t for t in starts if t >= j["t1"]]
        tail += max(0.0, min(nxt[0] if nxt else wall[1], wall[1]) - j["t1"])
    longest = max(stages, key=lambda s: s["t1"] - s["t0"], default=None)
    run_ms = sum(s["run_ms"] for s in stages)
    build_iv = dict(bench).get("build")
    face = op.get("face") or {}
    if op.get("post") and not phases:
        # the face plans without a Dataset action, so no phases reach the
        # listener: use the face's own analysis / planning split
        layer["plans.analysis"] = face.get("analysis_ms", 0)
        layer["plans.planning"] = face.get("planning_ms", 0)
        layer["post"] -= layer["plans.analysis"] + layer["plans.planning"]
    return {
        "name": op["name"],
        "wall_s": duration / 1e3,
        "layers_s": {k: v / 1e3 for k, v in layer.items()},
        "reconciled": abs(total - duration) <= 0.1 * duration,
        "plans.exchanges": (sum(x["exchanges"] for x in spans if x["k"] == "plan")
                            or op.get("face_plan_exchanges", 0)),
        "plans.aqe_updates": sum(1 for x in spans if x["k"] == "aqe"),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": sum(s["tasks"] for s in stages),
        "scheduler.driver_gap_s": driver_gap(wall, [_iv(j) for j in jobs]) / 1e3,
        "scheduler.task_wait_s": sum(s["task_wait_ms"] for s in stages) / 1e3,
        "scheduler.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "scheduler.max_task_share": (longest["max_task_ms"] / longest["run_ms"]
                                     if longest and longest["run_ms"] > 0 else 1.0),
        "scheduler.slot_use": run_ms / 1e3 / (duration / 1e3 * cores) if duration > 0 else 0.0,
        "executor.run_s": run_ms / 1e3,
        "executor.cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "executor.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "executor.deserialize_s": sum(s["deser_ms"] for s in stages) / 1e3,
        "executor.peak_mem_bytes": max([s["peak_mem"] for s in stages], default=0),
        "codegen.compiles": op.get("codegen", 0),
        "shuffle.write_bytes": sum(s["shuffle_write"] for s in stages),
        "shuffle.read_bytes": sum(s["shuffle_read"] for s in stages),
        "shuffle.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3,
        "shuffle.write_s": sum(s["shuffle_write_ns"] for s in stages) / 1e9,
        "spill.bytes": sum(s["spill"] for s in stages),
        "operators.build_s": (build_iv[1] - build_iv[0]) / 1e3 if build_iv else 0.0,
        "operators.build_jobs": (sum(1 for j in jobs if _inside(j["t0"], build_iv, 0.0))
                                 if build_iv else 0),
        "sources.input_bytes": sum(s["in_bytes"] for s in stages),
        "sources.input_rows": sum(s["in_rows"] for s in stages),
        "sources.output_bytes": sum(s["out_bytes"] for s in stages),
        "sources.output_rows": sum(s["out_rows"] for s in stages),
        "sources.files_written": sum(s["write_tasks"] for s in stages),
        "sources.commit_tail_s": tail / 1e3,
        "face.post_s": (op["post"][1] - op["post"][0]) / 1e3 if op.get("post") else 0.0,
        "face.drain_s": sum(p[1] - p[0] for p in op.get("pages") or []) / 1e3,
        "face.pages": len(op.get("pages") or []),
        "face.wire_bytes": (sum(p[2] for p in op.get("pages") or [])
                            + (op["post"][2] if op.get("post") else 0)),
        "face.analysis_ms": face.get("analysis_ms", 0),
        "face.planning_ms": face.get("planning_ms", 0),
        "face.queued_ms": face.get("queued_ms", 0),
        "jvm.gc_s": op.get("gc_ms", 0) / 1e3,
    }


def spans_by_op(ops, spans):
    """Assign each Spark span to the operation whose window holds its
    start; spans outside every window are dropped."""
    windows = sorted((o["t0"], o["t1"], i) for i, o in enumerate(ops))
    out = {i: [] for i in range(len(ops))}
    for x in spans:
        for t0, t1, i in windows:
            if _inside(x["t0"], (t0, t1)):
                out[i].append(x)
                break
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0
