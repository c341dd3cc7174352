"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload federated-sql --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from source on first use
(`build.py`), generates the input tables (`datagen.py`), runs the driver
program in one local JVM with `local[<cores>]`, checks every operation's
result against the pinned goldens (`goldens.json`), and prints one JSON
object as the last line of standard output. With `--trace 0` it holds the
end-to-end metrics; with `--trace 1` the per-layer metrics of a traced
run, whose per-operation table is written to
`perfbench/.work/trace-<workload>.json`.

The benchmark reads and writes only under its checkout. It exits
non-zero, naming the cause, when the build fails, an operation is
skipped, a warm pass fails, a metric is missing or a leak is found.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("federated-sql", "llm-pipeline")
SF = 0.02
DATA_SEED = 42
HEAP = "3g"
TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
    "throughput_ops_per_s": "1/s", "peak_rss_mb": "MB",
    "write_latency_p50_s": "s", "read_latency_p50_s": "s", "store_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s", "session.warm_s": "s",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.exchanges": "count", "plans.aqe_updates": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.driver_gap_s": "s", "scheduler.task_wait_s": "s",
    "scheduler.failed_tasks": "count", "scheduler.max_task_share": "ratio",
    "scheduler.slot_use": "ratio",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.deserialize_s": "s", "executor.peak_mem_bytes": "bytes",
    "codegen.compiles": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.write_s": "s", "spill.bytes": "bytes",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "sources.input_bytes": "bytes", "sources.input_rows": "count",
    "sources.rows_per_output_row": "ratio",
    "sources.output_bytes": "bytes", "sources.output_rows": "count",
    "sources.files_written": "count", "sources.commit_tail_s": "s",
    "sources.store_bytes": "bytes",
    "face.post_s": "s", "face.drain_s": "s", "face.pages": "count",
    "face.wire_bytes": "bytes", "face.analysis_ms": "ms", "face.planning_ms": "ms",
    "face.queued_ms": "ms",
    "jvm.gc_s": "s",
    "trace.overhead_frac": "ratio", "trace.unreconciled_ops": "count",
    "failed_frac": "ratio",
}
JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def ensure_data():
    import datagen
    d = os.path.join(build.WORK, f"data-sf{SF}-seed{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, SF, DATA_SEED)
        open(os.path.join(d, "_done"), "w").close()
    return d


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def run_driver(workload, mode, seed, seconds, trace):
    """Run the driver JVM once; return its result document (traced runs
    leave their spans beside it, in `result.json.spans`)."""
    classpath = build.ensure_built()
    data = ensure_data()
    work = fresh_dir(os.path.join(build.WORK, f"run-{workload}"))
    for sub in ("lake", "index", "spool", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    out = os.path.join(work, "result.json")
    log = os.path.join(build.WORK, f"driver-{workload}.log")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", *JAVA_OPENS,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dderby.stream.error.file=" + f"{work}/tmp/derby.log",
            "-cp", ":".join(classpath), "perfbench.Main",
            "--workload", workload, "--mode", mode, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--data", data, "--work", work, "--out", out,
            "--goldens", os.path.join(work, "goldens.json") if mode == "pin"
            else os.path.join(HERE, "goldens.json")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=lf, cwd=work, env=env)
        try:
            rc = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"driver exceeded {TIMEOUT_S} s (log: {log})")
    if rc != 0:
        tail = open(log).read().splitlines()
        named = [l for l in tail if l.startswith("perfbench:")]
        raise BenchError((named[-1] if named else f"driver exited {rc}") + f" (log: {log})")
    res = json.load(open(out))
    res["work"] = work
    return res


def by_op(ops, span):
    """Seconds of `span(op)` (milliseconds) for each completed operation,
    grouped by operation name."""
    out = {}
    for o in ops:
        if o["ok"]:
            out.setdefault(o["name"], []).append(span(o) / 1e3)
    return out


def end_to_end(res):
    ops = res["ops"]
    lat = by_op(ops, lambda o: o["t1"] - o["t0"])
    if not lat:
        raise BenchError("no operation completed")
    pooled = [x for xs in lat.values() for x in xs]
    window = (res["passes"][-1]["t1"] - res["passes"][0]["t0"]) / 1e3
    # write / read: the building call and the drain of the operations that
    # write (DDL and DML, then the read after the writes); a workload
    # without writing operations reports its statements' POST (planned and
    # run to the spool) and page drain
    writers = [o for o in ops if o.get("writes")]
    if writers:
        builds = by_op(writers, lambda o: o["build"][1] - o["build"][0])
        reads = by_op(writers, lambda o: o["read"][1] - o["read"][0])
    else:
        face = [o for o in ops if o.get("post")]
        builds = by_op(face, lambda o: o["post"][1] - o["post"][0])
        reads = by_op(face, lambda o: sum(p[1] - p[0] for p in o["pages"]))
    if not builds or not reads:
        raise BenchError("no write or read span to measure")
    tail = metrics.tail_percentile(pooled)
    summary = {
        "samples": len(pooled),
        "samples_per_op": {k: len(v) for k, v in sorted(lat.items())},
        "pooled_p50_s": metrics.percentile(pooled, 50),
        "pooled_p90_s": metrics.percentile(pooled, 90),
        "pooled_p90_beyond": metrics.beyond(len(pooled), 90.0),
        "tail": None if tail is None else {"p": tail[0], "value_s": tail[1], "beyond": tail[2]},
        "window_s": window,
        "store_mb_by_pass": [p["store_bytes"] / 2**20 for p in res["passes"]],
    }
    m = {
        "setup_s": res["setup"]["setup_s"],
        "latency_p50_s": metrics.op_percentile(lat, 50),
        "latency_p90_s": metrics.op_tail(lat, 90),
        "throughput_ops_per_s": len(pooled) / window,
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
        "write_latency_p50_s": metrics.op_percentile(builds, 50),
        "read_latency_p50_s": metrics.op_percentile(reads, 50),
        "store_mb": statistics.median(p["store_bytes"] for p in res["passes"]) / 2**20,
    }
    return m, summary


def per_layer(res, spans, goldens, workload):
    ops = res["ops"]
    cores = res["cores"]
    traced = [o for o in ops if o["traced"] and o["ok"]]
    if not traced:
        raise BenchError("traced run has no traced operation")
    face_plans = {x["name"]: x["exchanges"] for x in spans if x["k"] == "face_plan"}
    spans = [x for x in spans if x["k"] != "face_plan"]
    for o in traced:
        if o["name"] in face_plans:
            o["face_plan_exchanges"] = face_plans[o["name"]]
    by_op = metrics.spans_by_op(traced, spans)
    rows = [metrics.op_layers(o, by_op[i], cores) for i, o in enumerate(traced)]
    n = len(rows)

    def mean(k):
        return sum(r[k] for r in rows) / n

    m = {k: mean(k) for k in PER_LAYER if rows and k in rows[0]}
    m["scheduler.max_task_share"] = metrics.median([r["scheduler.max_task_share"] for r in rows])
    m["executor.peak_mem_bytes"] = max(r["executor.peak_mem_bytes"] for r in rows)
    m["scheduler.failed_tasks"] = sum(r["scheduler.failed_tasks"] for r in rows)
    wall = sum(r["wall_s"] for r in rows)
    m["scheduler.slot_use"] = sum(r["executor.run_s"] for r in rows) / (wall * cores)
    for ph in ("analysis", "optimization", "planning"):
        m[f"plans.{ph}_s"] = sum(r["layers_s"].get(f"plans.{ph}", 0.0) for r in rows) / n
    out_rows = sum(goldens[r["name"]]["rows"] for r in rows)
    m["sources.rows_per_output_row"] = (sum(r["sources.input_rows"] for r in rows)
                                        / max(out_rows, 1))
    m["sources.store_bytes"] = statistics.median(p["store_bytes"] for p in res["passes"])
    m["session.build_s"] = res["setup"]["build_s"]
    m["session.warm_s"] = res["setup"]["warm_s"]
    # tracing overhead: traced vs untraced latency of the same operation
    ratios = []
    for name in {o["name"] for o in traced}:
        t = [o["t1"] - o["t0"] for o in ops if o["name"] == name and o["traced"]]
        u = [o["t1"] - o["t0"] for o in ops if o["name"] == name and not o["traced"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    m["trace.overhead_frac"] = statistics.median(ratios) - 1.0 if ratios else 0.0
    unreconciled = sorted({r["name"] for r in rows if not r["reconciled"]})
    m["trace.unreconciled_ops"] = len(unreconciled)
    m["failed_frac"] = sum(1 for o in ops if not o["ok"]) / len(ops)
    table = {"workload": workload, "cores": cores, "unreconciled": unreconciled, "ops": rows}
    with open(os.path.join(build.WORK, f"trace-{workload}.json"), "w") as fh:
        json.dump(table, fh, indent=1)
    return m, {"unreconciled": unreconciled, "traced_ops": n}


def check_leaks(res):
    leaks = res["leaks"]
    bad = {k: v for k, v in leaks.items() if v > 0}
    spool = os.path.join(res["work"], "spool")
    left = [n for n in os.listdir(spool)] if os.path.isdir(spool) else []
    if left:
        bad["spool_entries"] = len(left)
    if bad:
        raise BenchError("leak after the run: " + ", ".join(f"{k}={v}" for k, v in bad.items()))


def pin():
    """Re-record goldens.json from one warm pass of every workload."""
    goldens = {}
    for w in WORKLOADS:
        res = run_driver(w, "pin", 0, 0, False)
        goldens.update(json.load(open(os.path.join(res["work"], "goldens.json"))))
    with open(os.path.join(HERE, "goldens.json"), "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main(argv):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="re-record the goldens instead of running a workload")
    a = ap.parse_args(argv)
    if a.pin:
        pin()
        return 0
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    try:
        goldens = json.load(open(os.path.join(HERE, "goldens.json")))
        res = run_driver(a.workload, "run", a.seed, a.seconds, a.trace == 1)
        check_leaks(res)
        failed = [o for o in res["ops"] if not o["ok"]]
        for o in failed[:5]:
            print(f"failed: {o['name']}: {o['error']}")
        if a.trace:
            with open(os.path.join(res["work"], "result.json.spans")) as fh:
                spans = [json.loads(l) for l in fh if l.strip()]
            values, info = per_layer(res, spans, goldens, a.workload)
            units = PER_LAYER
        else:
            values, info = end_to_end(res)
            units = END_TO_END
        missing = [k for k in units if k not in values]
        if missing:
            raise BenchError("metric missing from the output: " + ", ".join(missing))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    for k in units:
        print(f"{a.workload} {k} = {values[k]:.6g} {units[k]}")
    print(f"{a.workload} info {json.dumps(info)}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(res["ops"]),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
