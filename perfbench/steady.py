"""Steadiness check: run workloads on several seeds and report, for each
end-to-end metric, the median, the quartiles and the quartile spread as a
share of the median (the figure the metric's bound is compared with).

    python3 perfbench/steady.py --runs 10 [--workloads federated-sql,...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="federated-sql,llm-pipeline")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args(argv)
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for w in a.workloads.split(","):
        values, walls = {}, []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", str(a.trace)], capture_output=True, text=True)
            walls.append(time.time() - t)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}: {p.stderr.strip()[-300:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"]:
                print(f"{w} seed {seed}: incorrect, {res['failed']} failed")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"## {w}: {len(walls)} runs, wall per run {statistics.median(walls):.1f} s "
              f"(max {max(walls):.1f} s)")
        print("| metric | median | q1 | q3 | spread | bound |")
        print("|---|---|---|---|---|---|")
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"| {k} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | {bounds.get(k)} |")
        if a.trace:
            layer_table(w)
        sys.stdout.flush()


def layer_table(workload):
    """Per-operation means of the last traced run's layer split."""
    t = json.load(open(os.path.join(HERE, ".work", f"trace-{workload}.json")))
    cols = ["wall_s", "plans_s", "scheduler.driver_gap_s", "executor.run_s",
            "scheduler.slot_use", "scheduler.jobs", "scheduler.tasks",
            "operators.build_s", "face.post_s", "face.drain_s"]
    by = {}
    for r in t["ops"]:
        r = dict(r, plans_s=sum(v for k, v in r["layers_s"].items() if k.startswith("plans.")))
        by.setdefault(r["name"], []).append(r)
    print(f"\n{workload}, traced run, {t['cores']} cores, means per execution")
    print("| operation | n | " + " | ".join(cols) + " |")
    print("|---|---|" + "---|" * len(cols))
    for name, rs in sorted(by.items()):
        vals = [sum(r[c] for r in rs) / len(rs) for c in cols]
        print(f"| {name} | {len(rs)} | " + " | ".join(f"{v:.3g}" for v in vals) + " |")
    print("unreconciled:", t["unreconciled"] or "none")


if __name__ == "__main__":
    main(sys.argv[1:])
