"""One-off check that the pinned goldens are right, not only stable.

    python3 perfbench/crosscheck.py

Run after `run.py --pin`. It checks, on the benchmark's generated data:
  * every engine entry the benchmark uses, through `graft.Verify` and the
    repository's DuckDB oracle check `tools/check.py`;
  * the benchmark's own versioned-table operation, whose pinned rows are
    recomputed in DuckDB from `orders`.
The statement-face operations are checked against their entries while
pinning (the face must return exactly the entry's own rows).
"""
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

ENTRIES = ["q02_scan_group_agg", "q04_left_join_case_agg", "q44_tpch_q18",
           "q84_mongo_events_range", "q85_elastic_runtime_filter", "d04_simhash",
           "d13_winnowing", "s02_ann_lsh", "p09_bpe_encode"]

SRC = "(SELECT o_orderkey AS k, o_orderpriority AS name, o_custkey % 5 AS grp FROM orders)"
LAKE = {
    "lw_delete_update": f"""
        WITH s AS {SRC}
        SELECT 1, COUNT(*), SUM(k), 0 FROM s
        UNION ALL SELECT 2, COUNT(*), SUM(k), 0 FROM s WHERE grp <> 2
        UNION ALL SELECT 3, COUNT(*), SUM(k), SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                  FROM s WHERE grp <> 2""",
}


def main():
    data = run.ensure_data()
    classpath = build.ensure_built()
    pinned = {}
    for w in run.WORKLOADS:
        path = os.path.join(build.WORK, f"run-{w}", "goldens.json.rows")
        pinned.update(json.load(open(path)))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{data}/orders.parquet'")
    bad = 0
    for name, sql in LAKE.items():
        want = sorted("|".join(str(v) for v in r) for r in con.execute(sql).fetchall())
        got = sorted(pinned[name])
        ok = want == got
        bad += not ok
        print(("PASS" if ok else "FAIL"), name, got if ok else f"{got} != {want}")
    out = os.path.join(build.WORK, "verify")
    subprocess.run(["java", "-Xmx3g", *run.JAVA_OPENS, "-Dspark.ui.enabled=false",
                    "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(classpath),
                    "graft.Verify", data, out, ",".join(ENTRIES)],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    r = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check.py"),
                        data, out])
    return 1 if bad or r.returncode else 0


if __name__ == "__main__":
    sys.exit(main())
