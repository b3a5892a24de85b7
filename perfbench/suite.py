"""The operator suite: every query of `SparkEntry.queries` once, in name
order, over fixed tables, each result count checked against DuckDB.

    python3 perfbench/suite.py counts --sf-dir <dir>
        writes perfbench/operator_counts.json: the expected row count of each
        query, from `SparkEntry.oracleSql` run by DuckDB over the same tables
    python3 perfbench/suite.py run --sf-dir <dir> [--trace 0|1]
        times the suite and prints one JSON line last, like run.py

The queries read the tables in place and some write fixtures under /tmp, so
this is a tool to run by hand on a box that has the tables, not one of the
workloads in BENCHMARK.json. Run from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import sys
import time

import duckdb

sys.dont_write_bytecode = True
import run  # noqa: E402

COUNTS = f"{run.HERE}/operator_counts.json"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FAMILIES = ["dedup", "entity", "embed", "text", "stream", "multimodal", "graph", "contract",
            "pipeline"]
SUITE_LIMIT_S = 3600


def family(query):
    fam = query.split("_")[1]
    return fam if fam in FAMILIES else "other"


def oracle(classpath, work):
    out = f"{work}/oracle.json"
    run.run_jvm(classpath, ["oracle", out], work, 300, main="perfbench.Suite")
    with open(out) as f:
        return json.load(f)


def counts(sf_dir, classpath, work):
    spec = oracle(classpath, work)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    expected = {}
    for name, sql in sorted(spec["sql"].items()):
        t0 = time.time()
        expected[name] = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        run.log(f"{name}: {expected[name]} rows ({time.time() - t0:.1f} s)")
    with open(COUNTS, "w") as f:
        json.dump({"sf_dir": os.path.basename(sf_dir.rstrip("/")), "counts": expected,
                   "compare": spec["compare"]}, f, indent=1, sort_keys=True)
        f.write("\n")


def check(rec, want, mode):
    """None when the count matches its oracle, else why not."""
    if rec["error"]:
        return rec["error"][:300]
    if rec.get("traced_error"):
        return "traced: " + rec["traced_error"][:300]
    got = rec["count"]
    if mode and mode.startswith("subset_recall:"):
        floor = float(mode.split(":")[1])
        if not (floor * want <= got <= want):
            return f"count {got} outside [{floor} x {want}, {want}]"
    elif got != want:
        return f"count {got}, expected {want}"
    return None


def metrics(result, traced, setup_s):
    qs = result["queries"]
    if not traced:
        return {"setup_s": setup_s, "suite_s": sum(q["s"] for q in qs)}
    m = {f"queries.{fam}_s": sum(q["traced_s"] for q in qs if family(q["name"]) == fam)
         for fam in FAMILIES + ["other"]}
    for key in ("jobs", "tasks", "task_s", "task_wait_s", "driver_s", "shuffle_bytes",
                "shuffle_s", "spill_bytes"):
        m[f"spark.{key}"] = sum(q[key] for q in qs)
    m["codegen.fallbacks"] = result["codegen_fallbacks"]
    for q in qs:
        if q["exchanges"] >= 0:
            for key, src in (("s", "traced_s"), ("jobs", "jobs"), ("driver_s", "driver_s"),
                             ("exchanges", "exchanges")):
                m[f"query.{q['name']}.{key}"] = q[src]
    # a query's second execution gains its first one's warm-up; traced and
    # untraced alternate going first, so average the two orders
    m["trace.untraced_s"] = sum(q["s"] for q in qs)
    m["trace.traced_s"] = sum(q["traced_s"] for q in qs)
    for first in (False, True):
        shares = [(q["traced_s"] - q["s"]) / q["s"] for q in qs
                  if q["traced_first"] == first and q["s"] > 0]
        quart = statistics.quantiles(shares, n=4)
        side = "traced_first" if first else "untraced_first"
        m[f"trace.{side}.overhead_share_p50"] = statistics.median(shares)
        m[f"trace.{side}.overhead_share_iqr"] = quart[2] - quart[0]
    m["trace.overhead_share"] = (m["trace.traced_first.overhead_share_p50"] +
                                 m["trace.untraced_first.overhead_share_p50"]) / 2
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=("counts", "run"))
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.path.abspath(".bench_build/perfbench")
    os.makedirs(root, exist_ok=True)
    classpath = run.build(root)
    work = f"{root}/suite-{a.trace}"
    os.makedirs(work, exist_ok=True)
    if a.mode == "counts":
        counts(os.path.abspath(a.sf_dir), classpath, work)
        return

    with open(COUNTS) as f:
        spec = json.load(f)
    out = f"{work}/result.json"
    launched_ms = run.run_jvm(classpath, ["run", os.path.abspath(a.sf_dir), str(a.trace),
                                          work, out], work, SUITE_LIMIT_S, main="perfbench.Suite")
    with open(out) as f:
        result = json.load(f)
    failed = {}
    for q in result["queries"]:
        why = check(q, spec["counts"].get(q["name"]), spec["compare"].get(q["name"]))
        if why:
            failed[q["name"]] = why
            run.log(f"{q['name']} failed: {why}")
    values = metrics(result, a.trace, (result["ready_ms"] - launched_ms) / 1000)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(result["queries"]),
        "failed": len(failed),
        "metrics": {n: {"value": v, "unit": run.unit(n)} for n, v in values.items()},
    }))


if __name__ == "__main__":
    sys.exit(main())
