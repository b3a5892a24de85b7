"""Benchmark of the validation pipeline, run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (`perfbench/build.py`), generates the seeded
submissions (`perfbench/gen.py`), runs the workload in one JVM for the given
seconds and prints one JSON line last: the end-to-end metrics untraced
(`--trace 0`), the per-layer metrics traced (`--trace 1`). Everything it
writes goes under `.bench_build/` in the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, HERE)
import gen  # noqa: E402
from build import build, log  # noqa: E402

WORKLOADS = ("bulk_submission", "concurrent_submissions")
RUN_LIMIT_S = 170  # the whole run, build excluded
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
END_TO_END = ["setup_s", "latency_p50_s", "rows_per_s", "submissions_per_s"]
PER_LAYER = [f"{layer}.{m}" for layer in ("readers", "contract", "rules", "report", "audit")
             for m in ("self_s", "jobs", "task_s", "task_wait_s", "driver_s",
                       "shuffle_bytes", "spill_bytes")] + [
    "readers.rows", "readers.read_tasks", "contract.rejected_rows", "rules.rows_out",
    "report.messages", "audit.appends", "audit.files", "pipeline.write_amp",
    "jvm.gc_s", "jvm.peak_rss_mb",
    "spark.jobs", "spark.tasks", "spark.task_s", "spark.task_wait_s", "spark.driver_s",
    "spark.shuffle_bytes", "spark.shuffle_s", "spark.spill_bytes", "codegen.fallbacks",
    "trace.traced_s", "trace.untraced_s", "trace.overhead_s", "trace.overhead_share"]


def unit(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if "_share" in name or name.endswith("_amp"):
        return "ratio"
    return "count"


def run_jvm(classpath, args, work, timeout_s, main="perfbench.Main"):
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = (["java", "-XX:-UsePerfData", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"] +
           ADD_OPENS + ["-cp", ":".join(classpath), main] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    launched_ms = time.time() * 1000
    with open(f"{work}/jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness timed out after {timeout_s:.0f} s; see {work}/jvm.log")
    if code != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {code}")
    return launched_ms


def end_to_end(result, expected, setup_s):
    """Latency is per `Pipeline.run` call; the rates are over the measured
    wall, from the end of set-up to the last completed submission."""
    ok = [o for o in result["ops"] if o["error"] is None]
    if not ok:
        return {"setup_s": setup_s}
    span_s = (max(o["end_ms"] for o in ok) - result["ready_ms"]) / 1000
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(o["wall_s"] for o in ok),
        "rows_per_s": sum(expected[o["file"]]["rows"] for o in ok) / span_s,
        "submissions_per_s": len(ok) / span_s,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.path.abspath(".bench_build/perfbench")
    os.makedirs(root, exist_ok=True)
    classpath = build(root)

    work = f"{root}/run-{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    inputs = f"{work}/inputs"
    t0 = time.time()
    gen.generate(a.workload, a.seed, inputs)
    gen_s = time.time() - t0
    with open(f"{inputs}/expected.json") as f:
        expected = json.load(f)["files"]

    result_file = f"{work}/result.json"
    args = [a.workload, str(a.seed), inputs, work, str(a.seconds), str(a.trace), HERE, result_file]
    launched_ms = run_jvm(classpath, args, work, RUN_LIMIT_S - (time.time() - t0))
    with open(result_file) as f:
        result = json.load(f)
    setup_s = gen_s + (result["ready_ms"] - launched_ms) / 1000

    ops = result["ops"]
    failed = [o for o in ops if o["error"] is not None]
    for o in failed:
        log(f"{o['id']} ({o['file']}) failed: {o['error']}")
    if a.trace:
        values = result["layers"]
        names = PER_LAYER
        os.makedirs(f"{root}/traces", exist_ok=True)
        shutil.copy(f"{work}/trace.json", f"{root}/traces/{a.workload}-{a.seed}.json")
    else:
        values = end_to_end(result, expected, setup_s)
        names = END_TO_END
    log(f"{len(ops)} submissions, {len(failed)} failed; setup {setup_s:.2f} s = generate "
        f"{gen_s:.2f} + session {(result['session_ms'] - launched_ms) / 1000:.2f} + warm-up "
        f"{(result['warm_ms'] - result['session_ms']) / 1000:.2f} s")
    metrics = {n: {"value": values.get(n), "unit": unit(n)} for n in names}
    missing = [n for n in names if not isinstance(values.get(n), (int, float))]
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not failed and not missing and bool(ops),
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
