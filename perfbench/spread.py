"""Run-to-run spread of the benchmark's metrics, run from the root of a
checkout:

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--trace 0|1] [--log f]

Runs `perfbench/run.py` once per seed, one run at a time, and prints for
each metric its median, its quartiles, the quartile distance as a share of
the median (`statistics.quantiles(values, n=4)`), and the bound from
BENCHMARK.json when the metric has one. Each run's JSON line is appended to
the log file when one is given.
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        line = out.strip().splitlines()[-1]
        result = json.loads(line)
        if a.log:
            with open(a.log, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, **result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}", file=sys.stderr, flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / abs(med) if med else float("nan")
        bound = bounds.get(name)
        print(f"{name:40s} median {med:14.6g}  q1 {q1:14.6g}  q3 {q3:14.6g}  spread {spread:7.3f}"
              + (f"  bound {bound}" if bound is not None else ""))


if __name__ == "__main__":
    main()
