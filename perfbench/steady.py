"""Steadiness check: run the benchmark on several seeds per workload and
report, for each end-to-end metric, the median and the spread (distance
between the first and third quartile as a share of the median) next to the
metric's bound in BENCHMARK.json. Run from the repository root:

  python3 perfbench/steady.py [--runs 10] [--first-seed 100] [workload ...]

Writes every run's result line to .bench_build/perfbench/steady.jsonl.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys


def main():
    spec = json.loads(pathlib.Path("BENCHMARK.json").read_text())
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("workloads", nargs="*")
    a = p.parse_args()
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    log = pathlib.Path(".bench_build/perfbench/steady.jsonl")
    log.parent.mkdir(parents=True, exist_ok=True)
    ok = True
    for w in names:
        values = {}
        for i in range(a.runs):
            seed = a.first_seed + i
            res = subprocess.run(
                [*spec["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            line = res.stdout.strip().split("\n")[-1] if res.stdout.strip() else ""
            with log.open("a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "exit": res.returncode,
                                    "result": line}) + "\n")
            if res.returncode != 0:
                print(f"{w} seed {seed}: exit {res.returncode}")
                ok = False
                continue
            for k, v in json.loads(line)["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for m in spec["end_to_end"] if a.trace == 0 else []:
            xs = values.get(m["name"], [])
            if len(xs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread <= m["bound"] / 3 else \
                ("  > bound/3" if spread <= m["bound"] else "  > BOUND")
            print(f"{w:16s} {m['name']:18s} median {med:12.4f} spread {spread:7.4f} "
                  f"bound {m['bound']}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
