"""Runs the benchmark once per seed for each workload and appends every
run's result line to a result-set file (JSON lines), for compare.py.

Usage (from the root of a checkout):
  python3 perfbench/repeat.py <out.jsonl> [--workloads pca,...] [--seeds 1-10]
"""
import argparse
import json
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            cmd = spec["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                     str(spec["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                sys.exit(f"repeat: {w} seed {s} exited {r.returncode}")
            res = json.loads(lines[-1])
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": s, "result": res}) + "\n")
            print(w, s, {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  "correct" if res["correct"] else "INCORRECT", flush=True)


if __name__ == "__main__":
    main()
