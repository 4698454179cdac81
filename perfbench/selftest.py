"""Self-test of the benchmark at a tiny size (tables at sf0.001, a
2000x32 matrix, one-second windows). It checks that

- every workload prints each of its named metrics with a unit, a
  statistic and a sample count, and a last line carrying exactly the
  end-to-end metrics of BENCHMARK.json with their units;
- the traced run carries exactly the per-layer metrics and one tracing
  overhead line per end-to-end metric;
- a deliberately wrong output, injected by the `--inject-wrong` flag
  that only this test passes, makes the run report `correct: false`
  and counts in `failed`.

Usage (from the root of a checkout): python3 perfbench/selftest.py
"""
import json
import re
import subprocess
import sys

TINY = ["--seconds", "1", "--sf", "0.001", "--pca-rows", "2000", "--pca-cols", "32",
        "--out", ".bench_out/selftest"]
NAMED = {
    "pca": ["fit_p50_s", "fit_tail_s", "transform_p50_s", "transform_tail_s"],
    "queries_warm": ["query_p50_s", "query_tail_s", "queries_per_s"],
    "queries_cold": ["query_p50_s", "query_tail_s", "queries_per_s"],
    "snapshot_writes": ["commit_p50_s", "commit_tail_s", "read_p50_s",
                        "rows_committed_per_s", "stored_bytes_per_row"],
}
COMMON = ["setup_s", "failed_ratio", "peak_rss_mb"]
LINE = re.compile(r"^metric (\S+) (\S+) (\S+) (\S+) (\S+) n=(\d+)$")

problems = []


def run(workload, trace, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--trace", str(trace)] + TINY + list(extra)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        problems.append(f"{workload} trace={trace} {extra}: exit {r.returncode}\n{r.stderr[-2000:]}")
        return [], {}
    return lines, json.loads(lines[-1])


def expect(cond, msg):
    if not cond:
        problems.append(msg)


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    # queries_cold is not in BENCHMARK.json but stays runnable; test it too
    for w in [x["name"] for x in spec["workloads"]] + ["queries_cold"]:
        lines, res = run(w, 0)
        if not res:
            continue
        expect(res.get("correct") is True and res.get("failed") == 0,
               f"{w}: seed code should run correct, got {lines[-1]}")
        expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w}: result keys")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(got == e2e, f"{w}: end-to-end metrics/units {got} != {e2e}")
        named = {}
        for ln in lines:
            m = LINE.match(ln)
            if m and m.group(1) == w:
                named[m.group(2)] = (m.group(4), m.group(5), int(m.group(6)))
        for name in NAMED[w] + COMMON:
            expect(name in named, f"{w}: named metric {name} not printed")
            if name in named:
                unit, stat, n = named[name]
                expect(unit and stat and n >= 1, f"{w}: {name} lacks unit/statistic/count")

        lines, res = run(w, 1)
        if res:
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == layer, f"{w}: traced metrics differ from per_layer "
                   f"(missing {sorted(set(layer) - set(got))[:5]})")
            over = [ln.split()[2] for ln in lines if ln.startswith(f"overhead {w} ")]
            expect(sorted(over) == sorted(e2e), f"{w}: overhead lines {over}")

    for w in ("pca", "queries_warm", "snapshot_writes"):
        lines, res = run(w, 0, "--inject-wrong")
        if res:
            expect(res["correct"] is False and res["failed"] >= 1,
                   f"{w}: injected wrong output not counted: {lines[-1]}")

    if problems:
        print("SELFTEST FAILED")
        for p in problems:
            print(" -", p)
        sys.exit(1)
    print("selftest ok")


if __name__ == "__main__":
    main()
