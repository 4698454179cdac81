"""Benchmark command: builds the program from source, generates the
workload's inputs from the seed, runs one closed-loop measurement in a
single JVM on local[cores], checks the outputs, and prints every metric.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <pca|queries_warm|queries_cold|snapshot_writes>
      --seed <n> --seconds <s> --trace <0|1>

With --trace 0 the last line carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 it carries the per-layer metrics, and
the lines above it give the tracing overhead against the untraced run
of the same workload and seed, when one exists in `.bench_out/`.
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
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("pca", "queries_warm", "queries_cold", "snapshot_writes")
QUERY_SF = 0.01
JVM_TIMEOUT_S = 170


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def tail(xs):
    """(value, percentile label): the highest percentile with at least
    ten samples beyond it. With 20 samples or fewer none lies above the
    median, and the median is reported, so the figure does not jump when
    a run completes one op more or less."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, "none"
    if n <= 20:
        return median(s), "p50"
    return s[n - 11], f"p{100.0 * (n - 10) / n:.0f}"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def oracle_check(data_dir, check_dir):
    """Runs the project's DuckDB oracle compare unmodified; returns the
    set of query names that passed."""
    r = subprocess.run([sys.executable, "tools/check_oracle.py", data_dir, check_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=120)
    passed = set()
    for line in r.stdout.splitlines():
        if line.startswith("PASS "):
            passed.add(line.split()[1])
        elif line.startswith(("FAIL ", "SOFT ")):
            sys.stderr.write(f"perfbench: oracle {line}\n")
    return passed


def run_jvm(classpath, args, out_dir, data_dir, cores):
    tmp = os.path.join(out_dir, "tmp")
    cmd = build.jvm(classpath, tmp) + [
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data_dir, "--out", out_dir, "--cores", str(cores),
              "--inject-wrong", "1" if args.inject_wrong else "0",
              "--pca-rows", str(args.pca_rows), "--pca-cols", str(args.pca_cols)]
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               env=build.env(tmp), timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM exceeded {JVM_TIMEOUT_S}s; see {out_dir}/jvm.log")
    if r.returncode != 0:
        fail(f"harness JVM exited {r.returncode}; see {out_dir}/jvm.log")
    with open(os.path.join(out_dir, "result.json")) as fh:
        return json.load(fh)


def summarize(res, passed):
    """End-to-end figures, named metrics and the failure count of a run."""
    ops = res["ops"]
    primary = res["primary"]
    wrong = set()
    if passed is not None:
        wrong = {o["name"] for o in ops if o["cls"] == "query"} - passed
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong)
    failed += len(res["check_failures"])
    attempted = len(ops) + len(res["check_failures"])
    prim = res["derived"].get(primary) or [o["s"] for o in ops if o["cls"] == primary]
    window = res["measure_s"]
    e2e = {
        "setup_s": median(res["setup_s"]),
        "op_p50_s": median(prim),
        "ops_per_s": len(prim) / window if window > 0 else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    named = []  # (name, value, unit, statistic, samples)

    def lat(name, xs):
        named.append((f"{name}_p50_s", median(xs), "s", "p50", len(xs)))
        v, p = tail(xs)
        named.append((f"{name}_tail_s", v, "s", p, len(xs)))

    def by(cls):
        return [o["s"] for o in ops if o["cls"] == cls]

    w = res["workload"]
    if w == "pca":
        lat("fit", by("fit"))
        lat("transform", by("transform"))
    elif w.startswith("queries"):
        queries = by("query")
        lat("query", queries)
        named.append(("queries_per_s", len(queries) / window if window > 0 else 0.0,
                      "1/s", "mean", len(queries)))
    else:
        lat("commit", by("commit"))
        reads = by("read")
        named.append(("read_p50_s", median(reads), "s", "p50", len(reads)))
        for k, unit in (("rows_committed_per_s", "rows/s"), ("stored_bytes_per_row", "B/row")):
            named.append((k, res["extra"].get(k, 0.0), unit, "value", len(by("commit"))))
    named.append(("setup_s", e2e["setup_s"], "s", "p50", len(res["setup_s"])))
    named.append(("failed_ratio", failed / max(1, attempted), "ratio", "value", attempted))
    named.append(("peak_rss_mb", e2e["peak_rss_mb"], "MB", "max", 1))
    for k, v in res["extra"].items():
        if k not in {n[0] for n in named}:
            named.append((k, v, "s", "value", 1))
    return e2e, named, attempted, failed, sorted(wrong)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # sizes and fault injection for the self-test; the defaults are the benchmark
    ap.add_argument("--sf", type=float, default=QUERY_SF)
    ap.add_argument("--pca-rows", type=int, default=20000)
    ap.add_argument("--pca-cols", type=int, default=256)
    ap.add_argument("--inject-wrong", action="store_true")
    ap.add_argument("--out", default=".bench_out")
    args = ap.parse_args()

    for need in ("BENCHMARK.json", "src/main/scala", "tools/check_oracle.py"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a checkout of the project")
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    cores = os.cpu_count() or 1
    classpath = build.build()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out_dir = os.path.abspath(os.path.join(args.out, tag))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    data_dir = ""
    queries = args.workload.startswith("queries")
    if queries:
        data_dir = os.path.abspath(os.path.join(args.out, "data", f"sf{args.sf}-s{args.seed}"))
        if not os.path.exists(os.path.join(data_dir, "DONE")):
            shutil.rmtree(data_dir, ignore_errors=True)
            os.makedirs(data_dir)
            for name, t in gen.tables(args.sf, args.seed).items():
                gen.pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))
            open(os.path.join(data_dir, "DONE"), "w").close()

    res = run_jvm(classpath, args, out_dir, data_dir, cores)
    # the large, regenerated-per-run files go; results and checks stay
    for scratch in ("tmp", "pca_input.parquet"):
        shutil.rmtree(os.path.join(out_dir, scratch), ignore_errors=True)
    passed = oracle_check(data_dir, os.path.join(out_dir, "check")) if queries else None
    e2e, named, attempted, failed, wrong = summarize(res, passed)
    for msg in res["check_failures"]:
        print(f"check-failure {args.workload} {msg}")
    for q in wrong:
        print(f"check-failure {args.workload} {q}: output differs from its oracle SQL")
    for name, v, unit, stat, n in named:
        print(f"metric {args.workload} {name} {v:.6g} {unit} {stat} n={n}")
    print(f"info {args.workload} cores={cores} " + json.dumps(res["info"], sort_keys=True))

    report = {"e2e": e2e, "named": named, "layers": res["layers"],
              "attempted": attempted, "failed": failed}
    with open(os.path.join(out_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)

    if args.trace:
        base = os.path.join(os.path.dirname(out_dir), f"{args.workload}-s{args.seed}-t0",
                            "report.json")
        if os.path.exists(base):
            with open(base) as fh:
                untraced = json.load(fh)["e2e"]
            for m in spec["end_to_end"]:
                d = e2e[m["name"]] - untraced[m["name"]]
                print(f"overhead {args.workload} {m['name']} {d:+.6g} {m['unit']}")
        else:
            print(f"overhead {args.workload} none: no untraced run with seed {args.seed}")
        chosen = spec["per_layer"]
        values = {m["name"]: float(res["layers"].get(m["name"], 0.0)) for m in chosen}
    else:
        chosen = spec["end_to_end"]
        values = {m["name"]: float(e2e[m["name"]]) for m in chosen}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
