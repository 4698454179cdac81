"""Compares two benchmark result sets (JSON lines from repeat.py), one
row per workload per end-to-end metric:

- each side's median and quartiles (statistics.quantiles, n=4);
- the spread of the base side, (Q3 - Q1) / median, against the metric's bound;
- the pair win ratio: runs paired by seed, the share of pairs in which
  the new side is better (ties count for neither);
- the verdict:
    gain        new wins >= 9/10 of pairs and the medians differ by more
                than the base side's quartile distance;
    regressed   new median worse than base by more than the bound;
    unresolved  base spread exceeds the bound, unless every new run beats
                every base run;
    flat        otherwise.

With one result set it prints each metric's spread against its bound and
against a third of it (the steadiness target).

Usage: python3 perfbench/compare.py <base.jsonl> [<new.jsonl>]
"""
import json
import statistics
import sys


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs.setdefault(r["workload"], {})[r["seed"]] = r["result"]["metrics"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def values(runs, metric):
    return [m[metric]["value"] for m in runs.values() if metric in m]


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]
    base = load(sys.argv[1])
    new = load(sys.argv[2]) if len(sys.argv) > 2 else None
    if new is None:
        print(f"{'workload':16} {'metric':14} {'n':>3} {'median':>12} {'spread':>8} "
              f"{'bound':>6} steady")
        for w, runs in sorted(base.items()):
            for m in metrics:
                xs = values(runs, m["name"])
                if not xs:
                    continue
                s = spread(xs)
                ok = "yes" if s <= m["bound"] / 3 else ("within-bound" if s <= m["bound"] else "NO")
                if m["name"] == "setup_s":
                    ok += " (setup: spread not bounded)"
                print(f"{w:16} {m['name']:14} {len(xs):3d} {statistics.median(xs):12.5g} "
                      f"{s:8.3f} {m['bound']:6.2f} {ok}")
        return
    print(f"{'workload':16} {'metric':14} {'base q1/med/q3':>30} {'new q1/med/q3':>30} "
          f"{'spread':>7} {'wins':>6} verdict")
    for w in sorted(set(base) | set(new)):
        b_runs, n_runs = base.get(w, {}), new.get(w, {})
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            bx, nx = values(b_runs, name), values(n_runs, name)
            if not bx or not nx:
                print(f"{w:16} {name:14} missing on one side")
                continue
            bq, nq = quartiles(bx), quartiles(nx)
            s = spread(bx)
            pairs = [(b_runs[k][name]["value"], n_runs[k][name]["value"])
                     for k in sorted(set(b_runs) & set(n_runs))
                     if name in b_runs[k] and name in n_runs[k]]
            wins = sum(1 for b, n in pairs if (n < b if lower else n > b))
            ratio = wins / len(pairs) if pairs else 0.0
            worse = (nq[1] - bq[1]) / bq[1] if lower else (bq[1] - nq[1]) / bq[1]
            all_better = (max(nx) < min(bx)) if lower else (min(nx) > max(bx))
            if ratio >= 0.9 and abs(nq[1] - bq[1]) > bq[2] - bq[0]:
                verdict = "gain"
            elif s > m["bound"] and not all_better:
                verdict = "unresolved"
            elif worse > m["bound"]:
                verdict = "regressed"
            else:
                verdict = "flat"

            def fmt(q):
                return "/".join(f"{v:.4g}" for v in q)
            print(f"{w:16} {name:14} {fmt(bq):>30} {fmt(nq):>30} {s:7.3f} "
                  f"{wins:2d}/{len(pairs):<3d} {verdict}")


if __name__ == "__main__":
    main()
