"""Steadiness mode: two alternating sets of runs of the same commit.

For each workload, runs set A and set B in turn (A1 B1 A2 B2 ...), each run
with its own seed, and prints per end-to-end metric each set's median and
quartiles, its spread (quartile distance over median) and the drift of B's
median from A's, beside the metric's bound in BENCHMARK.json. A spread or
drift over its bound is marked.
"""
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main(args, one_run):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    ok = True
    for w in args.workloads.split(","):
        sets = {"A": [], "B": []}
        for i in range(args.runs):
            for s in ("A", "B"):
                seed = 1000 + 2 * i + (s == "B")
                r = one_run(w, seed, seconds, 0)
                sets[s].append(r)
                print("# %s set %s seed %d: %s" % (w, s, seed, json.dumps(r)), flush=True)
        print("== %s: %d runs per set" % (w, args.runs))
        for s in ("A", "B"):
            shares = sorted({r["failed"] / r["attempted"] for r in sets[s]})
            print("   set %s failed share(s): %s; all correct: %s"
                  % (s, shares, all(r["correct"] for r in sets[s])))
        for m in metrics:
            name, bound = m["name"], m["bound"]
            a = summary([r["metrics"][name]["value"] for r in sets["A"]])
            b = summary([r["metrics"][name]["value"] for r in sets["B"]])
            worse = (b[0] - a[0]) / a[0] if m["better"] == "lower" else (a[0] - b[0]) / a[0]
            flags = []
            if max(a[3], b[3]) > bound:
                flags.append("SPREAD")
            if worse > bound:
                flags.append("DRIFT")
            ok = ok and not flags
            print("   %-18s A %12.4f [%12.4f %12.4f] spread %.3f | B %12.4f [%12.4f %12.4f] "
                  "spread %.3f | drift %+.3f | bound %.2f %s"
                  % (name, a[0], a[1], a[2], a[3], b[0], b[1], b[2], b[3], worse, bound,
                     " ".join(flags)), flush=True)
    print("steady" if ok else "NOT steady")
