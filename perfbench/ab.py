#!/usr/bin/env python3
"""A/B comparison of two sets of benchmark runs (parent and change).

Record runs (each line of the output file is one run's result):
  python3 perfbench/ab.py pairs --parent <checkout> --change <checkout> \
      --workload hbase --pairs 10 --out ab-hbase
    runs perfbench/run.py in both checkouts, alternating which side runs
    first, seeds 1..N, plus one traced run per side; writes
    <out>.parent.jsonl and <out>.change.jsonl.
  python3 perfbench/ab.py record --repo <checkout> --workload W --seeds 1-10 \
      [--trace] --out runs.jsonl
    appends runs of one checkout.

Compare:
  python3 perfbench/ab.py compare parent.jsonl change.jsonl

Steadiness of one or two sets of runs of the same code (median, quartiles
and spread per workload x metric, the traced runs' trace.overhead_ratio,
and, given two sets, how much worse the second median is than the first),
as JSON:
  python3 perfbench/ab.py spread runs1.jsonl [runs2.jsonl]

For each workload x end-to-end metric it prints both medians and
quartiles, pairs won (runs paired by seed), and a verdict against the bound
fixed in BENCHMARK.json:
  regressed beyond bound  the change's median is worse than the parent's by
                          more than the bound;
  unresolved              either side's run-to-run spread (quartile
                          distance over median) is wider than the bound, and
                          not every change run beats every parent run;
  no worse                otherwise.
A "gain" column says whether a claim of improvement would hold: the change
wins at least nine tenths of the pairs and the medians differ by more than
the parent's quartile distance. Per-layer deltas come from the traced runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def run_once(repo, workload, seed, trace):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=repo, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"repo": os.path.abspath(repo), "workload": workload, "seed": seed,
            "trace": trace, "exit": p.returncode, "result": result,
            "log": lines[:-1] if result else lines[-40:]}


def append(path, rec):
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")
    m = (rec["result"] or {}).get("metrics", {})
    print(f"{rec['workload']} seed {rec['seed']} trace {rec['trace']} exit {rec['exit']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items() if rec["trace"] == 0),
          file=sys.stderr)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def load(path):
    return [json.loads(l) for l in open(path) if l.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def compare(parent, change):
    print(f"{'workload':12s} {'metric':15s} {'parent med [q1,q3]':>30s} "
          f"{'change med [q1,q3]':>30s} {'pairs won':>9s}  verdict (gain)")
    workloads = sorted({r["workload"] for r in parent + change})
    for w in workloads:
        P = {r["seed"]: r for r in parent if r["workload"] == w and r["trace"] == 0}
        C = {r["seed"]: r for r in change if r["workload"] == w and r["trace"] == 0}
        for side, runs in (("parent", P), ("change", C)):
            bad = [s for s, r in runs.items() if r["exit"] != 0 or not (r["result"] or {}).get("correct")]
            if bad:
                print(f"{w}: {side} runs failed or were incorrect for seeds {bad}")
        for spec in SPEC["end_to_end"]:
            name, bound, lower = spec["name"], spec["bound"], spec["better"] == "lower"
            val = lambda r: r["result"]["metrics"][name]["value"]
            pv = [val(r) for r in P.values() if r["result"] and name in r["result"]["metrics"]]
            cv = [val(r) for r in C.values() if r["result"] and name in r["result"]["metrics"]]
            if not pv or not cv:
                print(f"{w:12s} {name:15s} missing runs")
                continue
            pm, cm = statistics.median(pv), statistics.median(cv)
            (p1, p3), (c1, c3) = quartiles(pv), quartiles(cv)
            better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
            shared = sorted(set(P) & set(C))
            won = sum(1 for s in shared if better(val(C[s]), val(P[s])))
            lost = sum(1 for s in shared if better(val(P[s]), val(C[s])))
            worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
            spread = max((p3 - p1) / pm, (c3 - c1) / cm)
            all_better = all(better(c, p) for c in cv for p in pv)
            if worse_by > bound:
                verdict = "regressed beyond bound"
            elif spread > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "no worse"
            gain = (won + lost > 0 and won >= 0.9 * len(shared)
                    and better(cm, pm) and abs(cm - pm) > (p3 - p1))
            print(f"{w:12s} {name:15s} {pm:12.4g} [{p1:.4g},{p3:.4g}] "
                  f"{cm:12.4g} [{c1:.4g},{c3:.4g}] {won:4d}/{len(shared):<4d}  "
                  f"{verdict} ({'gain' if gain else 'no gain'}); change {'-' if worse_by <= 0 else '+'}"
                  f"{abs(worse_by):.1%} {'worse' if worse_by > 0 else 'better'}, bound {bound:.0%}, "
                  f"spread {spread:.1%}")
    for w in workloads:
        pt = [r for r in parent if r["workload"] == w and r["trace"] == 1 and r["result"]]
        ct = [r for r in change if r["workload"] == w and r["trace"] == 1 and r["result"]]
        if not pt or not ct:
            continue
        print(f"\nper-layer, {w} (traced run seed {pt[0]['seed']} vs seed {ct[0]['seed']}):")
        pm, cm = pt[0]["result"]["metrics"], ct[0]["result"]["metrics"]
        for k in sorted(set(pm) | set(cm)):
            a = pm.get(k, {}).get("value")
            b = cm.get(k, {}).get("value")
            unit = (pm.get(k) or cm.get(k))["unit"]
            delta = "" if a in (None, 0) or b is None else f"{(b - a) / abs(a):+.1%}"
            print(f"  {k:34s} {a!s:>22s} -> {b!s:>22s} {unit:6s} {delta}")


def steadiness(runs):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        ok = [r["result"] for r in runs if r["workload"] == w and r["trace"] == 0
              and r["result"] and r["result"]["correct"]]
        rec = out[w] = {"runs": len(ok)}
        for spec in SPEC["end_to_end"]:
            v = [r["metrics"][spec["name"]]["value"] for r in ok]
            med = statistics.median(v)
            q1, q3 = quartiles(v)
            rec[spec["name"]] = {"median": med, "q1": q1, "q3": q3,
                                 "spread": (q3 - q1) / med, "bound": spec["bound"]}
        traced = [r["result"]["metrics"]["trace.overhead_ratio"]["value"] for r in runs
                  if r["workload"] == w and r["trace"] == 1 and r["result"]]
        if traced:
            rec["trace.overhead_ratio"] = traced
    return out


def spread(sets):
    stats = [steadiness(runs) for runs in sets]
    out = {"sets": stats}
    if len(stats) == 2:
        # second median against the first, positive when worse
        out["second_worse_by"] = {
            w: {spec["name"]: (lambda a, b: (b - a) / a if spec["better"] == "lower" else (a - b) / a)(
                stats[0][w][spec["name"]]["median"], stats[1][w][spec["name"]]["median"])
                for spec in SPEC["end_to_end"]}
            for w in stats[0] if w in stats[1]}
    print(json.dumps(out, indent=2))


def main():
    ap = argparse.ArgumentParser(description="A/B comparison of benchmark runs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("--repo", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", action="store_true")
    r.add_argument("--out", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("parent")
    c.add_argument("change")
    st = sub.add_parser("spread")
    st.add_argument("runs", nargs="+")
    a = ap.parse_args()
    if a.cmd == "record":
        for s in seeds(a.seeds):
            append(a.out, run_once(a.repo, a.workload, s, int(a.trace)))
    elif a.cmd == "pairs":
        sides = [("parent", a.parent), ("change", a.change)]
        for i in range(1, a.pairs + 1):
            for name, repo in (sides if i % 2 else sides[::-1]):
                append(f"{a.out}.{name}.jsonl", run_once(repo, a.workload, i, 0))
        for name, repo in sides:
            append(f"{a.out}.{name}.jsonl", run_once(repo, a.workload, 1, 1))
    elif a.cmd == "spread":
        spread([load(f) for f in a.runs])
    else:
        compare(load(a.parent), load(a.change))


if __name__ == "__main__":
    main()
