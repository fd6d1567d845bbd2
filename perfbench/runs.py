#!/usr/bin/env python3
"""Run sets of the paper-workload benchmark, summarize them, compare two.

    python3 perfbench/runs.py run --out base.jsonl [--workloads a,b] \
        [--seeds 1-10] [--trace 0|1]
    python3 perfbench/runs.py summary base.jsonl
    python3 perfbench/runs.py compare base.jsonl new.jsonl

`run` calls perfbench/run.py once per workload and seed, for the
`run_seconds` of BENCHMARK.json, and appends one JSON line per run.
Metrics of a run that failed, was incorrect or counted a failed operation
are left out of every median. `summary` prints, per workload and metric,
the median, the quartiles and the spread (quartile distance over the
median), and flags an end-to-end spread wider than its bound in
BENCHMARK.json. `compare` pairs two run sets by workload and seed and
reports each end-to-end metric as better, unchanged, worse or unresolved:

- worse: the new median is worse than the base median by more than the
  bound;
- better: the new median is better, the new run wins at least nine in ten
  seed pairs, and the medians differ by more than the base's quartile
  distance;
- unchanged: the medians are within the bound and both spreads are too;
- unresolved: anything else, such as a spread wider than the bound, or
  a better median when the new set has more bad runs than the base.

`compare` exits with 1 when any pairing is worse or the new set has more
bad runs than the base.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
E2E = {m["name"]: m for m in SPEC["end_to_end"]}


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def cmd_run(a):
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in SPEC["workloads"]]
    with open(a.out, "a") as out:
        for w in workloads:
            for s in seeds(a.seeds):
                t0 = time.monotonic()
                proc = subprocess.run(
                    [sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(s),
                     "--seconds", str(SPEC["run_seconds"]), "--trace", a.trace],
                    stdout=subprocess.PIPE, text=True)
                line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "null"
                rec = {"workload": w, "seed": s, "trace": int(a.trace),
                       "exit": proc.returncode, "wall_s": round(time.monotonic() - t0, 1),
                       "result": json.loads(line)}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                res = rec["result"] or {}
                print(f"{w} seed {s}: exit {proc.returncode} correct {res.get('correct')} "
                      f"failed {res.get('failed')}/{res.get('attempted')} in {rec['wall_s']} s",
                      file=sys.stderr)


def load(path):
    """{workload: {metric: {seed: value}}} of the good runs, plus (runs,
    bad runs): a bad run exited with an error, was incorrect or counted a
    failed operation, and its metrics are left out.
    """
    data = defaultdict(lambda: defaultdict(dict))
    runs = bad = 0
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        rec = json.loads(line)
        runs += 1
        res = rec.get("result")
        if rec.get("exit") != 0 or not res or not res["correct"] or res["failed"]:
            bad += 1
            continue
        for name, m in res["metrics"].items():
            data[rec["workload"]][name][rec["seed"]] = m["value"]
    return data, runs, bad


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def cmd_summary(a):
    data, runs, bad = load(a.runs)
    print(f"{runs} runs, {bad} bad (left out)")
    print(f"{'workload':15} {'metric':40} {'n':>3} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>7}")
    for w in sorted(data):
        for name in sorted(data[w]):
            vals = [v for v in data[w][name].values() if v is not None]
            if not vals:
                continue
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else float("nan")
            flag = ""
            if name in E2E and spread > E2E[name]["bound"]:
                flag = f"  > bound {E2E[name]['bound']}"
            elif name in E2E and spread > E2E[name]["bound"] / 3:
                flag = "  (over a third of the bound)"
            print(f"{w:15} {name:40} {len(vals):3} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:7.3f}{flag}")
    return 0


def cmd_compare(a):
    base, _, bad0 = load(a.base)
    new, _, bad1 = load(a.new)
    print(f"bad runs (left out): base {bad0}, new {bad1}"
          + (": worse, the new set has more" if bad1 > bad0 else ""))
    worse = bad1 > bad0
    for w in sorted(set(base) & set(new)):
        for name, spec in E2E.items():
            b, n = base[w].get(name, {}), new[w].get(name, {})
            if not b or not n:
                continue
            bq1, bm, bq3 = quartiles(list(b.values()))
            nq1, nm, nq3 = quartiles(list(n.values()))
            lower = spec["better"] == "lower"
            worse_by = ((nm - bm) if lower else (bm - nm)) / bm
            pairs = [s for s in b if s in n]
            wins = sum((n[s] < b[s]) if lower else (n[s] > b[s]) for s in pairs)
            spreads = max((bq3 - bq1) / bm, (nq3 - nq1) / nm)
            if worse_by > spec["bound"]:
                verdict = "worse"
                worse = True
            elif (worse_by < 0 and pairs and wins >= 0.9 * len(pairs)
                  and abs(nm - bm) > bq3 - bq1 and bad1 <= bad0):
                verdict = "better"
            elif abs(worse_by) <= spec["bound"] and spreads <= spec["bound"]:
                verdict = "unchanged"
            else:
                verdict = "unresolved"
            print(f"{w:15} {name:16} base {bm:12.4f} new {nm:12.4f} "
                  f"(worse by {worse_by:+.1%}) wins {wins}/{len(pairs)} "
                  f"spread {spreads:.3f} bound {spec['bound']}: {verdict}")
    return 1 if worse else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workloads")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", default="0", choices=("0", "1"))
    s = sub.add_parser("summary")
    s.add_argument("runs")
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    a = ap.parse_args()
    sys.exit({"run": cmd_run, "summary": cmd_summary, "compare": cmd_compare}[a.cmd](a) or 0)


if __name__ == "__main__":
    main()
