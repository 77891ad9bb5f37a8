#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark, summarised per metric.

    python3 tools/perf_pairs.py --parent DIR --change DIR --workload scan \
        --seeds 111-116,131-134 [--seconds 3] [--trace 0|1] \
        [--keep DIR [--by-kind]] [--out pairs.json]

Runs `python3 perfbench/run.py --workload W --seed N --seconds S --trace T`
once in each checkout per seed, the parent first on even pairs and the
change first on odd ones, so a host that speeds up or slows down over the
session does not favour either side. Every run's last stdout line is the
benchmark's result record; a run that fails or reports incorrect outputs
stops the tool.

For each metric of the record (the end-to-end ones with --trace 0, the
per-layer ones with --trace 1) it prints both sides' median [Q1, Q3], the
median change, how many pairs the change won (per the metric's `better`
direction in BENCHMARK.json), whether the median gap exceeds the parent's
inter-quartile range, and, for end-to-end metrics, a verdict against the
metric's `bound`: `over` when the change's median is worse than the
parent's by more than the bound; `unresolved` when it is not, but the
parent's own runs spread wider than the bound (IQR / median > bound) and
some change run is no better than some parent run, since such a spread
cannot show that the change is no worse; `ok` otherwise.
`--keep DIR` keeps each run's full report under DIR/<side>-<seed>/;
with `--by-kind` it also prints, per op kind (per query of `pipeline`),
each side's median of the kept reports' `op_p50_ms_by_kind`, so an
untraced set of pairs shows which ops moved and that the others did not.
`--out` writes every run's metrics as JSON. The tool reads BENCHMARK.json
and changes nothing in either checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        part = part.strip()
        if "-" in part:
            lo, hi = part.split("-")
            seeds.extend(range(int(lo), int(hi) + 1))
        elif part:
            seeds.append(int(part))
    return seeds


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def bound_verdict(pv, cv, lower, bound):
    """`over`, `unresolved` or `ok` for one end-to-end metric's parent runs
    `pv` and change runs `cv` (see the module docstring)."""
    p1, pm, p3 = quartiles(pv)
    cm = statistics.median(cv)
    if not pm:
        return "ok"
    worse = (cm - pm) / pm if lower else (pm - cm) / pm
    if worse > bound:
        return "over"
    all_better = max(cv) < min(pv) if lower else min(cv) > max(pv)
    if (p3 - p1) / abs(pm) > bound and not all_better:
        return "unresolved"
    return "ok"


def run(checkout, args, seed, keep):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if keep:
        cmd += ["--keep", keep]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"{checkout}: seed {seed} exited {p.returncode}")
    rec = json.loads(lines[-1])
    if not rec.get("correct"):
        sys.exit(f"{checkout}: seed {seed}: {rec.get('failed')} of "
                 f"{rec.get('attempted')} outputs incorrect")
    return {k: m["value"] for k, m in rec["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True, choices=("scan", "write", "pipeline"))
    ap.add_argument("--seeds", required=True, help="e.g. 111-116,131-134")
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="keep each run's report under this directory")
    ap.add_argument("--by-kind", action="store_true",
                    help="with --keep: print both sides' median p50 per op kind")
    ap.add_argument("--out", help="write every run's metrics to this JSON file")
    args = ap.parse_args()
    if args.by_kind and not args.keep:
        ap.error("--by-kind reads the kept reports: it needs --keep")

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            keep = os.path.join(args.keep, f"{side}-{seed}") if args.keep else None
            m = run(getattr(args, side), args, seed, keep)
            runs[side].append({"seed": seed, "metrics": m})
            print(f"[pairs] seed {seed} {side}: " +
                  ", ".join(f"{k}={v:.4g}" for k, v in sorted(m.items()) if k in spec),
                  file=sys.stderr, flush=True)
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(runs, fh, indent=1)

    n = len(runs["parent"])
    print(f"{args.workload}, {n} pairs, --seconds {args.seconds} --trace {args.trace}")
    print(f"{'metric':<34} {'parent median [Q1, Q3]':>30} {'change median [Q1, Q3]':>30}"
          f" {'delta':>8} {'wins':>6} {'>IQR':>5} {'bound':>10}")
    for name in sorted(runs["parent"][0]["metrics"]):
        if name not in spec:
            continue
        pv = [r["metrics"][name] for r in runs["parent"]]
        cv = [r["metrics"][name] for r in runs["change"]]
        p1, pm, p3 = quartiles(pv)
        c1, cm, c3 = quartiles(cv)
        lower = spec[name]["better"] == "lower"
        wins = sum((c < p) if lower else (c > p) for p, c in zip(pv, cv))
        delta = (cm - pm) / pm if pm else float("nan")
        beyond_iqr = abs(cm - pm) > (p3 - p1) and ((cm < pm) == lower)
        verdict = bound_verdict(pv, cv, lower, spec[name]["bound"]) \
            if "bound" in spec[name] else "-"
        print(f"{name:<34} {pm:>12.4g} [{p1:.4g}, {p3:.4g}]".ljust(65) +
              f" {cm:>12.4g} [{c1:.4g}, {c3:.4g}]".ljust(31) +
              f" {delta:>+8.1%} {wins:>3}/{n:<2} {'yes' if beyond_iqr else 'no':>5} {verdict:>10}")
    if args.by_kind:
        print_by_kind(args, runs)


def kept_p50_by_kind(keep, workload, side, seed):
    with open(os.path.join(keep, f"{side}-{seed}", f"{workload}-report.json")) as fh:
        return json.load(fh)["op_p50_ms_by_kind"]


def print_by_kind(args, runs):
    """Median over each side's kept reports of the per-kind p50 (ms), with
    the pairs in which the change's p50 was lower."""
    per = {side: [kept_p50_by_kind(args.keep, args.workload, side, r["seed"])
                  for r in runs[side]] for side in runs}
    n = len(per["parent"])
    print(f"\nop_p50_ms by kind, median of {n} runs per side")
    print(f"{'kind':<34} {'parent':>10} {'change':>10} {'delta':>8} {'lower':>6}")
    for kind in sorted(set().union(*per["parent"], *per["change"])):
        pv = [r[kind] for r in per["parent"] if kind in r]
        cv = [r[kind] for r in per["change"] if kind in r]
        if not pv or not cv:
            continue
        pm, cm = statistics.median(pv), statistics.median(cv)
        lower = sum(c < p for p, c in zip(pv, cv))
        print(f"{kind:<34} {pm:>10.1f} {cm:>10.1f} {(cm - pm) / pm:>+8.1%} "
              f"{lower:>3}/{min(len(pv), len(cv)):<2}")


if __name__ == "__main__":
    main()
