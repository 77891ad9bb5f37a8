#!/usr/bin/env python3
"""Compare two Bench artifacts (same host, back-to-back) per query.

Usage: bench_ab.py <baseline.json> <head.json> [threshold]

Prints per-query median ratios head/baseline sorted descending, the
geomean over common queries (rows whose arithmetic policy differs
between the two artifacts, `arith_float_rows`, are reported separately),
and flags queries outside the threshold (default 1.5x either way). Exit 0 always — this is a report, the
judgement lives in the round notes.
"""
import json
import math
import sys


def medians(path):
    with open(path) as f:
        d = json.loads(f.readline())
    qs = d.get("queries") or d.get("top_medians")
    if not qs:
        sys.exit(f"{path}: no per-query medians ('queries'/'top_medians') — "
                 "pass the full artifact the summary's 'full' field names")
    return qs, d


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__.strip())
    base_path, head_path = sys.argv[1], sys.argv[2]
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    base, bmeta = medians(base_path)
    head, hmeta = medians(head_path)
    common = sorted(set(base) & set(head))
    only_base = sorted(set(base) - set(head))
    only_head = sorted(set(head) - set(base))
    ratios = {q: head[q] / base[q] for q in common if base[q] > 0}
    if not ratios:
        sys.exit(f"no comparable queries: common={len(common)} "
                 f"only_base={only_base[:5]} only_head={only_head[:5]}")
    # Rows whose benched work differs by POLICY between the two artifacts
    # are excluded from the headline geomean (reported separately):
    # arith_float_rows run the production float kernels instead of the
    # exact-decimal tier — a ratio ACROSS the policy boundary measures
    # the policy, not a code speedup. Rows whose checks moved
    # into per-query audits are NOT excluded: graft.Bench never timed
    # those checks, so their rows time the same work on both sides and
    # their ratios are real. Exclusion is the SYMMETRIC DIFFERENCE of
    # the two artifacts' lists: a pre-tag artifact (empty list) vs a
    # tagged one excludes the tagged rows,
    # while two same-policy artifacts exclude nothing — those ratios are
    # genuine code measurements and must keep moving the headline.
    #
    # Known conservative bias (r14 review): a pre-tag-SCHEMA artifact is
    # indistinguishable from a pre-POLICY one, so comparing against an
    # older artifact whose Bench did not emit the field excludes rows
    # even when both runs actually shared the policy (e.g. float
    # arithmetic on both sides) — genuine code wins on those rows then
    # stop moving the headline. The bias UNDERSTATES improvements (the
    # excluded-rows geomean is still printed separately); preferring a
    # false exclusion over accidentally selling a policy change as a
    # code speedup is deliberate.
    excluded = (set(bmeta.get("arith_float_rows") or [])
                ^ set(hmeta.get("arith_float_rows") or []))
    excl_ratios = {q: r for q, r in ratios.items() if q in excluded}
    ratios = {q: r for q, r in ratios.items() if q not in excluded}
    if not ratios:
        sys.exit("all common queries are policy-excluded")
    geomean = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    print(f"common={len(common)} only_base={only_base} only_head={only_head}")
    print(f"total base={bmeta['value']:.1f}s head={hmeta['value']:.1f}s "
          f"geomean_ratio={geomean:.3f} "
          f"(over {len(ratios)} rows; {len(excl_ratios)} policy-excluded)")
    if excl_ratios:
        eg = math.exp(sum(math.log(r) for r in excl_ratios.values())
                      / len(excl_ratios))
        print(f"policy-excluded rows geomean={eg:.3f}: "
              + ", ".join(f"{q}={r:.2f}" for q, r in sorted(excl_ratios.items())))
    print(f"pass_load1 base={bmeta.get('pass_load1')} "
          f"head={hmeta.get('pass_load1')}")
    # Train/search split disclosure (r15): the cached-structure rows'
    # pass 1 pays JVM-lifetime training, the median is the warm search
    # path — surface both so nobody mistakes warm medians for cold cost.
    cached = set(hmeta.get("cached_structure_rows")
                 or bmeta.get("cached_structure_rows") or [])
    if cached:
        for tag, meta, qs in (("base", bmeta, base), ("head", hmeta, head)):
            t1 = meta.get("train_pass1") or {}
            rows = [f"{q}: pass1={t1[q]:.2f}s median={qs[q]:.2f}s"
                    for q in sorted(cached) if q in t1 and q in qs]
            if rows:
                print(f"train/search split ({tag}): " + "; ".join(rows))
    flagged = {q: r for q, r in ratios.items() if r > thr or r < 1 / thr}
    for q, r in sorted(ratios.items(), key=lambda kv: -kv[1]):
        mark = " <-- " if q in flagged else ""
        print(f"{r:7.3f}  {base[q]:8.3f} -> {head[q]:8.3f}  {q}{mark}")


if __name__ == "__main__":
    main()
