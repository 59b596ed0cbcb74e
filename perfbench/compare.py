"""Compare two sets of runs (files written by runs.py).

    python3 perfbench/compare.py runs_before.jsonl runs_after.jsonl

For each workload and end-to-end metric of BENCHMARK.json it prints
both medians and quartiles, the pairwise win share (the share of
(before, after) run pairs in which `after` is better), and a verdict
judged against the metric's bound:

  regressed   the median got worse by more than the bound
  improved    the median got better by more than the larger of the
              two sets' spreads and a third of the bound, and `after`
              wins at least 3 of 4 pairs
  unchanged   the medians differ by no more than that noise floor
  unresolved  anything in between: a difference above the noise that
              the runs do not settle either way

Each workload's runs are also checked as a whole: a run of `after`
that crashed (no result) or whose result is not correct, or a share of
failed ops (failed / attempted over all its runs) above `before`'s,
is a regression. Both sets' run and op counts are printed.

The exit code is 1 when anything regressed, else 0.
"""

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from runs import load  # noqa: E402


def health(runs, workload):
    """(runs, crashed, incorrect, failed ops, attempted ops) of a workload"""
    rs = [r["result"] for r in runs if r["workload"] == workload]
    ok = [r for r in rs if r]
    return (len(rs), len(rs) - len(ok), sum(not r["correct"] for r in ok),
            sum(r["failed"] for r in ok), sum(r["attempted"] for r in ok))


def health_regressed(before, after):
    """why `after`'s runs as a whole are worse than `before`'s, or None"""
    _, _, _, fb, ab = before
    n, crashed, incorrect, fa, aa = after
    if n == 0:
        return "no runs"
    if crashed or incorrect:
        return f"{crashed} crashed and {incorrect} incorrect of {n} runs"
    if aa and fa / aa > (fb / ab if ab else 0.0):
        return f"failed ops {fa}/{aa} above {fb}/{ab}"
    return None


def values(runs, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["result"] and r["result"]["correct"]]


def verdict(before, after, bound, lower_is_better):
    """(verdict, relative change where positive is better, win share)"""
    mb, ma = statistics.median(before), statistics.median(after)
    gain = (mb - ma) / mb if lower_is_better else (ma - mb) / mb
    wins = sum((a < b) if lower_is_better else (a > b) for b in before for a in after)
    share = wins / (len(before) * len(after))
    noise = max(spread(before), spread(after), bound / 3)
    if -gain > bound:
        return "regressed", gain, share
    if gain > noise and share >= 0.75:
        return "improved", gain, share
    if abs(gain) <= noise:
        return "unchanged", gain, share
    return "unresolved", gain, share


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    regressed = False
    for w in bench["workloads"]:
        hb, ha = health(before, w["name"]), health(after, w["name"])
        why = health_regressed(hb, ha)
        regressed |= why is not None
        for name, (n, crashed, incorrect, failed, attempted) in (("before", hb), ("after", ha)):
            print(f"{w['name']:14s} {name:6s} runs {n:2d} (crashed {crashed}, incorrect "
                  f"{incorrect})  failed ops {failed}/{attempted}")
        if why:
            print(f"{w['name']:14s} runs regressed: {why}")
        for m in bench["end_to_end"]:
            b, a = values(before, w["name"], m["name"]), values(after, w["name"], m["name"])
            if not b or not a:
                print(f"{w['name']:14s} {m['name']:17s} no correct runs in "
                      f"{'before' if not b else 'after'}")
                continue
            v, gain, share = verdict(b, a, m["bound"], m["better"] == "lower")
            regressed |= v == "regressed"
            qb, qa = quartiles(b), quartiles(a)
            print(f"{w['name']:14s} {m['name']:17s} {m['unit']:5s} "
                  f"before {qb[1]:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(b):2d}  "
                  f"after {qa[1]:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}] n={len(a):2d}  "
                  f"gain {gain:+7.2%}  wins {share:4.0%}  bound {m['bound']:.2f}  {v}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
