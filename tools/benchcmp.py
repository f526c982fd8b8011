#!/usr/bin/env python3
"""Compare two bench artifacts machine-normalized (r17 verdict item 7).

Usage: python3 tools/benchcmp.py <base.json> <new.json> [--threshold 2.0]

Implements the documented normalization workflow (README "reading
bench artifacts") as one reviewable procedure, so each round's verdict
— and the driver — apply the same mechanics instead of re-deriving
them:

  1. normalize BOTH sides per-query by their artifact's
     `calibration_sec` (a fixed CPU+scan probe timed on the same
     machine as the run — constant work, so it varies only with
     machine speed);
  2. report the median normalized ratio (the machine-band signal);
  3. FLAG queries whose normalized ratio exceeds the threshold (default
     2x) AND that have n_samples >= 2 on both sides — a 1-sample
     "median" is a cold single shot (its artifact says so via
     n_samples) and is reported separately as cold-band noise, never
     flagged as a regression.

When both artifacts carry `query_metrics` (Bench's per-query record of
its last completed pass), each common query's job count and executor
CPU seconds are printed with their deltas; they do not affect the exit
code.

Exit code 1 when any flagged mover exists, 0 otherwise, 2 on input
errors — so the comparison can gate scripts.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        art = json.load(f)
    cal = art.get("calibration_sec")
    if not cal or cal <= 0:
        # pre-r17 artifacts carry no probe: normalization is impossible
        # on that side — say so instead of silently comparing raw time
        raise SystemExit(
            f"{path}: no calibration_sec — artifact predates the probe; "
            "re-bench that commit on the current machine (worktree at the "
            "old commit, same invocation — README 'reading bench "
            "artifacts') or compare raw times knowing the machine band "
            "confounds them")
    return art, cal


def main(argv):
    args = [a for a in argv[1:] if not a.startswith("--")]
    threshold = 2.0
    for a in argv[1:]:
        if a.startswith("--threshold"):
            threshold = float(a.split("=", 1)[1] if "=" in a else argv[argv.index(a) + 1])
    if len(args) != 2:
        print(__doc__)
        return 2
    base, bcal = load(args[0])
    new, ncal = load(args[1])
    bq, nq = base["queries"], new["queries"]
    bn, nn = base.get("n_samples", {}), new.get("n_samples", {})
    common = sorted(set(bq) & set(nq))
    if not common:
        print("no common queries between the two artifacts")
        return 2
    print(f"base: {args[0]}  calibration {bcal:.3f}s  "
          f"({len(bq)} queries, mode {base.get('mode', '?')})")
    print(f"new:  {args[1]}  calibration {ncal:.3f}s  "
          f"({len(nq)} queries, mode {new.get('mode', '?')})")
    print(f"machine ratio (new/base calibration): {ncal / bcal:.2f}x")
    bfs = base.get("calibration", {}).get("fsmeta_sec")
    nfs = new.get("calibration", {}).get("fsmeta_sec")
    if bfs and nfs:
        # store-heavy movers with a flat machine ratio but a moved
        # fsmeta ratio are an IO-band shift, not a plan regression
        print(f"fsmeta (metadata-latency) ratio: {nfs / bfs:.2f}x  "
              f"({bfs:.3f}s -> {nfs:.3f}s)")
    elif bfs or nfs:
        print("fsmeta probe present on one side only "
              "(the other artifact predates it)")
    rows = []
    for q in common:
        ratio = (nq[q] / ncal) / (bq[q] / bcal)
        rows.append((q, bq[q], nq[q], ratio, bn.get(q, 0), nn.get(q, 0)))
    med = statistics.median(r[3] for r in rows)
    print(f"median normalized ratio over {len(common)} common queries: "
          f"{med:.2f}x  (inside ~1.2x = machine band)")
    flagged = [r for r in rows if r[3] > threshold and r[4] >= 2 and r[5] >= 2]
    cold = [r for r in rows if r[3] > threshold and (r[4] < 2 or r[5] < 2)]
    for title, rs in (("FLAGGED (>%.1fx normalized, n>=2 both sides "
                       "— investigate as regressions)" % threshold, flagged),
                      ("cold-band (> threshold but 1-sample on a side "
                       "— cold single shots, not regressions)", cold)):
        print(f"\n{title}: {len(rs)}")
        for q, b, n, ratio, nb, nn_ in sorted(rs, key=lambda r: -r[3]):
            print(f"  {q:40s} {b:8.2f}s -> {n:8.2f}s  "
                  f"norm {ratio:5.2f}x  n={nb}/{nn_}")
    bm, nm = base.get("query_metrics"), new.get("query_metrics")
    if bm and nm:
        work = [q for q in common if q in bm and q in nm]
        print(f"\nper-query work (query_metrics, base -> new): {len(work)}")
        for q in work:
            bj, nj = bm[q]["jobs"], nm[q]["jobs"]
            bc, nc = bm[q]["executor_cpu_sec"], nm[q]["executor_cpu_sec"]
            print(f"  {q:40s} jobs {bj:4d} -> {nj:4d} ({nj - bj:+d})  "
                  f"executor cpu {bc:7.2f}s -> {nc:7.2f}s ({nc - bc:+.2f}s)")
    only_base = sorted(set(bq) - set(nq))
    only_new = sorted(set(nq) - set(bq))
    if only_base:
        print(f"\nonly in base ({len(only_base)}): {', '.join(only_base)}")
    if only_new:
        print(f"only in new ({len(only_new)}): {', '.join(only_new)}")
    for side, art in (("base", base), ("new", new)):
        extras = []
        if art.get("budget_exceeded"):
            extras.append("budget_exceeded")
        if art.get("capped"):
            extras.append(f"capped={art['capped']}")
        if art.get("demoted"):
            extras.append(f"demoted={art['demoted']}")
        if extras:
            print(f"{side} artifact is degraded/adapted: {', '.join(extras)}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
