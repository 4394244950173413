#!/usr/bin/env python3
"""Per-round sf10 scale ratchet (round-15 verdict item 4).

The sf10 subset gate caught d20's multiplicity-quadratic pairing on its
very first run; this tool turns it into a ROUND WORKFLOW step like
bench_diff: re-time the committed subset queries at sf1 and sf10 on one
boot each (`tools/graft.sh Bench retime -g1 -n4`, min of 4 hot runs),
recompute the per-query 10x-data ratios, diff them against the committed
BENCH_sf10_subset.json, and flag any ratio that grew by more than --threshold (default 1.3x).
A flagged ratio means an operator's SCALING degraded since last round —
the one regression class sf0.1 wall-clock diffs cannot see.

Usage:
  tools/sf10_ratchet.py [--sf1 /tmp/sf1] [--sf10 /tmp/sf10]
      [--baseline BENCH_sf10_subset.json] [--out BENCH_sf10_subset.json]
      [--threshold 1.3] [--diff-out -]

Writes the refreshed artifact to --out and the human diff table to
--diff-out (default stdout; append it to BENCH_DIFF_r{N}.txt).
Exit code 1 when any ratio ratcheted past the threshold.

Never run while another Spark JVM is timing (solo timing is the ground truth
only when nothing else runs).
"""
import argparse
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def solo_times(sf_dir, queries):
    """One boot, 4 hot runs per query after a warmup; returns {query: min_seconds}."""
    cmd = ["tools/graft.sh", "Bench", "retime", "-g1", "-n4", *queries]
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True,
                         text=True, check=True).stdout
    times = {}
    for line in out.splitlines():
        m = re.match(r"(\S+) min=([0-9.]+) ", line)
        if m:
            times[m.group(1)] = float(m.group(2))
    missing = [q for q in queries if q not in times]
    if missing:
        sys.exit(f"no timings for: {missing}\n--- retime output ---\n{out}")
    return times


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1", default="/tmp/sf1")
    ap.add_argument("--sf10", default="/tmp/sf10")
    ap.add_argument("--baseline", default=os.path.join(REPO, "BENCH_sf10_subset.json"))
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_sf10_subset.json"))
    ap.add_argument("--threshold", type=float, default=1.3)
    ap.add_argument("--diff-out", default="-")
    ap.add_argument("--add", action="append", default=[],
                    help="admit a NEW query to the subset: timed and written "
                         "to the refreshed artifact, no growth check (no "
                         "baseline ratio exists yet)")
    args = ap.parse_args()

    base = json.load(open(args.baseline))
    queries = sorted(set(base["queries"].keys()) | set(args.add))

    t1 = solo_times(args.sf1, queries)
    t10 = solo_times(args.sf10, queries)

    lines = ["", "sf10 scale ratchet (tools/sf10_ratchet.py): per-query sf1->sf10",
             f"solo ratios vs committed baseline, flag threshold {args.threshold}x",
             "",
             f"{'query':34} {'old ratio':>9} {'new ratio':>9} {'growth':>7}  verdict"]
    flagged = []
    new_queries = {}
    for q in queries:
        new_r = round(t10[q] / t1[q], 2) if t1[q] > 0 else float("inf")
        if q in base["queries"]:
            old_r = base["queries"][q]["ratio_10x_data"]
            growth = new_r / old_r if old_r else float("inf")
            verdict = "ok"
            if growth > args.threshold:
                verdict = "RATCHET-FLAG (scaling degraded)"
                flagged.append(q)
            lines.append(
                f"{q:34} {old_r:9.2f} {new_r:9.2f} {growth:6.2f}x  {verdict}")
        else:
            lines.append(
                f"{q:34} {'new':>9} {new_r:9.2f} {'':>7}  admitted (no baseline)")
        new_queries[q] = {
            "sf1_solo_s": round(t1[q], 3),
            "sf10_solo_s": round(t10[q], 3),
            "ratio_10x_data": new_r,
        }
    lines.append("")
    lines.append(f"flagged: {len(flagged)}" +
                 (f" ({', '.join(flagged)})" if flagged else ""))
    report = "\n".join(lines)

    artifact = {"_meta": dict(base.get("_meta", {})), "queries": new_queries}
    artifact["_meta"]["ratchet"] = (
        "refreshed by tools/sf10_ratchet.py: one boot per scale, min of 4 "
        f"hot runs; ratios diffed against the previous round at {args.threshold}x")
    json.dump(artifact, open(args.out, "w"), indent=2)

    if args.diff_out == "-":
        print(report)
    else:
        with open(args.diff_out, "a") as f:
            f.write(report + "\n")
        print(report)
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
