#!/usr/bin/env python3
"""Cross-round / cross-scale bench comparison (round-10 verdict item 8).

Usage:
  bench_diff.py OLD.json NEW.json [--threshold R] [--all]
      [--retime=<old_rev> [--sfdir DIR]]
  git show <rev>:bench.json > /tmp/old.json && bench_diff.py /tmp/old.json bench.json

--retime=<old_rev> solo-retimes every flagged query under both builds on this
boot. It runs each build through that build's own tools/graft.sh, so
<old_rev> must be a revision that has tools/graft.sh.

Inputs are graft.Bench's bench.json shape: per-query sweep min in "queries",
optional interference-free reruns in "queries_solo", raw sweep samples in
"queries_samples". The estimator preference order per query is:

  solo time (when present)  >  sweep min

— solo reruns happen AFTER the sweep with nothing else running, so they are
the only times comparable verdict-to-verdict without chasing sweep noise
(round-10: a "+4.1 s regression" dissolved entirely once solo/sample
distributions were consulted).

A query is flagged as a REAL regression only if BOTH hold:
  1. new_time > threshold * old_time (default 1.3), and
  2. the sample ranges do not overlap (new min > old max) — overlapping
     sweep distributions are noise by construction.
Queries failing only (1) are listed as "noisy" unless --all hides nothing.

With differing "sf" fields the report is labeled a SCALE comparison and the
ratio column is the scale-up factor (e.g. sf1/sf0.1 ≈ 10 for perfectly
linear operators; super-linear entries are what to chase).
"""
import json
import os
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def best(d, q):
    solo = d.get("queries_solo") or {}
    if q in solo and solo[q] is not None and solo[q] >= 0:
        return float(solo[q]), "solo"
    v = d["queries"].get(q)
    return (float(v), "sweep") if v is not None and v >= 0 else (None, "fail")


def srange(d, q):
    xs = [x for x in (d.get("queries_samples") or {}).get(q, []) if x >= 0]
    return (min(xs), max(xs)) if xs else None




# ── automated solo retime (round-13 verdict item 8) ──────────────────────
# Flagged rows are host-noise suspects until reproduced on ONE boot.
# --retime=<old_rev> rebuilds the OLD bench commit in a git worktree and
# solo-times every flagged query under both builds on the CURRENT boot
# (`tools/graft.sh Bench retime -g1 -n4`: 4 hot runs after a warmup, min
# taken), then re-verdicts: a regression is REAL-SOLO only if
# new_solo > threshold * old_solo on identical hardware.
# This automates the manual forensics that debunked 6 phantom regressions
# in round 13 (BENCH_DIFF_r13.txt).


def solo_times(repo_dir, queries, sf_dir):
    """Retime the named queries with repo_dir's build; min hot run each."""
    import re as _re
    import subprocess
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run(["tools/graft.sh", "Bench", "retime", "-g1", "-n4", *queries],
                         cwd=repo_dir, env=env, capture_output=True, text=True,
                         timeout=3600)
    times = {}
    for line in out.stdout.splitlines():
        m = _re.match(r"(\S+) min=([0-9.]+) ", line)
        if m:
            times[m.group(1)] = float(m.group(2))
    missing = [q for q in queries if q not in times]
    if missing:
        sys.stderr.write(f"[retime] no solo time for {missing} in {repo_dir}; "
                         f"stderr tail: {out.stderr[-500:]}\n")
    return times


def build_worktree(rev):
    """Materialize rev in a worktree and sbt-compile it; returns the dir."""
    import subprocess
    wt = f"/tmp/bench_retime_{rev[:12]}"
    if not os.path.isdir(wt):
        subprocess.run(["git", "worktree", "add", "--detach", wt, rev],
                       check=True, capture_output=True)
    # compile alone does NOT copy resources — without copyResources the
    # DSv2 DataSourceRegister service file is absent from target/classes
    # and every connector-path query kills the retime JVM
    subprocess.run(["sbt", "-batch", ";compile;Compile/copyResources"],
                   cwd=wt, check=True, capture_output=True, timeout=1800)
    return wt


def retime(rows, old_rev, thr, sf_dir):
    """Solo-retime flagged rows on this boot; returns {q: (old, new, verdict)}."""
    flagged = [q for q, _, _, _, v in rows if v in ("REGRESSION", "noisy")]
    if not flagged:
        return {}
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import subprocess
    subprocess.run(["sbt", "-batch", ";compile;Compile/copyResources"],
                   cwd=here, check=True, capture_output=True, timeout=1800)
    old_wt = build_worktree(old_rev)
    new_solo = solo_times(here, flagged, sf_dir)
    old_solo = solo_times(old_wt, flagged, sf_dir)
    out = {}
    for q in flagged:
        o, n = old_solo.get(q), new_solo.get(q)
        if o is None or n is None:
            out[q] = (o, n, "solo-missing")
        elif n > thr * o:
            out[q] = (o, n, "REAL-SOLO")
        else:
            out[q] = (o, n, "sub-threshold")
    return out


def main():
    if "--help" in sys.argv:
        print(__doc__)
        sys.exit(0)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    thr = 1.3
    show_all = "--all" in sys.argv
    for a in sys.argv[1:]:
        if a.startswith("--threshold"):
            thr = float(a.split("=", 1)[1] if "=" in a else sys.argv[sys.argv.index(a) + 1])
    old, new = load(args[0]), load(args[1])
    scale_cmp = old.get("sf") != new.get("sf")
    rows = []
    for q in new["queries"]:
        nv, nsrc = best(new, q)
        ov, osrc = best(old, q)
        if nv is None or ov is None or ov == 0:
            rows.append((q, ov, nv, None, "FAIL" if nv is None else "new"))
            continue
        ratio = nv / ov
        verdict = ""
        if not scale_cmp and ratio > thr:
            orng, nrng = srange(old, q), srange(new, q)
            if orng and nrng and nrng[0] > orng[1]:
                verdict = "REGRESSION"
            else:
                verdict = "noisy"
        rows.append((q, ov, nv, ratio, verdict or f"{osrc}/{nsrc}"))
    rows.sort(key=lambda r: -(r[3] or 0))
    kind = "SCALE" if scale_cmp else "ROUND"
    print(f"# bench_diff ({kind}): {args[0]} [{old.get('sf')}] -> {args[1]} [{new.get('sf')}]")
    tot_o = sum(r[1] for r in rows if r[1]) or 1
    tot_n = sum(r[2] for r in rows if r[2])
    print(f"# totals: {tot_o:.2f}s -> {tot_n:.2f}s  (x{tot_n / tot_o:.2f})")
    hdr = f"{'query':34s} {'old_s':>9s} {'new_s':>9s} {'ratio':>7s}  note"
    print(hdr)
    n_shown = 0
    for q, ov, nv, ratio, note in rows:
        interesting = note in ("REGRESSION", "noisy", "FAIL", "new") or scale_cmp
        if not (show_all or interesting):
            continue
        n_shown += 1
        print(f"{q:34s} {ov if ov is not None else -1:9.3f} "
              f"{nv if nv is not None else -1:9.3f} "
              f"{ratio if ratio is not None else -1:7.2f}  {note}")
    if n_shown == 0:
        print("(no regressions above threshold; rerun with --all for the full table)")
    n_reg = sum(1 for r in rows if r[4] == "REGRESSION")
    print(f"# {n_reg} real regression(s) at threshold {thr} "
          f"(sample-range-disjoint); {sum(1 for r in rows if r[4] == 'noisy')} noisy")

    old_rev = None
    for a in sys.argv[1:]:
        if a.startswith("--retime"):
            old_rev = a.split("=", 1)[1] if "=" in a else sys.argv[sys.argv.index(a) + 1]
    if old_rev and not scale_cmp:
        sf = str(new.get("sf"))
        sf_dir = sf if sf.startswith("/") else f"/root/testdata/sf{sf}"
        for a in sys.argv[1:]:
            if a.startswith("--sfdir"):
                sf_dir = a.split("=", 1)[1] if "=" in a else sys.argv[sys.argv.index(a) + 1]
        solo = retime(rows, old_rev, thr, sf_dir)
        if solo:
            print(f"\n# solo retime on THIS boot (old rev {old_rev[:12]}, sf dir {sf_dir}):")
            print(f"{'query':34s} {'old_solo':>9s} {'new_solo':>9s} {'ratio':>7s}  solo verdict")
            for q, (o, n, v) in sorted(solo.items()):
                r = (n / o) if (o and n) else -1
                print(f"{q:34s} {o if o is not None else -1:9.3f} "
                      f"{n if n is not None else -1:9.3f} {r:7.2f}  {v}")
            n_real = sum(1 for v in solo.values() if v[2] == "REAL-SOLO")
            print(f"# solo verdicts: {n_real} REAL-SOLO, "
                  f"{sum(1 for v in solo.values() if v[2] == 'sub-threshold')} sub-threshold "
                  f"(not reproducible at {thr}x on one boot)")
            sys.exit(1 if n_real else 0)
    sys.exit(1 if n_reg else 0)


if __name__ == "__main__":
    main()
