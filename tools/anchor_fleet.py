#!/usr/bin/env python3
"""Paired same-host bench anchor, as ONE command (round-16 verdict
stretch ask #6 — the r15 protocol, scripted; round-17 adds the
flag -> solo A/B -> verdict chain, machine-generated end-to-end).

Cross-round bench deltas on this box are meaningless without a paired
anchor: the host swings up to ~1.4x BETWEEN sessions (r15 measured the
identical r14 commit at 213.3 s vs its recorded 151.4 s). This script
re-runs the PREVIOUS round's close tree and the CURRENT tree
back-to-back in the same session with identical env, then judges
per-gate deltas by the paired median ratio — never by recorded
numbers.

When the full-fleet pass flags gates (paired ratio far off the fleet
median AND disjoint min/max spreads), it AUTO-ADJUDICATES them: both
trees re-run just those gates back-to-back (fresh JVMs, no fleet
context) and each flag resolves to a verdict — overlapping solo
spreads = fleet-position noise; disjoint solo spreads with a material
ratio = a real regression/improvement. Verdicts land in the paired
JSON and the stdout footer. --only skips the fleet and runs ONLY the
solo step for the named gates (manual adjudication); --no-adjudicate
skips the auto step.

Steps:
  1. git worktree add /tmp/anchor_<label> <anchor-commit>  (reused if
     it already exists at that commit)
  2. sbt -batch compile in the worktree
  3. anchor fleet run -> .bench-data/<label>_anchor_spread.json
  4. current fleet run -> .bench-data/<label>_fleet_spread.json
  5. paired per-gate ratios; flagged gates re-run solo in both trees
     -> .bench-data/<label>_adj_{anchor,current}_spread.json
  6. stdout markdown (the SCALING footer) and
     .bench-data/<label>_paired.json, adjudication verdicts included

Run SOLO (no concurrent duckdb/java/check.py) — see the sf10 box-limit
notes; concurrent load contaminates both sides equally but widens
spreads. The worktree is left in place for manual re-runs; remove with
`git worktree remove /tmp/anchor_<label>`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ap = argparse.ArgumentParser(
    prog="tools/anchor_fleet.py",
    description="Paired same-host bench anchor (see module docstring).")
ap.add_argument("anchor_commit", help="previous round's close commit")
ap.add_argument("label", nargs="?", default="anchor",
                help="output-file label (default: anchor)")
ap.add_argument("--sf", default="/root/testdata/sf0.1", metavar="DIR")
ap.add_argument("--iters", default="3")
ap.add_argument("--cpus", default="32")
ap.add_argument("--only", default=None, metavar="g1,g2",
                help="skip the fleet; solo-adjudicate just these gates")
ap.add_argument("--no-adjudicate", action="store_true",
                help="skip the automatic solo re-run of flagged gates")
args = ap.parse_args()

anchor_commit = args.anchor_commit
label = args.label
sf_dir = args.sf
iters = args.iters
cpus = args.cpus
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
wt = f"/tmp/anchor_{label}"


def run(cmd, cwd, env=None, quiet=False):
    e = dict(os.environ)
    e.update(env or {})
    r = subprocess.run(cmd, cwd=cwd, env=e,
                       capture_output=quiet, text=True)
    if r.returncode != 0:
        if quiet:
            sys.stderr.write((r.stdout or "")[-2000:])
            sys.stderr.write((r.stderr or "")[-2000:])
        sys.exit(f"FAILED ({r.returncode}): {' '.join(cmd)} in {cwd}")
    return r


# 1. worktree (idempotent: reuse if present and at the right commit)
want = subprocess.run(["git", "rev-parse", anchor_commit], cwd=repo,
                      capture_output=True, text=True).stdout.strip()
if not want:
    sys.exit(f"cannot resolve anchor commit '{anchor_commit}'")
if os.path.isdir(wt):
    have = subprocess.run(["git", "rev-parse", "HEAD"], cwd=wt,
                          capture_output=True, text=True).stdout.strip()
    if have != want:
        sys.exit(f"{wt} exists at {have[:12]}, wanted {want[:12]} — "
                 "remove it first (git worktree remove)")
    print(f"reusing worktree {wt} @ {want[:12]}")
else:
    run(["git", "worktree", "add", wt, anchor_commit], cwd=repo)

# 2. compile the anchor tree
print("compiling anchor tree ...", flush=True)
run(["sbt", "-batch", "compile"], cwd=wt, quiet=True)


def bench(name, cwd, out, only=None):
    """One Bench run (fresh JVM) writing a min/med/max spread file."""
    print(f"running {name} {'solo gates ' + only if only else 'fleet'}"
          f" ({sf_dir}, iters={iters}, local[{cpus}]) ...", flush=True)
    env = {"SPARK_GRAFT_SF_DIR": sf_dir,
           "SPARK_GRAFT_CPUS": cpus,
           "SPARK_GRAFT_BENCH_ITERS": iters,
           "SPARK_GRAFT_BENCH_SPREAD_OUT": out}
    if only:
        env["SPARK_GRAFT_ONLY"] = only
        # an anchor commit older than the one gate filter reads this name
        env["SPARK_GRAFT_BENCH_ONLY"] = only
    run(["sbt", "-batch", "runMain graft.Bench"], cwd=cwd, quiet=True,
        env=env)


def load(p):
    return json.load(open(p))["spread_min_med_max"]


# 3+4. both fleets (or the manual --only solo pair), back-to-back
out_anchor = f"{repo}/.bench-data/{label}_anchor_spread.json"
out_current = f"{repo}/.bench-data/{label}_fleet_spread.json"
bench("anchor", wt, out_anchor, only=args.only)
bench("current", repo, out_current, only=args.only)

# 5. paired comparison
a, c = load(out_anchor), load(out_current)
common = sorted(set(a) & set(c))
only_a, only_c = sorted(set(a) - set(c)), sorted(set(c) - set(a))
ratios = {q: c[q][1] / a[q][1] for q in common if a[q][1] > 0}
if not ratios:
    sys.exit(
        "no common gate with a positive anchor median between\n"
        f"  {out_anchor} ({len(a)} gates)\n"
        f"  {out_current} ({len(c)} gates)\n"
        f"  gate overlap: {len(common)}"
        + (f" ({', '.join(common[:8])}...)" if common else "")
        + "\ncheck the --only list / that both trees define the gates")
med = statistics.median(ratios.values())
ta = sum(a[q][1] for q in common)
tc = sum(c[q][1] for q in common)
# a gate is flagged only when its paired ratio is far off the fleet
# median AND its spreads are disjoint (the r15 adjudication rule)
flags = [q for q, r in ratios.items()
         if (r > 1.3 * med or r < med / 1.3)
         and (c[q][0] > a[q][2] or c[q][2] < a[q][0])]

# 5b. auto-adjudication: flagged gates re-run SOLO in both trees
# (fresh JVMs, no fleet context) and each flag resolves to a verdict
adjudications = {}
if flags and not args.only and not args.no_adjudicate:
    only_list = ",".join(sorted(flags))
    adj_anchor = f"{repo}/.bench-data/{label}_adj_anchor_spread.json"
    adj_current = f"{repo}/.bench-data/{label}_adj_fleet_spread.json"
    bench("anchor-adjudicate", wt, adj_anchor, only=only_list)
    bench("current-adjudicate", repo, adj_current, only=only_list)
    sa, sc = load(adj_anchor), load(adj_current)
    for q in sorted(flags):
        if q not in sa or q not in sc or sa[q][1] <= 0:
            adjudications[q] = {"verdict": "no-solo-data"}
            continue
        r = sc[q][1] / sa[q][1]
        overlap = not (sc[q][0] > sa[q][2] or sc[q][2] < sa[q][0])
        if overlap:
            verdict = "noise (overlapping solo spreads)"
        elif r > 1.1:
            verdict = "REGRESSION (disjoint solo spreads)"
        elif r < 0.9:
            verdict = "improvement (disjoint solo spreads)"
        else:
            verdict = "noise (solo ratio within 10%)"
        adjudications[q] = {
            "fleet_ratio": round(ratios[q], 3),
            "solo_ratio": round(r, 3),
            "solo_anchor_min_med_max": sa[q],
            "solo_current_min_med_max": sc[q],
            "verdict": verdict}

paired = {"anchor_commit": want, "sf": sf_dir, "iters": int(iters),
          "anchor_total": round(ta, 1), "current_total": round(tc, 1),
          "paired_median_ratio": round(med, 3),
          "flagged_disjoint": sorted(flags, key=lambda q: -ratios[q]),
          "adjudications": adjudications,
          "only_in_anchor": only_a, "only_in_current": only_c,
          "ratios": {q: round(r, 3) for q, r in ratios.items()}}
pj = f"{repo}/.bench-data/{label}_paired.json"
json.dump(paired, open(pj, "w"), indent=1)

print("\n<!-- FLEET:BEGIN -->")
print(f"**Paired same-host anchor** (`tools/anchor_fleet.py`, anchor "
      f"`{want[:12]}`, {sf_dir}, {iters} iters, local[{cpus}], "
      "back-to-back same session):\n")
print(f"- anchor tree, TODAY's host: **{ta:.1f} s** "
      f"({len(common)} common gates)")
print(f"- current tree, same session: **{tc:.1f} s** — paired "
      f"per-gate median ratio **{med:.3f}**")
if flags and adjudications:
    print("- flagged gates auto-adjudicated solo (fresh JVMs, "
          "back-to-back):")
    for q in sorted(adjudications):
        v = adjudications[q]
        extra = ("" if "solo_ratio" not in v else
                 f" fleet {v['fleet_ratio']}x -> solo {v['solo_ratio']}x")
        print(f"  - `{q}`:{extra} — {v['verdict']}")
elif flags:
    print(f"- gates with DISJOINT spreads off the median (re-run solo "
          f"before calling a regression): " +
          ", ".join(f"`{q}` {ratios[q]:.2f}x" for q in
                    sorted(flags, key=lambda q: -ratios[q])[:10]))
else:
    print("- no gate's spread is disjoint from its anchor off the "
          "fleet median — every per-gate delta is ambient")
for lst, tag in ((only_c, "new gates (no anchor twin)"),
                 (only_a, "gates removed since anchor")):
    if lst:
        print(f"- {tag}: " + ", ".join(f"`{q}`" for q in lst))
print(f"\nSpreads: `{os.path.relpath(out_anchor, repo)}`, "
      f"`{os.path.relpath(out_current, repo)}`; paired table "
      f"`{os.path.relpath(pj, repo)}`.")
print("<!-- FLEET:END -->")
