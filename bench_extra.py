"""Same-window interleaved bench A/B: HEAD vs a reference commit
(VERDICT r9 next #2, applied to r10): run the EXACT driver protocol
(`bench.py`, subprocess per leg, median-of-3 in-process replicates) on
two trees alternately in ONE session, both orders, so the box's
monotonic/windowed drift (CLAUDE.md: ±20%+) cancels instead of writing
phantom deltas.

NOT part of the driver's frozen measurement: bench.py is untouched; this
harness only *invokes* it per tree and aggregates.

Usage:
  python bench_extra.py [--ref ed92b9d] [--sf /root/testdata/sf1.0]
                        [--cpus 32] [--order BAAB,ABBA] [--out PATH]

A = the reference tree (git archive of --ref into a temp dir). B = the
checkout this script lives in. bench.py hard-codes one absolute checkout
on sys.path, so each side runs a copy of its own bench.py pinned to its
own tree (pinned_bench) and imports ITS OWN package. Each tree reads the
synth tables of its own checkout (SYNTH_ROOT is checkout-relative), so
input-layout changes count on the side that made them.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))


def pinned_bench(tree: str, dest: str) -> str:
    """Write `tree`'s bench.py to `dest`/bench.py with its first
    `sys.path.insert(0, "<path>")` line, which pins one absolute checkout,
    pointed at `tree`, so the bench imports that tree's package; returns
    the written path. bench.py uses no path of its own, so the copy may
    live anywhere."""
    src = open(os.path.join(tree, "bench.py")).read()
    pinned, n = re.subn(r'sys\.path\.insert\(0, "[^"]*"\)',
                        f'sys.path.insert(0, "{tree}")', src, count=1)
    assert n == 1, f"bench.py sys.path line not found in {tree}"
    path = os.path.join(dest, "bench.py")
    with open(path, "w") as f:
        f.write(pinned)
    return path


def export_ref(ref: str) -> str:
    d = tempfile.mkdtemp(prefix=f"ab_{ref}_")
    tar = os.path.join(d, "tree.tar")
    with open(tar, "wb") as f:
        subprocess.run(["git", "-C", REPO, "archive", ref], stdout=f, check=True)
    with tarfile.open(tar) as tf:
        tf.extractall(d, filter="data")
    os.unlink(tar)
    return d


def run_leg(bench: str, sf: str, cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS=str(cpus))
    t0 = time.time()
    p = subprocess.run([sys.executable, bench],
                       env=env, cwd=tempfile.gettempdir(),
                       capture_output=True, text=True, timeout=3600)
    wall = round(time.time() - t0, 1)
    line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
    rec = json.loads(line)
    rec["_wall_s"] = wall
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", default="ed92b9d")
    ap.add_argument("--sf", default="/root/testdata/sf1.0")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--order", default="BAAB,ABBA")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "ab_r10.json"))
    args = ap.parse_args()

    ref_tree = export_ref(args.ref)
    benches = {"A": pinned_bench(ref_tree, ref_tree),
               "B": pinned_bench(REPO, tempfile.mkdtemp(prefix="ab_head_"))}
    legs = []
    seq = [c for block in args.order.split(",") for c in block]
    print(f"A={args.ref} ({ref_tree})  B=HEAD  sf={args.sf} "
          f"cpus={args.cpus}  order={''.join(seq)}", flush=True)
    for i, which in enumerate(seq):
        rec = run_leg(benches[which], args.sf, args.cpus)
        legs.append({"pos": i, "side": which, "value": rec["value"],
                     "queries": rec["queries"],
                     "replicate_totals": rec.get("replicate_totals"),
                     "corpus_prep_sec": rec.get("corpus_prep_sec"),
                     "turns_per_sec_steady": rec.get("turns_per_sec_steady"),
                     "wall_s": rec["_wall_s"]})
        print(f"leg {i} [{which}] value={rec['value']} "
              f"extract={rec['queries'].get('extract_turns')} "
              f"steady_tps={rec.get('turns_per_sec_steady')}", flush=True)

    def med(side, key):
        vals = [l[key] for l in legs if l["side"] == side and l[key] is not None]
        return round(statistics.median(vals), 3) if vals else None

    qnames = list(legs[0]["queries"])
    summary = {
        "ref": args.ref, "sf": args.sf, "cpus": args.cpus,
        "order": "".join(seq),
        "value_median": {s: med(s, "value") for s in "AB"},
        "corpus_prep_median": {s: med(s, "corpus_prep_sec") for s in "AB"},
        "steady_tps_median": {s: med(s, "turns_per_sec_steady") for s in "AB"},
        "per_query_median": {
            q: {s: round(statistics.median(
                [l["queries"][q] for l in legs
                 if l["side"] == s and l["queries"].get(q, -1) > 0]), 3)
                for s in "AB"}
            for q in qnames},
        "legs": legs,
    }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: summary[k] for k in
                      ("value_median", "corpus_prep_median",
                       "steady_tps_median")}))
    print("wrote", args.out)


if __name__ == "__main__":
    main()
