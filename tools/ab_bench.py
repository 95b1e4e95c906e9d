"""Interleaved A/B gate benchmark (VERDICT r12 #2).

The r12 quiet artifact carried canary-inconsistent outliers because a
single recording window can absorb transient contention that the
within-window canary misses. This tool makes before/after measurement
of an optimization ROBUST by interleaving: it checks out the BEFORE
revision into a throwaway git worktree, then alternates fresh bench.py
processes A,B,B,A,A,B,... over the requested gates, and
reports per-gate min/median per side plus the ratio. Host drift hits
both sides of every adjacent pair, so a consistent ratio is code, not
host. Each side runs with its own TMPDIR, kept for all of its runs, so
each side builds its scratch indices once with its own code and never
reads the other side's.

Usage:
    python tools/ab_bench.py --before HEAD~1 \
        --gates doc_bpe_merges,graph_doc_pagerank --pairs 3
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_subset(repo: str, gates: list[str], reps: int,
               tmpdir: str) -> dict[str, float]:
    env = dict(os.environ, TMPDIR=tmpdir,
               SPARK_GRAFT_BENCH_ONLY=",".join(gates),
               SPARK_GRAFT_BENCH_REPS=str(reps))
    proc = subprocess.run([sys.executable, os.path.join(repo, "bench.py")],
                          env=env, capture_output=True, text=True,
                          cwd=repo)
    if proc.returncode != 0 or not proc.stdout.strip():
        sys.stderr.write(proc.stderr[-2000:])
        raise RuntimeError(f"bench.py failed in {repo}")
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    return payload["queries"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--before", required=True,
                    help="git rev of the BEFORE code")
    ap.add_argument("--gates", required=True)
    ap.add_argument("--pairs", type=int, default=3,
                    help="number of (before, after) process pairs")
    ap.add_argument("--reps", type=int, default=2,
                    help="timed in-process reps per gate per process")
    ap.add_argument("--worktree", default="/tmp/ab_before")
    ap.add_argument("--out", default=None, help="write JSON here")
    args = ap.parse_args()
    gates = args.gates.split(",")

    subprocess.run(["git", "worktree", "remove", "--force", args.worktree],
                   cwd=REPO, capture_output=True)
    r = subprocess.run(["git", "worktree", "add", "--detach",
                        args.worktree, args.before],
                       cwd=REPO, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr)
        return 1
    tmpdirs = {side: tempfile.mkdtemp(prefix=f"ab_{side}_")
               for side in ("before", "after")}
    try:
        before_runs: list[dict] = []
        after_runs: list[dict] = []
        for pair in range(args.pairs):
            # alternate which side goes first inside each pair (ABBA)
            order = [("before", args.worktree), ("after", REPO)]
            if pair % 2:
                order.reverse()
            for side, repo in order:
                t0 = time.time()
                q = run_subset(repo, gates, args.reps, tmpdirs[side])
                (before_runs if side == "before" else after_runs).append(q)
                print(f"# pair {pair + 1} {side}: "
                      + " ".join(f"{g}={q.get(g)}" for g in gates)
                      + f" (wall {time.time() - t0:.0f}s)",
                      file=sys.stderr)
        summary = {}
        for g in gates:
            b = [r[g] for r in before_runs if g in r]
            a = [r[g] for r in after_runs if g in r]
            if not b or not a:
                summary[g] = {"error": "gate missing on one side"}
                continue
            summary[g] = {
                "before_min": min(b), "after_min": min(a),
                "before_median": round(statistics.median(b), 3),
                "after_median": round(statistics.median(a), 3),
                "ratio_min": round(min(a) / min(b), 3),
                "ratio_median": round(statistics.median(a)
                                      / statistics.median(b), 3),
                "before_runs": b, "after_runs": a,
            }
        out = {"before_rev": args.before, "pairs": args.pairs,
               "reps": args.reps, "gates": summary}
        print(json.dumps(out, indent=1))
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(out, fh, indent=1)
                fh.write("\n")
        return 0
    finally:
        for d in tmpdirs.values():
            shutil.rmtree(d, ignore_errors=True)
        subprocess.run(["git", "worktree", "remove", "--force",
                        args.worktree], cwd=REPO, capture_output=True)


if __name__ == "__main__":
    sys.exit(main())
