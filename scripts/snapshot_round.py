"""End-of-round snapshot: the mechanical steps of the round workflow, in
one command, so none of them can be forgotten (VERDICT r11 task 6 made the
round-stamped bench snapshot structural; the rest was already discipline).

Steps (each in a FRESH subprocess — the cold bench must not inherit this
session's JIT/page-cache state, per the bench-session-order-drift rule):

1. full `scripts/check_oracle.py --merge` — records ORACLE_LOCAL.json from
   a clean run over the whole registry (fails the snapshot on any mismatch);
2. full `bench.py` cold, stdout tee'd to BENCH_LOCAL_r{N}_cold.json (the
   one-line summary) with the per-query map snapshotted round-stamped to
   BENCH_FULL_r{N}.json — cross-round movers never need `git show`
   reconstruction of the mutable BENCH_FULL.json again;
3. `scripts/release_check.py` — the blocking artifact-coverage gate.

NOT automated (judgment, not mechanics): BENCH_DRIFT_r{N}.md adjudication
of ≥1.5x movers (worktree A/B, not just re-timing) and the PARITY.md
addendum.  The script prints reminders with the movers it can compute.

Usage: python scripts/snapshot_round.py <round-number> [--skip-oracle]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd: list, **kw) -> subprocess.CompletedProcess:
    print(f"+ {' '.join(cmd)}", file=sys.stderr)
    return subprocess.run(cmd, cwd=ROOT, **kw)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("round", type=int)
    ap.add_argument("--skip-oracle", action="store_true",
                    help="skip step 1 when a full clean oracle run already "
                         "happened after the last registration")
    args = ap.parse_args()
    n = args.round

    if not args.skip_oracle:
        r = run([sys.executable, "scripts/check_oracle.py", "--merge"])
        if r.returncode != 0:
            print("snapshot ABORTED: full oracle run failed", file=sys.stderr)
            return r.returncode

    r = run([sys.executable, "bench.py"], capture_output=True, text=True)
    sys.stderr.write(r.stderr[-2000:] if r.stderr else "")
    if r.returncode != 0:
        print("snapshot ABORTED: cold bench failed", file=sys.stderr)
        return r.returncode
    summary_line = r.stdout.strip().splitlines()[-1]
    cold_path = os.path.join(ROOT, f"BENCH_LOCAL_r{n}_cold.json")
    with open(cold_path, "w") as f:
        f.write(summary_line + "\n")
    full_src = os.path.join(ROOT, "BENCH_FULL.json")
    full_dst = os.path.join(ROOT, f"BENCH_FULL_r{n}.json")
    shutil.copyfile(full_src, full_dst)
    print(f"wrote {cold_path} and {full_dst}", file=sys.stderr)

    # movers vs the previous round's snapshot, if one exists
    prev = os.path.join(ROOT, f"BENCH_FULL_r{n - 1}.json")
    if os.path.exists(prev):
        with open(prev) as f:
            old = json.load(f).get("queries", {})
        with open(full_dst) as f:
            new = json.load(f).get("queries", {})
        movers = sorted(
            (
                (q, old[q], new[q], new[q] / old[q])
                for q in set(old) & set(new)
                if old[q] > 0.3 and new[q] / old[q] >= 1.5
            ),
            key=lambda t: -t[3],
        )
        if movers:
            print("\n≥1.5x movers to adjudicate in BENCH_DRIFT_r"
                  f"{n}.md (worktree A/B, not just re-timing):")
            for q, a, b, ratio in movers:
                print(f"  {q}: {a:.2f}s -> {b:.2f}s ({ratio:.2f}x)")
        else:
            print("\nno ≥1.5x movers vs the previous round's snapshot")
    else:
        print(f"\n(no {os.path.basename(prev)} — movers vs last round must "
              "be reconstructed by hand this once)")

    r = run([sys.executable, "scripts/release_check.py"])
    if r.returncode != 0:
        print("snapshot INCOMPLETE: release gate red", file=sys.stderr)
        return r.returncode
    print("\nsnapshot steps done. Remaining judgment steps: "
          "BENCH_DRIFT adjudication (if movers), PARITY.md addendum, commit.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
