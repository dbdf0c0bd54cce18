"""Self-test of the benchmark's checkers.

    python3 perfbench/selftest.py [--seed 7] [--workloads pipeline_suite,ingest_serve]

For each workload, runs the benchmark twice on the same seed: once as
is, once with ``--corrupt 1`` (one result of the workload is altered
before it is checked). The corrupted run must report a higher failed
share (``failed / attempted``) and ``correct: false``. Exits 1 when a
checker misses its corruption. Run from the root of a dqe_spark
checkout.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run(workload: str, seed: int, corrupt: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "5", "--trace", "0",
         "--corrupt", str(corrupt)],
        capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise SystemExit(f"{workload} corrupt={corrupt} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", default="pipeline_suite,ingest_serve")
    args = ap.parse_args()
    ok = True
    for w in args.workloads.split(","):
        clean, bad = run(w, args.seed, 0), run(w, args.seed, 1)
        share = lambda r: r["failed"] / r["attempted"]  # noqa: E731
        rose = share(bad) > share(clean) and not bad["correct"]
        ok &= rose
        print(f"{w}: failed_share {share(clean):.3f} -> {share(bad):.3f} "
              f"(correct {clean['correct']} -> {bad['correct']}): "
              f"{'ok' if rose else 'CHECKER MISSED THE CORRUPTION'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
