"""Bench-conditions A/B harness (OPTIMIZATION r12, VERDICT r11 item 2).

r11's process failure: a fresh-session timing (sf0.001 warmup, min-of-3)
approved commit d7247bb, which then REGRESSED under `bench.py` conditions
— the bench runs all 177 headline queries in ONE session, so shared
artifacts/caches make replaying a subtree far cheaper there than in a
fresh session, flipping checkpoint trade-offs.

This tool reproduces the bench's steady-state posture without editing
bench.py: one full headline pass at $SPARK_GRAFT_SF_DIR (pass 1 absorbs
artifact builds and JIT, exactly like the bench), then min-of-N timing of
ONLY the named queries. Numbers are comparable to BENCH_DETAIL per-query
rows (both are steady-state-with-shared-artifacts, timed by
`bench.run_timed`). `--skip-warm-sweep` gives the fresh-session timing.

    python tools/bench_ab.py [--passes 5] [--skip-warm-sweep] q [q ...]
"""

from __future__ import annotations

import argparse
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, run_timed  # noqa: E402
from vena_etl_tool_spark.registry import all_specs  # noqa: E402
from vena_etl_tool_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument(
        "--skip-warm-sweep",
        action="store_true",
        help="skip the full headline pass (quick re-check only; numbers "
        "are then NOT bench-comparable)",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-ab")
    specs = all_specs()
    unknown = [q for q in args.queries if q not in specs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # sf0.001 warmup of the targets first (JIT/codegen), then the full
    # headline pass at the measured SF — the bench's pass-1 posture.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in args.queries:
            run_timed(spark, f"warmup:{name}", partial(specs[name].fn, spark, warm_dir))
    if not args.skip_warm_sweep:
        swept = sum(
            run_timed(spark, f"warmsweep:{name}", partial(specs[name].fn, spark, sf_dir))
            for name in HEADLINE
        )
        print(f"warm sweep: {swept:.1f}s over {len(HEADLINE)} queries", flush=True)

    for name in args.queries:
        build = partial(specs[name].fn, spark, sf_dir)
        times = [
            round(run_timed(spark, f"ab:{name}:pass{i}", build), 3)
            for i in range(args.passes)
        ]
        srt = sorted(times)
        print(
            f"{name}: min={srt[0]:.3f}s median={srt[len(srt) // 2]:.3f}s"
            f" passes={times}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
