"""EPE monthly history-length experiment — per-cycle refresh cost as
the standing tables age.

Reproduces SCALE.md's "one-cell-revision, N cycles" table from a
checkout (the r11/r12 originals lived in /tmp; VERDICT r12 gap #3):
cycle 1 lands the full golden workbook (bootstrap — first-run JVM/
codegen warmup bills here), and every later cycle lands a drop
identical to the previous one except ONE revised figure
(RESIDENCIAIS row 6, the same cell the pytest convergence fixture
revises), then runs `epe_monthly_refresh` against the same target +
checkpoint. A flat per-cycle cost in the cycle index is the claim
under test: the incremental sink's work is one workbook parse +
normalize + a delta-sized diff/merge, independent of how many months
of history the standing fact already holds.

``--burst N``: after the cycles, land N further one-cell-revision
drops AT ONCE and run ONE refresh — one micro-batch of N drops, whose
workbooks the refresh parses serially on the driver, in path order.
Compare `burst_sec` against N× the single-cycle band.

Usage: python tools/supp/epe_monthly_cycles.py [--cycles 12] [--burst N]
Prints one JSON line {"cycles": [sec, ...], "burst_drops": N,
"burst_sec": s, "final_fact_rows": N}.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

WORK = "/tmp/epe_monthly_cycles"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cycles", type=int, default=12)
    ap.add_argument("--burst", type=int, default=0)
    args = ap.parse_args()
    if args.cycles < 1 and not args.burst:
        ap.error("need --cycles >= 1 or --burst > 0 (nothing to land)")

    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids
    from epe_data_wrangling_spark.session import get_spark
    from epe_data_wrangling_spark.sources.xlsx import write_xlsx
    from epe_data_wrangling_spark.streaming.epe_monthly import (
        epe_monthly_refresh,
    )

    spark = get_spark("epe_monthly_cycles")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(WORK, ignore_errors=True)
    drops = os.path.join(WORK, "drops")
    target = os.path.join(WORK, "state")
    ckpt = os.path.join(WORK, "ckpt")
    os.makedirs(drops)

    base = workbook_grids()
    timings = []
    fact = None
    for c in range(1, args.cycles + 1):
        grids = copy.deepcopy(base)
        # one revised figure per cycle — a monthly revision of an
        # already-published month, the reference's real cadence
        grids["RESIDENCIAIS"][6][3] = str(
            float(base["RESIDENCIAIS"][6][3]) + c - 1
        )
        write_xlsx(os.path.join(drops, f"drop_{c:03d}.xlsx"), grids)
        t0 = time.perf_counter()
        fact, _annual = epe_monthly_refresh(
            spark, drops, target, checkpoint_dir=ckpt
        )
        timings.append(round(time.perf_counter() - t0, 2))
    burst_sec = None
    if args.burst:
        for b in range(1, args.burst + 1):
            c = args.cycles + b
            grids = copy.deepcopy(base)
            grids["RESIDENCIAIS"][6][3] = str(
                float(base["RESIDENCIAIS"][6][3]) + c - 1
            )
            write_xlsx(os.path.join(drops, f"drop_{c:03d}.xlsx"), grids)
        t0 = time.perf_counter()
        fact, _annual = epe_monthly_refresh(
            spark, drops, target, checkpoint_dir=ckpt
        )
        burst_sec = round(time.perf_counter() - t0, 2)
    print(
        json.dumps(
            {
                "cycles": timings,
                "burst_drops": args.burst,
                "burst_sec": burst_sec,
                "final_fact_rows": fact.count(),
            }
        )
    )


if __name__ == "__main__":
    main()
