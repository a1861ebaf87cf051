#!/usr/bin/env python
"""r13 VERDICT item 2: e31_dsir_importance and e36_substring_span_trim were
the only two seats whose r12 bench decline (0.63x / 0.74x) exceeded the
window ratio, and neither was A/B'd in r12. Two questions, answered in ONE
JVM with interleaving so host drift cancels:

  1. Did the r12 SHJ session conf (preferSortMergeJoin=false + AQE SHJ
     threshold) regress their joins?  A = conf OFF (r11 planner prefs,
     toggled at runtime), B = conf ON (current).  Pairwise wins + medians.
  2. What do they cost in THIS window in calibrated units vs their pinned
     budgets?  (calib stamp printed alongside.)

Usage: python tools/r13_e31_e36_ab.py
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.calib import calib_stamp  # noqa: E402
from wx20222_bigdata_spark.registry import all_queries  # noqa: E402
from wx20222_bigdata_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
N = 7
SEATS = ["e31_dsir_importance", "e36_substring_span_trim"]


def main() -> None:
    spark = get_spark(
        app_name="r13-e31-e36-ab",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    q = all_queries()
    q["j2_broadcast_dim_join"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    stamp_pre = calib_stamp(spark)
    print(f"calib pre: {stamp_pre}", file=sys.stderr)

    def timed(name: str, prefer_smj: bool) -> float:
        spark.conf.set(
            "spark.sql.join.preferSortMergeJoin", str(prefer_smj).lower()
        )
        spark.conf.set(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "0" if prefer_smj else "67108864",
        )
        t0 = time.perf_counter()
        df = q[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    out = {}
    for name in SEATS:
        timed(name, True)  # warm both paths
        timed(name, False)
        sa, sb, wins_b = [], [], 0
        for _ in range(N):
            sa.append(timed(name, True))   # A: r11 prefs (SMJ)
            sb.append(timed(name, False))  # B: current conf (SHJ allowed)
            if sb[-1] < sa[-1]:
                wins_b += 1
            print(f"{name}: A(smj) {sa[-1]:.3f}  B(shj) {sb[-1]:.3f}", file=sys.stderr)
        out[name] = {
            "A_smj_median": round(statistics.median(sa), 3),
            "B_shj_median": round(statistics.median(sb), 3),
            "B_pairwise_wins": wins_b,
            "n_pairs": N,
            "A_samples": [round(x, 3) for x in sa],
            "B_samples": [round(x, 3) for x in sb],
        }
    # restore conf defaults for the stamp
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864"
    )
    stamp_post = calib_stamp(spark)
    out["calib_pre"] = stamp_pre
    out["calib_post"] = stamp_post
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
