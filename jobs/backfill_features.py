#!/usr/bin/env python
"""Production backfill job — ships as spark-submit --py-files (north_rule).

    spark-submit --master local[32] --py-files tgist_features_spark.zip \
        jobs/backfill_features.py --input /path/transcripts_parquet \
        --queries /path/queries_parquet --output /path/out

Reads the transcript and probe tables and runs
``plans.backfill.run_backfill``: the leakage-free per-turn feature vectors,
the as-of backfill of every probe, and one write of the result (parquet, or
the 'noop' sink for benchmarking). Prints one JSON line with wall time and
turns/sec. Also runnable directly with python (it builds its own session).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tgist_features_spark import get_spark  # noqa: E402
from tgist_features_spark.session import warm_python_workers  # noqa: E402
from tgist_features_spark.plans.backfill import run_backfill, turn_features  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts parquet path")
    ap.add_argument("--queries", required=True, help="probe-side parquet path")
    ap.add_argument("--output", default="noop", help="output path or 'noop'")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--gap-s", type=float, default=1800.0)
    ap.add_argument("--repeat", type=int, default=1,
                    help="time N passes, report the best of the warm ones")
    args = ap.parse_args()

    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions,
                      app_name="tgist-backfill")
    spark.sparkContext.setLogLevel("ERROR")

    transcripts = spark.read.parquet(args.input)
    n_turns = transcripts.count()  # warm the scan + JVM before timing
    # warm every Python worker (pandas/numpy import + Arrow path) and the
    # codegen/JIT so measurements reflect steady-state throughput
    warm_python_workers(spark)
    turn_features(transcripts.limit(20_000)).write.mode("overwrite").format(
        "noop"
    ).save()

    probes = spark.read.parquet(args.queries)

    def one_pass() -> float:
        t0 = time.perf_counter()
        run_backfill(transcripts, probes, args.output, gap_s=args.gap_s)
        return time.perf_counter() - t0

    walls = [one_pass() for _ in range(max(1, args.repeat))]
    # every pass is warm (the job pre-warms the scan, the Python workers and
    # the codegen path before timing), so best-of-ALL is the honest
    # steady-state wall and is robust to host noise (co-tenant CPU steal);
    # all raw walls are reported alongside for transparency
    wall = min(walls)

    print(
        json.dumps(
            {
                "job": "backfill_features",
                "master": spark.sparkContext.master,
                "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                "turns": n_turns,
                "wall_s": round(wall, 3),
                "turns_per_sec": round(n_turns / wall, 1),
                "walls_all": [round(w, 3) for w in walls],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
