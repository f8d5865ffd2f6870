"""One end-to-end KG build at a given parallelism — the unit of the
scaling study (north_rule: throughput at N and 4N executors, efficiency
>= 0.8).

Run as a SUBPROCESS (one JVM per parallelism level):

    python tools/kg_run.py --cores 8 --rows 50000

Prints one JSON line:
    {"cores": 8, "rows": 50000, "triples": N, "sec": S,
     "triples_per_sec": T, "stages": {...}}

The input is the deterministic synthetic repos table (datagen.py) —
identical bytes at any parallelism, so the two runs measure pure
scaling, and the triple count equality across runs doubles as a
determinism check.
"""

from __future__ import annotations

import argparse
import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from deja_view_spark.datagen import generate_repos  # noqa: E402
from deja_view_spark.plans.pipeline import KGPipeline  # noqa: E402
from deja_view_spark.session import get_spark  # noqa: E402


def weather_control() -> float:
    """Fixed single-threaded CPU kernel (elementwise numpy — never
    multi-threaded) timed in seconds. Run before and after each build:
    on a quiet host both readings sit at the kernel's nominal time; CPU
    steal / oversubscription inflates them proportionally, which makes
    a storm window machine-detectable in the bench JSON instead of a
    prose claim (VERDICT r2 next-round item #4)."""
    import numpy as np

    a = np.arange(3_000_000, dtype=np.float64)
    # one untimed pass first: the cold run pays allocator/page-fault
    # warmup (~2x, observed), which would read as fake weather
    _ = np.sqrt(a * 1.0000001 + 1.1)
    t0 = time.time()
    for _ in range(40):
        a = np.sqrt(a * 1.0000001 + 1.1)
    # fold to a scalar so the loop cannot be elided
    _ = float(a[::65536].sum())
    return round(time.time() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--dim", type=int, default=128)
    ap.add_argument(
        "--warmup",
        type=int,
        default=-1,
        help="untimed warmup rows (spins up Python UDF workers / JIT; "
        "-1 = rows/10 capped at 20k, 0 = no warmup)",
    )
    ap.add_argument(
        "--src",
        default=None,
        help="pre-generated repos parquet to read instead of generating "
        "(bench.py generates ONCE at full parallelism and shares the "
        "path across all cells — identical bytes at every level, and "
        "the low-core cells stop paying generation wall-clock)",
    )
    ap.add_argument(
        "--gen-only",
        action="store_true",
        help="generate the source parquet at --src and exit",
    )
    ap.add_argument(
        "--gen-partitions",
        type=int,
        default=0,
        help="source parquet partition count (0 = max(cores*2, 8)); "
        "bench.py pins this so every scaling cell reads an IDENTICAL "
        "file layout sized for the smallest cell's wave count",
    )
    args = ap.parse_args()

    spark = get_spark(app_name=f"kg-bench-{args.cores}", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = tempfile.mkdtemp(prefix=f"kg_bench_{args.cores}_")
    try:
        # materialize the source first so generation cost (identical at
        # both parallelism levels anyway) is excluded from the timed
        # window; the timed job reads parquet like the real pipeline.
        n_parts = args.gen_partitions or max(args.cores * 2, 8)
        if args.src:
            src_path = args.src
            if args.gen_only:
                generate_repos(spark, args.rows).repartition(
                    n_parts
                ).write.mode("overwrite").parquet(src_path)
                print(json.dumps({"generated": src_path, "rows": args.rows}))
                return
        else:
            src_path = f"{out_dir}/repos_src"
            generate_repos(spark, args.rows).repartition(
                n_parts
            ).write.mode("overwrite").parquet(src_path)
        src = spark.read.parquet(src_path)

        # untimed warmup: first Python UDF stage pays worker spawn +
        # numpy/pandas import on every core; steady-state throughput is
        # what the scaling comparison is about.
        warmup = args.warmup if args.warmup >= 0 else min(args.rows // 10, 20000)
        if warmup:
            wp = KGPipeline(spark, src.limit(warmup), f"{out_dir}/kg_warm")
            wp.run().count()

        ctl_before = weather_control()
        t0 = time.time()
        pipe = KGPipeline(spark, src, f"{out_dir}/kg", dim=args.dim)
        pipe.run()
        # total comes from the lineage aggregation the pipeline already
        # ran over the written table — a second full-output count job
        # would only re-scan what lineage just counted
        n_triples = pipe.metrics["triples"]["n_triples"]
        sec = time.time() - t0
        ctl_after = weather_control()
        print(
            json.dumps(
                {
                    "cores": args.cores,
                    "rows": args.rows,
                    "triples": n_triples,
                    "sec": round(sec, 2),
                    "triples_per_sec": round(n_triples / sec, 1),
                    "ctl_before": ctl_before,
                    "ctl_after": ctl_after,
                    "stages": {
                        k: round(v.get("sec", 0.0), 2)
                        for k, v in pipe.metrics.items()
                    },
                }
            )
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
