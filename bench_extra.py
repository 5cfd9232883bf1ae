#!/usr/bin/env python
"""Per-query and streaming studies beside the frozen driver bench. Not part
of the driver contract — numbers here feed OPTIMIZATION_r07.md.

Usage:
  python bench_extra.py queries   [--only name1,name2] [--cores 16]
  python bench_extra.py streaming [--cores 16]

Per-layer figures of the batch build (extract, each link family,
canonicalize, materialize, each sink commit) come from the traced run of
the benchmark: ``python3 perfbench/run.py --workload build_distinct
--seed 1 --seconds 8 --trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def profile_queries(cores: int, only: list[str] | None, repeat: int = 1) -> None:
    import __spark_entry__ as E
    from glasseenterprise_mcp_spark.session import get_spark

    spark = get_spark(
        app_name="query-profile", master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100_000).repartition(cores).mapInPandas(lambda it: it, "id long").count()

    out: dict[str, list[float]] = {}
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        runs = []
        for _ in range(repeat):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            fn(spark, SF_DIR).count()
            runs.append(round(time.time() - t0, 3))
        out[name] = runs
    total = sum(r[0] for r in out.values())
    print(json.dumps({"mode": "queries", "cores": cores,
                      "total_first_run": round(total, 1), "queries": out}))
    spark.stop()


def streaming_amortization(cores: int, amps=(1, 3, 10, 30), n_batches: int = 6) -> None:
    """r6 verdict #3: the composed stream's sustained rate at growing batch
    sizes (corpus amplified ``amp``x, same batch COUNT, so per-trigger rows
    grow ~amp-fold) + the fitted fixed-cost/marginal-rate split. The
    bench.py streaming leg (frozen) measures amp=1; this study records the
    amortization curve the 10^12-turn operating mode actually runs at."""
    import shutil as _shutil
    import tempfile

    import pyspark.sql.functions as F
    from pyspark.sql import Window as _W

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink
    from glasseenterprise_mcp_spark.session import get_spark
    from glasseenterprise_mcp_spark.sources.transcripts import (
        amplify,
        derive_transcripts,
    )
    from glasseenterprise_mcp_spark.streaming.incremental import (
        run_composed_stream,
    )

    spark = get_spark(
        app_name="stream-amort", master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100_000).repartition(cores).mapInPandas(
        lambda it: it, "id long"
    ).count()

    results = []
    for amp in amps:
        work = tempfile.mkdtemp(prefix=f"amort-{amp}x-")
        try:
            src_dir = os.path.join(work, "src")
            t = amplify(derive_transcripts(spark, SF_DIR), amp)
            n_turns = t.count()
            ranked = t.withColumn(
                "_slice",
                F.ntile(n_batches).over(
                    _W.orderBy("ts", "conv_id", "turn_idx")
                ),
            )
            for i in range(1, n_batches + 1):
                (
                    ranked.filter(F.col("_slice") == i)
                    .drop("_slice")
                    .coalesce(1)
                    .write.mode("append")
                    .parquet(src_dir)
                )
            sink = GraphSink(spark, os.path.join(work, "graph"))
            batches: list[int] = []
            t0 = time.time()
            q = run_composed_stream(
                spark, src_dir, sink, os.path.join(work, "ckpt"),
                snapshot_version="amort", available_now=True,
                max_files_per_trigger=1,
                post_batch_hook=lambda bid, n: batches.append(n),
            )
            q.awaitTermination()
            wall = time.time() - t0
            processed = sum(batches)
            results.append(
                {"amp": amp, "turns": n_turns, "processed": processed,
                 "batches": len(batches), "wall_sec": round(wall, 2),
                 "turns_per_sec": round(processed / wall, 1)}
            )
        finally:
            _shutil.rmtree(work, ignore_errors=True)

    # least-squares fit wall = n_batches*fixed + processed*marginal
    import numpy as np

    a = np.array([[r["batches"], r["processed"]] for r in results], dtype=float)
    y = np.array([r["wall_sec"] for r in results], dtype=float)
    (fixed, marginal), *_ = np.linalg.lstsq(a, y, rcond=None)
    print(json.dumps({
        "mode": "streaming_amortization", "cores": cores,
        "points": results,
        "fit": {"fixed_sec_per_batch": round(float(fixed), 3),
                "marginal_sec_per_turn": round(float(marginal), 6),
                "asymptotic_turns_per_sec": round(1.0 / float(marginal), 1)
                if marginal > 0 else None},
    }))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["queries", "streaming"])
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--only", type=str, default=None)
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()
    if args.mode == "streaming":
        streaming_amortization(args.cores)
    else:
        profile_queries(
            args.cores, args.only.split(",") if args.only else None, args.repeat
        )


if __name__ == "__main__":
    main()
