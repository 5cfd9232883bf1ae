"""Stream check: drain a time-ordered transcripts feed through the composed
stream and compare the stored graph with a one-shot ``run_pipeline``.

Not a workload: it exits 1 while the streamed graph differs from the one-shot
graph, and prints turns/s and each trigger's duration either way. The feed is
500 turns (the sf0.001 size) cut into 5 time slices, one file each, written in
time order: the composed stream's ingest contract is an event-time-ordered
feed. Run from the repository root::

    python3 perfbench/stream_check.py --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import pyarrow.parquet as pq

import run  # first: puts the repository root on sys.path
import corpus

DOCS = 500
SLICES = 5


def _edge_keys(df) -> set:
    rows = df.select("subj", "pred", "obj").collect()
    return {(bytes(r.subj), r.pred, bytes(r.obj)) for r in rows}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    shutil.rmtree(run.WORK, ignore_errors=True)
    run.configure_env()
    try:
        data = os.path.join(run.WORK, "data")
        sf = corpus.write_documents(os.path.join(data, "sf"), args.seed, DOCS)
        one = os.path.join(data, "transcripts.parquet")
        n_turns = corpus.stage_transcripts(sf, args.seed, 1, one)
        table = pq.read_table(one).sort_by([("ts_epoch", "ascending")]).drop(["ts_epoch"])
        src = os.path.join(data, "feed")
        os.makedirs(src)
        step = -(-n_turns // SLICES)
        for s in range(SLICES):
            # the file source drains in modification-time order
            pq.write_table(table.slice(s * step, step), os.path.join(src, f"part-{s:03d}.parquet"))
            time.sleep(0.01)

        from glasseenterprise_mcp_spark.operators.materialize import GraphSink
        from glasseenterprise_mcp_spark.pipeline import run_pipeline
        from glasseenterprise_mcp_spark.streaming.incremental import run_composed_stream

        spark = run.session({})
        sink = GraphSink(spark, os.path.join(data, "graph"))
        t0 = time.perf_counter()
        q = run_composed_stream(
            spark, src, sink, os.path.join(data, "ckpt"), snapshot_version="stream",
            available_now=True, max_files_per_trigger=1,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        triggers = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in q.recentProgress]
        streamed = _edge_keys(sink.read("edges"))
        res = run_pipeline(spark, spark.read.parquet(one), sink=None, snapshot_version="one")
        oneshot = _edge_keys(res.edges)
        run.stop(spark)

        def by_pred(keys):
            out: dict[str, int] = {}
            for _, pred, _ in keys:
                out[pred] = out.get(pred, 0) + 1
            return dict(sorted(out.items()))

        report = {
            "turns": n_turns,
            "slices": SLICES,
            "turns_per_s": n_turns / wall,
            "trigger_s": triggers,
            "missing_by_pred": by_pred(oneshot - streamed),
            "extra_by_pred": by_pred(streamed - oneshot),
            "equal": streamed == oneshot,
        }
        print(json.dumps(report), flush=True)
        return 0 if report["equal"] else 1
    finally:
        shutil.rmtree(run.WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
