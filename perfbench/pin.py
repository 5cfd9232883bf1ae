"""Pin the benchmark's expected outputs and cross-check them once against
engine-independent twins.

Run from the repository root::

    python3 perfbench/pin.py --seed 1

Prints one JSON object and exits 1 when any check fails:

* ``build``: the staged distinct-text corpus equals the engine's own
  ``amplify(derive_transcripts(docs))`` with the prefix token, and one build
  into a fresh ``GraphSink`` holds the triple count and checksum of the
  DuckDB twin of ``pipeline_all_triples``;
* ``queries``: each ``query_mix`` entry's row count and checksum (the ones the
  benchmark checks every pass), and whether the full result equals its
  ``oracle_sql()`` twin in DuckDB;
* ``merge``: a delta of conversations (half new, half re-ingested whole
  with one changed turn) upserted into a stored graph leaves the ``nodes`` and
  ``edges`` tables equal to the closed form delta ∪ (stored ▷ delta on key).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run  # first: puts the repository root on sys.path
import corpus
import stats
import workloads


def check_build(spark, work: str, seed: int) -> dict:
    import pyspark.sql.functions as F

    from glasseenterprise_mcp_spark.sources.transcripts import amplify, derive_transcripts

    wl = workloads.BuildDistinct(work, seed)
    wl.generate()
    sf = os.path.join(work, "sf")
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts_epoch"]
    engine = amplify(derive_transcripts(spark, sf), wl.FACTOR).withColumn(
        "text", F.concat_ws(" ", corpus.token_col(seed), "text")
    ).select(*cols)
    staged = spark.read.parquet(wl.path).select(*cols)
    same_corpus = engine.exceptAll(staged).isEmpty() and staged.exceptAll(engine).isEmpty()
    wl.setup(spark)
    sample = wl.op()
    wl.drop_last()
    return {
        "turns": wl.turns,
        "triples": wl.expected[0],
        "checksum": str(wl.expected[1]),
        "staged_equals_amplify": same_corpus,
        "sink_equals_duckdb_twin": sample.ok,
    }


def _same_frame(sp, du) -> bool:
    import pandas as pd

    if sorted(sp.columns) != sorted(du.columns) or len(sp) != len(du):
        return False
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(sp, du, check_dtype=False)
    except AssertionError:
        return False
    return True


def check_queries(spark, work: str, seed: int) -> dict:
    import duckdb

    import __spark_entry__ as E

    wl = workloads.QueryMix(work, seed)
    wl.generate()
    wl.setup(spark)
    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{wl.sf}/{table}.parquet'")
    oracle = E.oracle_sql()
    out = {}
    for name in wl.QUERIES:
        rows, checksum = wl.expected[name]
        sp = wl.q[name](spark, wl.sf).toPandas()
        du = con.sql(oracle[name]).df()
        out[name] = {"rows": rows, "checksum": checksum, "oracle_match": _same_frame(sp, du)}
    con.close()
    return out


def _table(spark, df, key: list[str]) -> dict:
    """Rows of ``df`` as key tuple → full row tuple (maps as sorted items)."""
    import pyspark.sql.functions as F

    cols = df.columns
    df = df.select(*[
        F.array_sort(F.map_entries(c)).alias(c) if dict(df.dtypes)[c].startswith("map") else F.col(c)
        for c in cols
    ])

    def norm(v):
        if isinstance(v, (bytearray, bytes)):
            return bytes(v)
        if isinstance(v, list):
            return tuple(tuple(x) for x in v)
        return v

    out = {}
    for r in df.collect():
        row = tuple(norm(v) for v in r)
        out[tuple(row[cols.index(k)] for k in key)] = row
    return out


def check_merge(spark, work: str, seed: int) -> dict:
    import pyspark.sql.functions as F

    from glasseenterprise_mcp_spark.operators.materialize import GraphSink
    from glasseenterprise_mcp_spark.pipeline import run_pipeline

    wl = workloads.BuildDistinct(work, seed)
    wl.generate()
    src = spark.read.parquet(wl.path)
    last = f"_r{wl.FACTOR - 1}"
    stored_in = src.filter(~F.col("conv_id").endswith(last))
    # delta: ten conversations new to the stored graph and ten stored ones
    # re-ingested whole with one changed turn
    first_ten = F.regexp_extract("conv_id", r"^c(\d+)_", 1).cast("int") < 10
    new = src.filter(F.col("conv_id").endswith(last) & first_ten)
    again = src.filter(F.col("conv_id").endswith("_r0") & first_ten).withColumn(
        "text",
        F.when(F.col("turn_idx") == 3, F.concat("text", F.lit(" @delta_entity"))).otherwise(
            F.col("text")
        ),
    )
    delta = new.unionByName(again)

    sink = GraphSink(spark, os.path.join(work, "stored"))
    run_pipeline(spark, stored_in, sink=sink, snapshot_version="stored")
    keys = {"nodes": ["id"], "edges": ["subj", "pred", "obj"]}
    before = {t: _table(spark, sink.read(t), k) for t, k in keys.items()}
    res = run_pipeline(spark, delta, sink=None, snapshot_version="delta")
    delta_rows = {
        "nodes": _table(spark, res.nodes.select(*sink.read("nodes").columns), keys["nodes"]),
        "edges": _table(spark, res.edges.select(*sink.read("edges").columns), keys["edges"]),
    }
    run_pipeline(spark, delta, sink=sink, snapshot_version="delta")
    out = {"delta_turns": delta.count()}
    for t, k in keys.items():
        want = stats.merge_closed_form(before[t], delta_rows[t])
        got = _table(spark, sink.read(t), k)
        out[t] = {"rows": len(got), "equals_closed_form": got == want}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Pin and cross-check expected outputs.")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    shutil.rmtree(run.WORK, ignore_errors=True)
    run.configure_env()
    checks = {"build": check_build, "queries": check_queries, "merge": check_merge}
    report = {}
    try:
        spark = run.session({})
        for what, check in checks.items():
            report[what] = check(spark, os.path.join(run.WORK, what), args.seed)
        run.stop(spark)
    finally:
        shutil.rmtree(run.WORK, ignore_errors=True)
    print(json.dumps(report, indent=1), flush=True)
    flat = json.dumps(report)
    return 1 if "false" in flat else 0


if __name__ == "__main__":
    sys.exit(main())
