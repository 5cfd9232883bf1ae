"""The benchmark's workloads, driven through the engine's public functions.

Each workload is one closed-loop client: the next operation starts only after
the previous one returned and its output was checked. ``generate`` writes the
seeded inputs and the expected outputs (engine-independent), ``setup`` does
the warm-up the timed operations must not pay, ``timed`` runs operations for
the requested time and returns one :class:`Sample` per operation, and
``trace`` runs the isolated, span-tagged layer calls of the traced run.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

import corpus
import stats


@dataclass
class Sample:
    latency_s: float
    units: int  # input turns for a build, 1 for a query
    ok: bool
    name: str = ""


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _guarded(op, units: int, name: str = "") -> Sample:
    """Run one operation; a raise is a failed operation, timed until the raise."""
    t0 = time.perf_counter()
    try:
        return op()
    except Exception:  # the client keeps running; the failure is counted
        traceback.print_exc()
        return Sample(time.perf_counter() - t0, units, False, name)


def isolated(fn, *args):
    """``fn(*args)`` run in a fresh Python process that has exited when this
    returns, so the benchmark's own staging and checks stay out of the
    driver process's peak resident set. Arguments and result travel as JSON
    (tuples come back as lists)."""
    call = (
        "import importlib, json, sys; "
        "f = getattr(importlib.import_module(sys.argv[1]), sys.argv[2]); "
        "print(json.dumps(f(*json.loads(sys.argv[3]))))"
    )
    out = subprocess.run(
        [sys.executable, "-c", call, fn.__module__, fn.__name__, json.dumps(args)],
        check=True, stdout=subprocess.PIPE, text=True,
    )
    return json.loads(out.stdout.splitlines()[-1])


def _du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


class BuildDistinct:
    """Repeated warm ``run_pipeline(transcripts, sink=GraphSink(fresh dir))``
    over a staged distinct-text transcripts parquet."""

    name = "build_distinct"
    N_DOCS = 1000  # base corpus: 1000 turns in 100 conversations
    FACTOR = 20  # replicas → 20,000 distinct-text turns, ~100k triples

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.path = os.path.join(work, "transcripts.parquet")
        self._n = 0

    def generate(self) -> None:
        self.turns, self.expected = isolated(
            corpus.stage_build, self.work, self.seed, self.N_DOCS, self.FACTOR, self.path
        )

    def setup(self, spark) -> None:
        import pyspark.sql.functions as F

        self.spark = spark
        self.src = spark.read.parquet(self.path)
        # the warm-up build runs over the first replica only: the cold cost
        # (JIT, code generation, Python worker start) is per code path, not
        # per row
        self.op(src=self.src.filter(F.col("conv_id").endswith("_r0")), check=False)
        self.drop_last()

    def op(self, sink_wrap=None, src=None, check: bool = True) -> Sample:
        from glasseenterprise_mcp_spark.operators.materialize import GraphSink
        from glasseenterprise_mcp_spark.pipeline import run_pipeline

        self._n += 1
        out = os.path.join(self.work, f"graph{self._n}")
        sink = GraphSink(self.spark, out)
        if sink_wrap is not None:
            sink_wrap(sink)
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, src or self.src, sink=sink, snapshot_version="bench")
        t1 = time.perf_counter()
        self.last_interval = (t0, t1)
        res.mentions.unpersist()
        res.edges.unpersist()
        del res
        gc.collect()  # release the py4j handles of the dropped frames
        ok = not check or isolated(corpus.sink_triples, os.path.join(out, "edges")) == self.expected
        self.last_sink = out
        return Sample(t1 - t0, self.turns, ok)

    def drop_last(self) -> None:
        shutil.rmtree(self.last_sink, ignore_errors=True)

    def timed(self, seconds: float) -> list[Sample]:
        samples: list[Sample] = []
        while sum(s.latency_s for s in samples) < seconds:
            samples.append(_guarded(self.op, self.turns))
            self.drop_last()
        return samples

    def trace(self, tracer) -> dict[str, float]:
        """One fused traced build with each ``GraphSink.upsert`` in its own
        span, then each layer's public call forced alone."""
        import pyarrow.parquet as pq
        import pyspark.sql.functions as F

        from glasseenterprise_mcp_spark.operators.canonicalize import connected_components
        from glasseenterprise_mcp_spark.operators.extract import extract_mentions
        from glasseenterprise_mcp_spark.operators.link import (
            calls_tool_edges,
            mentions_in_edges,
            refers_to_edges,
            replies_to_edges,
        )
        from glasseenterprise_mcp_spark.operators.materialize import (
            build_edges,
            build_nodes_with_attrs,
        )
        from glasseenterprise_mcp_spark.pipeline import run_pipeline

        m: dict[str, float] = {}

        def wrap(sink):
            inner = sink.upsert

            def upsert(df, table, keys, partition_by):
                with tracer.span("sink", f"upsert.{table}"):
                    inner(df, table, keys, partition_by)

            sink.upsert = upsert

        with tracer.span("pipeline", "fused"):
            fused = self.op(sink_wrap=wrap)
        # the time of the fused build outside its sink calls: what the
        # isolated stage calls below must account for
        pipeline_self = stats.self_time(
            self.last_interval, [(a, b) for lay, _, a, b in tracer.spans if lay == "sink"]
        )
        out = self.last_sink
        for table in ("nodes", "edges", "metrics"):
            m[f"sink.upsert.{table}.busy_s"] = sum(tracer.durations("sink", f"upsert.{table}"))
        sink_rows = sum(
            self.spark.read.parquet(os.path.join(out, t)).count() for t in ("nodes", "edges")
        )
        m["sink.mb_written"] = _du_mb(out)
        self.drop_last()

        src, snap = self.src, "bench"
        slim = src.drop("text")
        cols = [
            "conv_id", "turn_idx", "mtype", "surface", "norm", "path",
            "first_in_turn", "method", "kind", "node_id", "turn_id",
        ]
        with tracer.span("extract", "extract_mentions"):
            mentions = extract_mentions(src).select(*cols).localCheckpoint(eager=True)
        m["extract.busy_s"] = tracer.durations("extract", "extract_mentions")[0]
        m["extract.mentions"] = mentions.count()

        families = {
            "mentions_in": lambda: mentions_in_edges(mentions).drop("subj_kind"),
            "replies_to": lambda: replies_to_edges(slim, mentions),
            "calls_tool": lambda: calls_tool_edges(slim, mentions),
            "refers_to": lambda: refers_to_edges(mentions),
        }
        frames = {}
        for fam, build in families.items():
            with tracer.span("link", fam):
                frames[fam] = build().localCheckpoint(eager=True)
            m[f"link.{fam}.busy_s"] = tracer.durations("link", fam)[0]
            m[f"link.{fam}.rows"] = frames[fam].count()

        with tracer.span("canonicalize", "cc"):
            comps = connected_components(
                frames["refers_to"].select("subj", "obj"), src="subj", dst="obj"
            ).localCheckpoint(eager=True)
        m["canonicalize.cc.busy_s"] = tracer.durations("canonicalize", "cc")[0]
        m["canonicalize.cc.edges"] = m["link.refers_to.rows"]
        m["canonicalize.cc.components"] = comps.select(F.countDistinct("comp")).first()[0]

        with tracer.span("materialize", "edges"):
            triples = _count(build_edges(list(frames.values()), snap))
        with tracer.span("materialize", "nodes"):
            n_nodes = _count(build_nodes_with_attrs(slim, mentions, snap))
        m["materialize.edges.busy_s"] = tracer.durations("materialize", "edges")[0]
        m["materialize.nodes.busy_s"] = tracer.durations("materialize", "nodes")[0]
        m["materialize.triples"] = triples
        m["sink.rows_written_per_input_row"] = sink_rows / max(triples + n_nodes, 1)

        with tracer.span("pipeline", "call"):
            res = run_pipeline(self.spark, src, sink=None, snapshot_version=snap)
        with tracer.span("pipeline", "action"):
            _noop(res.edges)
        m["pipeline.call_s"] = tracer.durations("pipeline", "call")[0]
        m["pipeline.action_s"] = tracer.durations("pipeline", "action")[0]
        res.mentions.unpersist()

        stages = ["extract.busy_s", "canonicalize.cc.busy_s", "materialize.edges.busy_s",
                  "materialize.nodes.busy_s"] + [f"link.{f}.busy_s" for f in families]
        m["trace.coverage"] = sum(m[k] for k in stages) / pipeline_self
        m["sources.turns"] = self.turns
        texts = pq.read_table(self.path, columns=["text"])["text"].to_pylist()
        m["sources.text_reuse_frac"] = corpus.text_reuse_frac(texts)
        self.trace_samples = [fused]
        return m


def _count(df) -> int:
    """Force ``df`` once through a noop write and return its row count,
    observed on the same pass."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    obs = Observation()
    _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


# query name → engine module its operator lives in (the per-layer name prefix).
# An even count: the median latency of one pass then averages the two middle
# queries (g1_impact and g6_pagerank, both about 1.2 s) instead of resting on
# a single sample of one query.
QUERY_MODULE = {
    "g1_impact": "graph",
    "q4_routed_impact": "router",
    "g6_pagerank": "graph",
    "g14_scc": "graph",
    "a5_entity_stats": "analytics",
    "sim4_ann_pq": "similarity",
}


def _write_query_inputs(sf: str, seed: int, n_docs: int, n_vecs: int) -> None:
    corpus.write_documents(sf, seed, n_docs)
    corpus.write_embeddings(sf, seed, n_vecs)


class QueryMix:
    """A warm server issuing a fixed list of ``queries()`` entries in order,
    each forced by a noop write with its row count and checksum observed on
    the same pass."""

    name = "query_mix"
    QUERIES = list(QUERY_MODULE)
    N_DOCS = 1000
    N_VECS = 2000

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.sf = os.path.join(work, "sf")

    def generate(self) -> None:
        isolated(_write_query_inputs, self.sf, self.seed, self.N_DOCS, self.N_VECS)

    def setup(self, spark) -> None:
        import __spark_entry__ as E

        self.spark = spark
        self.q = E.queries()
        # memo fill and plan compile; the first outputs are the expected ones
        self.expected = {name: self._run(name)[1] for name in self.QUERIES}

    def _run(self, name: str) -> tuple[float, tuple[int, int]]:
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        t0 = time.perf_counter()
        df = self.q[name](self.spark, self.sf)
        exact = [f.name for f in df.schema.fields if f.dataType.typeName() not in ("float", "double")]
        obs = Observation()
        _noop(
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.pmod(F.xxhash64(*exact), F.lit(2**31 - 1))).alias("c"),
            )
        )
        latency = time.perf_counter() - t0
        r = obs.get
        return latency, (int(r["n"]), int(r["c"] or 0))

    def _sample(self, name: str) -> Sample:
        latency, got = self._run(name)
        return Sample(latency, 1, got == self.expected[name], name)

    def _pass(self) -> list[Sample]:
        return [_guarded(lambda: self._sample(name), 1, name) for name in self.QUERIES]

    def timed(self, seconds: float) -> list[Sample]:
        samples: list[Sample] = []
        while sum(s.latency_s for s in samples) < seconds:
            samples.extend(self._pass())
        return samples

    def trace(self, tracer) -> dict[str, float]:
        m: dict[str, float] = {}
        samples = []
        t0 = time.perf_counter()
        for name in self.QUERIES:
            layer = QUERY_MODULE[name]
            with tracer.span(layer, name):
                samples.append(self._sample(name))
            m[f"{layer}.{name}.busy_s"] = tracer.durations(layer, name)[0]
        wall = time.perf_counter() - t0
        m["trace.coverage"] = sum(m[f"{QUERY_MODULE[n]}.{n}.busy_s"] for n in self.QUERIES) / wall
        self.trace_samples = samples
        return m


WORKLOADS = {w.name: w for w in (BuildDistinct, QueryMix)}
