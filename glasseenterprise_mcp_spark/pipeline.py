"""End-to-end KG-construction pipeline (scan → extract → link → canonicalize
→ materialize), the analogue of the reference's `scan` tool lifecycle
(src/index.ts:160-241; SURVEY.md §3.1).

Stages:
  A  extract_mentions      mapInPandas, narrow (no shuffle)
  B  linking joins         equi/broadcast/window joins (shuffle on keys)
  C  connected components  iterative hash joins over the refers-to graph
                           (lazy: built when ``res.components`` is read)
  D  materialize           snapshot stamp + partitioned upsert

A sink run records per-stage row counts (A_extract, D_edges, D_nodes),
observed on the passes that already run, plus the per-stage wall-clock when
``stage_dir`` is set, into a metrics sidecar (analogue of the reference's
scan summary, src/index.ts:230-238).
"""

from __future__ import annotations

import os
import time
from functools import cached_property, reduce
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from .operators.canonicalize import connected_components
from .operators.extract import extract_mentions
from .operators.link import (
    calls_tool_edges,
    mentions_in_edges,
    refers_to_edges,
    replies_to_edges,
)
from .operators.materialize import (
    GraphSink,
    build_edges,
    build_nodes,
    snapshot_stamp,
    write_graph,
)


METRICS_SCHEMA = (
    "snapshot_version string, stage string, partition_id int, rows long, metric string"
)


class PipelineResult:
    """Pipeline outputs. ``mentions`` (cached) and ``edges`` are frames;
    ``nodes``, ``components`` and ``metrics`` are LAZY attributes, built on
    first access and then kept:

    - ``nodes``: the node table. A sink run builds it for its write; a
      sink-less run caches mentions without ``surface``, so reading
      ``res.nodes`` there re-extracts the corpus (or re-reads the stage
      checkpoint when ``stage_dir`` is set).
    - ``components``: connected components over the refers-to graph (an
      empty frame when ``with_components=False``). No sink table stores
      them, so a sink run never computes them unless asked.
    - ``metrics``: the metrics sidecar as frames of ``METRICS_SCHEMA`` rows:
      per-stage row counts (``A_extract``, ``D_edges``, ``D_nodes``), then
      the stage wall-clock rows when ``stage_dir`` is set. A sink run fills
      it from the counts observed on its writes; a sink-less run counts the
      frames on first access.

    A sink-less run (the bench legs, the headline pipeline job) reads only
    ``edges``, so it pays nothing, not even plan time, for the rest."""

    def __init__(
        self,
        snapshot_version: str,
        mentions: DataFrame,
        edges: DataFrame,
        nodes: Callable[[], DataFrame],
        components: Callable[[], DataFrame],
        metrics: Callable[[], list[DataFrame]],
    ):
        self.snapshot_version = snapshot_version
        self.mentions = mentions
        self.edges = edges
        self._build = {"nodes": nodes, "components": components, "metrics": metrics}

    @cached_property
    def nodes(self) -> DataFrame:
        return self._build["nodes"]()

    @cached_property
    def components(self) -> DataFrame:
        return self._build["components"]()

    @cached_property
    def metrics(self) -> list[DataFrame]:
        return self._build["metrics"]()


def _stage_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    stage_dir: str | None,
    name: str,
    timings: dict[str, float],
) -> DataFrame:
    """Mid-run resumability (north rule: resumable DAG): when ``stage_dir``
    is set, each stage's output is materialized to
    ``<stage_dir>/<name>``; a rerun finds the completed stage on disk and
    skips its recomputation entirely (the batch analogue of the streaming
    checkpoint — on a cluster this is an Iceberg snapshot per stage).
    Also records the stage's wall-clock."""
    if stage_dir is None:
        return df
    path = os.path.join(stage_dir, name)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        timings[name] = 0.0  # resumed, not recomputed
        return spark.read.parquet(path)
    t0 = time.time()
    df.write.mode("overwrite").parquet(path)
    timings[name] = round(time.time() - t0, 3)
    return spark.read.parquet(path)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    sink: GraphSink | None = None,
    snapshot_version: str | None = None,
    with_components: bool = True,
    stage_dir: str | None = None,
) -> PipelineResult:
    """Run stages A-D over ``transcripts``. With a ``sink``, commit the
    node and edge tables concurrently, then the metrics sidecar; the edge
    table is never cached, since each sink write reads it once. With
    ``sink=None`` the caller's single action streams the edge union
    directly."""
    snap = snapshot_version or snapshot_stamp(spark)
    timings: dict[str, float] = {}

    # transcripts feeds four consumers (extract, replies, calls, nodes) but
    # only extraction reads the fat ``text`` column, and it reads it exactly
    # once — the narrow consumers re-scan the source with the text column
    # PRUNED at the scan, which is cheaper than building any cache for it:
    # the slim projection is a parquet scan of the short columns only
    # (measured: a full count of the 6M-turn amplified corpus is <1s at 2
    # cores because Catalyst never computes the text concat), so a cache
    # build (≈5s/leg) never pays for its two readers (guide §5/§6: let
    # column pruning do the work).
    slim = transcripts.drop("text")

    # Stage A — narrow; cache because four linking joins + the node build
    # consume it. The cached projection drops the engine-only columns no
    # pipeline consumer reads (span offsets, ord, extra): the columnar
    # cache build is the leg's second-biggest cost after the kernel itself,
    # and caching 15 columns when downstream reads 11 pays encode cost for
    # nothing (guide §5: cache exactly what is re-read). A two-specialized-
    # kernel-passes variant (mentions-in emitted directly, no corpus-scale
    # cache) was measured and REJECTED: the second input-boundary crossing
    # (6M fat texts through Arrow again) costs as much as the cache build
    # it saves (146s vs 125s per local[2] leg).
    # ``surface`` (the widest string column at corpus scale) is read ONLY by
    # the node build: with a sink it is cached like the rest; without one,
    # nodes are a lazy thunk that usually nobody reads, so the cache skips
    # surface's encode cost and the thunk re-derives a full-width extraction
    # if a sink-less caller does ask for nodes (tests on dim corpora).
    pipeline_cols = [
        "conv_id", "turn_idx", "mtype", "surface", "norm", "path",
        "first_in_turn", "method", "kind", "node_id", "turn_id",
    ]
    cached_cols = (
        pipeline_cols
        if sink is not None
        else [c for c in pipeline_cols if c != "surface"]
    )
    mentions_full = _stage_checkpoint(
        spark, extract_mentions(transcripts), stage_dir, "A_mentions", timings
    )
    mentions = mentions_full.select(*cached_cols).cache()
    e_mentions_in = mentions_in_edges(mentions).drop("subj_kind")
    e_replies = replies_to_edges(slim, mentions)
    e_calls = calls_tool_edges(slim, mentions)
    # refers is dim-sized (distinct url × endpoint matches, not occurrences)
    # and built from the cached mentions; its second reader, stage C, runs
    # only when ``res.components`` is read, so it is not checkpointed.
    e_refers = refers_to_edges(mentions)

    def nodes_thunk() -> DataFrame:
        if "surface" in mentions.columns:
            return build_nodes(slim, mentions, snap)
        # sink-less run with a pruned cache: the node build needs surface,
        # so re-derive a full-width mention frame (reuses the stage
        # checkpoint when one exists; otherwise re-extracts — only paid
        # when a sink-less caller explicitly reads nodes/metrics)
        return build_nodes(slim, mentions_full.select(*pipeline_cols), snap)

    # Stage C — canonicalization over the cross-corpus linking graph. Feeds
    # on the refers family DIRECTLY (a dim-sized frame built from the
    # cached url/endpoint registries), never by filtering the full triple
    # table — that filter would re-scan corpus-scale edges to recover a
    # graph that is orders of magnitude smaller.
    def components_thunk() -> DataFrame:
        if not with_components:
            return spark.createDataFrame([], "id binary, comp binary")
        return connected_components(
            e_refers.select("subj", "obj"), src="subj", dst="obj"
        )

    edges = _stage_checkpoint(
        spark,
        build_edges([e_mentions_in, e_replies, e_calls, e_refers], snap),
        stage_dir,
        "D_edges",
        timings,
    )

    def metrics_of(n_edges: int, n_nodes: int) -> list[DataFrame]:
        counts = {"A_extract": mentions.count(), "D_edges": n_edges, "D_nodes": n_nodes}
        return _metrics_frames(spark, snap, counts, timings)

    result = PipelineResult(
        snap, mentions, edges, nodes_thunk, components_thunk,
        lambda: metrics_of(edges.count(), result.nodes.count()),
    )

    if sink is not None:
        # row counts observed on the writes' own passes; the merge path
        # reads the delta twice, and each pass counts all of it
        obs_nodes, obs_edges = Observation(), Observation()
        n_rows = F.count(F.lit(1)).alias("rows")
        write_graph(
            sink,
            result.nodes.observe(obs_nodes, n_rows),
            edges.observe(obs_edges, n_rows),
        )
        result.metrics = metrics_of(obs_edges.get["rows"], obs_nodes.get["rows"])
        # ``metric`` is part of the key: a stage can carry both a row_count
        # and a stage_wall_ms row (D_edges with stage_dir set)
        sink.upsert(
            reduce(DataFrame.unionByName, result.metrics),
            "metrics",
            keys=["snapshot_version", "stage", "partition_id", "metric"],
            partition_by=["stage"],
        )

    return result


def _metrics_frames(
    spark: SparkSession,
    snap: str,
    counts: dict[str, int],
    timings: dict[str, float],
) -> list[DataFrame]:
    """Sidecar rows, one per stage and metric; ``partition_id`` is -1
    because each row covers the whole stage."""
    frames = [
        spark.createDataFrame(
            [(snap, stage, -1, int(n), "row_count") for stage, n in counts.items()],
            METRICS_SCHEMA,
        )
    ]
    if timings:
        frames.append(
            spark.createDataFrame(
                [
                    (snap, stage, -1, int(sec * 1000), "stage_wall_ms")
                    for stage, sec in timings.items()
                ],
                METRICS_SCHEMA,
            )
        )
    return frames
