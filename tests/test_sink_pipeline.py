"""The batch sink path: ``run_pipeline(sink=GraphSink(...))`` stores the same
graph a sink-less run returns, its metrics sidecar carries the frames' exact
row counts, a replay is a no-op, and concurrent MERGE upserts each read their
own source view."""

from __future__ import annotations

import threading

import pytest
import pyspark.sql.functions as F

from glasseenterprise_mcp_spark.functions.ids import node_id_col
from glasseenterprise_mcp_spark.operators.canonicalize import connected_components
from glasseenterprise_mcp_spark.operators.materialize import GraphSink
from glasseenterprise_mcp_spark.pipeline import run_pipeline
from glasseenterprise_mcp_spark.sources.transcripts import derive_transcripts

from .conftest import SF_SMALL, freeze

NODE_COLS = ["id", "type", "name", "norm", "key", "first_conv", "first_turn"]


def _triples(df):
    return freeze(df.select("subj", "pred", "obj", "snapshot_version").collect())


def _nodes(df):
    return freeze(
        tuple(r[c] for c in NODE_COLS) + (tuple(sorted((r.attrs or {}).items())),)
        for r in df.select(*NODE_COLS, "attrs").collect()
    )


def _row_counts(sink):
    rows = sink.read("metrics").filter(F.col("metric") == "row_count").collect()
    assert all(r.partition_id == -1 for r in rows)
    return {r.stage: r.rows for r in rows}


@pytest.mark.parametrize("with_components", [True, False])
def test_batch_sink_stores_the_sinkless_graph(spark, tmp_path, with_components):
    t = derive_transcripts(spark, SF_SMALL)
    free = run_pipeline(spark, t, snapshot_version="s", with_components=False)
    want_edges = _triples(free.edges)
    want_nodes = _nodes(free.nodes)
    free.mentions.unpersist()

    sink = GraphSink(spark, str(tmp_path))
    res = run_pipeline(
        spark, t, sink=sink, snapshot_version="s", with_components=with_components
    )
    assert _triples(sink.read("edges")) == want_edges
    assert _triples(res.edges) == want_edges
    assert _nodes(sink.read("nodes")) == want_nodes
    assert _nodes(res.nodes) == want_nodes

    # n_derives sits on exactly the entity nodes that derive directives name
    derived = freeze(
        res.mentions.filter(F.col("mtype") == "derive")
        .select(node_id_col("entity", F.col("norm")).alias("id"))
        .distinct()
        .collect()
    )
    with_derives = freeze(
        res.nodes.filter(F.col("attrs").getItem("n_derives").isNotNull())
        .select("id")
        .collect()
    )
    assert derived and with_derives == derived

    counts = {
        "A_extract": res.mentions.count(),
        "D_edges": res.edges.count(),
        "D_nodes": res.nodes.count(),
    }
    assert _row_counts(sink) == counts
    assert {
        r.stage: r.rows for r in res.metrics[0].collect() if r.metric == "row_count"
    } == counts

    refers = res.edges.filter(F.col("pred") == "refers-to").select("subj", "obj")
    got_cc = freeze(res.components.collect())
    if with_components:
        assert got_cc == freeze(
            connected_components(refers, src="subj", dst="obj").collect()
        )
        assert got_cc
    else:
        assert got_cc == set()
    res.mentions.unpersist()

    # replay into the same sink: the parquet merge path reads each delta
    # twice (new rows ∪ stored rows not in the delta); nothing changes and
    # the observed counts stay exact
    again = run_pipeline(
        spark, t, sink=sink, snapshot_version="s", with_components=with_components
    )
    again.mentions.unpersist()
    assert _triples(sink.read("edges")) == want_edges
    assert _nodes(sink.read("nodes")) == want_nodes
    assert sink.read("metrics").count() == len(counts)
    assert _row_counts(sink) == counts


class _RecordingSession:
    """Stands in for the session inside ``GraphSink``: ``sql`` records each
    MERGE's source view once both threads have registered theirs, every
    other attribute is the real session's."""

    def __init__(self, spark, parties: int):
        self._spark = spark
        self._barrier = threading.Barrier(parties)
        self.seen: dict[str, set] = {}

    def __getattr__(self, name):
        return getattr(self._spark, name)

    def sql(self, stmt: str):
        view = stmt.split(" USING ")[1].split()[0]
        self._barrier.wait(timeout=60)
        self.seen[view] = {tuple(r) for r in self._spark.table(view).collect()}


def test_concurrent_iceberg_merges_use_distinct_views(spark, tmp_path):
    sink = GraphSink(spark, str(tmp_path), use_iceberg=True)
    session = _RecordingSession(spark, parties=2)
    sink.spark = session
    batches = {
        "nodes": {("a", "x")},
        "edges": {("b", "y"), ("c", "z")},
    }
    frames = {
        table: spark.createDataFrame(sorted(rows), "id string, v string")
        for table, rows in batches.items()
    }
    threads = [
        threading.Thread(
            target=sink.upsert, args=(df, table, ["id"], ["v"])
        )
        for table, df in frames.items()
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert len(session.seen) == 2
    assert sorted(map(sorted, session.seen.values())) == sorted(
        map(sorted, batches.values())
    )
    for view in session.seen:
        assert not spark.catalog.tableExists(view)
