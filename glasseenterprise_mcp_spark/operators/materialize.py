"""Stage D — graph materialization: canonical nodes + deduped triple edges,
snapshot-stamped, written to partitioned tables with upsert semantics.

Analogues: node upsert grouped by type (src/neo4j/saveNodes.ts:32-201),
versioned edge upsert keyed (relKey, snapshotVersion)
(src/neo4j/saveRelationships.ts:16-57), pre-write dedup
(relationshipBuilder.ts:943-953), multi-source node attributes
(saveNodes.ts:86-104), snapshot stamp minted once per run on the driver
(src/index.ts:176 — N12 determinism across task retries).

Write layout (SURVEY.md §4.5): edges partitioned by ``pred``, nodes by
``type`` — partition pruning makes per-predicate queries (the dominant
access pattern of the query layer) scan only their slice at 100TB.
The sink is an interface: Iceberg ``MERGE INTO`` when a catalog is
configured, else a parquet MoR-style fallback (read existing ∪ new →
dedup by key → dynamic-partition overwrite) — same idempotent-replay
contract either way.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.ids import node_id_col, node_id_sql, stable_id_sql
from .link import MENTION_NODE_KIND, turn_id_col, turn_id_sql


def snapshot_stamp(spark: SparkSession) -> str:
    """One ISO stamp per run, minted on the driver (N12): deterministic
    across task retries because it is a plan-time literal, not a per-row
    ``current_timestamp()``."""
    return (
        spark.sql("SELECT date_format(current_timestamp(), \"yyyy-MM-dd'T'HH:mm:ss.SSSX\") v")
        .collect()[0][0]
    )


def build_nodes(
    transcripts: DataFrame, mentions: DataFrame, snapshot_version: str
) -> DataFrame:
    """Canonical node table: turn + conversation nodes from transcripts,
    typed mention nodes (entity/tool/config/error/url/resource) from
    mentions. Display name per node = modal surface (count desc, surface asc
    — A4/W1); first sighting = min (conv_id, turn_idx) lexicographic.

    ``attrs`` (§1.4) carries the A2 multi-source stats (saveNodes.ts:86-104)
    in one aggregation: ``MENTION_NODE_KIND`` maps ``derive`` into the
    entity key space, so the per-entity count of derive directives is a
    per-(type, key) count in the same groupBy as ``n_mentions``, emitted as
    ``n_derives`` only when it is > 0. Map keys are in sorted order."""
    turns = transcripts.select(
        turn_id_col(F.col("conv_id"), F.col("turn_idx")).alias("id"),
        F.lit("turn").alias("type"),
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("name"),
        F.lit(None).cast("string").alias("norm"),
        F.concat_ws("|", "conv_id", F.col("turn_idx").cast("string")).alias("key"),
        F.col("conv_id").alias("first_conv"),
        F.col("turn_idx").alias("first_turn"),
        # §1.4 attrs MAP<STRING,STRING> (reference meta, saveNodes.ts:11-30)
        F.expr(
            "map_from_entries(filter("
            "array(named_struct('k', 'role', 'v', role),"
            "      named_struct('k', 'tool', 'v', tool)),"
            " x -> x.v IS NOT NULL))"
        ).alias("attrs"),
    )
    convs = (
        transcripts.groupBy("conv_id")
        .agg(
            F.min("turn_idx").alias("first_turn"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .select(
            node_id_col("conv", F.col("conv_id")).alias("id"),
            F.lit("conversation").alias("type"),
            F.col("conv_id").alias("name"),
            F.col("conv_id").alias("norm"),
            F.col("conv_id").alias("key"),
            F.col("conv_id").alias("first_conv"),
            F.col("first_turn"),
            F.create_map(
                F.lit("n_turns"), F.col("n_turns").cast("string")
            ).alias("attrs"),
        )
    )

    m = mentions.filter(F.col("mtype") != "reply")
    kind = None
    for mt, (k, _key) in MENTION_NODE_KIND.items():
        kind = F.when(F.col("mtype") == mt, F.lit(k)) if kind is None else kind.when(
            F.col("mtype") == mt, F.lit(k)
        )
    key = F.when(F.col("mtype") == "url", F.col("path")).otherwise(F.col("norm"))
    typed = m.select(
        kind.alias("type"),
        key.alias("key"),
        F.col("norm"),
        F.col("surface"),
        F.col("conv_id"),
        F.col("turn_idx"),
        (F.col("mtype") == "derive").cast("int").alias("is_derive"),
    )
    # first-sighting arg-min encoded as 'conv|zero-padded-turn' so plain MIN
    # is the lexicographic (conv_id, turn_idx) minimum — identical in DuckDB.
    first_key = F.concat_ws(
        "|", F.col("conv_id"), F.lpad(F.col("turn_idx").cast("string"), 9, "0")
    )
    counts = typed.groupBy("type", "key", "norm", "surface").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(first_key).alias("first_k"),
        F.sum("is_derive").alias("n_derives"),
    )
    w = Window.partitionBy("type", "key").orderBy(F.desc("cnt"), F.asc("surface"))
    stats = [
        F.lit("n_mentions"), F.col("n_mentions").cast("string"),
        F.lit("n_surfaces"), F.col("n_surfaces").cast("string"),
    ]
    mention_nodes = (
        counts.withColumn("rn", F.row_number().over(w))
        .groupBy("type", "key")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("surface"))).alias("name"),
            F.min("norm").alias("norm"),
            F.min("first_k").alias("first_k"),
            F.sum("cnt").alias("n_mentions"),
            F.count(F.lit(1)).alias("n_surfaces"),
            F.sum("n_derives").alias("n_derives"),
        )
        .select(
            F.unhex(F.md5(F.concat_ws("|", "type", "key"))).alias("id"),
            "type",
            "name",
            "norm",
            "key",
            F.split(F.col("first_k"), r"\|").getItem(0).alias("first_conv"),
            F.split(F.col("first_k"), r"\|").getItem(1).cast("int").alias("first_turn"),
            F.when(
                F.col("n_derives") > 0,
                F.create_map(
                    F.lit("n_derives"), F.col("n_derives").cast("string"), *stats
                ),
            )
            .otherwise(F.create_map(*stats))
            .alias("attrs"),
        )
    )

    return (
        turns.unionByName(convs)
        .unionByName(mention_nodes)
        .withColumn("snapshot_version", F.lit(snapshot_version))
    )


# the a2_node_attrs query and the benchmark's traced run call the node
# build by this name
build_nodes_with_attrs = build_nodes


def node_attrs_cte() -> str:
    """DuckDB twin of the merged node attrs, in exploded (id, type, k, v)
    row form (map columns don't hash portably across engines; the exploded
    rows are the oracle-stable projection)."""
    kind_case = " ".join(
        f"WHEN '{mt}' THEN '{k}'" for mt, (k, _key) in MENTION_NODE_KIND.items()
    )
    return f"""node_attrs AS (
  WITH mstats AS (
    SELECT md5(concat_ws('|', type, key)) AS id, type,
           CAST(SUM(cnt) AS VARCHAR) AS n_mentions,
           CAST(COUNT(*) AS VARCHAR) AS n_surfaces
    FROM (
      SELECT CASE mtype {kind_case} END AS type,
             CASE WHEN mtype = 'url' THEN path ELSE norm END AS key,
             surface, COUNT(*) AS cnt
      FROM mentions WHERE mtype <> 'reply'
      GROUP BY 1, 2, 3
    ) GROUP BY type, key
  )
  SELECT {turn_id_sql('conv_id', 'turn_idx')} AS id, 'turn' AS type,
         'role' AS k, role AS v FROM transcripts
  UNION ALL
  SELECT {turn_id_sql('conv_id', 'turn_idx')}, 'turn', 'tool', tool
  FROM transcripts WHERE tool IS NOT NULL
  UNION ALL
  SELECT {node_id_sql('conv', 'conv_id')}, 'conversation', 'n_turns',
         CAST(COUNT(*) AS VARCHAR)
  FROM transcripts GROUP BY conv_id
  UNION ALL
  SELECT id, type, 'n_mentions', n_mentions FROM mstats
  UNION ALL
  SELECT id, type, 'n_surfaces', n_surfaces FROM mstats
  UNION ALL
  SELECT {node_id_sql('entity', 'norm')}, 'entity', 'n_derives',
         CAST(COUNT(*) AS VARCHAR)
  FROM mentions WHERE mtype = 'derive' GROUP BY norm
)"""


def nodes_cte() -> str:
    kind_case = " ".join(
        f"WHEN '{mt}' THEN '{k}'" for mt, (k, _key) in MENTION_NODE_KIND.items()
    )
    return f"""nodes AS (
  SELECT {turn_id_sql('conv_id', 'turn_idx')} AS id, 'turn' AS type,
         conv_id || '#' || CAST(turn_idx AS VARCHAR) AS name,
         CAST(NULL AS VARCHAR) AS norm,
         concat_ws('|', conv_id, CAST(turn_idx AS VARCHAR)) AS key,
         conv_id AS first_conv, turn_idx AS first_turn
  FROM transcripts
  UNION ALL
  SELECT {node_id_sql('conv', 'conv_id')}, 'conversation', conv_id, conv_id,
         conv_id, conv_id, MIN(turn_idx)
  FROM transcripts GROUP BY conv_id
  UNION ALL
  SELECT md5(concat_ws('|', type, key)) AS id, type,
         MAX(CASE WHEN rn = 1 THEN surface END) AS name,
         MIN(norm) AS norm,
         key,
         split_part(MIN(first_k), '|', 1) AS first_conv,
         CAST(split_part(MIN(first_k), '|', 2) AS INT) AS first_turn
  FROM (
    SELECT *, row_number() OVER (PARTITION BY type, key ORDER BY cnt DESC, surface ASC) AS rn
    FROM (
      SELECT CASE mtype {kind_case} END AS type,
             CASE WHEN mtype = 'url' THEN path ELSE norm END AS key,
             norm, surface, COUNT(*) AS cnt,
             MIN(concat_ws('|', conv_id, lpad(CAST(turn_idx AS VARCHAR), 9, '0'))) AS first_k
      FROM mentions WHERE mtype <> 'reply'
      GROUP BY 1, 2, 3, 4
    )
  ) u
  GROUP BY type, key
)"""


def build_edges(
    edge_families: list[DataFrame], snapshot_version: str, dedupe: bool = False
) -> DataFrame:
    """Union the per-predicate edge families into the canonical edge table.

    Each family arrives as (subj, pred, obj, *extra-cols); extras fold into
    the ``props`` string map.

    ``dedupe=False`` by default: every linking operator already guarantees
    uniqueness of (subj, pred, obj) within its family (dropDuplicates /
    groupBy / one-row-per-turn), and families cannot collide across preds —
    so the global dedup (A1, relationshipBuilder.ts:943-953) would be a
    3rd full shuffle of the triple set for nothing. Pass ``dedupe=True``
    when composing edge families without that guarantee; the dedup keeps
    the lexicographically-smallest serialized props (deterministic
    keep-first)."""
    canon = []
    for df in edge_families:
        extra = [c for c in df.columns if c not in ("subj", "pred", "obj")]
        props = (
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in extra]),
                F.array(*[F.col(c).cast("string") for c in extra]),
            )
            if extra
            else F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))
        )
        canon.append(df.select("subj", "pred", "obj", props.alias("props")))
    union = canon[0]
    for df in canon[1:]:
        union = union.unionByName(df)
    if dedupe:
        union = (
            union.withColumn("_pk", F.to_json(F.col("props")))
            .groupBy("subj", "pred", "obj")
            .agg(F.min("_pk").alias("_pk"))
            .select(
                "subj", "pred", "obj",
                F.from_json(F.col("_pk"), "map<string,string>").alias("props"),
            )
        )
    return union.withColumn("snapshot_version", F.lit(snapshot_version))


# --------------------------------------------------------------------------
# Sink interface: Iceberg MERGE when available, parquet MoR fallback.
# --------------------------------------------------------------------------
class GraphSink:
    """Upsert sink for nodes/edges with the reference's idempotent-replay
    contract (stable ids ⇒ MERGE replay is a no-op)."""

    def __init__(self, spark: SparkSession, base_dir: str, use_iceberg: bool | None = None):
        self.spark = spark
        self.base_dir = base_dir
        if use_iceberg is None:
            use_iceberg = "spark.sql.catalog.kg" in {
                k for k, _ in spark.sparkContext.getConf().getAll()
            }
        self.use_iceberg = use_iceberg

    def _path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def exists(self, table: str) -> bool:
        """True iff the table has been written (distinguishes 'first batch'
        from a read *failure* — streaming folds must not treat IO errors as
        an empty table, or they silently drop all accumulated state)."""
        if self.use_iceberg:
            return self.spark.catalog.tableExists(f"kg.{table}")
        path = self._path(table)
        return os.path.exists(path) and any(
            not f.startswith(("_", ".")) for f in os.listdir(path)
        )

    def upsert(self, df: DataFrame, table: str, keys: list[str], partition_by: list[str]):
        if self.use_iceberg:
            self._merge_iceberg(df, table, keys)
            return
        import shutil

        path = self._path(table)
        tmp, old = path + "__tmp", path + "__old"
        # recover from a previous crashed swap: a leftover __old with no live
        # table means the crash hit between the two renames — restore it;
        # stale __tmp/__old dirs from killed runs are removed either way.
        if os.path.exists(old) and not os.path.exists(path):
            os.rename(old, path)
        for stale in (tmp, old):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        existing_files = os.path.exists(path) and any(
            f.endswith(".parquet") or f.startswith(partition_by[0] + "=")
            for f in os.listdir(path)
        )
        if existing_files:
            existing = self.spark.read.parquet(path)
            # new rows win on key collision (last-writer-wins by snapshot,
            # matching MERGE ... WHEN MATCHED THEN UPDATE semantics)
            merged = df.unionByName(existing.join(df.select(keys).distinct(), keys, "left_anti"))
        else:
            merged = df
        # Write via temp dir then swap, since we read from the same path.
        # NOTE: this fallback is local-FS only (os.rename swap); an Iceberg
        # catalog (use_iceberg) is the cluster path — on HDFS/S3 the MERGE
        # branch must be used, so fail loudly rather than corrupt.
        if "://" in path and not path.startswith("file:"):
            raise ValueError(
                f"GraphSink parquet fallback requires a local path, got {path}; "
                "configure an Iceberg catalog (spark.sql.catalog.kg) for object stores"
            )
        # no repartition by the partition columns: hashing on a low-
        # cardinality column (pred, type) sends each whole partition value
        # through one writer task; each task writes its own file per value
        merged.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
        if os.path.exists(path):
            os.rename(path, old)
        try:
            os.rename(tmp, path)
        except BaseException:
            # restore the previous table so a failed swap is recoverable
            if os.path.exists(old) and not os.path.exists(path):
                os.rename(old, path)
            raise
        if os.path.exists(old):
            shutil.rmtree(old)

    def _merge_iceberg(self, df: DataFrame, table: str, keys: list[str]):
        # one view per call: temp views are session-wide, and concurrent
        # upserts (run_pipeline, the streaming batch) share the session
        view = f"_updates_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(view)
        on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        try:
            self.spark.sql(
                f"MERGE INTO kg.{table} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self._path(table))


def write_graph(
    sink: GraphSink, nodes: DataFrame, edges: DataFrame
) -> None:
    """Commit nodes and edges concurrently from a two-thread driver pool:
    the tables are disjoint and neither write reads the other, so their
    jobs overlap and the executors are not left idle while the driver plans
    and commits one table. Crash contract as with a serial order: either
    table may have committed when the other fails, and a replay re-merges
    both idempotently."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(sink.upsert, nodes, "nodes", keys=["id"], partition_by=["type"]),
            pool.submit(
                sink.upsert, edges, "edges",
                keys=["subj", "pred", "obj"], partition_by=["pred"],
            ),
        ]
        for f in futures:
            f.result()


def versioned_upsert_readback(transcripts: DataFrame) -> DataFrame:
    """S8/S9 END-TO-END versioned-sink gate: the reference's core
    persistence semantic is MERGE-by-stable-id with a ``snapshotVersion``
    stamped on every node and edge (src/neo4j/saveNodes.ts:137-158,
    saveRelationships.ts:28-44) — a later ingest updates matched ids in
    place (last-writer-wins, new stamp) and inserts new ids, while
    untouched rows keep their earlier stamp; queries then read the stored
    graph with both generations visible.

    This operator ACTUALLY EXECUTES that contract through the sink: it
    derives two deterministic batches from the corpus, runs
    ``GraphSink.upsert`` TWICE per table (nodes keyed by id, edges by
    (subj, pred, obj)) with stamps 'v1' then 'v2' — the second batch
    UPDATES the ids whose md5 gate is 0-7 (value changes n_turns → n_user)
    and ADDS new ids (gate 8-b, a 'convmeta' key space / a new predicate)
    — then reads the persisted tables back. The DuckDB twin computes the
    same final state in closed form: batch2 ∪ (batch1 anti-join batch2 on
    the key), which is exactly the fixpoint of two
    ``INSERT … ON CONFLICT (key) DO UPDATE`` statements.

    Result rows (tbl, k1, k2, val, snapshot_version): nodes as
    (hex id, name), edges as (hex subj, pred|hex obj); rows carry BOTH
    'v1' (untouched batch-1 survivors) and 'v2' (updated + inserted), so a
    hash match proves last-writer-wins per stable id AND that earlier-
    generation rows survive a later upsert untouched — end-to-end through
    the sink's write path, not a unit twin."""
    import shutil
    import tempfile

    spark = transcripts.sparkSession
    conv = (
        transcripts.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.count(F.when(F.col("role") == "user", F.lit(1)))
            .cast("long")
            .alias("n_user"),
        )
        .withColumn(
            "_g", F.substring(F.md5(F.col("conv_id").cast("binary")), 1, 1)
        )
        # referenced by all four batch builds — materialize once
        .localCheckpoint(eager=True)
    )
    cid = node_id_col("conv", F.col("conv_id"))
    mid = node_id_col("convmeta", F.col("conv_id"))
    stat_t = node_id_col("stat", F.lit("n_turns"))
    stat_u = node_id_col("stat", F.lit("n_user"))

    def nbatch(df, idc, valc, stamp):
        return df.select(
            idc.alias("id"),
            F.col("conv_id").alias("name"),
            F.col(valc).alias("val"),
            F.lit(stamp).alias("snapshot_version"),
        )

    def ebatch(df, predl, objc, valc, stamp):
        return df.select(
            cid.alias("subj"),
            F.lit(predl).alias("pred"),
            objc.alias("obj"),
            F.col(valc).alias("val"),
            F.lit(stamp).alias("snapshot_version"),
        )

    upd = conv.filter(F.col("_g") <= "7")
    new = conv.filter((F.col("_g") >= "8") & (F.col("_g") <= "b"))
    b1n = nbatch(conv, cid, "n_turns", "v1")
    b2n = nbatch(upd, cid, "n_user", "v2").unionByName(
        nbatch(new, mid, "n_turns", "v2")
    )
    b1e = ebatch(conv, "has-stat", stat_t, "n_turns", "v1")
    b2e = ebatch(upd, "has-stat", stat_t, "n_user", "v2").unionByName(
        ebatch(new, "has-user-stat", stat_u, "n_user", "v2")
    )

    out_schema = (
        "tbl string, k1 string, k2 string, val bigint, snapshot_version string"
    )
    # Empty corpus: nothing to upsert — an empty partitioned write would
    # leave a schemaless parquet dir and fail the read-back (the
    # empty-corpus robustness contract, tests/test_empty_corpus.py).
    if not conv.limit(1).count():
        return spark.createDataFrame([], out_schema)

    base = tempfile.mkdtemp(prefix="kg_versioned_gate_")
    try:
        sink = GraphSink(spark, base)

        # The nodes chain and the edges chain touch disjoint tables; only
        # the v1→v2 order WITHIN each chain is semantic (the gate proves
        # last-writer-wins across two generations). Run the two chains
        # concurrently (guide §2.6): the gate's cost is four driver-latency-
        # bound upserts of dim-sized frames, and the chains overlap ~fully.
        def _nodes_chain() -> None:
            sink.upsert(b1n, "nodes", keys=["id"], partition_by=["snapshot_version"])
            sink.upsert(b2n, "nodes", keys=["id"], partition_by=["snapshot_version"])

        def _edges_chain() -> None:
            sink.upsert(
                b1e, "edges", keys=["subj", "pred", "obj"],
                partition_by=["snapshot_version"],
            )
            sink.upsert(
                b2e, "edges", keys=["subj", "pred", "obj"],
                partition_by=["snapshot_version"],
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(_nodes_chain), pool.submit(_edges_chain)]:
                f.result()
        n = sink.read("nodes").select(
            F.lit("nodes").alias("tbl"),
            F.lower(F.hex(F.col("id"))).alias("k1"),
            F.col("name").alias("k2"),
            F.col("val"),
            F.col("snapshot_version"),
        )
        e = sink.read("edges").select(
            F.lit("edges").alias("tbl"),
            F.lower(F.hex(F.col("subj"))).alias("k1"),
            F.concat_ws("|", F.col("pred"), F.lower(F.hex(F.col("obj")))).alias("k2"),
            F.col("val"),
            F.col("snapshot_version"),
        )
        # materialize before deleting the sink dir the plan reads from
        return n.unionByName(e).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def versioned_readback_cte() -> str:
    """DuckDB twin of :func:`versioned_upsert_readback` — the closed form
    of the two-upsert history (INSERT … ON CONFLICT DO UPDATE ×2):
    final = batch2 ∪ (batch1 ▷ batch2) per table. Expects ``transcripts``."""
    cid = stable_id_sql("'conv'", "conv_id")
    mid = stable_id_sql("'convmeta'", "conv_id")
    stat_t = stable_id_sql("'stat'", "'n_turns'")
    stat_u = stable_id_sql("'stat'", "'n_user'")
    return f"""versioned AS (
  WITH conv AS (
    SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(COUNT(CASE WHEN role = 'user' THEN 1 END) AS BIGINT) AS n_user,
           substr(md5(conv_id), 1, 1) AS g
    FROM transcripts GROUP BY conv_id
  ), b1n AS (
    SELECT {cid} AS k1, conv_id AS k2, n_turns AS val,
           'v1' AS snapshot_version
    FROM conv
  ), b2n AS (
    SELECT {cid} AS k1, conv_id AS k2, n_user AS val,
           'v2' AS snapshot_version
    FROM conv WHERE g <= '7'
    UNION ALL
    SELECT {mid}, conv_id, n_turns, 'v2' FROM conv WHERE g BETWEEN '8' AND 'b'
  ), b1e AS (
    SELECT {cid} AS sj, 'has-stat' AS pred, {stat_t} AS ob, n_turns AS val,
           'v1' AS snapshot_version
    FROM conv
  ), b2e AS (
    SELECT {cid} AS sj, 'has-stat' AS pred, {stat_t} AS ob, n_user AS val,
           'v2' AS snapshot_version
    FROM conv WHERE g <= '7'
    UNION ALL
    SELECT {cid}, 'has-user-stat', {stat_u}, n_user, 'v2'
    FROM conv WHERE g BETWEEN '8' AND 'b'
  ), nf AS (
    SELECT * FROM b2n
    UNION ALL
    SELECT * FROM b1n WHERE NOT EXISTS (
      SELECT 1 FROM b2n WHERE b2n.k1 = b1n.k1)
  ), ef AS (
    SELECT * FROM b2e
    UNION ALL
    SELECT * FROM b1e WHERE NOT EXISTS (
      SELECT 1 FROM b2e
      WHERE b2e.sj = b1e.sj AND b2e.pred = b1e.pred AND b2e.ob = b1e.ob)
  )
  SELECT 'nodes' AS tbl, k1, k2, val, snapshot_version FROM nf
  UNION ALL
  SELECT 'edges', sj, pred || '|' || ob, val, snapshot_version FROM ef
)"""
