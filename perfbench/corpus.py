"""Seeded input generator for the benchmark (no Spark needed).

Writes ``documents`` and ``embeddings`` parquets with the shapes of the
engine's sf test tables, drawn from ``numpy`` generators seeded by the
workload seed. The engine only ever sees the files written here.

Distinct-text amplification: the batch corpus is ``amplify(derive_transcripts
(docs), k)`` with one seed-drawn plain token *prepended* to every replica's
text, so no turn text repeats and the per-text memo of the extraction kernel
is bypassed. The token goes first because the manifest detector anchors at
end-of-text; being a lowercase word with no sigil, it matches no detector, so
the mention multiset is exactly that of the frozen ``amplify`` corpus.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# the distinct-text prefix is md5 hex with digits mapped to letters: a plain
# lowercase word, which no detector matches (all carry a sigil or a colon)
_DIGIT_TO_LETTER = str.maketrans("0123456789", "ghijklmnop")
TOKEN_LEN = 12


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    vocab = np.array(VOCAB)
    n_words = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(vocab), size=int(n_words.sum()))
    texts: list[str] = []
    pos = 0
    for n in n_words:
        texts.append(" ".join(vocab[words[pos : pos + n]]))
        pos += n
    # one doc in 20 is a near-duplicate of an earlier doc (the dedup family's
    # input property): its text is the earlier text plus a trailing marker
    for d in range(11, n_docs, 20):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P)),
            "source": pa.array([f"src{d % 20}" for d in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(out_dir: str, seed: int, n_docs: int) -> str:
    """Write the seeded ``documents.parquet`` into ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        _documents(np.random.default_rng(seed), n_docs), f"{out_dir}/documents.parquet"
    )
    return out_dir


EMB_DIM = 64  # the engine's fixed embedding width
EMB_LABELS = 10


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    """Unit vectors scattered around ``EMB_LABELS`` seeded centres, with the
    shape of the engine's sf ``embeddings`` table."""
    centres = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, size=n_vecs)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_embeddings(out_dir: str, seed: int, n_vecs: int) -> str:
    """Write the seeded ``embeddings.parquet`` into ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    # a stream of its own, so the documents do not change with the vector count
    rng = np.random.default_rng([seed, 1])
    pq.write_table(_embeddings(rng, n_vecs), f"{out_dir}/embeddings.parquet")
    return out_dir


def token(seed: int, conv_id: str, turn_idx: int) -> str:
    """Python twin of :func:`token_col`: the distinct-text prefix of one turn."""
    digest = hashlib.md5(f"{seed}|{conv_id}|{turn_idx}".encode()).hexdigest()
    return digest[:TOKEN_LEN].translate(_DIGIT_TO_LETTER)


def token_col(seed: int):
    """Spark column of the seed-drawn prefix token for each turn row."""
    import pyspark.sql.functions as F

    digest = F.md5(
        F.concat_ws("|", F.lit(str(seed)), "conv_id", F.col("turn_idx").cast("string"))
    )
    return F.translate(F.substring(digest, 1, TOKEN_LEN), "0123456789", "ghijklmnop")


def text_reuse_frac(texts: list[str]) -> float:
    """Share of turns whose text already occurred earlier in the corpus."""
    return 1.0 - len(set(texts)) / len(texts) if texts else 0.0


def stage_transcripts(sf_dir: str, seed: int, factor: int, out_path: str) -> int:
    """Write the distinct-text transcripts parquet and return its row count.

    The rows are those of ``amplify(derive_transcripts(docs), factor)`` with
    :func:`token` prepended to each text, computed through the engine's own
    DuckDB twin of ``derive_transcripts`` (``transcripts_cte``), so staging
    needs no Spark session and stays out of the engine's set-up time."""
    import duckdb

    from glasseenterprise_mcp_spark.sources.transcripts import transcripts_cte

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        rows = con.sql(
            f"""WITH {transcripts_cte()},
amplified AS (
  SELECT conv_id || '_r' || CAST(r.i AS VARCHAR) AS conv_id, turn_idx, role,
         text, tool, ts_epoch, r.i AS rep
  FROM transcripts, (SELECT range AS i FROM range({factor})) r
)
SELECT conv_id, turn_idx, role,
       translate(substr(md5('{seed}|' || conv_id || '|' || CAST(turn_idx AS VARCHAR)),
                        1, {TOKEN_LEN}), '0123456789', 'ghijklmnop') || ' ' || text AS text,
       tool, ts_epoch
FROM amplified ORDER BY rep, ts_epoch, conv_id"""
        ).arrow()
    finally:
        con.close()
    ts = pc.multiply(rows["ts_epoch"], 1_000_000).cast(pa.timestamp("us", tz="UTC"))
    table = rows.select(["conv_id", "turn_idx", "role", "text", "tool"]).append_column(
        "ts", ts
    ).append_column("ts_epoch", rows["ts_epoch"])
    pq.write_table(table, out_path)
    return table.num_rows


def stage_build(
    work: str, seed: int, n_docs: int, factor: int, path: str
) -> tuple[int, tuple[int, int]]:
    """The build inputs of one seed: write the documents and the staged
    transcripts at ``path``; return the turn count and the expected triples."""
    sf = write_documents(os.path.join(work, "sf"), seed, n_docs)
    return stage_transcripts(sf, seed, factor, path), expected_triples(path)


def expected_triples(transcripts_path: str) -> tuple[int, int]:
    """(row count, checksum) of the full triple set of a transcripts file,
    computed by the engine's DuckDB twin of ``pipeline_all_triples``."""
    import duckdb

    from glasseenterprise_mcp_spark import oracle as O

    sql = O.with_ctes(
        O.mentions_cte(),
        O.mentions_in_cte(),
        O.replies_to_cte(),
        O.calls_tool_cte(),
        O.refers_to_cte(),
        """all_edges AS (
  SELECT subj, pred, obj FROM mentions_in
  UNION ALL SELECT subj, pred, obj FROM replies_to
  UNION ALL SELECT subj, pred, obj FROM calls_tool
  UNION ALL SELECT subj, pred, obj FROM refers_to
)""",
    ) + f"\n{TRIPLE_CHECKSUM_SQL.format(rel='all_edges')}"
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW transcripts AS SELECT * FROM '{transcripts_path}'")
        n, s = con.sql(sql).fetchone()
    finally:
        con.close()
    return int(n), int(s or 0)


# order-independent checksum of a (subj, pred, obj) relation with hex ids
TRIPLE_CHECKSUM_SQL = (
    "SELECT COUNT(*), SUM(hash(subj, pred, obj)::HUGEINT) % 18446744073709551557 "
    "FROM {rel}"
)


def sink_triples(edges_dir: str) -> tuple[int, int]:
    """(row count, checksum) of a GraphSink ``edges`` table, on the same
    checksum as :func:`expected_triples` (binary ids rendered as hex)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW e AS SELECT lower(hex(subj)) AS subj, pred, "
            f"lower(hex(obj)) AS obj FROM read_parquet('{edges_dir}/**/*.parquet', "
            "hive_partitioning = true)"
        )
        n, s = con.sql(TRIPLE_CHECKSUM_SQL.format(rel="e")).fetchone()
    finally:
        con.close()
    return int(n), int(s or 0)
