"""Self-tests of the benchmark's own logic; no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/test_selfcheck.py -q``
"""

from __future__ import annotations

import collections
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import repeat  # noqa: E402
import stats  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(range(100), 90) == (89.0, 10)
    assert stats.tail_percentile(range(99), 90) is None  # only 9 beyond
    assert stats.tail_percentile([], 90) is None
    # ties at the percentile value do not count as beyond it
    assert stats.tail_percentile([1.0] * 50 + [2.0] * 9, 50) is None


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    values = [float(x) for x in range(1, 11)]  # quantiles: 2.75, 5.5, 8.25
    assert stats.quartile_spread(values) == pytest.approx((8.25 - 2.75) / 5.5)


def test_worse_by_follows_the_metric_direction():
    assert repeat.worse_by(10.0, 12.5, "lower") == pytest.approx(0.25)
    assert repeat.worse_by(10.0, 7.5, "higher") == pytest.approx(0.25)
    assert repeat.worse_by(10.0, 12.5, "higher") == pytest.approx(-0.25)


def test_self_time_subtracts_covered_children_once():
    assert stats.self_time((0.0, 10.0), []) == 10.0
    # overlapping children are merged, parts outside the span are clipped
    assert stats.self_time((0.0, 10.0), [(1, 3), (2, 4), (9, 12), (-5, -1)]) == 6.0
    assert stats.self_time((0.0, 10.0), [(0, 10), (2, 3)]) == 0.0


def test_merge_closed_form_equals_sequential_upserts():
    rng = random.Random(3)
    stored = {k: ("stored", k) for k in range(50)}
    delta = {k: ("delta", k) for k in rng.sample(range(25, 80), 30)}
    # an upsert applied row by row, in any order, reaches the closed form
    table = dict(stored)
    rows = list(delta.items())
    rng.shuffle(rows)
    for k, v in rows:
        table[k] = v
    merged = stats.merge_closed_form(stored, delta)
    assert merged == table
    assert set(merged) == set(stored) | set(delta)
    assert all(merged[k] == delta[k] for k in delta)


def _staged(tmp_path, seed, factor):
    import duckdb

    from glasseenterprise_mcp_spark.sources.transcripts import transcripts_cte

    sf = corpus.write_documents(str(tmp_path / "sf"), seed, 300)
    out = str(tmp_path / "t.parquet")
    corpus.stage_transcripts(sf, seed, factor, out)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    base = con.sql(f"WITH {transcripts_cte()} SELECT text FROM transcripts").fetchall()
    staged = con.sql(f"SELECT conv_id, turn_idx, text FROM '{out}'").fetchall()
    con.close()
    return [t for (t,) in base], staged


def _mentions(texts):
    """Text-pure mentions of each text without span offsets, as a multiset."""
    from glasseenterprise_mcp_spark.operators.extract import _ExtractState, _scan_text

    st = _ExtractState()
    out = collections.Counter()
    for t in texts:
        for m in _scan_text(t, st):
            out[m[:4] + m[6:]] += 1  # drop span_start, span_end
    return out


def test_distinct_tokens_keep_the_frozen_mentions(tmp_path):
    factor = 3
    base, staged = _staged(tmp_path, seed=5, factor=factor)
    texts = [t for _, _, t in staged]
    assert len(texts) == factor * len(base)
    assert corpus.text_reuse_frac(texts) == 0.0
    assert corpus.text_reuse_frac(base * factor) > 0.6  # the frozen corpus repeats
    for conv_id, turn_idx, text in staged:
        assert text.startswith(corpus.token(5, conv_id, turn_idx) + " ")
    frozen = _mentions(base * factor)  # amplify copies every text verbatim
    assert sum(frozen.values()) > 0
    assert _mentions(texts) == frozen


def test_inputs_depend_only_on_the_seed(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = (
        pq.read_table(corpus.write_documents(str(tmp_path / d), seed, 50) + "/documents.parquet")
        for d, seed in (("a", 9), ("b", 9), ("c", 10))
    )
    assert a.equals(b)
    assert not a.equals(c)
    e, f = (
        pq.read_table(corpus.write_embeddings(str(tmp_path / d), 9, 40) + "/embeddings.parquet")
        for d in ("e", "f")
    )
    assert e.equals(f)
    assert e.column("embedding").type.value_type.bit_width == 32
