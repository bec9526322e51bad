"""Generator self-test: inputs are a pure function of (seed, workload), and
the corpus's document frequencies span rare to hot terms."""

from __future__ import annotations

import itertools
import statistics

import gen

N = 2_000


def _take(it, n: int) -> list:
    return list(itertools.islice(it, n))


def _inputs(seed: int, workload: str):
    rows = gen.corpus_rows(seed, N)
    pool = gen.query_pool(seed, rows, gen.df_bands(rows), size=200)
    return {
        "rows": rows,
        "pool": pool,
        "stream": _take(gen.pool_stream(seed, workload, pool), 300),
        "hot": _take(gen.hot_queries(seed, rows, gen.df_bands(rows)), 50),
        "upserts": _take(gen.upsert_batches(seed, workload, rows), 3),
        "snapshot": gen.snapshot_change(seed, rows),
    }


def test_same_seed_same_inputs():
    assert _inputs(5, "ingest") == _inputs(5, "ingest")


def test_different_seed_different_inputs():
    a, b = _inputs(5, "ingest"), _inputs(6, "ingest")
    for key in a:
        assert a[key] != b[key], key


def test_streams_never_repeat_a_query():
    rows = gen.corpus_rows(9, N)
    pool = gen.query_pool(9, rows, gen.df_bands(rows), size=50)
    assert sorted(gen.pool_stream(9, "search", pool)) == sorted(pool)
    hot = _take(gen.hot_queries(9, rows, gen.df_bands(rows)), 50)
    assert len(set(hot)) == len(hot)


def test_workload_salts_its_streams():
    a, b = _inputs(5, "search"), _inputs(5, "ingest")
    assert a["rows"] == b["rows"]
    assert a["stream"] != b["stream"]
    assert a["upserts"] != b["upserts"]


def test_df_spans_rare_to_hot():
    rows = gen.corpus_rows(9, N)
    df = gen.doc_freqs(rows)
    assert min(df.values()) == 1
    assert max(df.values()) >= 0.5 * N
    bands = gen.df_bands(rows)
    assert bands["rare"] and all(df[t] <= gen.RARE_DF for t in bands["rare"])
    assert bands["hot"] and all(df[t] >= 0.1 * N for t in bands["hot"])


def test_lengths_are_skewed_around_100_terms():
    lens = [len(gen.terms(r[4])) for r in gen.corpus_rows(9, N)]
    assert 70 <= statistics.median(lens) <= 140
    assert max(lens) >= 8 * statistics.median(lens)


def test_queries_match_and_sit_in_their_band():
    rows = gen.corpus_rows(9, N)
    docs = [set(gen.terms(r[4])) for r in rows]
    hot = set(gen.df_bands(rows)["hot"])
    pool = gen.query_pool(9, rows, gen.df_bands(rows), size=100)
    assert len(set(pool)) == len(pool)
    for q in pool:
        assert 1 <= len(q.split()) <= 3
        assert any(set(q.split()) <= d for d in docs), q
    with_hot = sum(bool(hot & set(q.split())) for q in pool)
    assert 0.05 * len(pool) <= with_hot <= 0.5 * len(pool)
    for q in _take(gen.hot_queries(9, rows, gen.df_bands(rows)), 20):
        assert 2 <= len(q.split()) <= 3 and set(q.split()) <= hot


def test_upserts_mix_edits_and_new_paths():
    rows = gen.corpus_rows(9, N)
    known = {(r[0], r[1]) for r in rows}
    for batch in _take(gen.upsert_batches(9, "ingest", rows), 2):
        assert len(batch) == 100
        keys = [(r[0], r[1]) for r in batch]
        assert len(set(keys)) == 100
        # edits may hit paths an earlier batch added
        assert sum(k in known for k in keys) == 70
        known.update(keys)
