"""The output check accepts the oracle's own answer and counts a corrupted
result as an error (negative control)."""

from __future__ import annotations

import hashlib
import types

import pytest

import gen
from check import Truth, check_batch, check_search, compare
from workloads import MAX_RAISED, WORKLOADS, Inputs, Loop

ROWS = gen.corpus_rows(4, 300)
QUERIES = gen.query_pool(4, ROWS, gen.df_bands(ROWS), size=30)


def _as_results(truth: Truth, query: str, k: int = 10) -> list[dict]:
    """What a correct engine returns: the oracle's top-k as result dicts."""
    top, _ = truth.expected(query, k)
    return [
        {"path": p, "score": s, "content_sha256": hashlib.sha256(c.encode()).hexdigest()}
        for p, s, c in top
    ]


def test_oracle_answer_passes():
    truth = Truth(ROWS)
    for q in QUERIES:
        assert check_search(truth, q, 10, _as_results(truth, q)) is None


def _corruptions(res: list[dict]):
    yield [dict(res[0], score=res[0]["score"] * (1 + 1e-6))] + res[1:]
    yield [dict(res[0], content_sha256="0" * 64)] + res[1:]
    yield res[:-1]
    yield [dict(res[0], path="acme/core/src/nowhere.py")] + res[1:]


def test_corrupted_results_fail():
    truth = Truth(ROWS)
    q = next(q for q in QUERIES if len(_as_results(truth, q)) >= 3)
    for bad in _corruptions(_as_results(truth, q)):
        assert check_search(truth, q, 10, bad) is not None


def test_corrupted_result_counts_into_error_rate():
    truth = Truth(ROWS)
    q = next(q for q in QUERIES if _as_results(truth, q))
    good = _as_results(truth, q)
    bad = next(_corruptions(good))
    loop = Loop(seconds=1.0)
    loop.run("search", lambda: good, lambda r: check_search(truth, q, 10, r))
    loop.run("search", lambda: bad, lambda r: check_search(truth, q, 10, r))
    loop.run("search", lambda: 1 / 0)
    assert (loop.attempted, loop.mismatched, loop.raised) == (3, 1, 1)


class _Broken:
    """A client (or session) whose every call raises, as one on a corrupt
    index would."""

    def __init__(self, index_dir: str):
        self.dir = index_dir

    def _index_dir(self, name: str) -> str:
        return self.dir

    def __getattr__(self, name):
        def fail(*args, **kwargs):
            raise RuntimeError(f"{name}: corrupt index")
        return fail


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_loop_ends_when_every_operation_raises(workload, tmp_path, monkeypatch):
    from bm25_index_tool_spark import incremental

    monkeypatch.setattr(incremental, "apply_update", _Broken("").apply_update)
    spark = _Broken("")
    spark.createDataFrame = lambda *a, **k: None
    spark.read = types.SimpleNamespace(parquet=lambda path: None)
    inputs = Inputs(4, workload, 300)
    wl = WORKLOADS[workload](spark, _Broken(str(tmp_path / "idx")), inputs,
                             Truth(inputs.rows), 60.0, str(tmp_path))
    wl.run()
    lp = wl.loop
    assert lp.raised >= MAX_RAISED and lp.ops == 0
    assert lp.attempted == lp.raised


def test_tie_groups_compare_as_sets():
    # identical content => identical scores; any order is right, but a
    # path outside the tie group is not
    twin = [("acme/core", f"src/t/twin_{i}.py", "c", "python", "zebu quokka") for i in range(3)]
    truth = Truth(ROWS + twin)
    top, tail = truth.expected("zebu quokka", 2)
    got = [(p, s, hashlib.sha256(c.encode()).hexdigest()) for p, s, c in reversed(top)]
    assert compare(got, top, tail) is None
    assert {p for p, _, _ in tail} == {f"acme/core/src/t/twin_{i}.py" for i in range(3)}
    swapped = [("acme/core/src/elsewhere.py",) + got[0][1:], got[1]]
    assert compare(swapped, top, tail) is not None
    # one member of the group twice: each row is in the group, but the
    # result holds a duplicate
    assert compare([got[0], got[0]], top, tail) is not None


def test_truth_follows_upserts_and_snapshots():
    truth = Truth(ROWS)
    edited = [(r[0], r[1], r[2], r[3], r[4] + " xenarthra") for r in ROWS[:2]]
    truth.upsert(edited)
    assert {p for p, _, _ in truth.expected("xenarthra", 10)[0]} == {
        f"{r[0]}/{r[1]}" for r in edited
    }
    truth.replace(ROWS[1:])
    assert {p for p, _, _ in truth.expected("xenarthra", 10)[0]} == set()
    assert len(truth.current()) == len(ROWS) - 1


def test_batch_check_uses_each_query():
    truth = Truth(ROWS)
    qs = QUERIES[:4]
    rows = [
        {"query_id": i, "rank": r + 1, "path": d["path"], "score": d["score"]}
        for i, q in enumerate(qs) for r, d in enumerate(_as_results(truth, q))
    ]
    assert check_batch(truth, qs, 10, rows) is None
    rows[0] = dict(rows[0], score=rows[0]["score"] + 1.0)
    assert check_batch(truth, qs, 10, rows) is not None
