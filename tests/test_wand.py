"""Block format + WAND engine tests: codec roundtrips (incl. property-based
random arrays), block construction invariants, and the differential gate —
plan 2 (blocks + block-max scorer) must equal plan 1 (DataFrame joins) and
the FTS5 oracle on every reference query."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bm25_index_tool_spark.blocks import (
    blocks_from_sorted_batch,
    build_blocks,
    decode_block,
    encode_block,
    varbyte_decode,
    varbyte_encode,
)
from bm25_index_tool_spark.score import score_query
from bm25_index_tool_spark.wand import wand_search
from tests.conftest import QUERY_SET


def test_varbyte_roundtrip_basic():
    for arr in [
        [],
        [0],
        [1, 127, 128, 129, 16383, 16384],
        [2**62, 0, 1],
        list(range(1000)),
    ]:
        a = np.array(arr, dtype=np.uint64)
        assert list(varbyte_decode(varbyte_encode(a), len(a))) == arr


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300)
)
def test_varbyte_roundtrip_property(xs):
    a = np.array(xs, dtype=np.uint64)
    out = varbyte_decode(varbyte_encode(a), len(a))
    assert list(out) == xs


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**40),
            st.integers(min_value=1, max_value=10_000),
            st.integers(min_value=1, max_value=100_000),
        ),
        min_size=1,
        max_size=400,
    )
)
def test_block_roundtrip_property(rows):
    rows = sorted({r[0]: r for r in rows}.values())  # unique sorted doc_ids
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    tfs = np.array([r[1] for r in rows], dtype=np.int64)
    dls = np.array([r[2] for r in rows], dtype=np.int64)
    payload = encode_block(ids, tfs, dls)
    out_ids, out_tfs, out_dls = decode_block(payload, len(ids))
    assert list(out_ids.astype(np.int64)) == list(ids)
    assert list(out_tfs.astype(np.int64)) == list(tfs)
    assert list(out_dls.astype(np.int64)) == list(dls)


def test_blocks_from_sorted_batch_metadata():
    terms = np.array(["a"] * 300 + ["b"] * 5)
    ids = np.concatenate([np.arange(1, 301), np.arange(10, 15)])
    tfs = np.concatenate([np.arange(1, 301) % 7 + 1, [9, 1, 1, 1, 1]])
    dls = np.concatenate([np.full(300, 50), [20, 30, 40, 50, 60]])
    rb = blocks_from_sorted_batch(terms, ids, tfs, dls, block_size=128)
    rows = rb.to_pylist()
    a_blocks = [r for r in rows if r["term"] == "a"]
    b_blocks = [r for r in rows if r["term"] == "b"]
    assert [r["n"] for r in a_blocks] == [128, 128, 44]
    assert a_blocks[0]["doc_id_min"] == 1 and a_blocks[0]["doc_id_max"] == 128
    assert len(b_blocks) == 1
    assert b_blocks[0]["max_tf"] == 9 and b_blocks[0]["min_dl"] == 20
    ids0, tfs0, dls0 = decode_block(a_blocks[0]["payload"], 128)
    assert list(ids0) == list(range(1, 129))


@pytest.fixture(scope="module")
def blocked_index(spark, small_index):
    meta = build_blocks(spark, small_index.index_dir, num_shards=4, block_size=16)
    assert meta["n_blocks"] > 0
    return small_index


@pytest.mark.parametrize("query", [q for q in QUERY_SET])
def test_wand_matches_plan1_and_oracle(blocked_index, oracle, query):
    try:
        plan1 = score_query(blocked_index, query, top_k=10).collect()
    except ValueError:
        with pytest.raises(ValueError):
            wand_search(blocked_index, query, top_k=10)
        return
    plan2 = wand_search(blocked_index, query, top_k=10).collect()
    assert [r["doc_id"] for r in plan2] == [r["doc_id"] for r in plan1], query
    for a, b in zip(plan1, plan2):
        assert math.isclose(a["score"], b["score"], rel_tol=1e-9), query
        assert a["content_sha256"] == b["content_sha256"]
    expected = oracle.search_bm25(query, top_k=10)
    assert [r["doc_id"] for r in plan2] == [e[0] for e in expected]
    for e, g in zip(expected, plan2):
        assert math.isclose(e[4], g["score"], rel_tol=1e-9)


def test_wand_large_topk(blocked_index, oracle):
    q = "data value"
    expected = oracle.search_bm25(q, top_k=500)
    got = wand_search(blocked_index, q, top_k=500).collect()
    assert [r["doc_id"] for r in got] == [e[0] for e in expected]


def test_local_topk_correct_under_adversarial_input_partitioning(
    spark, blocked_index, oracle
):
    """A raw parquet read can split a shard's blocks across input partitions
    (row-group splits at scale), separating one query term's blocks from the
    others' — the conjunctive presence check would then drop matches.
    local_topk_from_blocks must restore shard-whole partitioning itself:
    feed it blocks partitioned BY TERM (the worst case — every partition
    holds exactly one term) and require identical results to plan 1."""
    import os

    from pyspark.sql import functions as F

    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark.murmur import term_bucket  # noqa: F401
    from bm25_index_tool_spark.wand import _idf, local_topk_from_blocks

    q_terms = ["data", "value"]
    m = blocked_index.manifest
    stats = (
        blocked_index.termstats()
        .where(F.col("term").isin(q_terms))
        .collect()
    )
    dfs = {r["term"]: r["df"] for r in stats}
    weights = {t: (_idf(m.num_docs, dfs[t]), 1.0) for t in q_terms}

    blocks = (
        spark.read.parquet(os.path.join(blocked_index.index_dir, B.BLOCKS_DIR))
        .where(F.col("term").isin(q_terms))
        .repartition(8, "term")  # adversarial: shards straddle partitions
    )
    local = local_topk_from_blocks(
        blocks, weights, m.params.k1, m.params.b, m.avgdl, top_k=10
    )
    got = local.orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    expected = oracle.search_bm25("data value", top_k=10)
    assert [r["doc_id"] for r in got] == [e[0] for e in expected]
    for e, g in zip(expected, got):
        assert math.isclose(e[4], g["score"], rel_tol=1e-9)


def test_block_store_delta_update(spark, tmp_path):
    """Fixed-span sharding (blocks_meta shard_span): an incremental update
    re-encodes ONLY shards holding changed doc_ids — untouched shard dirs
    stay byte-identical — appended docs open new shards, and plan-2 stays
    rank-identical to plan-1 and the FTS5 oracle on the updated corpus."""
    import hashlib
    import os

    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark import incremental as I
    from bm25_index_tool_spark.score import LoadedIndex
    from tests.oracle import FTS5Oracle

    rows = C.generate_rows(64, seed=31)
    ordered = C.ordered_rows(rows)  # index order == doc_id order
    idx = str(tmp_path / "blkidx")
    B.build_index(
        spark, spark.createDataFrame(rows, C.CORPUS_SCHEMA), idx, num_buckets=4
    )
    build_blocks(spark, idx, num_shards=4)  # span = 16 docs/shard

    def shard_hashes(shard):
        d = os.path.join(idx, "blocks", f"shard={shard}")
        out = {}
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                with open(os.path.join(d, fn), "rb") as f:
                    out[fn] = hashlib.sha256(f.read()).hexdigest()
        return out

    before = {s: shard_hashes(s) for s in range(4)}

    # modify doc_ids 1-2 (shard 0) and append 3 docs (ids 65-67 → shard 4)
    by_key = {(r[0], r[1]): r for r in rows}
    cur = []
    for i, r in enumerate(ordered):
        if i < 2:
            cur.append((r[0], r[1], r[2], r[3], r[4] + " zanzibar delta"))
        else:
            cur.append(by_key[(r[0], r[1])])
    cur += [
        ("zzz", f"zz/new_{i}.txt", "c9", "txt", f"fresh appended quokka{i} text")
        for i in range(3)
    ]
    I.apply_update(spark, idx, spark.createDataFrame(cur, C.CORPUS_SCHEMA))

    after = {s: shard_hashes(s) for s in range(1, 4)}
    for s in range(1, 4):
        assert after[s] == before[s], f"shard {s} should be untouched"
    assert shard_hashes(0) != before[0]
    assert os.path.isdir(os.path.join(idx, "blocks", "shard=4"))

    oracle = FTS5Oracle()
    oracle.add_documents(C.ordered_rows(cur))
    index = LoadedIndex.open(spark, idx)
    for q in ["zanzibar delta", "data value", "quokka1"]:
        plan1 = score_query(index, q, top_k=10).collect()
        plan2 = wand_search(index, q, top_k=10).collect()
        assert [r["path"] for r in plan2] == [r["path"] for r in plan1], q
        for a, b in zip(plan1, plan2):
            assert math.isclose(a["score"], b["score"], rel_tol=1e-9), q
        expected = oracle.search_bm25(q, top_k=10)
        assert [r["path"] for r in plan1] == [e[1] for e in expected], q
        for e, g in zip(expected, plan1):
            assert math.isclose(e[4], g["score"], rel_tol=1e-9), q


def test_blocks_frame_not_memoized_without_meta(spark, tmp_path):
    """With blocks_meta.json gone there is no token to key the block-store
    memo on, so a changed block dir must be re-listed instead of serving
    the first listing forever."""
    import os
    import shutil

    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark.score import LoadedIndex

    idx = str(tmp_path / "idx")
    rows = C.generate_rows(32, seed=33)
    B.build_index(
        spark, spark.createDataFrame(rows, C.CORPUS_SCHEMA), idx, num_buckets=2
    )
    build_blocks(spark, idx, num_shards=2)
    index = LoadedIndex.open(spark, idx)
    index.blocks()

    # shard dirs hold equally named part files: compare shard=N/part-...
    def on_disk():
        root = os.path.join(idx, "blocks")
        return {
            f"{os.path.basename(d)}/{fn}"
            for d, _, fns in os.walk(root)
            for fn in fns
            if fn.endswith(".parquet")
        }

    def listed(df):
        return {"/".join(u.split("/")[-2:]) for u in df.inputFiles()}

    os.remove(os.path.join(idx, "blocks_meta.json"))
    assert listed(index.blocks()) == on_disk()
    shutil.rmtree(os.path.join(idx, "blocks", "shard=1"))
    assert listed(index.blocks()) == on_disk() != set()


def test_choose_engine_heuristic(tmp_path):
    """VERDICT r03 #4: engine auto-selection from the recorded longest
    posting list vs the WAND crossover threshold, with per-deployment
    override; every failure mode degrades to the safe default 'join'."""
    import json
    import os

    from bm25_index_tool_spark.wand import WAND_DF_THRESHOLD, choose_engine

    d = str(tmp_path / "idx")
    os.makedirs(d)
    assert choose_engine(d) == "join"  # no block store at all

    meta = os.path.join(d, "blocks_meta.json")

    def put(obj):
        with open(meta, "w") as f:
            if isinstance(obj, str):
                f.write(obj)
            else:
                json.dump(obj, f)

    put({"max_df": WAND_DF_THRESHOLD - 1})
    assert choose_engine(d) == "join"
    put({"max_df": WAND_DF_THRESHOLD})
    assert choose_engine(d) == "blocks"
    # per-deployment override (config.toml wand_df_threshold)
    assert choose_engine(d, df_threshold=10**9) == "join"
    put({"max_df": 50})
    assert choose_engine(d, df_threshold=10) == "blocks"
    # legacy meta without max_df / corrupt file → safe default
    put({"n_blocks": 3})
    assert choose_engine(d) == "join"
    put("not json")
    assert choose_engine(d) == "join"


def test_build_blocks_records_max_df_and_auto_resolves(spark, tmp_path):
    """build_blocks persists max_df; client engine='auto' resolves to join
    below the threshold (rank-identity already proven for both engines) and
    honors the config override flipping it to blocks."""
    import json
    import os

    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark.client import BM25SparkClient

    root = str(tmp_path / "root")
    client = BM25SparkClient(spark, root)
    rows = C.generate_rows(40, seed=31)
    client.create_index(
        "h", spark.createDataFrame(rows, C.CORPUS_SCHEMA),
        num_buckets=4, build_block_engine=True,
    )
    meta_path = os.path.join(client._index_dir("h"), "blocks_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert 0 < meta["max_df"] <= 40

    res_auto = client.search("h", "data value", top_k=5, use_cache=False)
    res_join = client.search(
        "h", "data value", top_k=5, use_cache=False, engine="join"
    )
    assert res_auto == res_join  # tiny corpus: auto resolves to join

    # config override drops the crossover below this corpus's max_df →
    # auto now runs the blocks engine; results must stay identical
    client.config.extras["wand_df_threshold"] = 1
    res_blocks = client.search("h", "data value", top_k=5, use_cache=False)
    assert [r["document_id"] for r in res_blocks] == [
        r["document_id"] for r in res_join
    ]
    for a, b in zip(res_blocks, res_join):
        assert math.isclose(a["score"], b["score"], rel_tol=1e-9)


def test_blocks_survive_full_delete_and_refill(spark, tmp_path):
    """An update that empties every shard must leave a READABLE block
    store (a partitioned write of an empty relation is only _SUCCESS),
    and a later doc-adding update must rebuild shards from it; top_k=0
    matches the join engine's empty frame instead of crashing in the
    executor."""
    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark.client import BM25SparkClient
    from bm25_index_tool_spark.score import LoadedIndex
    from bm25_index_tool_spark.wand import wand_search

    client = BM25SparkClient(spark, str(tmp_path / "root"))
    rows = C.generate_rows(20, seed=41)
    client.create_index(
        "fd", spark.createDataFrame(rows, C.CORPUS_SCHEMA),
        num_buckets=4, build_block_engine=True,
    )
    idx_dir = client._index_dir("fd")
    assert wand_search(LoadedIndex.open(spark, idx_dir), "apple", 0).count() == 0

    client.update_index("fd", spark.createDataFrame([], C.CORPUS_SCHEMA))
    # emptied store still readable, queries return nothing
    assert client.search("fd", "apple", engine="blocks", use_cache=False) == []

    client.update_index("fd", spark.createDataFrame(rows, C.CORPUS_SCHEMA))
    got = client.search("fd", "apple", top_k=5, engine="blocks", use_cache=False)
    exp = client.search("fd", "apple", top_k=5, engine="join", use_cache=False)
    assert [r["path"] for r in got] == [e["path"] for e in exp] and got
