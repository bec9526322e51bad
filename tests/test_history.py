"""Search-history log: concurrent appends, the on-disk part layout (old
Spark-written parts mixed with driver-written ones), crash leftovers, and
the no-Spark-job contract of ``SearchHistory.log``."""

from __future__ import annotations

import glob
import os
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

from bm25_index_tool_spark.history import HISTORY_SCHEMA, SearchHistory


def _parts(d):
    return sorted(glob.glob(os.path.join(d, "part-*.parquet")))


def test_concurrent_log_loses_no_entries(spark, tmp_path):
    """6 threads x 12 appends into one history dir: every call returns and
    every entry is readable (a shared commit dir used to lose writes)."""
    h = SearchHistory(spark, str(tmp_path / "_history"))

    def worker(t):
        for i in range(12):
            h.log(["idx"], f"q{t}-{i}", 10, i, 0.01 * i)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=6) as pool:
            futures = [pool.submit(worker, t) for t in range(6)]
            for f in futures:
                f.result(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert h.count() == 72
    assert len({r["query"] for r in h.df().select("query").collect()}) == 72


def test_spark_written_and_driver_written_parts_read_as_one(spark, tmp_path):
    d = str(tmp_path / "_history")
    # one entry as the Spark writer used to append it
    legacy = (1, "2020-01-01T00:00:00", '["idx"]', "legacy apple", 5, 2, 4.0,
              "[]", "[]")
    spark.createDataFrame([legacy], HISTORY_SCHEMA).write.mode("append").parquet(d)
    spark_parts = _parts(d)  # one per task, the empty ones included

    h = SearchHistory(spark, d)
    h.log(["idx"], "apple", 10, 3, 1.0, ["src/**"], None)
    h.log(["idx"], "banana", 10, 0, 1.0)
    driver_parts = [p for p in _parts(d) if p not in spark_parts]
    assert len(driver_parts) == 2

    def types(p):
        return [(f.name, f.type) for f in pq.read_schema(p)]

    for p in driver_parts:
        assert types(p) == types(spark_parts[0])
    want = spark.createDataFrame([], HISTORY_SCHEMA).dtypes
    assert h.df().dtypes == want
    assert spark.read.parquet(*driver_parts).dtypes == want

    assert [r["query"] for r in h.recent(10)] == ["banana", "apple", "legacy apple"]
    found = h.search("apple", n=10)
    assert [r["query"] for r in found] == ["apple", "legacy apple"]
    assert found[0]["path_filter"] == '["src/**"]'
    assert found[1]["top_k"] == 5 and found[1]["elapsed_seconds"] == 4.0
    st = h.stats(top_n=10)
    assert st["total"] == 3
    assert st["avg_elapsed_seconds"] == 2.0
    assert {q["query"] for q in st["top_queries"]} == {
        "legacy apple", "apple", "banana"
    }


def test_leftover_tmp_part_is_invisible(spark, tmp_path):
    """A crash mid-write leaves only a hidden ``.part-*.tmp`` file, which
    readers never list."""
    h = SearchHistory(spark, str(tmp_path / "_history"))
    os.makedirs(h.dir)
    torn = os.path.join(h.dir, f".part-1-{uuid.uuid4()}.parquet.tmp")
    with open(torn, "wb") as f:
        f.write(b"PAR1 torn write")
    assert h.count() == 0
    assert h.recent() == []

    h.log(["idx"], "apple", 10, 1, 0.5)
    assert h.count() == 1
    assert [r["query"] for r in h.recent()] == ["apple"]
    # a completed log leaves no temp file of its own behind
    assert glob.glob(os.path.join(h.dir, ".*.tmp")) == [torn]


def test_log_runs_no_spark_job(spark, tmp_path):
    h = SearchHistory(spark, str(tmp_path / "_history"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"history-log-{uuid.uuid4()}"
    sc.setJobGroup(group, "history log")
    try:
        h.log(["idx"], "apple", 10, 1, 0.5)
        h.log(["idx"], "banana", 10, 0, 0.5)
        assert tracker.getJobIdsForGroup(group) == []
        # the group does capture this thread's jobs
        spark.range(1).count()
        assert tracker.getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert h.count() == 2
