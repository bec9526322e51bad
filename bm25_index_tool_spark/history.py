"""Search-history log (SURVEY.md §2.9 C2, §2.8 P5).

The reference keeps a separate SQLite DB with one row per executed query
(reference ``core/history.py:48-146``).  Here: an append-only parquet log
queried with DataFrame ops — `search` replicates the
``WHERE query LIKE '%pat%' ORDER BY timestamp DESC LIMIT n`` path
(reference ``core/history.py:190-232``).

Each entry is one single-row parquet part that the driver writes itself
with pyarrow, like the reference's one local insert: no Spark job runs on
a search's blocking path.  The part is written under a hidden
``.part-*.tmp`` name, which Spark's file listing skips, then renamed
into place, so a reader sees whole entries only and a process that dies
mid-write leaves nothing visible.  Every part has its own name, so
concurrent searches (threads or processes) never write the same file.
The part is not fsync'd, as Spark's writer never fsync'd the parts it
wrote here: an fsync waits for whatever else the filesystem has queued
(a just-committed segment, shuffle files), which would put other
writers' disk time on the search's blocking path.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

HISTORY_SCHEMA = (
    "id long, timestamp string, indices string, query string, top_k int,"
    " result_count int, elapsed_seconds double, path_filter string,"
    " exclude_path string"
)

# Arrow twin of HISTORY_SCHEMA: driver-written parts carry exactly the
# physical types of Spark-written ones, so old and new parts read as one.
_ARROW_TYPES = {
    "long": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
    "string": pa.string(),
}
_ARROW_SCHEMA = pa.schema(
    [(n, _ARROW_TYPES[t]) for n, t in (f.split() for f in HISTORY_SCHEMA.split(","))]
)


class SearchHistory:
    def __init__(self, spark: SparkSession, history_dir: str):
        self.spark = spark
        self.dir = history_dir

    def log(
        self,
        indices: list[str],
        query: str,
        top_k: int,
        result_count: int,
        elapsed_seconds: float,
        path_filter: list[str] | None = None,
        exclude_path: list[str] | None = None,
    ) -> None:
        entry_id = time.time_ns()  # monotone-enough unique id
        row = (
            entry_id,
            time.strftime("%Y-%m-%dT%H:%M:%S"),
            json.dumps(indices),
            query,
            top_k,
            result_count,
            float(elapsed_seconds),
            json.dumps(path_filter or []),
            json.dumps(exclude_path or []),
        )
        table = pa.table([[v] for v in row], schema=_ARROW_SCHEMA)
        name = f"part-{entry_id}-{uuid.uuid4()}.parquet"
        tmp = os.path.join(self.dir, f".{name}.tmp")
        os.makedirs(self.dir, exist_ok=True)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.dir, name))

    def df(self) -> DataFrame:
        try:
            return self.spark.read.parquet(self.dir)
        except Exception:
            return self.spark.createDataFrame([], HISTORY_SCHEMA)

    def recent(self, n: int = 10) -> list:
        return (
            self.df().orderBy(F.desc("timestamp"), F.desc("id")).limit(n).collect()
        )

    def search(self, pattern: str, n: int = 10) -> list:
        """Substring search over past queries — reference P5 semantics."""
        return (
            self.df()
            .where(F.col("query").contains(pattern))
            .orderBy(F.desc("timestamp"), F.desc("id"))
            .limit(n)
            .collect()
        )

    def count(self) -> int:
        return self.df().count()

    def clear(self) -> int:
        """Permanently delete all history; returns the number of entries
        deleted (reference ``core/history.py:234-249`` /
        ``commands/history.py:145-211``)."""
        import shutil

        n = self.count()
        shutil.rmtree(self.dir, ignore_errors=True)
        return n

    def stats(self, top_n: int = 5) -> dict:
        """History statistics: total entry count (reference
        ``commands/history.py:213-250``), plus the per-query breakdown the
        parquet log makes one aggregate away — top queries by frequency and
        average elapsed seconds."""
        df = self.df()
        row = df.agg(
            F.count("*").alias("n"),
            F.avg("elapsed_seconds").alias("avg_elapsed"),
        ).collect()[0]
        top = (
            df.groupBy("query")
            .agg(
                F.count("*").alias("n"),
                F.avg("elapsed_seconds").alias("avg_elapsed"),
            )
            .orderBy(F.desc("n"), F.asc("query"))
            .limit(top_n)
            .collect()
        )
        return {
            "total": int(row["n"]),
            "avg_elapsed_seconds": (
                round(float(row["avg_elapsed"]), 6)
                if row["avg_elapsed"] is not None
                else 0.0
            ),
            "top_queries": [
                {
                    "query": r["query"],
                    "count": int(r["n"]),
                    "avg_elapsed_seconds": round(float(r["avg_elapsed"]), 6),
                }
                for r in top
            ],
        }
