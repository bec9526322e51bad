"""The benchmark's workloads: one client in one process, closed loop (each
operation waits for its reply before the next is sent).

``search``  a settled index with the join scorer, the result cache, the
            vector store + ANN index and the block store; the loop mixes
            join searches, block-engine hot-term searches, a semantic search
            and a 16-query batch in whole cycles.
``ingest``  the default index (no block store) taking ~100-document upsert
            micro-batches, each followed by three searches; the run ends
            with one full-snapshot update, one tiered merge and one full
            compaction.

Every result is checked against the FTS5 oracle between operations, with
the loop clock paused.
"""

from __future__ import annotations

import itertools
import os
import sys
import time
import traceback

import gen
from check import Truth, check_batch, check_search, overlap_at_k

INDEX = "bench"
TOP_K = 10
SCHEMA = "repo string, path string, commit string, lang string, content string"
# the search loop's op cycle: 4 join searches, 2 block-engine searches,
# 1 semantic search, 1 batch of 16 (~10 s on a 4-core VM)
SEARCH_CYCLE = ("search", "wand", "search", "semantic", "search", "batch", "search", "wand")
BUCKETS = 16  # = shuffle partitions, so the layout does not follow core count
BATCH_SIZE = 16
UPSERT_SIZE = 100
SEARCHES_PER_UPSERT = 3
AUTO_COMPACT_SEGMENTS = 2  # a tiered merge fires on every upsert after the first
MAX_RAISED = 20  # a loop ends after this many operations raised


def write_parquet(path: str, rows) -> None:
    """Rows as a corpus parquet file, the form users hand the index."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = [c.split()[0] for c in SCHEMA.split(", ")]
    pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}), path)


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total


class Loop:
    """Closed-loop runner: times each operation, then checks its output
    with the clock paused.  ``busy`` is the loop's wall time without
    checks; a workload runs whole rounds of operations while
    ``another_round`` allows."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.busy = 0.0
        self.ops = 0
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.raised = 0
        self.mismatched = 0
        self.errors: list[str] = []

    def done(self) -> bool:
        # a program that raises on every call still ends the run, with
        # the failures in error_rate
        return self.busy >= self.seconds or self.raised >= MAX_RAISED

    def another_round(self, rounds: int) -> bool:
        """Whether to start round ``rounds + 1``.  A round is long against
        ``seconds``, so another starts only if one of the mean length so far
        still fits: "run until the budget is spent" would flip between one
        and two rounds, and so between two mixes of operations, when a
        round takes about ``seconds``."""
        return rounds == 0 or (
            not self.done() and self.busy * (rounds + 1) / rounds <= self.seconds
        )

    def run(self, kind: str, fn, check=None, *, in_loop: bool = True):
        """Run one operation.  Returns its result, or None if it raised."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — counted and reported, run continues
            if in_loop:  # a failed operation spends loop time too
                self.busy += time.perf_counter() - t
            self.raised += 1
            self.errors.append(f"{kind} raised: {traceback.format_exc(limit=3)}")
            print(self.errors[-1], file=sys.stderr)
            return None
        dt = time.perf_counter() - t
        self.lat.setdefault(kind, []).append(dt)
        if in_loop:
            self.busy += dt
            self.ops += 1
        if check is not None:
            try:
                why = check(out)
            except Exception:  # noqa: BLE001 — a result the checker cannot read is wrong
                why = f"unreadable result: {traceback.format_exc(limit=2)}"
            if why:
                self.mismatched += 1
                self.errors.append(f"{kind} mismatch: {why}")
                print(self.errors[-1], file=sys.stderr)
        return out


class Inputs:
    """Everything a workload replays.  The corpus and the query pool are
    generated before any timer starts; the operation streams are seeded
    iterators, so a run generates only the operations it sends."""

    def __init__(self, seed: int, workload: str, n_docs: int):
        self.seed = seed
        self.rows = gen.corpus_rows(seed, n_docs)
        bands = gen.df_bands(self.rows)
        self.pool = gen.query_pool(seed, self.rows, bands)
        self.streams = {
            "search": gen.pool_stream(seed, workload, self.pool),
            "semantic": gen.pool_stream(seed, workload + "/semantic", self.pool),
            "batch": gen.pool_stream(seed, workload + "/batch", self.pool),
            "hot": gen.hot_queries(seed, self.rows, bands),
            # outside the pool, so the warm-up search is never a cache hit
            "warmup": gen.hot_queries(seed, self.rows, bands, "warmup"),
        }
        self.upserts = gen.upsert_batches(seed, workload, self.rows, UPSERT_SIZE)


class Workload:
    def __init__(self, spark, client, inputs: Inputs, truth: Truth, seconds: float,
                 work: str):
        self.spark = spark
        self.work = work
        self.client = client
        self.inp = inputs
        self.truth = truth
        self.loop = Loop(seconds)
        self.extra: dict[str, float] = {}  # per-layer values measured here
        self.recall: list[float] = []

    def _next(self, stream: str, n: int = 1) -> list[str]:
        return list(itertools.islice(self.inp.streams[stream], n))

    @property
    def index_dir(self) -> str:
        return self.client._index_dir(INDEX)

    # -- operations ----------------------------------------------------------

    def warm_up(self) -> None:
        """One checked search before the loop.  The first search of a
        session costs 2-3x a warm one (one-off JVM code loading), which
        in a loop of 8 operations would decide the median on its own."""
        (q,) = self._next("warmup")
        self.loop.run(
            "first_search",
            lambda: self.client.search(INDEX, q, TOP_K),
            lambda res: check_search(self.truth, q, TOP_K, res),
            in_loop=False,
        )

    def search(self, q=None, *, engine: str = "auto", stream: str = "search", in_loop=True):
        if q is None:
            (q,) = self._next(stream)
        kind = "wand" if engine == "blocks" else "search"
        self.loop.run(
            kind,
            lambda: self.client.search(INDEX, q, TOP_K, engine=engine),
            lambda res: check_search(self.truth, q, TOP_K, res),
            in_loop=in_loop,
        )

    def batch(self):
        qs = self._next("batch", BATCH_SIZE)
        self.loop.run(
            "batch",
            lambda: self.client.batch_search_rows(INDEX, qs, TOP_K),
            lambda rows: check_batch(self.truth, qs, TOP_K, rows),
        )

    def semantic(self):
        (q,) = self._next("semantic")
        res = self.loop.run("semantic", lambda: self.client.search_semantic(INDEX, q, TOP_K))
        if res is not None:
            # recall against the exact scan, outside the loop clock
            exact = self.loop.run(
                "semantic_scan",
                lambda: self.client.search_semantic(INDEX, q, TOP_K, method="scan"),
                in_loop=False,
            )
            if exact is not None:
                self.recall.append(overlap_at_k(res, exact, TOP_K))


class SearchWorkload(Workload):
    def setup(self, corpus_path: str) -> None:
        self.client.create_index(
            INDEX, self.spark.read.parquet(corpus_path), num_buckets=BUCKETS,
            build_block_engine=True, build_vector_index=True,
        )
        self.client.build_vector_ann(INDEX)

    def run(self) -> None:
        # whole cycles, so that every run sends the same mix of operations
        cycles = 0
        while self.loop.another_round(cycles):
            cycles += 1
            for op in SEARCH_CYCLE:
                if op == "search":
                    self.search()
                elif op == "wand":
                    self.search(engine="blocks", stream="hot")
                elif op == "semantic":
                    self.semantic()
                else:
                    self.batch()
        self.extra["blocks.bytes"] = dir_bytes(os.path.join(self.index_dir, "blocks"))


class IngestWorkload(Workload):
    def setup(self, corpus_path: str) -> None:
        self.client.create_index(INDEX, self.spark.read.parquet(corpus_path),
                                 num_buckets=BUCKETS)

    def _segments(self) -> int:
        from bm25_index_tool_spark.delta_store import segment_ids

        return len(segment_ids(self.index_dir))

    def run(self) -> None:
        from bm25_index_tool_spark import incremental

        segments, added, ingested = [], 0, 0
        rounds = 0
        while self.loop.another_round(rounds):  # a round: upsert + searches
            rounds += 1
            batch = next(self.inp.upserts)
            df = self.spark.createDataFrame(batch, SCHEMA)
            before = dir_bytes(self.index_dir)
            out = self.loop.run("upsert", lambda: incremental.apply_update(
                self.spark, self.index_dir, df, mode="upsert",
                auto_compact_strategy="tiered",
                auto_compact_segments=AUTO_COMPACT_SEGMENTS,
            ))
            if out is not None:
                self.truth.upsert(batch)
                added += dir_bytes(self.index_dir) - before
                ingested += sum(len(r[4].encode()) for r in batch)
            segments.append(self._segments())
            for q in self._next("search", SEARCHES_PER_UPSERT):
                self.search(q)

        # a full-snapshot diff (1% modified, 0.5% deleted) adds a segment,
        # a tiered merge folds the outstanding ones and a full compaction
        # folds the rest into the base; a search then checks the end state
        snap = gen.snapshot_change(self.inp.seed, self.truth.current())
        path = os.path.join(self.work, "snapshot.parquet")
        write_parquet(path, snap)
        df = self.spark.read.parquet(path)
        if self.loop.run("update_full", lambda: self.client.update_index(INDEX, df),
                         in_loop=False) is not None:
            self.truth.replace(snap)
        segments.append(self._segments())
        self.loop.run("merge", lambda: self.client.compact_index(INDEX, tiered=True),
                      in_loop=False)
        segments.append(self._segments())
        self.loop.run("compact", lambda: self.client.compact_index(INDEX), in_loop=False)
        segments.append(self._segments())
        self.search(in_loop=False)
        self.extra["delta_store.segments"] = sum(segments) / len(segments)
        self.extra["delta_store.write_amp"] = added / ingested if ingested else 0.0


WORKLOADS = {"search": SearchWorkload, "ingest": IngestWorkload}
