"""Output check: every BM25 result the benchmark receives is compared with
SQLite FTS5's ``bm25()`` over the same documents (``tests/oracle.py``).

``Truth`` mirrors the corpus the index should hold — it is updated after
every upsert, full-snapshot update and delete the benchmark sends — and
answers each query through the oracle.  The comparison rules are those of
``tests/test_lsm_soak.py``:

* scores equal position by position within 1e-9 relative;
* within a run of equal scores the order is free, so paths are compared as
  sets (a tie group cut by top-k must be a subset of the full group), and
  no path may appear twice;
* each row's ``content_sha256`` equals the SHA-256 of the oracle's content.

A check returns ``None`` when the result is right, else a one-line reason.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bm25_index_tool_spark.corpus import ordered_rows  # noqa: E402
from tests.oracle import FTS5Oracle  # noqa: E402

REL_TOL = 1e-9


def full_path(row) -> str:
    return f"{row[0]}/{row[1]}"


class Truth:
    """The expected corpus, held in an FTS5 oracle and kept in step."""

    def __init__(self, rows):
        self.rows = {(r[0], r[1]): r for r in rows}
        self.oracle = FTS5Oracle()
        self.oracle.add_documents(ordered_rows(list(self.rows.values())))

    def current(self) -> list[tuple]:
        return list(self.rows.values())

    def upsert(self, rows) -> None:
        conn = self.oracle.conn
        new = []
        for r in rows:
            key = (r[0], r[1])
            if key in self.rows:
                conn.execute(
                    "UPDATE documents SET content = ?, md5_hash = ?,"
                    " file_size = ? WHERE path = ?",
                    (r[4], hashlib.md5(r[4].encode()).hexdigest(), len(r[4]),
                     full_path(r)),
                )
            else:
                new.append(r)
            self.rows[key] = r
        conn.commit()
        self.oracle.add_documents(new)

    def replace(self, rows) -> None:
        """The corpus becomes exactly ``rows`` (a full snapshot)."""
        keep = {(r[0], r[1]) for r in rows}
        gone = [k for k in self.rows if k not in keep]
        for k in gone:
            self.oracle.conn.execute(
                "DELETE FROM documents WHERE path = ?", (f"{k[0]}/{k[1]}",)
            )
            del self.rows[k]
        self.oracle.conn.commit()
        changed = [r for r in rows if self.rows.get((r[0], r[1])) != r]
        self.upsert(changed)

    def expected(self, query: str, top_k: int) -> tuple[list[tuple], list[tuple]]:
        """(top-k rows, every row tied with the k-th score) as
        ``(path, score, content)`` triples."""
        first = self._search(query, top_k + 64)
        top = first[:top_k]
        if len(top) < top_k:
            return top, []
        last = top[-1][1]
        rows = first if not math.isclose(first[-1][1], last, rel_tol=REL_TOL) \
            else self._search(query, -1)
        tail = [r for r in rows if math.isclose(r[1], last, rel_tol=REL_TOL)]
        return top, tail

    def _search(self, query: str, limit: int) -> list[tuple]:
        return [(e[1], e[4], e[3]) for e in self.oracle.search_bm25(query, top_k=limit)]


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def compare(got: list[tuple], top: list[tuple], tail: list[tuple],
            with_sha: bool = True) -> str | None:
    """``got`` = engine rows as ``(path, score, content_sha256 or None)``;
    ``top``/``tail`` as returned by ``Truth.expected``."""
    if len(got) != len(top):
        return f"{len(got)} rows, oracle has {len(top)}"
    # tie groups below compare as sets, which a repeated path would pass
    if len({g[0] for g in got}) != len(got):
        return "a path appears more than once"
    for i, (g, e) in enumerate(zip(got, top)):
        if not math.isclose(g[1], e[1], rel_tol=REL_TOL):
            return f"rank {i + 1}: score {g[1]!r} != oracle {e[1]!r}"
    # tie groups: maximal runs of equal scores in the oracle's order
    i = 0
    while i < len(top):
        j = i
        while j + 1 < len(top) and math.isclose(top[j + 1][1], top[i][1], rel_tol=REL_TOL):
            j += 1
        want = {e[0] for e in top[i:j + 1]}
        have = {g[0] for g in got[i:j + 1]}
        if j == len(top) - 1 and tail:
            # the group is cut by top-k: any members of the full group
            ok = have <= {e[0] for e in tail}
        else:
            ok = have == want
        if not ok:
            return f"ranks {i + 1}-{j + 1}: paths {sorted(have - want)[:3]} not in oracle tie group"
        i = j + 1
    if with_sha:
        # a row's hash must match the oracle's content for ITS path
        content = {e[0]: e[2] for e in top + tail}
        for g in got:
            if g[0] in content and g[2] != _sha(content[g[0]]):
                return f"content_sha256 of {g[0]} does not match"
    return None


def check_search(truth: Truth, query: str, top_k: int, results: list[dict]) -> str | None:
    """A ``client.search`` result list."""
    top, tail = truth.expected(query, top_k)
    got = [(r["path"], r["score"], r["content_sha256"]) for r in results]
    return compare(got, top, tail)


def check_batch(truth: Truth, queries: list[str], top_k: int, rows) -> str | None:
    """``batch_search_rows`` output: (query_id, query, doc_id, path, score,
    rank) rows.  The batch carries no content hash, so only scores and
    paths are compared."""
    per: dict[int, list] = {i: [] for i in range(len(queries))}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        if r["query_id"] not in per:
            return f"unknown query_id {r['query_id']}"
        per[r["query_id"]].append((r["path"], r["score"], None))
    for qid, q in enumerate(queries):
        top, tail = truth.expected(q, top_k)
        why = compare(per[qid], top, tail, with_sha=False)
        if why:
            return f"query {q!r}: {why}"
    return None


def overlap_at_k(a: list[dict], b: list[dict], k: int = 10) -> float:
    """Share of the exact top-k documents the approximate result found."""
    want = {r["path"] for r in b[:k]}
    if not want:
        return 1.0
    return len(want & {r["path"] for r in a[:k]}) / len(want)
