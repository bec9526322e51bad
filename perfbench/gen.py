"""Seeded inputs for the benchmark: a df-skewed code-like corpus and the
operation streams each workload replays.

Everything here is a pure function of ``(seed, workload)``; the operation
streams are endless seeded iterators, so a run generates only what it
sends.  It uses only the standard library and NumPy, so the program under
test never sees anything but the ``(repo, path, commit, lang, content)``
rows.

Corpus shape:
* identifiers come from a Zipf(s=1.05) vocabulary of ``VOCAB`` words, joined
  into snake_case, camelCase and dotted/punctuated code statements;
* document lengths are log-normal (median ~100 tokens, tail to ~2k);
* so document frequency runs from 1 to ~N, and posting-list lengths vary
  by orders of magnitude across query terms.
"""

from __future__ import annotations

import hashlib
import itertools
import re
from collections import Counter
from collections.abc import Iterator

import numpy as np

VOCAB = 20_000
ZIPF_S = 1.05
LEN_MEDIAN = 75  # identifiers; keywords and subscripts bring a median doc to ~100 terms
LEN_SIGMA = 0.9
LEN_MAX = 1_500
LEN_MIN = 4
REPOS = ["acme/core", "acme/web", "infra/deploy", "infra/ops", "lab/ml", "lab/etl"]
EXTS = [("py", "python"), ("java", "java"), ("go", "go"), ("ts", "typescript")]
KEYWORDS = {
    "py": ("def", "return", "self", "import"),
    "java": ("public", "return", "this", "new"),
    "go": ("func", "return", "err", "nil"),
    "ts": ("const", "return", "this", "export"),
}
TOKEN_RE = re.compile(r"[^a-z0-9]+")

HOT_FRAC = 0.10  # df >= 10% of N
RARE_DF = 10  # df <= 10
EDIT_FRAC = 0.7  # share of an upsert batch that edits existing paths
SNAPSHOT_MODIFY, SNAPSHOT_DELETE = 0.01, 0.005

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch cl dr fl gr pl pr sh st th tr".split()
_VOWELS = "a e i o u ai ea io ou".split()
_CODAS = ["", "", "n", "r", "s", "t", "x", "l", "m", "nd", "st"]


def _rng(seed: int, *salt: str) -> np.random.Generator:
    """An independent stream per (seed, purpose): adding a stream never
    shifts the values of another."""
    h = hashlib.sha256(repr((seed, *salt)).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def vocabulary(seed: int) -> list[str]:
    """``VOCAB`` distinct lowercase alphanumeric words; index = Zipf rank.
    Shorter words rank first, as in real code and text, so the corpus's
    byte size does not hinge on the length of a few top-ranked words."""
    rng = _rng(seed, "vocab")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB:
        n_syl = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n_syl)
        )
        if rng.random() < 0.04:
            w += str(int(rng.integers(0, 100)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return sorted(words, key=len)


def _zipf_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` vocabulary ranks drawn from Zipf(ZIPF_S) over VOCAB words."""
    p = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** ZIPF_S
    return np.minimum(np.searchsorted(np.cumsum(p / p.sum()), rng.random(n)), VOCAB - 1)


def _statement(words: list[str], i: int, kw: tuple, style: float) -> tuple[str, int]:
    """One code-like line consuming words[i:]; returns (line, words used)."""
    w = words
    if style < 0.3 and i + 2 <= len(w):
        return f"{w[i]}_{w[i + 1]} = {kw[2]}.{w[i]}", 2
    if style < 0.35 and i + 2 <= len(w):
        # camelCase fuses two words into one (usually rare) term
        return f"{kw[1]} {w[i]}{w[i + 1].capitalize()}()", 2
    if style < 0.65 and i + 3 <= len(w):
        return f"{kw[0]} {w[i]}({w[i + 1]}, {w[i + 2]}):", 3
    if style < 0.8 and i + 2 <= len(w):
        return f"{w[i]}.{w[i + 1]}[{i % 10}];", 2
    return "# " + " ".join(w[i:i + 4]), len(w[i:i + 4])


def corpus_rows(seed: int, n_docs: int) -> list[tuple[str, str, str, str, str]]:
    """``n_docs`` corpus rows (repo, path, commit, lang, content)."""
    rng = _rng(seed, "corpus")
    vocab = vocabulary(seed)
    lens = np.clip(
        np.rint(rng.lognormal(np.log(LEN_MEDIAN), LEN_SIGMA, n_docs)),
        LEN_MIN, LEN_MAX,
    ).astype(np.int64)
    ranks = _zipf_ranks(rng, int(lens.sum()))
    styles = rng.random(int(lens.sum()))
    rows = []
    off = 0
    for d in range(n_docs):
        n = int(lens[d])
        words = [vocab[r] for r in ranks[off:off + n]]
        st = styles[off:off + n]
        off += n
        ext, lang = EXTS[d % len(EXTS)]
        kw = KEYWORDS[ext]
        lines, i = [], 0
        while i < n:
            line, used = _statement(words, i, kw, float(st[i]))
            lines.append(line)
            i += used
        rows.append(_row(d, vocab, ext, lang, "\n".join(lines)))
    return rows


def _row(d: int, vocab: list[str], ext: str, lang: str, content: str):
    repo = REPOS[d % len(REPOS)]
    path = f"src/{vocab[100 + d % 97]}/{vocab[300 + d % 389]}_{d}.{ext}"
    commit = hashlib.sha1(f"{repo}/{path}:{content}".encode()).hexdigest()
    return (repo, path, commit, lang, content)


def terms(text: str) -> list[str]:
    """The ASCII tokenization both the engine and FTS5 apply to this corpus."""
    return [t for t in TOKEN_RE.split(text.lower()) if t]


def doc_freqs(rows) -> Counter:
    """Document frequency of every term over the content column."""
    df: Counter = Counter()
    for r in rows:
        df.update(set(terms(r[4])))
    return df


def df_bands(rows) -> dict[str, list[str]]:
    """Terms split into rare (df <= 10), mid and hot (df >= 10% N), each
    sorted for determinism."""
    df = doc_freqs(rows)
    hot_min = max(RARE_DF + 1, int(HOT_FRAC * len(rows)))
    bands: dict[str, list[str]] = {"rare": [], "mid": [], "hot": []}
    for t, n in df.items():
        band = "rare" if n <= RARE_DF else "hot" if n >= hot_min else "mid"
        bands[band].append(t)
    return {k: sorted(v) for k, v in bands.items()}


def query_pool(seed: int, rows, bands, size: int = 1_000) -> list[str]:
    """``size`` distinct 1-3 term queries.  Each is drawn from the terms of
    one document, so every query matches at least that document; about one
    in five carries a hot term, the rest are mid/rare terms (``bands`` as
    ``df_bands(rows)`` gives them)."""
    rng = _rng(seed, "pool")
    band_of = {t: b for b, ts in bands.items() for t in ts}
    pool: list[str] = []
    seen: set[str] = set()
    while len(pool) < size:
        doc = rows[int(rng.integers(len(rows)))][4]
        toks = sorted(set(terms(doc)))
        hot = [t for t in toks if band_of[t] == "hot"]
        cold = [t for t in toks if band_of[t] != "hot"]
        n = int(rng.integers(1, 4))
        want_hot = rng.random() < 0.2 and hot
        if len(cold) < n - (1 if want_hot else 0):
            continue
        picked = list(rng.choice(cold, size=n - 1 if want_hot else n, replace=False))
        if want_hot:
            picked.append(str(rng.choice(hot)))
        q = " ".join(str(t) for t in picked)
        if q and q not in seen:
            seen.add(q)
            pool.append(q)
    return pool


def hot_queries(seed: int, rows, bands, stream: str = "hot") -> Iterator[str]:
    """Distinct 2-3 hot-term (df >= 10% N) queries, each drawn from one
    document's terms so it matches at least that document."""
    rng = _rng(seed, stream)
    hot = set(bands["hot"])
    seen: set[str] = set()
    while True:
        toks = sorted(hot.intersection(terms(rows[int(rng.integers(len(rows)))][4])))
        n = int(rng.integers(2, 4))
        if len(toks) >= n:
            q = " ".join(str(t) for t in rng.choice(toks, size=n, replace=False))
            if q not in seen:
                seen.add(q)
                yield q


def pool_stream(seed: int, workload: str, pool: list[str]) -> Iterator[str]:
    """Queries drawn from ``pool`` with Zipf(1.0) popularity, each at most
    once, until the pool is spent.  A run sends a handful of searches, far
    too few to fill the result cache, so a repeat would only be a chance
    cache hit: a 0 s operation in one run and not in the next."""
    rng = _rng(seed, workload, "stream")
    p = 1.0 / np.arange(1, len(pool) + 1, dtype=np.float64)
    p /= p.sum()
    seen: set[int] = set()
    while len(seen) < len(pool):
        i = int(rng.choice(len(pool), p=p))
        if i not in seen:
            seen.add(i)
            yield pool[i]


def upsert_batches(
    seed: int, workload: str, rows, size: int = 100,
) -> Iterator[list[tuple]]:
    """Endless micro-batches of ``size`` rows: ``EDIT_FRAC`` edits of
    uniformly random existing paths (scattered over the index) and the rest
    new paths.  Edits append fresh vocabulary words, so content changes."""
    rng = _rng(seed, workload, "upserts")
    vocab = vocabulary(seed)
    known = [(r[0], r[1]) for r in rows]
    by_key = {(r[0], r[1]): r for r in rows}
    next_new = len(rows)
    for b in itertools.count():
        n_edit = int(round(size * EDIT_FRAC))
        picks = rng.choice(len(known), size=n_edit, replace=False)
        batch = []
        for j in picks:
            repo, path, commit, lang, content = by_key[known[int(j)]]
            extra = " ".join(vocab[int(k)] for k in rng.integers(0, VOCAB, 6))
            new = f"{content}\n# edit{b} {extra}"
            batch.append((repo, path, commit, lang, new))
        for _ in range(size - n_edit):
            ext, lang = EXTS[next_new % len(EXTS)]
            body = " ".join(vocab[int(k)] for k in _zipf_ranks(rng, 60))
            batch.append(_row(next_new, vocab, ext, lang, body))
            next_new += 1
        for r in batch:
            by_key[(r[0], r[1])] = r
        known.extend((r[0], r[1]) for r in batch[n_edit:])
        yield batch


def snapshot_change(seed: int, rows):
    """A full corpus snapshot with ``SNAPSHOT_MODIFY`` of the rows edited and
    ``SNAPSHOT_DELETE`` removed (the input of one full-snapshot update)."""
    rng = _rng(seed, "snapshot")
    vocab = vocabulary(seed)
    n = len(rows)
    order = rng.permutation(n)
    n_mod, n_del = int(n * SNAPSHOT_MODIFY), int(n * SNAPSHOT_DELETE)
    mod, dele = set(order[:n_mod].tolist()), set(order[n_mod:n_mod + n_del].tolist())
    out = []
    for i, r in enumerate(rows):
        if i in dele:
            continue
        if i in mod:
            extra = " ".join(vocab[int(k)] for k in rng.integers(0, VOCAB, 5))
            r = (r[0], r[1], r[2], r[3], f"{r[4]}\n# snapshot {extra}")
        out.append(r)
    return out
