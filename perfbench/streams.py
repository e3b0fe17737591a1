"""Seeded benchmark inputs: the source table, query streams, ingest batches.

Everything here is a pure function of the workload seed, so the same seed
gives byte-identical inputs (checked by `test_perfbench.py`). The program
under test only ever sees what these functions return.
"""

from __future__ import annotations

import functools
import random

import numpy as np

from quickwit_spark.index.corpus import LANGS, build_vocab, generate_batch

# Source table: ~21 MB of skewed source files, built into SEGMENTS routed
# segments (the layout continuous ingest leaves before merges catch up).
CORPUS_DOCS = 16_000
SEGMENTS = 32
# Ingest: one NDJSON batch becomes one segment.
INGEST_BATCH_DOCS = 500
# The vocabulary is the corpus's language and stays fixed; the workload
# seed draws the documents and the queries. A per-seed vocabulary would
# change which identifiers are frequent, and with it the cost of every
# query and build, by more than the bounds a run must hold.
VOCAB_SEED = 42

# Query mix, shared by every search stream.
SHAPES = ("term", "and2", "or", "nested", "lang", "not", "phrase")
# Single-term bands by vocabulary rank (the corpus draws ranks
# log-uniformly, so low ranks have the highest document frequency).
TERM_BANDS = ((0, 64), (64, 640), (640, None))
COUNT_ALL_FALSE_SHARE = 0.25
ZIPF_POOL = 2_000
ZIPF_EXPONENT = 1.0


@functools.lru_cache(maxsize=1)
def vocab() -> np.ndarray:
    return np.array(build_vocab(VOCAB_SEED), dtype=object)


def corpus(seed: int, start: int = 0, n: int = CORPUS_DOCS):
    """Rows [start, start + n) of the seeded source table (pandas)."""
    ids = np.arange(start, start + n, dtype=np.uint64)
    return generate_batch(ids, seed, vocab(), skew=True)


def ingest_batches(seed: int, n: int) -> list[tuple[bytes, list[str]]]:
    """NDJSON bodies of the first `n` ingest batches, each with the paths
    (unique doc keys) of its docs. New docs continue the source table's
    id space."""
    pdf = corpus(seed, CORPUS_DOCS, n * INGEST_BATCH_DOCS)
    out = []
    for i in range(n):
        part = pdf.iloc[i * INGEST_BATCH_DOCS:(i + 1) * INGEST_BATCH_DOCS]
        body = part.to_json(orient="records", lines=True)
        out.append((body.encode(), part["path"].tolist()))
    return out


# golden-ratio step of the low-discrepancy sequence driving rank draws
_WEYL = 0.6180339887498949


class _TermDraw:
    """Vocabulary terms drawn by the corpus's own rank law (rank =
    V**u - 1 for uniform u). The u values come from a Weyl sequence with
    a seeded start, so every stream holds the same spread of head, middle
    and tail terms instead of a random share of costly head terms."""

    def __init__(self, rng: random.Random):
        self.words = vocab().tolist()
        self.rng = rng
        self.u = rng.random()
        v = len(self.words)
        self.bands = []
        for lo, hi in TERM_BANDS:
            band = list(range(lo, min(hi or v, v)))
            rng.shuffle(band)
            self.bands.append(band)

    def ranked(self) -> str:
        v = len(self.words)
        self.u = (self.u + _WEYL) % 1.0
        return self.words[min(v - 1, int(v ** self.u) - 1)]

    def single(self, band: int) -> str:
        # each band is drawn without replacement; an exhausted band
        # hands over to the next one so the stream stays unique
        for b in range(band, band + len(self.bands)):
            pool = self.bands[b % len(self.bands)]
            if pool:
                return self.words[pool.pop()]
        return self.ranked()


def _query(shape: str, t: _TermDraw, n: int) -> str:
    r = t.ranked
    if shape == "term":
        return t.single(n % len(TERM_BANDS))
    if shape == "and2":
        return f"{r()} AND {r()}"
    if shape == "or":
        return " OR ".join(r() for _ in range(t.rng.choice((2, 3))))
    if shape == "nested":
        return f"({r()} OR {r()}) AND ({r()} OR {r()})"
    if shape == "lang":
        return f"{r()} AND lang:{t.rng.choice(LANGS)}"
    if shape == "not":
        return f"{r()} AND NOT {r()}"
    return f'"{r()} {r()}"'


def unique_queries(seed: int, salt: str, n: int) -> list[tuple[str, bool]]:
    """`n` distinct (query, count_all) requests, cycling the query mix."""
    rng = random.Random(f"{seed}:{salt}")
    terms = _TermDraw(rng)
    out: list[tuple[str, bool]] = []
    seen: set[str] = set()
    while len(out) < n:
        q = _query(SHAPES[len(out) % len(SHAPES)], terms, len(out))
        if q in seen:
            continue
        seen.add(q)
        out.append((q, rng.random() >= COUNT_ALL_FALSE_SHARE))
    return out


def zipf_queries(seed: int, n: int) -> list[tuple[str, bool]]:
    """`n` requests drawn Zipf-popular from a pool of ZIPF_POOL queries:
    popular ones repeat, the long tail does not fit the leaf cache."""
    pool = unique_queries(seed, "zipf-pool", ZIPF_POOL)
    w = 1.0 / np.arange(1, ZIPF_POOL + 1) ** ZIPF_EXPONENT
    cdf = np.cumsum(w) / w.sum()
    u = np.random.default_rng(seed ^ 0x5EED).random(n)
    return [pool[i] for i in np.searchsorted(cdf, u, side="right")]
