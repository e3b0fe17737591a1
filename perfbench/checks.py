"""Output checks. Each reports the wrong outputs it found, so the caller
can count the operations that produced them in `failed`."""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow.parquet as pq

from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.search.engine import IndexSearcher

from .build import config
from .streams import corpus, unique_queries

KEYS = ("repo", "path", "commit")


def _key(doc: dict) -> tuple:
    return tuple(doc.get(k) for k in KEYS)


def sha_join(index_dir: str, source, seed: int, n_queries: int = 8) -> int:
    """A seeded sample of hits, joined back to the source table by doc
    key, must carry the sha256 of the source row's content."""
    by_key = source.set_index(list(KEYS))
    searcher = IndexSearcher(index_dir)
    wrong = 0
    for query, _ in unique_queries(seed, "sha-join", n_queries):
        for h in searcher.search(query, k=10, fetch_fields=True).hits:
            try:
                row = by_key.loc[_key(h.doc)]
            except KeyError:  # a hit whose key is not in the source
                wrong += 1
                continue
            digest = hashlib.sha256(row["content"].encode()).hexdigest()
            if not (digest == row["sha256"] == h.doc.get("sha256")):
                wrong += 1
    return wrong


def http_matches(index_dir: str, results) -> int:
    """Sampled HTTP responses must equal in-process IndexSearcher.search
    on the same index: same num_hits, same hits in the same order."""
    searcher = IndexSearcher(index_dir)
    wrong = 0
    for r in results:
        want = searcher.search(r.query, k=10, count_all=r.count_all)
        got = r.body
        if (got["num_hits"] != want.num_hits
                or [_key(d) for d in got["hits"]]
                != [_key(h.doc) for h in want.hits]):
            wrong += 1
    return wrong


ORACLE_DOCS = 400


def oracle(work: str, seed: int, n_queries: int = 4) -> tuple[int, int]:
    """In-process top-k doc ids and f32 scores against the scalar oracle
    of tests/oracle.py, on a small index of the same seeded corpus.
    Returns (queries checked, queries wrong)."""
    from tests.oracle import OracleEngine, OracleSegment

    src = corpus(seed, 0, ORACLE_DOCS)
    cfg = config(os.path.join(work, "oracle"))
    manifest = build_index_pandas(src, cfg, num_partitions=2)
    by_key = src.set_index(list(KEYS))
    segs = []
    for seg in sorted(manifest.segments(), key=lambda s: s["segment_id"]):
        docs_t = pq.read_table(os.path.join(
            cfg.index_dir, "segments", seg["segment_id"], "docs.parquet"))
        docs = [{"content": by_key.loc[tuple(r[k] for k in KEYS)]["content"]}
                for r in docs_t.to_pylist()]
        segs.append(OracleSegment(seg["segment_id"], docs, "content",
                                  cfg.tokenizer))
    engine = OracleEngine(segs)
    searcher = IndexSearcher(cfg.index_dir)
    wrong = 0
    queries = unique_queries(seed, "oracle", n_queries)
    for query, _ in queries:
        node = searcher.parse(query)
        got = searcher.search(node, k=10, fetch_fields=False)
        n_hits, rows = engine.search(node, k=10)
        if got.num_hits != n_hits or [
                (float(h.score), h.segment_id, h.doc_id)
                for h in got.hits] != [tuple(r) for r in rows]:
            wrong += 1
    return len(queries), wrong


def missing_ingested(index_dir: str, acked_paths: list[str],
                     seed: int, n_lookups: int = 16) -> set[str]:
    """Every acknowledged doc must be matched by a search at run end, and
    a seeded sample must be found by its key. Returns the paths (doc
    keys) that were not."""
    searcher = IndexSearcher(index_dir)
    found = set(searcher.matched_docs("*", ["path"])["path"])
    missing = {p for p in acked_paths if p not in found}
    rng = random.Random(f"{seed}:lookups")
    for p in rng.sample(acked_paths, min(n_lookups, len(acked_paths))):
        if searcher.search(f'path:"{p}"', k=2).num_hits != 1:
            missing.add(p)
    return missing
