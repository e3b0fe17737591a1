"""Leaf partial-request cache (reference leaf_cache.rs analog): repeat
(segment, request) pairs are served from cache with identical results;
distinct requests miss; returned frames are copy-safe; the LRU bound
holds and a burst of one-off requests does not flush re-used entries. Immutability of content-addressed segments makes invalidation
unnecessary — also pinned here via the delete-rewrite path."""

import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import (
    IndexSearcher,
    clear_leaf_cache,
    leaf_cache_stats,
)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    import quickwit_spark as q
    d = str(tmp_path_factory.mktemp("leafcache") / "idx")
    docs = pd.DataFrame({
        "repo": ["r"] * 60,
        "path": [f"f{i}.py" for i in range(60)],
        "commit": ["c"] * 60,
        "lang": ["python"] * 60,
        "content": [f"merge sort value {i} fast table scan" if i % 2
                    else f"hash join value {i} index probe" for i in range(60)],
    })
    cfg = IndexConfig(index_uid="lc", index_dir=d, text_col="content",
                      key_cols=["repo", "path", "commit"])
    q.build_index_pandas(docs, cfg, num_partitions=3)
    return d


def test_repeat_query_hits_cache_with_identical_results(idx):
    s = IndexSearcher(idx)
    clear_leaf_cache()
    node = A.Bool(must=(A.Term("content", "merge"),))
    r1 = s.search(node, k=5, fetch_fields=False)
    st1 = leaf_cache_stats()
    assert st1["hits"] == 0 and st1["misses"] >= 1
    r2 = s.search(node, k=5, fetch_fields=False)
    st2 = leaf_cache_stats()
    assert st2["hits"] >= st1["misses"]  # every leaf re-served from cache
    assert st2["misses"] == st1["misses"]
    assert r1.num_hits == r2.num_hits
    assert [(h.segment_id, h.doc_id, h.score) for h in r1.hits] == \
        [(h.segment_id, h.doc_id, h.score) for h in r2.hits]


def test_distinct_requests_do_not_collide(idx):
    s = IndexSearcher(idx)
    clear_leaf_cache()
    n1 = A.Bool(must=(A.Term("content", "merge"),))
    n2 = A.Bool(must=(A.Term("content", "hash"),))
    r1 = s.search(n1, k=5, fetch_fields=False)
    r2 = s.search(n2, k=5, fetch_fields=False)
    assert leaf_cache_stats()["hits"] == 0
    ids1 = {(h.segment_id, h.doc_id) for h in r1.hits}
    ids2 = {(h.segment_id, h.doc_id) for h in r2.hits}
    assert ids1 and ids2 and ids1.isdisjoint(ids2)
    # same query, different k => different entry, not a truncated reuse
    r3 = s.search(n1, k=2, fetch_fields=False)
    assert len(r3.hits) == 2
    assert r3.num_hits == r1.num_hits


def test_cached_frames_are_copy_safe(idx):
    s = IndexSearcher(idx)
    clear_leaf_cache()
    node = A.Bool(must=(A.Term("content", "value"),))
    from quickwit_spark.search.engine import segment_top_k
    import os
    from quickwit_spark.index.manifest import Manifest
    seg = Manifest.load(idx).segments()[0]
    seg_dir = os.path.join(idx, "segments", seg["segment_id"])
    cnt, top = segment_top_k(seg_dir, node, 5, s.tokenizer, s.text_field)
    top["score"] = -1.0  # mutate the returned frame
    cnt2, top2 = segment_top_k(seg_dir, node, 5, s.tokenizer, s.text_field)
    assert cnt2 == cnt
    assert (top2["score"] > 0).all()  # cache entry unaffected


def test_delete_rewrite_changes_segment_id_so_cache_cannot_go_stale(idx,
                                                                    spark):
    """The invalidation-free design rests on content-addressed segment
    dirs: a delete rewrites into a NEW segment id, so cached entries for
    the parent can never be served for the rewritten segment."""
    from quickwit_spark.index.deletes import apply_delete_query
    from quickwit_spark.index.manifest import Manifest
    before = {s["segment_id"] for s in Manifest.load(idx).segments()}
    apply_delete_query(idx, A.Term("content", "0"), spark=None)
    after = {s["segment_id"] for s in Manifest.load(idx).segments()}
    assert after != before
    changed = after - before
    assert changed and all(sid not in before for sid in changed)


def test_lru_bound(idx):
    import quickwit_spark.search.engine as E
    s = IndexSearcher(idx)
    clear_leaf_cache()
    old = E.LEAF_CACHE_MAX_ENTRIES
    E.LEAF_CACHE_MAX_ENTRIES = 4
    try:
        for i in range(10):
            s.search(A.Bool(must=(A.Term("content", str(i)),)), k=3,
                     fetch_fields=False)
        assert leaf_cache_stats()["entries"] <= 4
    finally:
        E.LEAF_CACHE_MAX_ENTRIES = old
        clear_leaf_cache()


def test_scan_of_unique_requests_keeps_reused_entries(idx):
    """Segmented LRU: entries hit once are protected, so a burst of
    never-repeated requests larger than the cache only churns the
    probation segment and the re-used request still hits."""
    import quickwit_spark.search.engine as E
    s = IndexSearcher(idx)
    clear_leaf_cache()
    old = E.LEAF_CACHE_MAX_ENTRIES
    E.LEAF_CACHE_MAX_ENTRIES = 10
    try:
        hot = A.Bool(must=(A.Term("content", "merge"),))
        s.search(hot, k=5, fetch_fields=False)
        s.search(hot, k=5, fetch_fields=False)   # promoted on this hit
        for i in range(40):
            s.search(A.Bool(must=(A.Term("content", str(i)),)), k=3,
                     fetch_fields=False)
        assert leaf_cache_stats()["entries"] <= 10
        misses = leaf_cache_stats()["misses"]
        s.search(hot, k=5, fetch_fields=False)
        assert leaf_cache_stats()["misses"] == misses
    finally:
        E.LEAF_CACHE_MAX_ENTRIES = old
        clear_leaf_cache()


def test_concurrent_get_put_keeps_segments_consistent():
    """HTTP requests run on threads: under forced switching, concurrent
    lookups and inserts lose no count, never hold a key in both
    segments and never exceed the bound."""
    import sys
    import threading

    import quickwit_spark.search.engine as E
    clear_leaf_cache()
    old, old_si = E.LEAF_CACHE_MAX_ENTRIES, sys.getswitchinterval()
    E.LEAF_CACHE_MAX_ENTRIES = 16
    errors, calls = [], 2000
    barrier = threading.Barrier(8)

    def worker(w):
        try:
            barrier.wait(timeout=10)
            for i in range(calls):
                key = ("k", (w * 7 + i) % 40)
                if E._leaf_cache_get(key) is None:
                    E._leaf_cache_put(key, (i, None))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,))
                   for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        st = leaf_cache_stats()
        assert st["hits"] + st["misses"] == 8 * calls
        assert st["entries"] <= 16
        assert not set(E._LEAF_PROBATION) & set(E._LEAF_PROTECTED)
    finally:
        sys.setswitchinterval(old_si)
        E.LEAF_CACHE_MAX_ENTRIES = old
        clear_leaf_cache()
