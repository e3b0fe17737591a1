"""Golden rendering of fetched hits and the root-merge order.

The doc-store fetch turns stored doc-map rows into the python values a
hit carries, and the HTTP layer serializes them. Both are pinned here
against tests/golden/hit_rendering.json, value by value (type name and
repr), over a doc map holding every column kind the fetch treats
specially: nullable int64, u64 past i64::MAX, nullable bool, float with
NaN and null, timestamp with a null, ip, bytes, a list column, and a
dynamic index serving `__source`.

The merge cases pin the global (score desc, segment_id desc, doc_id
desc) order across segments with equal scores, offset paging and
max_score over the whole candidate set.

To regenerate after an intended rendering change:
    python -c "import json, tests.test_hit_rendering as t; \\
        print(json.dumps(t.render_golden('/tmp/golden'), indent=1))"
"""

import json
import os
import re
import urllib.request

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.deletes import apply_delete_query
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.index.merge import merge_segments
from quickwit_spark.search import ast as A
from quickwit_spark.search import mgmt_api as M
from quickwit_spark.search.engine import IndexSearcher, SegmentReader
from quickwit_spark.search.http_api import SearchHttpServer

GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                      "hit_rendering.json")

STORE_ALL = ("i64n", "u64", "booln", "f", "ts", "ip", "blob", "lst")
# the columns the HTTP layer can serialize (json.dumps has no encoder
# for timestamps, bytes or arrays)
STORE_JSON = ("i64n", "u64", "booln", "f", "ip")


def _frame() -> pd.DataFrame:
    ts = [pd.Timestamp("2024-01-02 03:04:05.123456"), None,
          pd.Timestamp("1999-12-31"), pd.Timestamp("2024-06-01"),
          pd.Timestamp("2020-02-29 12:00"), None]
    return pd.DataFrame({
        "doc_id": np.arange(6, dtype=np.int64),
        "text": ["alpha beta", "alpha", "beta alpha alpha", "gamma alpha",
                 "alpha beta", "alpha"],
        "i64n": pd.array([1, None, 3, -4, None, 6], dtype="Int64"),
        "u64": np.array([2**63 + 1, 5, 2**64 - 1, 0, 7, 2**63],
                        dtype=np.uint64),
        "booln": pd.array([True, None, False, True, None, False],
                          dtype="boolean"),
        "f": pd.Series([1.5, float("nan"), None, -0.0, 2.25, 0.125],
                       dtype=object),
        "ts": pd.Series(ts, dtype=object),
        "ip": ["10.0.0.1", "2001:db8::1", None, "::1", "192.168.1.1",
               "9.0.0.1"],
        "blob": ["AAE=", "/w==", None, "", "aGk=", "AA=="],
        "lst": [[1, 2], [], None, [3], [4, 5, 6], [7]],
    })


def _build_typed(index_dir: str, uid: str, store: tuple) -> None:
    cfg = IndexConfig(
        index_uid=uid, index_dir=index_dir, key_cols=("doc_id",),
        text_col="text", tokenizer="default", tag_cols=(), sha_col=None,
        store_cols=store, field_types={"ip": "ip", "blob": "bytes"})
    build_index_pandas(_frame(), cfg, num_partitions=2)


def _build_dynamic(root: str) -> None:
    M.create_index(root, {
        "version": "0.7", "index_id": "dyn",
        "doc_mapping": {"mode": "dynamic",
                        "dynamic_mapping": {"tokenizer": "default",
                                            "fast": True}}})
    M.ingest_ndjson(M.load_index_config(os.path.join(root, "dyn")), [
        {"n": 3, "w": "alpha beta", "o": {"x": [1, 2], "y": None}},
        {"w": "alpha", "f": 0.5},
        {"n": 1, "w": "beta alpha", "t": True},
        {"n": 2, "w": "alpha", "o": {"x": []}},
    ])


def _doc_line(doc: dict) -> str:
    return " ".join(f"{k}={type(v).__name__}:{v!r}" for k, v in doc.items())


def _hit_lines(res) -> list[str]:
    return [f"{h.score!r} {h.segment_id} {h.doc_id} {_doc_line(h.doc)}"
            for h in res.hits]


def _get(url: str) -> str:
    with urllib.request.urlopen(url, timeout=30) as r:
        body = r.read().decode()
    return re.sub(r'"elapsed_time_micros": \d+', '"elapsed_time_micros": 0',
                  body)


def render_golden(root: str) -> dict:
    """Every rendering the golden file pins, built under `root`."""
    _build_typed(os.path.join(root, "typed"), "typed", STORE_ALL)
    _build_typed(os.path.join(root, "jsonable"), "jsonable", STORE_JSON)
    _build_dynamic(root)
    typed = IndexSearcher(os.path.join(root, "typed"))
    dyn = IndexSearcher(os.path.join(root, "dyn"))
    out = {
        "search": _hit_lines(typed.search(A.Term("text", "alpha"), k=10)),
        "sort_search": _hit_lines(typed.sort_search(
            A.MatchAll(), k=10, sort_by=(("u64", "desc"),))),
        "dyn_search": _hit_lines(dyn.search("w:alpha", k=10)),
        "dyn_sort_search": _hit_lines(dyn.sort_search(
            "*", k=10, sort_by=(("n", "asc"),))),
    }
    with SearchHttpServer(root) as srv:
        base = f"{srv.url}/api/v1"
        out["http_search"] = _get(
            f"{base}/jsonable/search?query=text:alpha&max_hits=10")
        out["http_sort_search"] = _get(
            f"{base}/jsonable/search?query=*&sort_by=-u64&max_hits=10")
        out["http_dyn_search"] = _get(
            f"{base}/dyn/search?query=w:alpha&max_hits=10")
    return out


@pytest.fixture(scope="module")
def golden_root(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("golden"))
    return root, render_golden(root)


def test_hit_rendering_matches_golden(golden_root):
    _root, got = golden_root
    with open(GOLDEN) as f:
        want = json.load(f)
    assert sorted(got) == sorted(want)
    for key in want:
        assert got[key] == want[key], key


def test_doc_rows_filtered_read_matches_pinned_table(golden_root,
                                                    monkeypatch):
    """A doc map above CACHE_FILE_BYTES is read per call, filtered to
    the ids; both sources must render the same rows in the same order."""
    root, _ = golden_root
    d = os.path.join(root, "typed")
    for seg in Manifest.load(d).segments():
        seg_dir = os.path.join(d, "segments", seg["segment_id"])
        ids = list(range(seg["num_docs"]))[::-1]
        pinned = SegmentReader(seg_dir).doc_rows(ids)
        monkeypatch.setattr(SegmentReader, "CACHE_FILE_BYTES", 0)
        reader = SegmentReader(seg_dir)
        filtered = reader.doc_rows(ids)
        monkeypatch.undo()
        assert reader.cache_footprint == 0
        assert [_doc_line(r) for r in filtered] == \
            [_doc_line(r) for r in pinned]
        forward = SegmentReader(seg_dir).doc_rows(ids[::-1])
        assert [_doc_line(r) for r in forward[::-1]] == \
            [_doc_line(r) for r in pinned]


def test_root_merge_ties_order_by_segment_then_doc_desc(golden_root):
    root, _ = golden_root
    s = IndexSearcher(os.path.join(root, "typed"))
    res = s.search(A.MatchAll(), k=10)
    assert len({h.score for h in res.hits}) == 1  # every score ties
    addrs = [(h.segment_id, h.doc_id) for h in res.hits]
    assert len(addrs) == 6 and len({sid for sid, _ in addrs}) == 2
    assert addrs == sorted(addrs, reverse=True)


def test_root_merge_offset_paging_and_max_score(golden_root):
    root, _ = golden_root
    s = IndexSearcher(os.path.join(root, "typed"))
    for node in (A.MatchAll(), A.Term("text", "alpha"),
                 A.Term("text", "beta")):
        full = s.search(node, k=10)
        want = [(h.score, h.segment_id, h.doc_id) for h in full.hits]
        assert full.max_score == want[0][0]
        for offset in range(len(want) + 1):
            page = s.search(node, k=2, offset=offset)
            assert [(h.score, h.segment_id, h.doc_id)
                    for h in page.hits] == want[offset:offset + 2]
            assert page.num_hits == full.num_hits
            # the best score of the whole candidate set, not the page's
            assert page.max_score == full.max_score
            bare = s.search(node, k=2, offset=offset, fetch_fields=False)
            assert [(h.score, h.segment_id, h.doc_id, h.doc)
                    for h in bare.hits] == \
                [w + ({},) for w in want[offset:offset + 2]]


def _seg_docs_are_positions(index_dir: str) -> list[str]:
    segs = Manifest.load(index_dir).segments()
    for seg in segs:
        t = pq.read_table(os.path.join(index_dir, "segments",
                                       seg["segment_id"], "docs.parquet"))
        assert t.column("_seg_doc").to_pylist() == list(range(t.num_rows))
    return [seg["segment_id"] for seg in segs]


def test_seg_doc_is_row_position_after_build_merge_delete(tmp_path):
    """The fetch addresses doc-map rows by position; every writer must
    keep `_seg_doc` equal to the row index."""
    d = str(tmp_path / "i")
    _build_typed(d, "pos", STORE_ALL)
    parents = Manifest.load(d).segments()
    assert len(_seg_docs_are_positions(d)) == 2
    meta = merge_segments(d, parents)
    Manifest.load(d).publish(
        [meta], replaced_segment_ids=[p["segment_id"] for p in parents])
    assert len(_seg_docs_are_positions(d)) == 1
    stats = apply_delete_query(d, A.Term("text", "gamma"))
    assert stats["docs_deleted"] == 1
    _seg_docs_are_positions(d)
    res = IndexSearcher(d).search(A.Term("text", "beta"), k=10)
    assert sorted(h.doc["doc_id"] for h in res.hits) == [0, 2, 4]


def test_doc_rows_refuses_a_non_positional_doc_map(tmp_path):
    d = str(tmp_path / "i")
    _build_typed(d, "bad", STORE_ALL)
    sid = Manifest.load(d).segments()[0]["segment_id"]
    path = os.path.join(d, "segments", sid, "docs.parquet")
    t = pq.read_table(path)
    rev = pa.array(t.column("_seg_doc").to_numpy()[::-1].copy())
    pq.write_table(t.set_column(0, "_seg_doc", rev), path)
    reader = SegmentReader(os.path.join(d, "segments", sid))
    with pytest.raises(ValueError, match="row position"):
        reader.doc_rows([0])
