"""ES facade breadth (_count, _field_caps, _cat/indices, _stats, _bulk —
quickwit-serve elasticsearch_api rest_handler.rs:71-806) and the
janitor's time-based retention policy."""

import os

import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.search.es_dsl import (es_bulk, es_cat_indices, es_count,
                                          es_field_caps, es_stats)


@pytest.fixture(scope="module")
def idx(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("esfacade")
    pdf = corpus_pandas(200, seed=13)
    cfg = IndexConfig(index_uid="esf", index_dir=str(tmp / "i"))
    build_index_pandas(pdf, cfg, num_partitions=2)
    return cfg


def test_es_count(idx):
    s = IndexSearcher(idx.index_dir)
    assert es_count(s)["count"] == 200
    n = es_count(s, {"query": {"match": {"content": "merge"}}})["count"]
    assert 0 < n < 200


def test_es_field_caps_and_cat_and_stats(idx):
    s = IndexSearcher(idx.index_dir)
    caps = es_field_caps(s)
    assert caps["indices"] == ["esf"]
    assert "content" in caps["fields"]
    assert "lang" in caps["fields"]
    (lang_caps,) = caps["fields"]["lang"].values()
    assert lang_caps["searchable"]

    cat = es_cat_indices(s)
    assert cat[0]["index"] == "esf"
    assert cat[0]["docs.count"] == "200"

    st = es_stats(s)
    assert st["_all"]["primaries"]["docs"]["count"] == 200
    assert st["_all"]["primaries"]["store"]["size_in_bytes"] > 0
    assert st["indices"]["esf"]["total"]["segments"]["count"] >= 2


def test_es_bulk_append_and_replay(tmp_path):
    cfg = IndexConfig(index_uid="blk", index_dir=str(tmp_path / "b"),
                      sha_col=None)
    lines = []
    for i in range(6):
        lines.append({"index": {"_id": str(i)}})
        lines.append({"repo": f"r{i}", "path": f"p{i}.py", "commit": "c",
                      "lang": "python", "content": f"bulk doc {i} merge"})
    r1 = es_bulk(cfg, lines)
    assert not r1["errors"] and len(r1["items"]) == 6
    assert r1["items"][0]["index"]["result"] == "created"
    s = IndexSearcher(cfg.index_dir)
    assert es_count(s)["count"] == 6
    # exact replay is a no-op (content-keyed checkpoint)
    r2 = es_bulk(cfg, lines)
    assert r2["items"][0]["index"]["result"] == "noop"
    assert es_count(IndexSearcher(cfg.index_dir))["count"] == 6
    # malformed framing rejected
    with pytest.raises(ValueError):
        es_bulk(cfg, lines[:3])
    with pytest.raises(ValueError):
        es_bulk(cfg, [{"delete": {}}, {"content": "x"}])


def test_time_based_retention(tmp_path):
    pdf = corpus_pandas(120, seed=3)
    pdf["ts_num"] = [1000 + (i // 40) * 1000 for i in range(120)]
    cfg = IndexConfig(index_uid="ret", index_dir=str(tmp_path / "r"),
                      store_cols=("ts_num",), partition_cols=("ts_num",))
    build_index_pandas(pdf, cfg, num_partitions=6)
    m = Manifest.load(cfg.index_dir)
    before = len(m.segments())
    assert before >= 2
    total_before = sum(s["num_docs"] for s in m.segments())
    # retire segments wholly older than cutoff 2000 (the 1000-bucket)
    expired = m.apply_retention("ts_num", cutoff=2000)
    assert expired
    after = m.segments()
    assert len(after) < before
    assert all(s.get("col_stats", {}).get("ts_num", [0, 1e18])[1] >= 2000
               for s in after)
    # count shrinks accordingly and index still searchable
    s = IndexSearcher(cfg.index_dir)
    assert s.count("*") == sum(seg["num_docs"] for seg in after)
    assert s.count("*") < total_before


def test_es_resolve_and_cluster_health(idx, tmp_path):
    """Minor ES endpoints (rest_handler.rs:71-806): _resolve/index glob
    resolution and _cluster/health shape."""
    from quickwit_spark.search.es_dsl import (es_cluster_health,
                                              es_resolve_index)
    cfg = idx
    import os
    root = os.path.dirname(cfg.index_dir)
    got = es_resolve_index(root, "*")
    assert any(r["name"] == "esf" for r in got["indices"])
    assert es_resolve_index(root, "nope-*")["indices"] == []
    assert es_resolve_index(root, "nope-*,es*")["indices"]
    from quickwit_spark.search.engine import IndexSearcher
    h = es_cluster_health(IndexSearcher(cfg.index_dir))
    assert h["status"] == "green" and h["active_shards"] >= 1


def test_es_get_mapping(idx):
    from quickwit_spark.search.es_dsl import es_get_mapping
    s = IndexSearcher(idx.index_dir)
    m = es_get_mapping(s)
    props = m["esf"]["mappings"]["properties"]
    assert props["content"] == {"type": "text",
                                "analyzer": "source_code_default"}
    assert props["lang"]["type"] == "keyword"
    assert m["esf"]["mappings"]["dynamic"] == "strict"
    assert "fieldnorm" not in props and "_seg_doc" not in props


def test_es_get_mapping_typed_fields(tmp_path):
    from quickwit_spark.search.es_dsl import es_get_mapping
    pdf = pd.DataFrame({
        "doc_id": [0, 1], "text": ["a b", "c d"],
        "ip": ["1.2.3.4", "5.6.7.8"], "blob": ["YWJj", "ZGVm"]})
    cfg = IndexConfig(index_uid="tm", index_dir=str(tmp_path / "i"),
                      key_cols=("doc_id",), text_col="text",
                      tokenizer="default", tag_cols=(), sha_col=None,
                      store_cols=("ip", "blob"),
                      field_types={"ip": "ip", "blob": "bytes"})
    build_index_pandas(pdf, cfg, num_partitions=1)
    props = es_get_mapping(IndexSearcher(cfg.index_dir))["tm"][
        "mappings"]["properties"]
    assert props["ip"] == {"type": "ip"}
    assert props["blob"] == {"type": "binary"}


def test_es_delete_by_query(tmp_path):
    from quickwit_spark.search.es_dsl import es_delete_by_query
    pdf = corpus_pandas(120, seed=5)
    cfg = IndexConfig(index_uid="dbq", index_dir=str(tmp_path / "i"))
    build_index_pandas(pdf, cfg, num_partitions=2)
    s = IndexSearcher(cfg.index_dir)
    before = s.count("*")
    matching = es_count(s, {"query": {"match": {"content": "merge"}}})[
        "count"]
    assert matching > 0
    resp = es_delete_by_query(
        s, {"query": {"match": {"content": "merge"}}})
    assert resp["deleted"] == matching
    assert not resp["timed_out"] and resp["failures"] == []
    s2 = IndexSearcher(cfg.index_dir)
    assert s2.count("*") == before - matching
    assert es_count(s2, {"query": {"match": {"content": "merge"}}})[
        "count"] == 0


def test_es_msearch_batched_equals_serial(idx, spark):
    """With a Spark session, _msearch routes plain-search bodies through
    ONE search_many fan-out; responses must equal the serial path
    (modulo the `took` timing field)."""
    from quickwit_spark.search.es_dsl import es_msearch

    def strip_took(resp):
        for r in resp["responses"]:
            r.pop("took", None)
        return resp

    lines = [
        {}, {"query": {"match": {"content": "merge"}}, "size": 5},
        {}, {"query": {"term": {"lang": "python"}}, "size": 3, "from": 2},
        {}, {"query": {"match": {"content": "zzz_absent"}}},
        {}, {"query": {"match": {"content": "merge"}},
             "sort": [{"_score": {"order": "desc"}}], "size": 4},
    ]
    serial = strip_took(es_msearch(IndexSearcher(idx.index_dir), lines))
    batched = strip_took(es_msearch(
        IndexSearcher(idx.index_dir, spark=spark, force_distributed=True), lines))
    assert batched == serial


def test_es_scroll_endpoints(idx):
    """ES scroll flow: ?scroll=30s first page -> /_search/scroll pages ->
    concatenation equals one big search; clear -> 404-shaped error."""
    from quickwit_spark.search.es_dsl import (es_clear_scroll, es_scroll,
                                              es_scroll_search, es_search)
    s = IndexSearcher(idx.index_dir)
    body = {"query": {"match": {"content": "merge"}}, "size": 7}
    first = es_scroll_search(s, body, scroll="30s")
    sid = first["_scroll_id"]
    assert sid and first["hits"]["hits"]
    ids = [h["_id"] for h in first["hits"]["hits"]]
    while True:
        page = es_scroll(s, sid)
        assert page.get("status") != 404
        got = [h["_id"] for h in page["hits"]["hits"]]
        if not got:
            break
        ids.extend(got)
    big = es_search(s, {"query": {"match": {"content": "merge"}},
                        "size": 10000})
    assert ids == [h["_id"] for h in big["hits"]["hits"]]
    assert es_clear_scroll(s, sid)["succeeded"]
    assert es_scroll(s, sid)["status"] == 404


def test_delete_rewrite_preserves_doc_schema(tmp_path):
    """The rewritten segment's docs.parquet must keep the parent's exact
    Arrow types — a pandas round-trip re-inferred int32 -> int64, making
    doc_fields drift from sibling segments."""
    import pandas as pd
    import pyarrow.parquet as pq
    from quickwit_spark.index.deletes import apply_delete_query

    pdf = pd.DataFrame({
        "repo": ["r"] * 4, "path": [f"f{i}" for i in range(4)],
        "commit": ["c"] * 4, "lang": ["py", "go", "py", "go"],
        "content": ["alpha beta", "gamma delta", "alpha x", "y z"]})
    cfg = IndexConfig(index_uid="dl", index_dir=str(tmp_path / "dl"),
                      sha_col=None)
    build_index_pandas(pdf, cfg, num_partitions=1)
    m = Manifest.load(cfg.index_dir)
    old = m.segments()[0]["segment_id"]
    sch0 = pq.read_schema(
        os.path.join(cfg.index_dir, "segments", old, "docs.parquet"))
    apply_delete_query(cfg.index_dir, 'lang:go')
    new = Manifest.load(cfg.index_dir).segments()[0]["segment_id"]
    sch1 = pq.read_schema(
        os.path.join(cfg.index_dir, "segments", new, "docs.parquet"))
    assert new != old
    assert sch0.equals(sch1)


def test_es_search_extra_filters(tmp_path):
    """The reference's ?extra_filters= param (es_compatibility/0023):
    comma-separated query-string filters ANDed into the body's query as
    non-scoring filters (the permission-scoping hook)."""
    from quickwit_spark.search.es_dsl import es_search
    pdf = pd.DataFrame({
        "repo": ["org1", "org1", "org2", "org2"],
        "path": [f"f{i}" for i in range(4)],
        "commit": ["c"] * 4, "lang": ["py", "go", "py", "go"],
        "content": ["merge a", "merge b", "merge c", "other d"]})
    cfg = IndexConfig(index_uid="xf", index_dir=str(tmp_path / "xf"),
                      sha_col=None)
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    base = es_search(s, {"query": {"match": {"content": "merge"}}})
    assert base["hits"]["total"]["value"] == 3
    one = es_search(s, {"query": {"match": {"content": "merge"}}},
                    extra_filters="lang:py")
    assert one["hits"]["total"]["value"] == 2
    two = es_search(s, {"query": {"match": {"content": "merge"}}},
                    extra_filters="lang:py,repo:org1")
    assert two["hits"]["total"]["value"] == 1
    # filters are non-scoring: scores match the unfiltered query's
    uf = {h["_id"]: h["_score"] for h in base["hits"]["hits"]}
    for h in two["hits"]["hits"]:
        assert h["_score"] == uf[h["_id"]]


def test_es_search_source_filtering(tmp_path):
    """_source_includes / _source_excludes (es_compatibility/0022);
    excludes win over includes; both accept string or list form."""
    from quickwit_spark.search.es_dsl import es_search
    pdf = pd.DataFrame({
        "repo": ["r"] * 2, "path": ["a", "b"], "commit": ["c"] * 2,
        "lang": ["py", "go"], "content": ["merge x", "merge y"]})
    cfg = IndexConfig(index_uid="sf", index_dir=str(tmp_path / "sf"),
                      sha_col=None)
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    body = {"query": {"match": {"content": "merge"}}, "size": 1}
    full = es_search(s, body)["hits"]["hits"][0]["_source"]
    assert "lang" in full and "repo" in full
    only = es_search(s, body, source_includes="lang")[
        "hits"]["hits"][0]["_source"]
    assert set(only) == {"lang"}
    none_ = es_search(s, body, source_includes=["lang", "repo"],
                      source_excludes=["lang"])[
        "hits"]["hits"][0]["_source"]
    assert set(none_) == {"repo"}
    exc = es_search(s, body, source_excludes="lang,repo")[
        "hits"]["hits"][0]["_source"]
    assert "lang" not in exc and "repo" not in exc


def test_es_multi_match_phrase_types(tmp_path):
    from quickwit_spark.search.es_dsl import es_search
    pdf = pd.DataFrame({
        "repo": ["r"] * 3, "path": ["a", "b", "c"], "commit": ["c"] * 3,
        "lang": ["py"] * 3,
        "content": ["sign decoration here", "decoration of sign",
                    "zone gap explosion"]})
    cfg = IndexConfig(index_uid="mm", index_dir=str(tmp_path / "mm"),
                      sha_col=None, record="position")
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)

    def hits(q):
        return es_search(s, {"query": q})["hits"]["total"]["value"]
    assert hits({"multi_match": {"type": "phrase",
                                 "query": "sign decoration",
                                 "fields": ["content"]}}) == 1
    # slop=1 lets one gap in (reference 0014 zone/explosion case)
    assert hits({"multi_match": {"type": "phrase",
                                 "query": "zone explosion",
                                 "fields": ["content"]}}) == 0
    assert hits({"multi_match": {"type": "phrase", "slop": 1,
                                 "query": "zone explosion",
                                 "fields": ["content"]}}) == 1
    # ES accepts a bare string for fields
    assert hits({"multi_match": {"query": "decoration",
                                 "fields": "content"}}) == 2
    assert hits({"multi_match": {"type": "phrase_prefix",
                                 "query": "sign deco",
                                 "fields": ["content"]}}) == 1


def test_source_filtering_keeps_sort_cursor_and_highlight(tmp_path):
    """_source filtering must not leak into sort cursors or highlight
    input — ES pages and highlights independently of source shaping."""
    from quickwit_spark.search.es_dsl import es_search
    pdf = pd.DataFrame({
        "repo": ["r"] * 3, "path": ["a", "b", "c"], "commit": ["c"] * 3,
        "lang": ["py"] * 3, "n": [3, 1, 2],
        "content": ["merge one", "merge two", "merge three"]})
    cfg = IndexConfig(index_uid="sc", index_dir=str(tmp_path / "sc"),
                      sha_col=None, store_cols=("n", "content"))
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    body = {"query": {"match": {"content": "merge"}}, "size": 2,
            "sort": [{"n": {"order": "desc"}}],
            "highlight": {"fields": {"content": {}}}}
    r = es_search(s, body, source_includes="lang")
    h0 = r["hits"]["hits"][0]
    assert set(h0["_source"]) == {"lang"}
    assert h0["sort"][0] == 3  # real n value, not None
    # page 2 via the cursor works
    body2 = dict(body)
    body2["search_after"] = r["hits"]["hits"][-1]["sort"]
    r2 = es_search(s, body2, source_includes="lang")
    assert r2["hits"]["hits"][0]["sort"][0] == 1
    assert "highlight" in h0  # content highlighted though excluded


def test_search_after_null_cursor_terminates(tmp_path):
    """A hit missing the sort field echoes a null sort value; fed back
    as search_after it must not restart the listing (a client paging
    until empty looped forever on duplicate pages)."""
    from quickwit_spark.search.es_dsl import es_search
    n = [2, None, None, 1, None, None, 3, None]
    pdf = pd.DataFrame({
        "repo": ["r"] * 8, "path": list("abcdefgh"), "commit": ["c"] * 8,
        "lang": ["py"] * 8, "n": pd.array(n, dtype="Int64"),
        "content": ["merge"] * 8})
    cfg = IndexConfig(index_uid="sa", index_dir=str(tmp_path / "sa"),
                      sha_col=None, store_cols=("n",))
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)

    def page_all(sort):
        body = {"query": {"match": {"content": "merge"}}, "size": 2,
                "sort": sort}
        seen = []
        for _ in range(len(n) + 2):
            hits = es_search(s, body)["hits"]["hits"]
            if not hits:
                return seen
            seen += [h["_source"]["path"] for h in hits]
            body["search_after"] = hits[-1]["sort"]
        raise AssertionError(f"paging did not terminate: {seen}")

    # values-only cursors skip rows tied with the boundary value, and
    # every missing value ties: the null run ends the listing
    seen = page_all([{"n": {"order": "asc"}}])
    assert len(seen) == len(set(seen))
    assert seen[:3] == ["d", "a", "g"]
    assert set(seen[3:]) <= {"b", "c", "e", "f", "h"}
    # a second sort field breaks the ties: every doc exactly once
    seen = page_all([{"n": {"order": "asc"}}, {"path": {"order": "asc"}}])
    assert seen == ["d", "a", "g", "b", "c", "e", "f", "h"]
