"""Tests of the benchmark's own arithmetic and inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import threading

import pytest

from perfbench import spans, stats, streams
from perfbench.spans import SpanRecorder, layer_totals, self_times


# -- percentile rule -------------------------------------------------------

def test_percentile_needs_ten_samples_above():
    assert stats.min_samples_for(95) == 200
    assert stats.min_samples_for(90) == 100
    for q in (90, 95, 99):
        n = stats.min_samples_for(q)
        assert stats.samples_above(n, q) >= stats.MIN_TAIL_SAMPLES
        assert stats.samples_above(n - 1, q) < stats.MIN_TAIL_SAMPLES
        stats.percentile(list(range(n)), q)
        with pytest.raises(ValueError):
            stats.percentile(list(range(n - 1)), q)


def test_percentile_is_nearest_rank():
    values = list(range(1, 201))[::-1]  # order must not matter
    assert stats.percentile(values, 50) == 100
    assert stats.percentile(values, 95) == 190
    # exactly ten samples (191..200) lie above the reported p95
    assert sum(v > stats.percentile(values, 95) for v in values) == 10
    assert stats.percentile([7.0], 50) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_iqr_share():
    assert stats.iqr_share([10, 10, 10, 10]) == 0
    assert stats.iqr_share([8, 9, 10, 11, 12]) == pytest.approx(
        (11.5 - 8.5) / 10)


# -- span self time --------------------------------------------------------

def _span(name, start, end, parent=-1, request=None):
    return [name, start, end, parent, request, None]


def test_self_time_nested_children():
    s = [_span("root", 0.0, 10.0),
         _span("a", 1.0, 3.0, 0),
         _span("b", 4.0, 8.0, 0),
         _span("b.inner", 5.0, 6.0, 2)]
    assert self_times(s) == pytest.approx([4.0, 2.0, 3.0, 1.0])


def test_self_time_overlapping_children_counted_once():
    # children on two threads overlap: their union, not their sum,
    # is subtracted; a child running past its parent is clipped
    s = [_span("root", 0.0, 10.0),
         _span("a", 1.0, 5.0, 0),
         _span("b", 3.0, 7.0, 0),
         _span("c", 9.0, 12.0, 0)]
    assert self_times(s)[0] == pytest.approx(10.0 - 6.0 - 1.0)
    assert spans.union_length([(1, 5), (3, 7), (9, 12), (12, 13)]) == 10


def test_layer_totals_sum_to_root_duration():
    s = [_span("root", 0.0, 10.0, -1, "r1"),
         _span("a", 1.0, 3.0, 0, "r1"),
         _span("a", 4.0, 8.0, 0, "r1"),
         _span("root", 20.0, 21.0, -1, "r2")]
    t = layer_totals(s, keep=lambda sp: sp[spans.REQUEST] == "r1")
    assert t["a"]["count"] == 2 and t["a"]["self_s"] == pytest.approx(6.0)
    assert sum(v["self_s"] for v in t.values()) == pytest.approx(10.0)


def test_recorder_wraps_and_nests_per_thread():
    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 41

    rec = SpanRecorder(active_by_default=False)
    rec.wrap(Layer, "outer", "outer")
    rec.wrap(Layer, "inner", "inner", amount=lambda out: out)

    def request(i, active):
        rec.begin_request(f"q{i}", active)
        try:
            assert Layer().outer() == 42
        finally:
            rec.end_request()

    threads = [threading.Thread(target=request, args=(i, i % 2 == 0))
               for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    rec.unwrap_all()
    assert Layer().outer() == 42 and Layer.outer.__name__ == "outer"
    done = rec.finished()
    assert len(done) == 8  # 4 traced requests x 2 spans
    for i, s in enumerate(done):
        if s[spans.NAME] == "inner":
            parent = done[s[spans.PARENT]]
            assert parent[spans.NAME] == "outer"
            assert parent[spans.REQUEST] == s[spans.REQUEST]
            assert s[spans.AMOUNT] == 41


def test_tag_request_names_open_spans_and_gates_later_ones():
    rec = SpanRecorder(active_by_default=False)
    rec.begin_request(None)
    with rec.span("connection"):
        rec.tag_request("q1", active=False)  # known only once headers parse
        with rec.span("dispatch"):
            pass
    rec.end_request()
    done = rec.finished()
    assert [(s[spans.NAME], s[spans.REQUEST]) for s in done] == [
        ("connection", "q1")]


# -- seeded, deterministic inputs ------------------------------------------

def _bytes(stream) -> bytes:
    return json.dumps(stream, separators=(",", ":")).encode()


def test_query_streams_are_byte_identical_per_seed():
    a = _bytes(streams.unique_queries(3, "search", 500))
    b = _bytes(streams.unique_queries(3, "search", 500))
    c = _bytes(streams.unique_queries(4, "search", 500))
    assert a == b and a != c
    z1 = _bytes(streams.zipf_queries(3, 500))
    assert z1 == _bytes(streams.zipf_queries(3, 500))
    assert z1 != _bytes(streams.zipf_queries(4, 500))


def test_query_stream_shape():
    qs = streams.unique_queries(5, "search", 700)
    assert len({q for q, _ in qs}) == 700  # no query repeats
    share = sum(not ca for _, ca in qs) / len(qs)
    assert 0.18 < share < 0.32  # ~25% count_all=false
    zipf = streams.zipf_queries(5, 2000)
    assert len(set(zipf)) < 1000  # popular queries repeat
    assert set(zipf) <= set(streams.unique_queries(5, "zipf-pool",
                                                   streams.ZIPF_POOL))


def test_corpus_and_ingest_batches_are_byte_identical_per_seed():
    assert streams.corpus(7, 0, 50).equals(streams.corpus(7, 0, 50))
    assert not streams.corpus(7, 0, 50).equals(streams.corpus(8, 0, 50))
    body, paths = streams.ingest_batches(7, 3)[2]
    assert body == streams.ingest_batches(7, 3)[2][0]
    assert body != streams.ingest_batches(8, 3)[2][0]
    assert len(paths) == len(set(paths)) == streams.INGEST_BATCH_DOCS
    assert len(body.splitlines()) == streams.INGEST_BATCH_DOCS
    # ingest docs are new docs: their keys are not in the source table
    assert not set(paths) & set(streams.corpus(7, 0, 200)["path"])


# -- error accounting ------------------------------------------------------

def test_error_rate_counts_refused_and_wrong():
    led = stats.Ledger()
    for status in (200, 200, 503, 200, -1, 200):  # refused / no answer
        led.record("search", status == 200)
    led.record("ingest", True, n=4)
    led.wrong("search")       # a 200 whose hits were wrong
    led.wrong("ingest", 2)    # acked batches whose docs are missing
    assert led.total_attempted == 10
    assert led.total_failed == 5
    assert led.error_rate == pytest.approx(0.5)
    with pytest.raises(ValueError):
        led.wrong("search", 4)  # only 3 successful searches remain
    assert stats.Ledger().error_rate == 0.0



def test_coverage_counts_named_layers_and_reports_catch_all():
    from perfbench.lifecycle import Run
    run = Run.__new__(Run)
    run.layers = {}
    run.coverage("search", {"http.connection": 0.5, "http.dispatch": 1.5,
                            "engine.leaf": 6.0, "engine.fetch": 1.0}, 10.0)
    assert run.layers["trace.search_coverage"][0] == pytest.approx(0.7)
    assert run.layers["trace.search_unattributed"][0] == pytest.approx(0.2)
    run.coverage("merge", {"merge.segment": 9.0}, 10.0)
    assert run.layers["trace.merge_coverage"][0] == pytest.approx(0.9)
    assert "trace.merge_unattributed" not in run.layers


def test_transport_is_client_latency_outside_the_server_span():
    from types import SimpleNamespace

    from perfbench.lifecycle import transport_s
    spans_ = [["http.connection", 1.0, 1.5, -1, "s1", None],
              ["engine.leaf", 1.1, 1.2, 0, "s1", None],
              ["http.connection", 2.0, 2.25, -1, "s2", None]]
    reqs = [SimpleNamespace(i=1, latency_s=0.6),
            SimpleNamespace(i=2, latency_s=0.3)]
    assert transport_s(spans_, reqs, "s") == pytest.approx(0.15)
