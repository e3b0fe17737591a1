"""Benchmark-owned launcher for the sparkwit REST server.

    python3 perfbench/server.py --root DIR --index ID --uid UID \
        --stats OUT.json [--trace]

Serves every index under DIR with `SearchHttpServer(writable=True)`,
registering the IndexConfig of index ID so `POST /api/v1/ID/ingest`
works. Prints one JSON line `{"port": N}` once listening, then serves
until its stdin closes, and finally writes OUT.json with its peak RSS
and, with --trace, the recorded spans.

With --trace the public functions of each layer are wrapped in spans
(see layer_wraps). A request is traced when it carries the header
`X-Perfbench-Trace: 1`, so traced and untraced requests can be
interleaved within one run to measure the tracing overhead, and
`GET /_perfbench/counters` returns the program's leaf-cache and WAND
counters.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))


def layer_wraps():
    """(owner, attribute, span name[, amount]) for every wrapped layer
    entry point on the search and ingest paths; `amount(result)` sizes
    the call's work (segments kept by pruning, tokens emitted)."""
    from quickwit_spark.functions import bm25
    from quickwit_spark.index import builder, manifest
    from quickwit_spark.search import (engine, http_api, mgmt_api, parser,
                                       rest, wand)
    srv = http_api.SearchHttpServer
    return [
        (rest, "native_search", "rest.native_search"),
        (parser, "parse_query", "parser.parse"),
        (engine.IndexSearcher, "_prune", "engine.prune", len),
        (engine, "segment_top_k", "engine.leaf"),
        (engine, "segment_wand_bound", "engine.leaf_bound"),
        (engine.IndexSearcher, "_merge_and_fetch", "engine.root_merge"),
        (engine.IndexSearcher, "_fetch", "engine.fetch"),
        (engine.SegmentReader, "__init__", "engine.reader_open"),
        (engine, "decode_postings", "codecs.decode"),
        (engine, "varint_decode", "codecs.decode"),
        (wand, "decode_blocks_batch", "codecs.decode"),
        (wand, "decode_postings", "codecs.decode"),
        (bm25.Bm25Weight, "score", "bm25.score"),
        (mgmt_api, "ingest_ndjson", "ingest.request"),
        (srv, "_reload_searcher", "ingest.reload"),
        (builder, "build_partition", "builder.partition"),
        (builder, "build_segment", "builder.segment"),
        (builder, "tokenize_batch_ids", "tokenizers.tokenize",
         lambda out: len(out[0])),
        (builder, "write_segment", "builder.write"),
        (builder, "_varint_encode_with_sizes", "codecs.encode"),
        (manifest.Manifest, "publish", "manifest.publish"),
    ]


def install_tracing(recorder) -> None:
    from http.server import ThreadingHTTPServer

    from quickwit_spark.search import engine, wand
    from quickwit_spark.search.http_api import SearchHttpServer

    for owner, attr, name, *amount in layer_wraps():
        recorder.wrap(owner, attr, name, *amount)

    connection = ThreadingHTTPServer.process_request_thread

    def traced_connection(self, request, client_address):
        # the whole server side of one request: accept hand-off, header
        # parse, dispatch, response write; tagged once headers are read
        recorder.begin_request(None)
        try:
            with recorder.span("http.connection"):
                connection(self, request, client_address)
        finally:
            recorder.end_request()

    dispatch = SearchHttpServer._dispatch

    def traced_dispatch(self, h, method):
        if h.path.startswith("/_perfbench/counters"):
            # benchmark-owned probe: the program's counters, read
            # between phases
            body = json.dumps({"leaf_cache": engine.leaf_cache_stats(),
                               "wand": dict(wand.STATS)}).encode()
            h.send_response(200)
            h.send_header("Content-Length", str(len(body)))
            h.end_headers()
            h.wfile.write(body)
            return
        recorder.tag_request(h.headers.get("X-Perfbench-Request"),
                             h.headers.get("X-Perfbench-Trace") == "1")
        with recorder.span("http.dispatch"):
            dispatch(self, h, method)

    ThreadingHTTPServer.process_request_thread = traced_connection
    SearchHttpServer._dispatch = traced_dispatch


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True)
    p.add_argument("--index", required=True)
    p.add_argument("--uid", required=True)
    p.add_argument("--stats", required=True)
    p.add_argument("--trace", action="store_true")
    args = p.parse_args()

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.search.http_api import SearchHttpServer

    recorder = None
    if args.trace:
        from perfbench.spans import SpanRecorder
        recorder = SpanRecorder(active_by_default=False)
        install_tracing(recorder)
    cfg = IndexConfig(index_uid=args.uid,
                      index_dir=os.path.join(args.root, args.index))
    srv = SearchHttpServer(args.root, writable=True,
                           configs={args.index: cfg}).start()
    try:
        print(json.dumps({"port": srv._srv.server_address[1]}), flush=True)
        sys.stdin.read()  # the parent closes our stdin to stop us
    finally:
        srv.stop()
    out = {"rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
           / 1024.0}
    if recorder is not None:
        out["spans"] = recorder.finished()
    tmp = args.stats + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, args.stats)


if __name__ == "__main__":
    main()
