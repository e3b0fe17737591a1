"""HTTP serving layer: the reference's REST surface over stdlib
``http.server``, in front of the already-implemented native and
Elasticsearch-compatible façades.

Routes (reference: quickwit-serve/src/search_api/rest_handler.rs and
elasticsearch_api/rest_handler.rs — same paths, same JSON shapes):

  native search:
    GET/POST /api/v1/{index}/search          rest.native_search
    GET/POST /api/v1/{index}/search-plan     engine.explain (no exec)
  index management (quickwit-serve/src/index_api/*, via mgmt_api):
    GET      /api/v1/indexes[?index_id_patterns=a*,b]
    POST     /api/v1/indexes[?overwrite=]    create (writable)
    GET      /api/v1/indexes/{id}            metadata
    PUT      /api/v1/indexes/{id}[?create=]  update doc mapping (writable)
    DELETE   /api/v1/indexes/{id}[?dry_run=] delete (writable)
    GET      /api/v1/indexes/{id}/describe   IndexStats
    PUT      /api/v1/indexes/{id}/clear      clear (writable)
    GET      /api/v1/indexes/{id}/splits     list (offset/limit/states/
                                             time filters)
    PUT      /api/v1/indexes/{id}/splits/mark-for-deletion  (writable)
    PUT      /api/v1/indexes/{id}/sources/{src}/reset-checkpoint (writable)
    POST     /api/v1/{index}/ingest          NDJSON docs (writable)
    GET/POST /api/v1/{index}/delete-tasks    list / create (writable)
    PUT      /api/v1/{index}/delete-tasks/execute  janitor pass (writable)
    POST     /api/v1/[{index}/]otlp/v1/{logs|traces}  OTLP ingest
             (protobuf or JSON encoding; writable; auto-creates the
             otel-logs-v0_9 / otel-traces-v0_9 index)
    GET      /api/v1/{index}/jaeger/api/services[/{svc}/operations]
    GET      /api/v1/{index}/jaeger/api/traces[/{trace_id}]
             jaeger-query REST over the OTEL traces index
    GET/POST /api/v1/templates[/{id}]        index templates (CRUD)
    GET      /api/v1/version | /api/v1/cluster | /health/{livez,readyz}
    GET      /metrics                        Prometheus exposition
    POST     /api/v1/analyze                 tokenize text
    POST     /api/v1/parse-query             user query -> QueryAst JSON
  ES-compatible (under /api/v1/_elastic, like the reference):
    GET/POST .../{index}/_search[?scroll=]   es_dsl.es_search / scroll
    POST     .../_msearch | {index}/_msearch es_dsl.es_msearch (NDJSON)
    GET/POST .../{index}/_count              es_dsl.es_count
    GET      .../{index}/_field_caps         es_dsl.es_field_caps
    GET      .../{index}/_mapping            es_dsl.es_get_mapping
    GET      .../{index}/_stats              es_dsl.es_stats
    GET      .../_cat/indices                es_dsl.es_cat_indices
    GET      .../_cluster/health             es_dsl.es_cluster_health
    GET      .../_resolve/index/{expr}       es_dsl.es_resolve_index
    POST/DELETE .../_search/scroll           es_dsl.es_scroll / clear

The server is multi-index: it serves every index directory under
``root_dir`` (subdirectory name == index id on disk), resolving a
searcher per index lazily and reusing it (IndexSearcher readers are
content-addressed, so staleness is bounded by manifest reload inside
the engine). ThreadingHTTPServer + port 0 makes it embeddable in tests
and notebooks; it is a serving veneer, not a daemon framework — auth,
TLS, and multi-node routing stay out of scope (Spark cluster managers
and real gateways own those).
"""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, unquote, urlsplit

from .engine import IndexSearcher
from . import es_dsl, mgmt_api, rest

__all__ = ["SearchHttpServer"]

_ES_PREFIX = "/api/v1/_elastic"

# route words that can never be index ids: {index}-shaped routes must
# not swallow them (mgmt_api owns the set — create refuses them too)
RESERVED_INDEX_IDS = mgmt_api.RESERVED_INDEX_IDS


class _Metrics:
    """Prometheus exposition of the reference's serve metrics
    (quickwit-serve/src/metrics.rs: quickwit_http_requests_total
    {method,status_code}, quickwit_request_duration_secs histogram with
    exponential 0.02*2^i buckets, quickwit_ongoing_requests
    {endpoint_group}; served at GET /metrics like the reference's
    metrics_api.rs)."""

    BUCKETS = [0.02 * (2.0 ** i) for i in range(14)]

    def __init__(self):
        self._lock = threading.Lock()
        self.requests: dict[tuple[str, int], int] = {}
        self.dur_sum: dict[tuple[str, int], float] = {}
        self.dur_buckets: dict[tuple[str, int], list[int]] = {}
        self.ongoing: dict[str, int] = {}

    def begin(self, group: str) -> None:
        with self._lock:
            self.ongoing[group] = self.ongoing.get(group, 0) + 1

    def end(self, group: str, method: str, status: int,
            seconds: float) -> None:
        key = (method, status)
        with self._lock:
            self.ongoing[group] = self.ongoing.get(group, 1) - 1
            self.requests[key] = self.requests.get(key, 0) + 1
            self.dur_sum[key] = self.dur_sum.get(key, 0.0) + seconds
            b = self.dur_buckets.setdefault(
                key, [0] * (len(self.BUCKETS) + 1))
            for i, le in enumerate(self.BUCKETS):
                if seconds <= le:
                    b[i] += 1
                    break
            else:
                b[-1] += 1

    def render(self) -> str:
        out = ["# TYPE quickwit_http_requests_total counter"]
        with self._lock:
            for (m, s), n in sorted(self.requests.items()):
                out.append(
                    f'quickwit_http_requests_total{{method="{m}",'
                    f'status_code="{s}"}} {n}')
            out.append("# TYPE quickwit_request_duration_secs "
                       "histogram")
            for (m, s), b in sorted(self.dur_buckets.items()):
                cum = 0
                for i, le in enumerate(self.BUCKETS):
                    cum += b[i]
                    out.append(
                        f'quickwit_request_duration_secs_bucket'
                        f'{{method="{m}",status_code="{s}",'
                        f'le="{le}"}} {cum}')
                cum += b[-1]
                out.append(
                    f'quickwit_request_duration_secs_bucket'
                    f'{{method="{m}",status_code="{s}",le="+Inf"}} '
                    f'{cum}')
                out.append(
                    f'quickwit_request_duration_secs_sum'
                    f'{{method="{m}",status_code="{s}"}} '
                    f'{self.dur_sum[(m, s)]:.6f}')
                out.append(
                    f'quickwit_request_duration_secs_count'
                    f'{{method="{m}",status_code="{s}"}} {cum}')
            out.append("# TYPE quickwit_ongoing_requests gauge")
            for g, n in sorted(self.ongoing.items()):
                out.append(
                    f'quickwit_ongoing_requests{{endpoint_group='
                    f'"{g}"}} {n}')
        return "\n".join(out) + "\n"


def _endpoint_group(path: str) -> str:
    p = path.strip("/")
    if p == "metrics" or p.startswith("health"):
        return "admin"
    if p.startswith("api/v1/_elastic"):
        return "elastic"
    parts = p.split("/")
    if len(parts) >= 3:
        tail = parts[2:]
        if tail[0] in ("indexes", "templates", "version", "cluster"):
            return "management"
        if tail[-1] == "search":
            return "search"
        if tail[-1] == "ingest" or "otlp" in tail:
            return "ingest"
        if "jaeger" in tail:
            return "jaeger"
        if "delete-tasks" in tail:
            return "management"
    return "other"


def _fields_param(body: dict) -> list | None:
    """`search_field` accepts a list or the reference's comma form."""
    fields = body.get("search_field")
    if isinstance(fields, str):
        return [f for f in fields.split(",") if f]
    return fields


class _RawBody:
    """Non-JSON response body (e.g. an OTLP protobuf response)."""

    def __init__(self, data: bytes, content_type: str):
        self.data = data
        self.content_type = content_type


class _ApiError(Exception):
    def __init__(self, status: int, message: str,
                 es_type: str = "illegal_argument_exception"):
        super().__init__(message)
        self.status = status
        self.es_type = es_type


class SearchHttpServer:
    """Serve the search REST API for every index under ``root_dir``.

    Read-only by default (a serving veneer must not mutate indexes
    because a query arrived); pass ``writable=True`` to enable
    `_delete_by_query`, and additionally a per-index ``configs``
    mapping to enable `_bulk` (segment builds need the full
    IndexConfig — the manifest stores only the searchable subset)."""

    def __init__(self, root_dir: str, host: str = "127.0.0.1",
                 port: int = 0, writable: bool = False,
                 configs: dict | None = None):
        self.root_dir = root_dir
        self.writable = writable
        self.configs = dict(configs or {})
        self._searchers: dict[str, IndexSearcher] = {}
        self._union_scrolls: dict = {}  # multi-index scroll contexts
        self._lock = threading.Lock()
        self.metrics = _Metrics()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):
                outer._dispatch(self, "GET")

            def do_POST(self):
                outer._dispatch(self, "POST")

            def do_PUT(self):
                outer._dispatch(self, "PUT")

            def do_DELETE(self):
                outer._dispatch(self, "DELETE")

            def log_message(self, *a):  # route errors go in responses
                pass

        self._srv = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(target=self._srv.serve_forever,
                                        daemon=True)

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> "SearchHttpServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()

    @property
    def url(self) -> str:
        h, p = self._srv.server_address[:2]
        return f"http://{h}:{p}"

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc):
        self.stop()

    # -- plumbing ----------------------------------------------------------

    @staticmethod
    def _check_index(index: str) -> str:
        """ONE validation for every {index}-shaped route: the id must
        be a plain directory name (no traversal — mgmt_api's id
        grammar) and not a reserved route word. Routes that join
        root_dir themselves (ingest, OTLP, _config) MUST call this;
        require_index/_searcher call it internally."""
        if index in RESERVED_INDEX_IDS \
                or not mgmt_api._INDEX_ID_RE.match(index or ""):
            raise _ApiError(400, f"invalid index name [{index}]")
        return index

    def _searcher(self, index: str) -> IndexSearcher:
        self._check_index(index)
        d = os.path.join(self.root_dir, index)
        with self._lock:
            # checked on EVERY request, not only when the searcher is
            # built: a repeated query is answered from memory (leaf
            # cache + pinned doc tables), so an index deleted behind the
            # server's back would otherwise keep serving
            if not os.path.isdir(d):
                self._searchers.pop(index, None)
                raise _ApiError(
                    404, f"no such index [{index}]",
                    es_type="index_not_found_exception")
            s = self._searchers.get(index)
            if s is None:
                s = self._searchers[index] = IndexSearcher(d)
            return s

    def _dispatch(self, h: BaseHTTPRequestHandler, method: str) -> None:
        import time as _time
        group = _endpoint_group(urlsplit(h.path).path)
        self.metrics.begin(group)
        t0 = _time.perf_counter()
        status = 500
        try:
            status, body, ctype = self._dispatch_inner(h, method)
        finally:
            # recorded BEFORE the body is written: a scrape made right
            # after a response must already count it
            self.metrics.end(group, method, status,
                             _time.perf_counter() - t0)
        h.send_response(status)
        h.send_header("Content-Type", ctype)
        h.send_header("Content-Length", str(len(body)))
        h.end_headers()
        h.wfile.write(body)

    def _dispatch_inner(self, h: BaseHTTPRequestHandler,
                        method: str) -> tuple[int, bytes, str]:
        try:
            parts = urlsplit(h.path)
            params = dict(parse_qsl(parts.query))
            n = int(h.headers.get("Content-Length") or 0)
            if n > self._MAX_BODY:
                # refuse BEFORE buffering: the cap must bound the raw
                # read too, not only decompressed output
                raise _ApiError(413, "request body too large",
                                es_type="request_entity_too_large")
            raw = h.rfile.read(n) if n else b""
            raw = self._decompress(
                raw, h.headers.get("Content-Encoding"))
            status, resp = self._route(
                method, parts.path, params, raw,
                ctype=h.headers.get("Content-Type", ""))
        except _ApiError as e:
            status = e.status
            # "message" is the reference's native error key
            # (rest format_response); the ES-shaped "error" object
            # serves the _elastic routes — carry both
            resp = {"error": {"type": e.es_type, "reason": str(e)},
                    "message": str(e), "status": e.status}
        except mgmt_api.IndexNotFound as e:
            status = 404
            resp = {"error": {"type": "index_not_found_exception",
                              "reason": str(e)},
                    "message": str(e), "status": 404}
        except (ValueError, KeyError) as e:
            status = 400
            resp = {"error": {"type": "illegal_argument_exception",
                              "reason": f"{type(e).__name__}: {e}"},
                    "message": f"{type(e).__name__}: {e}",
                    "status": 400}
        except FileNotFoundError as e:
            # a concurrent delete/clear raced this request: the files it
            # was reading are gone — an HTTP error beats a dead socket
            status = 404
            resp = {"error": {"type": "index_not_found_exception",
                              "reason": f"resource vanished mid-"
                                        f"request: {e}"},
                    "message": f"resource vanished mid-request: {e}",
                    "status": 404}
        except Exception as e:  # noqa: BLE001 — last-resort 500
            # an unexpected executor/py4j error must produce an HTTP
            # 500, never a dead socket (RemoteDisconnected tells the
            # client nothing)
            status = 500
            msg = f"{type(e).__name__}: {str(e)[:2000]}"
            resp = {"error": {"type": "internal_server_error",
                              "reason": msg},
                    "message": msg, "status": 500}
        if isinstance(resp, _RawBody):
            return status, resp.data, resp.content_type
        return status, json.dumps(resp).encode(), "application/json"

    # hard bound on BOTH the raw request read (Content-Length checked
    # before buffering) and decompressed output (enforced during
    # inflation) — wider than the reference's 10 MiB warp
    # content_length_limit, but equally hard: no request can pin more
    # than this much body memory
    _MAX_BODY = 256 * 1024 * 1024

    @classmethod
    def _decompress(cls, raw: bytes, encoding: str | None) -> bytes:
        """Request-body Content-Encoding support (decompression.rs:
        identity, gzip — incl. concatenated members — and zstd; zstd
        only when a zstd module is importable, else a clear 415)."""
        enc = (encoding or "identity").strip().lower()
        if enc in ("identity", ""):
            return raw
        try:
            if enc in ("gzip", "x-gzip"):
                return cls._bounded_inflate(raw, wbits=47)  # gzip hdr
            if enc == "deflate":
                return cls._bounded_inflate(raw, wbits=15)  # zlib hdr
            if enc == "zstd":
                try:
                    import zstandard as _zs
                except ImportError:
                    raise _ApiError(
                        415, "zstd encoding not supported by this "
                             "server build (no zstd module)",
                        es_type="unsupported_media_type_exception")
                # streaming with the cap enforced incrementally:
                # one-shot decompress() would pre-allocate
                # max_output_size for streamed frames (no embedded
                # content size) and reject concatenated frames
                import io as _io
                reader = _zs.ZstdDecompressor().stream_reader(
                    _io.BytesIO(raw), read_across_frames=True)
                chunks, total = [], 0
                while True:
                    piece = reader.read(1 << 20)
                    if not piece:
                        break
                    chunks.append(piece)
                    total += len(piece)
                    if total > cls._MAX_BODY:
                        raise _ApiError(
                            413, "decompressed body too large",
                            es_type="request_entity_too_large")
                return b"".join(chunks)
        except _ApiError:
            raise
        except Exception as e:
            raise _ApiError(400, f"corrupted {enc} body: {e}",
                            es_type="parsing_exception") from e
        raise _ApiError(
            415, f"unsupported Content-Encoding {enc!r}",
            es_type="unsupported_media_type_exception")

    @classmethod
    def _bounded_inflate(cls, raw: bytes, wbits: int) -> bytes:
        """Streaming zlib/gzip inflate with a hard output cap enforced
        DURING decompression (a post-hoc length check would let a tiny
        bomb pin gigabytes first). Handles concatenated gzip members
        like the reference's MultiGzDecoder."""
        import zlib as _zl
        chunks, total, data = [], 0, raw
        while data:
            d = _zl.decompressobj(wbits=wbits)
            while True:
                piece = d.decompress(data, 1 << 20)
                chunks.append(piece)
                total += len(piece)
                if total > cls._MAX_BODY:
                    raise _ApiError(
                        413, "decompressed body too large",
                        es_type="request_entity_too_large")
                data = d.unconsumed_tail
                if d.eof or not data:
                    break
            if not d.eof:  # truncated stream
                raise _zl.error("incomplete compressed body")
            data = d.unused_data  # next gzip member, if any
        return b"".join(chunks)

    @staticmethod
    def _json_body(raw: bytes) -> dict:
        if not raw:
            return {}
        try:
            doc = json.loads(raw)
        except json.JSONDecodeError as e:
            raise _ApiError(400, f"invalid JSON body: {e}",
                            es_type="parsing_exception") from e
        if not isinstance(doc, dict):
            raise _ApiError(400, "body must be a JSON object",
                            es_type="parsing_exception")
        return doc

    @staticmethod
    def _ndjson(raw: bytes) -> list[dict]:
        lines = []
        for i, ln in enumerate(raw.decode().splitlines()):
            if not ln.strip():
                continue
            try:
                lines.append(json.loads(ln))
            except json.JSONDecodeError as e:
                raise _ApiError(400, f"invalid NDJSON line {i}: {e}",
                                es_type="parsing_exception") from e
        return lines

    # -- routing -----------------------------------------------------------

    def _route(self, method: str, path: str, params: dict,
               raw: bytes, ctype: str = "") -> tuple[int, object]:
        if path.startswith(_ES_PREFIX):
            return self._route_es(method, path[len(_ES_PREFIX):] or "/",
                                  params, raw)
        seg = [unquote(s) for s in path.strip("/").split("/")]
        # health probes (health_check_api): not under /api/v1
        if seg[0] == "health" and len(seg) == 2 and method == "GET" \
                and seg[1] in ("livez", "readyz"):
            return 200, True
        # Prometheus exposition (metrics_api.rs GET /metrics)
        if seg == ["metrics"] and method == "GET":
            return 200, _RawBody(self.metrics.render().encode(),
                                 "text/plain; version=0.0.4")
        if seg[:2] != ["api", "v1"]:
            raise _ApiError(404, f"no route for {method} {path}",
                            es_type="invalid_route_exception")
        sub = seg[2:]
        # native search: /api/v1/{index}/search
        if (len(sub) == 2 and sub[1] == "search"
                and sub[0] not in RESERVED_INDEX_IDS
                and method in ("GET", "POST")):
            merged = dict(params)
            merged.update(self._json_body(raw))
            ts_field, dflt_fields = self._search_settings(sub[0])
            return 200, rest.native_search(
                self._searcher(sub[0]), merged,
                timestamp_field=ts_field,
                default_search_fields=dflt_fields)
        # search plan without execution: /api/v1/{index}/search-plan
        # (search_api/rest_handler.rs:312-330 — same params as search)
        if (len(sub) == 2 and sub[1] == "search-plan"
                and sub[0] not in RESERVED_INDEX_IDS
                and method in ("GET", "POST")):
            merged = dict(params)
            merged.update(self._json_body(raw))
            if "query" not in merged:
                raise _ApiError(400, "search-plan needs a `query`")
            return 200, self._searcher(sub[0]).explain(merged["query"])
        # native ingest: /api/v1/{index}/ingest  (NDJSON doc per line;
        # `commit` param accepted and ignored — publish is synchronous)
        if (len(sub) == 2 and sub[1] == "ingest"
                and sub[0] not in RESERVED_INDEX_IDS
                and method == "POST"):
            self._require_writable()
            self._check_index(sub[0])
            # auto-create from the best matching template when the
            # index does not exist yet (the reference's
            # auto-create-on-ingest flow, IndexTemplate::apply_template)
            from ..index.manifest import Manifest
            d = os.path.join(self.root_dir, sub[0])
            if not os.path.isfile(Manifest.path(d)):
                mgmt_api.apply_template(self.root_dir, sub[0])
            cfg = self._config(sub[0])
            # per-doc RECEIVED byte sizes (the `_doc_length` fast field
            # when store_document_size is on)
            sizes = [len(ln) for ln in raw.split(b"\n") if ln.strip()]
            resp = mgmt_api.ingest_ndjson(cfg, self._ndjson(raw),
                                          sizes=sizes)
            self._reload_searcher(sub[0])
            return 200, resp
        # node endpoints (node_info_handler.rs /api/v1/version,
        # health_check_api, cluster_api — single-node snapshot)
        if sub == ["version"] and method == "GET":
            return 200, {"build": {"version": "quickwit-spark-r5",
                                   "commit_hash": "",
                                   "build_target": "pyspark"},
                         "runtime": {"num_threads_blocking": 0,
                                     "num_threads_non_blocking": 0}}
        if sub == ["cluster"] and method == "GET":
            return 200, {"cluster_id": "quickwit-spark",
                         "self_node_id": "node-1",
                         "ready_members": [{"node_id": "node-1",
                                            "enabled_services":
                                            ["searcher", "indexer",
                                             "metastore", "janitor"]}],
                         "live_members": ["node-1"],
                         "indexes": self._list_indices()}
        # index templates (template_api/rest_handler.rs)
        if sub[:1] == ["templates"]:
            return self._route_templates(method, sub[1:], params, raw)
        # OTLP ingestion: /api/v1/otlp/v1/{logs|traces} and the
        # index-scoped /api/v1/{index}/otlp/v1/{...}
        # (otlp_api/rest_handler.rs; body is the OTLP/HTTP protobuf or
        # JSON encoding, response mirrors the request encoding — an
        # empty Export*ServiceResponse means full success)
        if (method == "POST" and len(sub) >= 3
                and sub[-3:-1] == ["otlp", "v1"]
                and sub[-1] in ("logs", "traces")
                and len(sub) in (3, 4)):
            self._require_writable()
            index_id = sub[0] if len(sub) == 4 else None
            if index_id is not None:
                self._check_index(index_id)
            from ..pipeline.otlp_ingest import ingest_otlp
            try:
                res = ingest_otlp(self.root_dir, sub[-1], raw,
                                  content_type=ctype,
                                  index_id=index_id)
            except (ValueError, KeyError) as e:
                raise _ApiError(400, f"invalid OTLP payload: {e}",
                                es_type="parsing_exception") from e
            self._reload_searcher(res["index_id"])
            ct = (ctype or "").split(";")[0].strip().lower()
            if ct == "application/json":
                return 200, {}  # empty response object = full success
            return 200, _RawBody(b"", "application/x-protobuf")
        # Jaeger query API: /api/v1/{index}/jaeger/api/...
        # (jaeger_api/rest_handler.rs; read-only)
        if (method == "GET" and len(sub) >= 4
                and sub[1] == "jaeger" and sub[2] == "api"):
            from . import jaeger_http as J
            d = mgmt_api.require_index(self.root_dir, sub[0])
            rest_ = sub[3:]
            if rest_ == ["services"]:
                return 200, J.jaeger_services(d)
            if len(rest_) == 3 and rest_[0] == "services" \
                    and rest_[2] == "operations":
                return 200, J.jaeger_operations(d, rest_[1])
            if rest_ == ["traces"]:
                def _us(name):
                    v = params.get(name)
                    return None if v in (None, "") else int(v)
                return 200, J.jaeger_find_traces(
                    d, service=params.get("service") or None,
                    operation=params.get("operation") or None,
                    start_us=_us("start"), end_us=_us("end"),
                    limit=int(params.get("limit", 20)),
                    min_duration=params.get("minDuration") or None,
                    max_duration=params.get("maxDuration") or None)
            if len(rest_) == 2 and rest_[0] == "traces":
                resp = J.jaeger_get_trace(d, rest_[1])
                return (404 if resp["errors"] else 200), resp
        # delete tasks: /api/v1/{index}/delete-tasks[/execute]
        # (delete_task_api/handler.rs; /execute is this engine's
        # explicit janitor trigger — the reference runs it as a
        # background actor)
        if (len(sub) == 2 and sub[1] == "delete-tasks"
                and sub[0] != "indexes"):
            d = mgmt_api.require_index(self.root_dir, sub[0])
            if method == "GET":
                return 200, mgmt_api.list_delete_tasks(d)
            if method == "POST":
                self._require_writable()
                body = self._json_body(raw)
                if "query" not in body:
                    raise _ApiError(400, "delete task needs a `query`")
                fields = _fields_param(body)
                return 200, mgmt_api.create_delete_task(
                    d, body["query"], search_fields=fields,
                    start_timestamp=body.get("start_timestamp"),
                    end_timestamp=body.get("end_timestamp"))
        if (len(sub) == 3 and sub[1:] == ["delete-tasks", "execute"]
                and sub[0] != "indexes" and method == "PUT"):
            self._require_writable()
            d = mgmt_api.require_index(self.root_dir, sub[0])
            resp = mgmt_api.execute_delete_tasks(d)
            self._drop_searcher(sub[0])  # segment ids rotated
            return 200, resp
        if sub[:1] == ["indexes"]:
            return self._route_mgmt(method, sub[1:], params, raw)
        if sub == ["analyze"] and method == "POST":
            body = self._json_body(raw)
            if "text" not in body:
                raise _ApiError(400, "analyze needs a `text` field")
            return 200, mgmt_api.analyze(
                body["text"],
                tokenizer=body.get("tokenizer", body.get("type",
                                                         "default")))
        if sub in (["parse-query"], ["parse_query"]) and method == "POST":
            body = self._json_body(raw)
            if "query" not in body:
                raise _ApiError(400, "parse-query needs a `query` field")
            return 200, mgmt_api.parse_query_to_json(
                body["query"], search_fields=_fields_param(body))
        raise _ApiError(404, f"no route for {method} {path}",
                        es_type="invalid_route_exception")

    def _route_templates(self, method: str, sub: list[str],
                         params: dict, raw: bytes
                         ) -> tuple[int, object]:
        """/api/v1/templates CRUD (template_api/rest_handler.rs:
        POST /templates, GET /templates, GET/PUT/DELETE
        /templates/{id}). Templates drive index auto-creation on
        ingest to a matching, not-yet-existing index id."""
        if not sub:
            if method == "GET":
                return 200, mgmt_api.list_templates(self.root_dir)
            if method == "POST":
                self._require_writable()
                return 200, mgmt_api.create_template(
                    self.root_dir, self._json_body(raw))
        elif len(sub) == 1:
            if method == "GET":
                return 200, mgmt_api.get_template(self.root_dir,
                                                  sub[0])
            if method == "PUT":
                self._require_writable()
                body = self._json_body(raw)
                if body.get("template_id") not in (None, sub[0]):
                    raise _ApiError(400, "`template_id` in body does "
                                         "not match the path")
                body["template_id"] = sub[0]
                return 200, mgmt_api.create_template(
                    self.root_dir, body, overwrite=True)
            if method == "DELETE":
                self._require_writable()
                mgmt_api.delete_template(self.root_dir, sub[0])
                return 200, None
        raise _ApiError(
            404, f"no route for {method} /templates/{'/'.join(sub)}",
            es_type="invalid_route_exception")

    # -- index management (mgmt_api façade) ---------------------------------

    def _require_writable(self) -> None:
        if not self.writable:
            raise _ApiError(
                403, "read-only API (start the server with "
                     "writable=True)",
                es_type="cluster_block_exception")

    def _reload_searcher(self, index: str) -> None:
        with self._lock:
            s = self._searchers.get(index)
        if s is not None:
            s.reload()

    def _drop_searcher(self, index: str) -> None:
        with self._lock:
            self._searchers.pop(index, None)

    _spark_session = None

    def _union_searcher(self, pattern: str):
        from .multi import UnionSearcher, resolve_es_index_patterns
        try:
            names = resolve_es_index_patterns(
                self.root_dir, pattern, self._list_indices())
        except KeyError as e:
            raise _ApiError(
                404, f"no such index [{e.args[0]}]",
                es_type="index_not_found_exception") from None
        return UnionSearcher(
            [os.path.join(self.root_dir, n) for n in names],
            scroll_store=self._union_scrolls)

    def _attach_spark(self, searcher) -> None:
        """Aggregations execute as Spark plans (partial/final agg is
        THE scale path); a serving process lazily owns one local
        session for them — like the reference's searcher owning its
        execution runtime. First agg request pays the JVM start."""
        if getattr(searcher, "spark", None) is not None:
            return
        if SearchHttpServer._spark_session is None:
            from pyspark.sql import SparkSession
            master = os.environ.get("QW_SPARK_SERVE_MASTER",
                                    "local[2]")
            SearchHttpServer._spark_session = (
                SparkSession.builder.master(master)
                .appName("quickwit-spark-serve")
                .config("spark.sql.shuffle.partitions", "4")
                .config("spark.ui.enabled", "false")
                .getOrCreate())
        searcher.spark = SearchHttpServer._spark_session

    def _search_settings(self, index: str
                         ) -> tuple[str | None, list[str] | None]:
        """(timestamp_field, default_search_fields) from the persisted
        index config (None/None when the index predates the mgmt API)."""
        path = os.path.join(self.root_dir, index,
                            mgmt_api._CONFIG_FILE)
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            return None, None
        ts = (doc.get("doc_mapping") or {}).get("timestamp_field")
        fields = ((doc.get("search_settings") or {})
                  .get("default_search_fields")) or None
        return ts, fields

    def _config(self, index: str):
        """Resolve the full IndexConfig for a mutation: the registered
        map first, then the index's persisted index_config.json."""
        self._check_index(index)
        cfg = self.configs.get(index)
        if cfg is None:
            d = os.path.join(self.root_dir, index)
            if os.path.isdir(d):
                cfg = mgmt_api.load_index_config(d)
        if cfg is None:
            raise _ApiError(
                403, f"no IndexConfig available for [{index}] "
                     "(register one, or create the index through the "
                     "API so its config is persisted)",
                es_type="cluster_block_exception")
        return cfg

    @staticmethod
    def _flag(params: dict, name: str) -> bool:
        return str(params.get(name, "")).lower() in ("1", "true", "yes")

    def _route_mgmt(self, method: str, sub: list[str], params: dict,
                    raw: bytes) -> tuple[int, object]:
        """Routes under /api/v1/indexes (index_resource.rs,
        split_resource.rs, source_resource.rs)."""
        if not sub:
            if method == "GET":
                pats = [p for p in
                        params.get("index_id_patterns", "").split(",")
                        if p] or None
                return 200, mgmt_api.list_indexes_metadata(
                    self.root_dir, patterns=pats)
            if method == "POST":
                self._require_writable()
                meta = mgmt_api.create_index(
                    self.root_dir, self._json_body(raw),
                    overwrite=self._flag(params, "overwrite"))
                self._drop_searcher(meta["index_uid"])
                return 200, meta
        elif len(sub) == 1:
            index = sub[0]
            if method == "GET":
                d = mgmt_api.require_index(self.root_dir, index)
                return 200, mgmt_api.index_metadata(d)
            if method == "PUT":
                self._require_writable()
                meta = mgmt_api.update_index_config(
                    self.root_dir, index, self._json_body(raw),
                    create=self._flag(params, "create"))
                self._drop_searcher(index)
                return 200, meta
            if method == "DELETE":
                self._require_writable()
                d = mgmt_api.require_index(self.root_dir, index)
                entries = mgmt_api.delete_index(
                    d, dry_run=self._flag(params, "dry_run"))
                if not self._flag(params, "dry_run"):
                    self._drop_searcher(index)
                return 200, entries
        elif len(sub) == 2:
            index, verb = sub
            d = mgmt_api.require_index(self.root_dir, index)
            if verb == "describe" and method == "GET":
                return 200, mgmt_api.describe_index(d)
            if verb == "clear" and method == "PUT":
                self._require_writable()
                mgmt_api.clear_index(d)
                self._drop_searcher(index)
                return 200, None
            if verb == "splits" and method == "GET":
                states = [s for s in
                          params.get("split_states", "").split(",") if s]
                def _int(name):
                    v = params.get(name)
                    return None if v is None else int(v)
                return 200, mgmt_api.list_splits(
                    d, offset=_int("offset"), limit=_int("limit"),
                    split_states=states or None,
                    start_timestamp=_int("start_timestamp"),
                    end_timestamp=_int("end_timestamp"),
                    end_create_timestamp=_int("end_create_timestamp"))
        elif len(sub) == 3 and sub[1] == "splits" \
                and sub[2] == "mark-for-deletion" and method == "PUT":
            self._require_writable()
            d = mgmt_api.require_index(self.root_dir, sub[0])
            body = self._json_body(raw)
            mgmt_api.mark_splits_for_deletion(d, body.get("split_ids"))
            self._reload_searcher(sub[0])
            return 200, None
        elif len(sub) == 4 and sub[1] == "sources" \
                and sub[3] == "reset-checkpoint" and method == "PUT":
            self._require_writable()
            d = mgmt_api.require_index(self.root_dir, sub[0])
            removed = mgmt_api.reset_source_checkpoint(d, sub[2])
            return 200, {"removed_checkpoints": removed}
        raise _ApiError(
            404, f"no route for {method} /indexes/{'/'.join(sub)}",
            es_type="invalid_route_exception")

    def _route_es(self, method: str, sub: str, params: dict,
                  raw: bytes) -> tuple[int, object]:
        seg = [unquote(s) for s in sub.strip("/").split("/") if s]

        if not seg and method == "GET":
            # ES-compat cluster info (rest_handler.rs
            # es_compat_cluster_info_handler:71-90): name/cluster_name
            # + a version block ES clients sniff for
            return 200, {
                "name": "quickwit-spark",
                "cluster_name": "quickwit-spark",
                "version": {"distribution": "quickwit",
                            "number": "quickwit-spark-r5",
                            "build_hash": "0",
                            "build_date": "2026-08-21"}}
        if seg == ["_search", "scroll"]:
            body = self._json_body(raw)
            sid = body.get("scroll_id", params.get("scroll_id", ""))
            # scroll contexts are per-searcher; es_clear_scroll reports
            # a truthful num_freed, so clearing sums across indexes and
            # (like ES) an unknown id succeeds with num_freed 0
            if method == "DELETE":
                freed = sum(
                    es_dsl.es_clear_scroll(s, sid)["num_freed"]
                    for s in list(self._searchers.values()))
                freed += 1 if self._union_scrolls.pop(sid, None) \
                    is not None else 0
                return 200, {"succeeded": True, "num_freed": freed}
            uctx = self._union_scrolls.get(sid)
            if uctx is not None:
                from .multi import UnionSearcher
                u = UnionSearcher(uctx["dirs"],
                                  scroll_store=self._union_scrolls)
                return 200, es_dsl.es_scroll(u, sid)
            resp = None
            for s in list(self._searchers.values()):
                resp = es_dsl.es_scroll(s, sid)
                if resp.get("status") != 404:
                    return 200, resp
            if resp is None:
                resp = {"error":
                        {"type": "search_context_missing_exception",
                         "reason": f"No search context found for id "
                                   f"[{sid}]"},
                        "status": 404}
            return 404, resp
        if seg == ["_msearch"]:
            # global _msearch: each NDJSON header names its index
            # ({"index": "..."}); bodies dispatch to that index's
            # searcher, responses keep request order (rest_handler.rs
            # es_compat_multi_search)
            lines = self._ndjson(raw)
            if len(lines) % 2:
                raise _ApiError(400, "_msearch expects alternating "
                                     "header/body lines")
            responses = []
            for hdr, body in zip(lines[0::2], lines[1::2]):
                index = hdr.get("index")
                if not isinstance(index, str):
                    raise _ApiError(400, "global _msearch headers must "
                                         "name an index")
                responses.append(es_dsl.es_search(
                    self._searcher(index), body,
                    extra_filters=params.get("extra_filters"),
                    source_includes=params.get("_source_includes"),
                    source_excludes=params.get("_source_excludes")))
            return 200, {"responses": responses}
        if seg == ["_bulk"] and method in ("POST", "PUT"):
            # global bulk: every action line names its index via
            # `_index` (rest_handler.rs es_compat_bulk). Lines are
            # grouped per index, one exactly-once segment publish per
            # index; items come back in request order. A missing index
            # auto-creates from a matching template; without one its
            # items 404 while the other groups still publish.
            if not self.writable:
                raise _ApiError(
                    403, "read-only API (start the server with "
                         "writable=True)",
                    es_type="cluster_block_exception")
            lines = self._ndjson(raw)
            groups: dict[str, list] = {}
            order: list[tuple[str, int]] = []
            for i in range(0, len(lines), 2):
                action = lines[i]
                lineno = i // 2 + 1
                # validate the ACTION before complaining about a
                # missing doc line: a lone malformed action must
                # report the malformed line, like ES's streaming
                # parser (es_compatibility/bulk/0002)
                kind = ({"index", "create"} & set(action)) \
                    if isinstance(action, dict) else set()
                if not kind:
                    raise _ApiError(
                        400,
                        f"Malformed action/metadata line [{lineno}], "
                        f"expected START_OBJECT or END_OBJECT but "
                        f"found [{list(action) if isinstance(action, dict) else action}]")
                if i + 1 >= len(lines):
                    raise _ApiError(
                        400,
                        f"Validation Failed: {lineno}: document "
                        "line is missing;",
                        es_type="action_request_validation_exception")
                meta = action[next(iter(kind))]
                target = meta.get("_index") \
                    if isinstance(meta, dict) else None
                if not isinstance(target, str):
                    raise _ApiError(
                        400,
                        f"Validation Failed: {lineno}: index is "
                        "missing;",
                        es_type="action_request_validation_exception")
                g = groups.setdefault(target, [])
                order.append((target, len(g) // 2))
                g.extend([action, lines[i + 1]])
            t0 = __import__("time").perf_counter()
            per_index: dict[str, list] = {}
            errors = False
            for target, glines in groups.items():
                n_items = len(glines) // 2
                kinds = ["create" if "create" in a else "index"
                         for a in glines[0::2]]
                try:
                    mgmt_api.require_index(self.root_dir, target)
                    cfg = self._config(target)
                except mgmt_api.IndexNotFound:
                    created = None
                    try:
                        created = mgmt_api.apply_template(
                            self.root_dir, target)
                    except mgmt_api.MgmtError as e:
                        errors = True
                        per_index[target] = [
                            {k: {"_index": target, "status": 400,
                                 "error": {"type":
                                           "illegal_argument_"
                                           "exception",
                                           "reason": str(e)}}}
                            for k in kinds]
                        continue
                    if created is None:
                        errors = True
                        per_index[target] = [
                            {k: {"_index": target, "status": 404,
                                 "error": {
                                     "index": target,
                                     "type": "index_not_found_"
                                             "exception",
                                     "reason": f"no such index "
                                               f"[{target}]"}}}
                            for k in kinds]
                        continue
                    cfg = self._config(target)
                except mgmt_api.MgmtError as e:
                    # illegal index name etc.
                    errors = True
                    per_index[target] = [
                        {k: {"_index": target, "status": 400,
                             "error": {"type":
                                       "illegal_argument_exception",
                                       "reason": str(e)}}}
                        for k in kinds]
                    continue
                resp = es_dsl.es_bulk(cfg, glines)
                errors = errors or resp.get("errors", False)
                assert len(resp["items"]) == n_items
                per_index[target] = resp["items"]
                self._reload_searcher(target)
            items = [per_index[t][j] for t, j in order]
            return 200, {
                "took": int((__import__("time").perf_counter() - t0)
                            * 1000),
                "errors": errors, "items": items}
        if len(seg) == 1 and method == "DELETE" \
                and not seg[0].startswith("_"):
            # ES delete-index: comma list; a missing concrete name
            # 404s unless ignore_unavailable (es_compatibility/0024)
            if not self.writable:
                raise _ApiError(
                    403, "read-only API (start the server with "
                         "writable=True)",
                    es_type="cluster_block_exception")
            names = [n for n in seg[0].split(",") if n]
            existing = set(self._list_indices())
            ignore = self._flag(params, "ignore_unavailable")
            missing = [n for n in names if n not in existing]
            if missing and not ignore:
                raise _ApiError(
                    404, f"no such index [{missing[0]}]",
                    es_type="index_not_found_exception")
            for n in names:
                if n in existing:
                    d = mgmt_api.require_index(self.root_dir, n)
                    mgmt_api.delete_index(d)
                    self._drop_searcher(n)
            return 200, {"acknowledged": True}
        if seg == ["_stats"] and method == "GET":
            return 200, es_dsl.es_stats_multi(
                [self._searcher(n) for n in self._list_indices()])
        if seg[:2] == ["_cat", "indices"] and len(seg) <= 3:
            # optional {index-or-pattern} third segment; `h=` column
            # selection is a display hint (full rows are supersets).
            # JSON output only, like the reference — and unsupported
            # display params 400 (rest-api-tests 0021 steps 7-9)
            if params.get("format") != "json":
                raise _ApiError(
                    400, "only `format=json` is supported for _cat")
            bad = [k for k in params
                   if k not in ("format", "h", "health", "s")]
            if bad:
                raise _ApiError(
                    400, f"unsupported _cat parameter(s) {bad}")
            import fnmatch as _fn
            pats = [p for p in (seg[2].split(",") if len(seg) == 3
                                else ["*"]) if p]
            names = [n for n in self._list_indices()
                     if any(_fn.fnmatch(n, p) for p in pats)]
            rows = [row for name in sorted(names)
                    for row in es_dsl.es_cat_indices(
                        self._searcher(name))]
            if "health" in params:
                rows = [r for r in rows
                        if r.get("health") == params["health"]]
            return 200, rows
        if seg == ["_cluster", "health"]:
            return 200, es_dsl.es_cluster_health()
        if len(seg) == 3 and seg[:2] == ["_resolve", "index"]:
            return 200, es_dsl.es_resolve_index(self.root_dir, seg[2])

        if seg == ["_field_caps"] or (len(seg) == 2
                                      and seg[1] == "_field_caps"):
            # index wildcards and the global route (the reference's
            # es_compat field-caps handler accepts index patterns)
            import fnmatch
            pattern = seg[0] if len(seg) == 2 else "*"
            pats = [p for p in pattern.split(",") if p]
            existing = set(self._list_indices())
            # ES semantics: a CONCRETE missing name is an error, an
            # unmatched wildcard pattern is silently empty
            for p in pats:
                if "*" not in p and "?" not in p and p not in existing:
                    raise _ApiError(
                        404, f"index `{p}` does not exist",
                        es_type="index_not_found_exception")
            names = sorted(n for n in existing
                           if any(fnmatch.fnmatch(n, p)
                                  for p in pats))
            if not names:
                # every pattern was a wildcard with no match: an empty
                # 200, like ES
                return 200, {"indices": [], "fields": {}}
            fields = params.get("fields")
            start_ts = params.get("start_timestamp")
            end_ts = params.get("end_timestamp")
            if len(names) == 1:
                ts_f, _d = self._search_settings(names[0])
                return 200, es_dsl.es_field_caps(
                    self._searcher(names[0]), fields=fields,
                    start_timestamp=start_ts, end_timestamp=end_ts,
                    timestamp_field=ts_f)
            triples = [(n, self._searcher(n),
                        self._search_settings(n)[0]) for n in names]
            return 200, es_dsl.es_field_caps_multi(
                triples, fields=fields, start_timestamp=start_ts,
                end_timestamp=end_ts)
        if len(seg) == 2:
            index, verb = seg
            if any(c in index for c in ",*?") and verb == "_stats":
                import fnmatch as _fn
                names = sorted(
                    n for n in self._list_indices()
                    if any(_fn.fnmatch(n, p)
                           for p in index.split(",") if p))
                return 200, es_dsl.es_stats_multi(
                    [self._searcher(n) for n in names])
            if any(c in index for c in ",*?") and verb in (
                    "_search", "_count", "_msearch"):
                # index PATTERNS (globs / comma lists / -exclusions):
                # a UnionSearcher fans out and merges (root.rs index
                # pattern resolution)
                s = self._union_searcher(index)
            else:
                s = self._searcher(index)
            body = (None if verb in ("_msearch", "_bulk")
                    else self._json_body(raw))  # those two are NDJSON
            if verb == "_search":
                # ES URI-search params override the body (the
                # reference's SearchQueryParams: `q` replaces the body
                # query entirely, es_compatibility/0002)
                if any(k in params for k in ("q", "size", "from",
                                             "sort")):
                    body = dict(body or {})
                    if "q" in params:
                        body["query"] = {"query_string":
                                         {"query": params["q"]}}
                    if "size" in params:
                        body["size"] = int(params["size"])
                    if "from" in params:
                        body["from"] = int(params["from"])
                    if "sort" in params:
                        # "field:desc,other:asc" comma form
                        entries = []
                        for part in str(params["sort"]).split(","):
                            part = part.strip()
                            if not part:
                                continue
                            if ":" in part:
                                f, d = part.rsplit(":", 1)
                                entries.append({f: {"order": d}})
                            else:
                                entries.append(part)
                        body["sort"] = entries
                if isinstance(body, dict) and (
                        body.get("aggs") or body.get("aggregations")):
                    self._attach_spark(s)
                if "scroll" in params:
                    if str(params.get("allow_partial_search_results",
                                      "true")).lower() == "false":
                        raise _ApiError(
                            400,
                            "Invalid argument: Quickwit only supports "
                            "scroll API with "
                            "allow_partial_search_results set to true")
                    if es_dsl._parse_es_ttl(params["scroll"]) > 1800:
                        raise _ApiError(
                            400,
                            "Invalid argument: Quickwit only supports "
                            "scroll TTL period up to 1800 secs")
                    if isinstance(body, dict) and body.get("sort") \
                            and not hasattr(s, "_scroll_store"):
                        # sorted scroll: page-based union contexts
                        # (a union of one index scrolls identically)
                        from .multi import UnionSearcher
                        u = UnionSearcher(
                            [os.path.join(self.root_dir, index)],
                            scroll_store=self._union_scrolls)
                        u.spark = getattr(s, "spark", None)
                        s = u
                    return 200, es_dsl.es_scroll_search(
                        s, body, scroll=params["scroll"])
                extra = params.get("extra_filters")
                return 200, es_dsl.es_search(
                    s, body, extra_filters=extra,
                    source_includes=params.get("_source_includes"),
                    source_excludes=params.get("_source_excludes"))
            if verb == "_msearch":
                return 200, es_dsl.es_msearch(s, self._ndjson(raw))
            if verb == "_count":
                if "q" in params:
                    body = dict(body or {})
                    body["query"] = {"query_string":
                                     {"query": params["q"]}}
                return 200, es_dsl.es_count(s, body)
            if verb == "_mapping":
                return 200, es_dsl.es_get_mapping(s)
            if verb == "_stats":
                return 200, es_dsl.es_stats(s)
            if verb == "_delete_by_query":
                if not self.writable:
                    raise _ApiError(
                        403, "read-only API (start the server with "
                             "writable=True)",
                        es_type="cluster_block_exception")
                resp = es_dsl.es_delete_by_query(s, body)
                return 200, resp
            if verb == "_bulk":
                if not self.writable:
                    raise _ApiError(
                        403, "read-only API (start the server with "
                             "writable=True)",
                        es_type="cluster_block_exception")
                resp = es_dsl.es_bulk(self._config(index),
                                      self._ndjson(raw))
                s.reload()
                return 200, resp
        raise _ApiError(404, f"no ES route for {method} /{'/'.join(seg)}",
                        es_type="invalid_route_exception")

    def _list_indices(self) -> list[str]:
        try:
            names = sorted(os.listdir(self.root_dir))
        except OSError:
            return []
        return [n for n in names
                if os.path.isfile(os.path.join(self.root_dir, n,
                                               "manifest.json"))]
