"""One benchmark run: set-up, then ROUNDS rounds of build/merge, search and
ingest, the output checks, and the metrics (end-to-end, or per-layer when
traced).

The phases are interleaved in rounds rather than run back to back because
the shared host has slow spells lasting tens of seconds: interleaved, a
spell slows a third of every metric's samples instead of all of one
metric's, and the per-run medians stay steadier.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

from . import build, checks, load, streams
from .spans import END, NAME, REQUEST, START, SpanRecorder, layer_totals
from .stats import Ledger, host_sentinel, min_samples_for, percentile

ROUNDS = 3
# --seconds is split between search and ingest, evenly across rounds;
# each round also makes one timed build and merge (medians reported).
# A round searches in SEARCH_SLICES slices, one after the build and one
# after the ingest, so its samples span the round's slow and fast spells.
SEARCH_SHARE, INGEST_SHARE = 0.7, 0.3
SEARCH_SLICES = 2
SERVER_LAUNCHES = 3
# One closed-loop client: the server runs searches under one interpreter
# lock, so a second client adds no throughput, and the overlap of two
# requests of unequal cost made the median swing ~1.5x more run to run
SEARCH_CLIENTS = 1
# 4 batches/s of 500 docs: well under what one server ingests, so the
# ack latency measures the write path, not a growing backlog
INGEST_INTERVAL_S = 0.25
INGEST_SENDERS = 2
# Ingest throughput comes from a closed-loop burst after each paced stream:
# INGEST_SENDERS senders each post their next batch as soon as the last
# one was acknowledged, so the program, not the schedule, sets the rate
INGEST_BURST_BATCHES = 6
# Zipf stream only: untimed requests that fill the leaf cache before the
# first round. The hit ratio climbs from ~0.2 to its steady ~0.6 over the
# first ~200 requests; without the warm-up it, and the latency, would
# depend on how many requests a run gets through
CACHE_WARMUP = 150
CHECK_EVERY = 16          # every 16th search response is re-checked
MAX_CHECKED = 48
STREAM_LEN = 20_000
# The searched index never changes; ingest and its reader go to a copy of
# the merged layout, so writes churn a live index without changing what
# the search rounds measure.
SEARCH_INDEX, INGEST_INDEX = "idx", "ing"
# p90: a 32-segment search takes ~100 ms on a 4-core host, so a run
# holds about a hundred requests — p95 would rest on fewer than ten
TAIL_PCT = 90
TAIL_SAMPLES = min_samples_for(TAIL_PCT)
COVERAGE_TOLERANCE = 0.10
# Spans whose self time names no layer: the HTTP server's per-request
# thread and handler around the REST call, and build_partition's glue
# (sort, chunking) around tokenize, segment build and write. Coverage
# counts only the named layers; these are reported as unattributed.
CATCH_ALL = {"search": ("http.connection", "http.dispatch"),
             "ingest": ("http.connection", "http.dispatch"),
             "build": ("builder.partition",), "merge": ()}
REPLAYS = 3


def _ms(seconds: float) -> float:
    return seconds * 1e3


class Run:
    def __init__(self, name: str, workload: dict, seed: int,
                 seconds: float, trace: bool, work: str):
        self.name, self.workload, self.seed = name, workload, seed
        self.seconds, self.trace, self.work = seconds, trace, work
        self.nproc = len(os.sched_getaffinity(0))
        self.ledger = Ledger()
        self.detail: dict = {"workload": name, "seed": seed,
                             "trace": int(trace), "nproc": self.nproc,
                             "phase_end_s": {}}
        self.layers: dict = {}
        self.serve_root = os.path.join(work, "serve")
        self._t0 = time.perf_counter()
        # samples pooled over the rounds
        self.builds: list[float] = []
        self.merges: list[float] = []
        self.searches: list = []
        self.search_wall = 0.0
        self.counted_requests = 0
        self.slice_p50_ms: list[float] = []
        self.reads: list = []
        self.ingests: list = []     # paced stream
        self.bursts: list = []      # closed-loop bursts
        self.burst_walls: list[float] = []
        self.acked: dict[int, list[str]] = {}
        self.counter_deltas = {"hits": 0, "misses": 0, "blocks_decoded": 0,
                               "blocks_total": 0}
        if workload["queries"] == "unique":
            self.search_stream = streams.unique_queries(seed, "search",
                                                        STREAM_LEN)
        else:
            self.search_stream = streams.zipf_queries(seed, STREAM_LEN)
        self.reader_stream = streams.unique_queries(seed, "reader",
                                                    STREAM_LEN)
        self.batches_per_round = max(1, round(
            INGEST_SHARE * seconds / ROUNDS / INGEST_INTERVAL_S))
        self.search_start = 0

    def _mark(self, phase: str) -> None:
        self.detail["phase_end_s"][phase] = round(
            time.perf_counter() - self._t0, 2)

    def _dir(self, name: str) -> str:
        return os.path.join(self.work, name)

    # -- run ------------------------------------------------------------------

    def execute(self) -> dict:
        self.detail["host_before"] = host_sentinel()
        src_path = self.make_inputs()
        self._mark("inputs")
        t0 = time.perf_counter()
        spark = build.start_spark(self.work, self.nproc)
        try:
            routed = build.routed_source(spark, src_path, self.nproc)
            self.warm_build(spark, routed)
            spark_setup = time.perf_counter() - t0
            self._mark("spark_setup")
            self.check_build()
            launches, server = self.launch_server()
            self._mark("server_setup")
            warmup = self.warm_cache(server)
            try:
                for k in range(ROUNDS):
                    self.build_round(spark, routed, k)
                    self.search_slice(server)
                    self.ingest_round(server, k)
                    self.search_slice(server)
                    self._mark(f"round{k}")
                stats = server.stop()
            finally:
                server.kill()
            if self.trace:
                pids = routed.select("path", "_pid").toPandas()
            routed.unpersist()
        finally:
            build.stop_spark(spark)
        self.detail["setup"] = {"spark_s": round(spark_setup, 3),
                                "server_launch_s": [round(x, 3)
                                                    for x in launches],
                                "cache_warmup_s": round(warmup, 3)}
        self.detail["build"] = {
            "build_s": [round(x, 3) for x in self.builds],
            "merge_s": [round(x, 3) for x in self.merges],
            "index_bytes": self.index_bytes,
            "source_bytes": self.source_bytes}
        self.check_search()
        self.check_ingest()
        self.check_oracle()
        self._mark("checks")
        if self.trace:
            self.replay_layers(pids)
            self.server_layers(stats["spans"])
            self._mark("replay")
        self.detail["host_after"] = host_sentinel()
        self.detail["ledger"] = {"attempted": self.ledger.attempted,
                                 "failed": self.ledger.failed,
                                 "error_rate": self.ledger.error_rate}
        if self.trace:
            self.check_coverage()
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in sorted(self.layers.items())}
        else:
            e2e = self.end_to_end(
                spark_setup + statistics.median(launches) + warmup,
                stats["rss_mb"])
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in E2E_UNITS.items()}
        return {"correct": self.ledger.total_failed == 0,
                "attempted": self.ledger.total_attempted,
                "failed": self.ledger.total_failed,
                "metrics": metrics, "detail": self.detail}

    def make_inputs(self) -> str:
        self.source = streams.corpus(self.seed)
        self.source_bytes = int(self.source["content"].str.encode("utf-8")
                                .str.len().sum())
        src_path = self._dir("source.parquet")
        self.source.to_parquet(src_path, row_group_size=5_000)
        self.batches = streams.ingest_batches(
            self.seed,
            ROUNDS * (self.batches_per_round + INGEST_BURST_BATCHES))
        return src_path

    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        ok = [r.latency_s for r in self.searches if r.status == 200]
        acks = [r.acked - r.due for r in self.ingests if r.i in self.acked]
        b = INGEST_BURST_BATCHES
        burst_rates = [
            sum(len(self.acked.get(r.i, ())) for r in self.bursts[k * b:
                                                                 (k + 1) * b])
            / wall for k, wall in enumerate(self.burst_walls)]
        return {
            "setup_s": setup_s,
            "build_docs_per_s": (streams.CORPUS_DOCS
                                 / statistics.median(self.builds)),
            "merge_s": statistics.median(self.merges),
            "index_bytes_per_source_byte":
            self.index_bytes / self.source_bytes,
            "search_p50_ms": _ms(percentile(ok, 50)),
            "search_p90_ms": _ms(percentile(ok, TAIL_PCT)),
            "search_qps": len(ok) / self.search_wall,
            "ingest_docs_per_s": statistics.median(burst_rates),
            "ingest_ack_p50_ms": _ms(percentile(acks, 50)),
            "rss_mb": rss_mb,
        }

    # -- set-up ---------------------------------------------------------------

    def warm_build(self, spark, routed) -> None:
        """One untimed build + merge: starts every executor Python worker
        (a cold first build takes over twice as long) and yields the
        served layouts."""
        warm = self._dir("warm")
        build.spark_build(spark, routed, warm)
        self.ledger.record("build",
                           build.doc_count(warm) == streams.CORPUS_DOCS)
        self.unmerged = self._dir("unmerged")
        shutil.copytree(warm, self.unmerged)
        build.spark_merge(spark, warm)
        self.ledger.record("merge",
                           build.doc_count(warm) == streams.CORPUS_DOCS)
        self.merged = warm
        served = (self.unmerged if self.workload["serve"] == "unmerged"
                  else self.merged)
        shutil.copytree(served, os.path.join(self.serve_root, SEARCH_INDEX))
        shutil.copytree(self.merged,
                        os.path.join(self.serve_root, INGEST_INDEX))

    def launch_server(self):
        """Launch the server SERVER_LAUNCHES times, each until it answered
        a first search; keep the last one running."""
        ready_q = streams.unique_queries(self.seed, "ready", 1)[0][0]
        times, server = [], None
        for i in range(SERVER_LAUNCHES):
            if server is not None:
                server.stop()
            t0 = time.perf_counter()
            server = load.Server(self.serve_root, INGEST_INDEX,
                                 build.INDEX_UID,
                                 self._dir(f"server{i}.json"),
                                 trace=self.trace)
            status, _ = load.request(server.port, "GET", load.search_path(
                SEARCH_INDEX, ready_q, True))
            times.append(time.perf_counter() - t0)
            self.ledger.record("launch", status == 200)
        return times, server

    def warm_cache(self, server) -> float:
        """Untimed requests that fill the leaf cache (Zipf stream only);
        returns their wall, which counts as set-up."""
        if self.workload["queries"] != "zipf":
            return 0.0
        results, wall = load.closed_loop(
            server.port, SEARCH_INDEX, self.search_stream, SEARCH_CLIENTS,
            0, CACHE_WARMUP, 120, tag="w")
        for r in results:
            self.ledger.record("search", r.status == 200)
        self.search_start = CACHE_WARMUP
        return wall

    # -- rounds -----------------------------------------------------------

    def build_round(self, spark, routed, k: int) -> None:
        d = self._dir(f"build{k}")
        self.builds.append(build.spark_build(spark, routed, d))
        self.ledger.record("build", build.doc_count(d) == streams.CORPUS_DOCS)
        self.merges.append(build.spark_merge(spark, d))
        self.ledger.record("merge", build.doc_count(d) == streams.CORPUS_DOCS)
        self.index_bytes = build.dir_bytes(d)
        shutil.rmtree(d)

    def _counters(self, server) -> dict:
        status, body = load.request(server.port, "GET",
                                    "/_perfbench/counters")
        if status != 200:
            raise RuntimeError(f"counter probe answered {status}")
        c = json.loads(body)
        return {**c["leaf_cache"], **c["wand"]}

    def search_slice(self, server) -> None:
        slices = ROUNDS * SEARCH_SLICES
        budget = SEARCH_SHARE * self.seconds / slices
        phase = self.seed % CHECK_EVERY
        before = self._counters(server) if self.trace else None
        results, wall = load.closed_loop(
            server.port, SEARCH_INDEX, self.search_stream, SEARCH_CLIENTS,
            budget, math.ceil(TAIL_SAMPLES / slices), 2 * budget + 10,
            start=self.search_start + len(self.searches), tag="s",
            keep_body=lambda i: i % CHECK_EVERY == phase,
            traced=(lambda i: i % 2 == 1) if self.trace
            else (lambda i: False))
        if self.trace:
            after = self._counters(server)
            for key in self.counter_deltas:
                self.counter_deltas[key] += after[key] - before[key]
            self.counted_requests += len(results)
        for r in results:
            self.ledger.record("search", r.status == 200)
        self.searches.extend(results)
        self.search_wall += wall
        self.slice_p50_ms.append(round(_ms(statistics.median(
            r.latency_s for r in results)), 2))

    def ingest_round(self, server, k: int) -> None:
        n, b = self.batches_per_round, INGEST_BURST_BATCHES
        first = k * (n + b)
        stop = threading.Event()
        reader_out: list = []
        reader = threading.Thread(target=lambda: reader_out.append(
            load.closed_loop(server.port, INGEST_INDEX, self.reader_stream,
                             1, 0, 0, self.seconds * 5 + 60,
                             start=len(self.reads), tag="r",
                             traced=lambda i: self.trace, stop=stop)))
        reader.start()
        try:
            res, _t0, _t_end = load.open_loop_ingest(
                server.port, INGEST_INDEX,
                [body for body, _ in self.batches[first:first + n]],
                INGEST_INTERVAL_S, INGEST_SENDERS, first=first)
            # every batch due at once: a closed loop of INGEST_SENDERS
            burst, t0, t_end = load.open_loop_ingest(
                server.port, INGEST_INDEX,
                [body for body, _ in self.batches[first + n:first + n + b]],
                0.0, INGEST_SENDERS, first=first + n)
        finally:
            stop.set()
            reader.join()
        reads, _wall = reader_out[0]
        for r in reads:
            self.ledger.record("search", r.status == 200)
        for r in res + burst:
            ok = r.status == 200 and r.docs == streams.INGEST_BATCH_DOCS
            self.ledger.record("ingest", ok)
            if ok:
                self.acked[r.i] = self.batches[r.i][1]
        self.reads.extend(reads)
        self.ingests.extend(res)
        self.bursts.extend(burst)
        self.burst_walls.append(t_end - t0)

    # -- checks -----------------------------------------------------------

    def check_build(self) -> None:
        wrong = checks.sha_join(self.merged, self.source, self.seed)
        if wrong:
            self.ledger.wrong("build")
        self.detail["sha_join_wrong_hits"] = wrong

    def check_search(self) -> None:
        ok = [r for r in self.searches if r.status == 200]
        sampled = [r for r in ok if r.body is not None][:MAX_CHECKED]
        wrong = checks.http_matches(
            os.path.join(self.serve_root, SEARCH_INDEX), sampled)
        if wrong:
            self.ledger.wrong("search", wrong)
        reads = [r.latency_s for r in self.reads if r.status == 200]
        self.detail["search"] = {
            "requests": len(self.searches), "ok": len(ok),
            "wall_s": round(self.search_wall, 3),
            "slice_p50_ms": self.slice_p50_ms,
            "checked": len(sampled), "wrong": wrong,
            "reader_requests": len(self.reads),
            "reader_p50_ms": round(_ms(percentile(reads, 50)), 2)
            if reads else None}

    def check_ingest(self) -> None:
        paths = [p for ps in self.acked.values() for p in ps]
        missing = checks.missing_ingested(
            os.path.join(self.serve_root, INGEST_INDEX), paths, self.seed)
        bad = sum(1 for ps in self.acked.values()
                  if any(p in missing for p in ps))
        if bad:
            self.ledger.wrong("ingest", bad)
        lags = [r.sent - r.due for r in self.ingests]
        self.detail["ingest"] = {
            "batches": len(self.ingests) + len(self.bursts),
            "acked": len(self.acked),
            "ack_ms": [round(_ms(r.acked - r.due), 1)
                       for r in self.ingests],
            "burst_wall_s": [round(x, 3) for x in self.burst_walls],
            "generator_lag_max_ms": round(_ms(max(lags)), 2),
            "missing_docs": len(missing)}

    def check_oracle(self) -> None:
        n, wrong = checks.oracle(self.work, self.seed)
        self.ledger.record("oracle", True, n)
        if wrong:
            self.ledger.wrong("oracle", wrong)

    # -- traced run -------------------------------------------------------

    def replay_layers(self, pids) -> None:
        """Replay one Spark build and its merges in this process, untraced
        and traced in turn, REPLAYS times: the build and merge splits come
        from the fastest traced replays, the walls are the fastest of each
        kind
        (single replays of a few seconds swing by more than the 10% the
        coverage check allows on a shared host)."""
        rows = self.source.merge(pids, on="path", validate="one_to_one")
        groups = [(pid, g.reset_index(drop=True))
                  for pid, g in rows.groupby("_pid", sort=True)]
        d = self._dir
        build.replay_build(groups[:1], d("replay-warm"))
        untraced = {"build": [], "merge": []}
        traced = []  # (build wall, merge wall, spans, build span count, dir)
        for rep in range(REPLAYS):
            for kind in "ut":
                shutil.copytree(self.unmerged, d(f"merge-{kind}{rep}"))
            # alternate which goes first, so warm-up favours neither
            for kind in ("ut" if rep % 2 == 0 else "tu"):
                if kind == "u":
                    untraced["build"].append(
                        build.replay_build(groups, d(f"replay-u{rep}")))
                    untraced["merge"].append(
                        build.replay_merge(d(f"merge-u{rep}")))
                    continue
                rec = SpanRecorder()
                build.install_tracing(rec)
                try:
                    tb = build.replay_build(groups, d(f"replay-t{rep}"))
                    n_build = len(rec.spans)
                    tm = build.replay_merge(d(f"merge-t{rep}"))
                finally:
                    rec.unwrap_all()
                traced.append((tb, tm, rec.finished(), n_build, rep))
        tb, _tm, spans, n_build, rep = min(traced, key=lambda t: t[0])
        b = layer_totals(spans[:n_build])
        _tb, tm, spans_m, n_build_m, rep_m = min(traced, key=lambda t: t[1])
        m = layer_totals(spans_m[n_build_m:])
        walls = {"build": (min(untraced["build"]), tb),
                 "merge": (min(untraced["merge"]), tm)}
        unmerged_ids = {s["segment_id"] for s in
                        build.Manifest.load(self.unmerged).segments()}
        new = [s["segment_id"] for s in
               build.Manifest.load(d(f"merge-t{rep_m}")).segments()
               if s["segment_id"] not in unmerged_ids]
        L = self.layers
        tok = b["tokenizers.tokenize"]
        L["tokenizers.tokenize_s"] = (tok["self_s"], "s")
        L["tokenizers.tokens"] = (tok["amount"], "count")
        L["tokenizers.mb_per_s"] = (self.source_bytes / 1e6 / tok["self_s"],
                                    "MB/s")
        L["builder.segment_s"] = (b["builder.segment"]["self_s"], "s")
        L["builder.segments"] = (b["builder.segment"]["count"], "count")
        L["builder.partition_s"] = (b["builder.partition"]["self_s"], "s")
        L["codecs.encode_s"] = (b["codecs.encode"]["self_s"], "s")
        L["builder.write_s"] = (b["builder.write"]["self_s"], "s")
        L["builder.bytes_written"] = (build.dir_bytes(os.path.join(
            d(f"replay-t{rep}"), "segments")), "bytes")
        L["builder.spark_efficiency"] = (
            walls["build"][0]
            / (self.nproc * statistics.median(self.builds)), "ratio")
        L["merge.ops"] = (m["merge.segment"]["count"], "count")
        L["merge.segment_s"] = (m["merge.segment"]["total_s"], "s")
        L["merge.bytes_rewritten"] = (sum(build.dir_bytes(os.path.join(
            d(f"merge-t{rep_m}"), "segments", sid)) for sid in new),
            "bytes")
        for phase, totals in (("build", b), ("merge", m)):
            u_wall, t_wall = walls[phase]
            L[f"trace.{phase}_overhead_s"] = (t_wall - u_wall, "s")
            self.coverage(phase, {k: v["self_s"] for k, v in totals.items()},
                          t_wall)
        self.replay_publishes = [s for s in spans[:n_build]
                                 + spans_m[n_build_m:]
                                 if s[0] == "manifest.publish"]
        self.detail["replay_wall_s"] = {
            "untraced": {k: [round(x, 3) for x in v]
                         for k, v in untraced.items()},
            "traced": [[round(t[0], 3), round(t[1], 3)] for t in traced]}

    def server_layers(self, spans: list) -> None:
        L = self.layers
        traced = {f"s{r.i}" for r in self.searches
                  if r.traced and r.status == 200}
        untraced = [r for r in self.searches
                    if not r.traced and r.status == 200]
        n = max(1, len(traced))
        s = layer_totals(spans, keep=lambda sp: sp[REQUEST] in traced)

        def per_req_ms(name: str) -> float:
            return _ms(s.get(name, {}).get("self_s", 0.0)) / n

        L["parser.parse_ms"] = (per_req_ms("parser.parse"), "ms")
        L["engine.prune_ms"] = (per_req_ms("engine.prune"), "ms")
        L["engine.segments_searched"] = (
            s.get("engine.prune", {}).get("amount", 0) / n, "count")
        L["engine.leaf_ms"] = (per_req_ms("engine.leaf")
                               + per_req_ms("engine.leaf_bound"), "ms")
        L["engine.leaf_calls"] = (
            s.get("engine.leaf", {}).get("count", 0) / n, "count")
        L["engine.root_merge_ms"] = (per_req_ms("engine.root_merge"), "ms")
        L["engine.fetch_ms"] = (per_req_ms("engine.fetch"), "ms")
        L["codecs.decode_ms"] = (per_req_ms("codecs.decode"), "ms")
        L["bm25.score_ms"] = (per_req_ms("bm25.score"), "ms")
        L["rest.search_ms"] = (per_req_ms("rest.native_search"), "ms")
        L["http.dispatch_ms"] = (per_req_ms("http.dispatch"), "ms")
        L["http.connection_ms"] = (per_req_ms("http.connection"), "ms")
        c = self.counter_deltas
        L["engine.leaf_cache_hit_ratio"] = (
            c["hits"] / max(1, c["hits"] + c["misses"]), "ratio")
        L["wand.blocks_decoded"] = (
            c["blocks_decoded"] / max(1, self.counted_requests), "count")
        L["wand.block_skip_ratio"] = (
            1 - c["blocks_decoded"] / c["blocks_total"]
            if c["blocks_total"] else 0.0, "ratio")
        L["http.server_ms"] = (statistics.mean(
            r.server_us / 1e3 for r in untraced), "ms")
        L["http.overhead_ms"] = (statistics.mean(
            _ms(r.latency_s) - r.server_us / 1e3 for r in untraced), "ms")
        traced_rs = [r for r in self.searches if f"s{r.i}" in traced]
        traced_ms = _ms(statistics.mean(r.latency_s for r in traced_rs))
        untraced_ms = _ms(statistics.mean(r.latency_s for r in untraced))
        L["trace.search_overhead_ms"] = (traced_ms - untraced_ms, "ms")
        self.coverage("search", {
            **{k: _ms(v["self_s"]) / n for k, v in s.items()},
            "http.transport": _ms(transport_s(spans, traced_rs, "s")) / n},
            traced_ms)

        # ingest beside search: every ingest and reader request is traced
        batches = self.ingests + self.bursts
        ing_ids = {f"ingest-{r.i}" for r in batches}
        rd_ids = {f"r{r.i}" for r in self.reads}
        phase = layer_totals(spans, keep=lambda sp: sp[REQUEST] in ing_ids
                             or sp[REQUEST] in rd_ids)
        ing = layer_totals(spans, keep=lambda sp: sp[REQUEST] in ing_ids)
        nb = max(1, len(batches))
        opens = phase.get("engine.reader_open", {"count": 0, "total_s": 0})
        L["engine.reader_opens"] = (opens["count"], "count")
        L["engine.reader_open_ms"] = (
            _ms(opens["total_s"]) / max(1, opens["count"]), "ms")
        L["ingest.request_ms"] = (
            _ms(ing.get("ingest.request", {}).get("total_s", 0)) / nb, "ms")
        L["ingest.reload_ms"] = (
            _ms(ing.get("ingest.reload", {}).get("total_s", 0)) / nb, "ms")
        L["ingest.generator_lag_ms"] = (statistics.mean(
            _ms(r.sent - r.due) for r in self.ingests), "ms")
        self.coverage("ingest", {
            **{k: v["self_s"] for k, v in ing.items()},
            "http.transport": transport_s(spans, batches, "ingest-",
                                          lambda r: r.acked - r.sent)},
            sum(r.acked - r.sent for r in batches))
        pubs = [sp for sp in spans if sp[0] == "manifest.publish"
                and sp[REQUEST] in ing_ids] + self.replay_publishes
        L["manifest.publishes"] = (len(pubs), "count")
        L["manifest.publish_ms"] = (statistics.mean(
            _ms(sp[2] - sp[1]) for sp in pubs), "ms")

    def coverage(self, phase: str, self_by_span: dict, wall: float) -> None:
        """trace.<phase>_coverage: self time of the named layers ÷ the
        phase's traced wall; trace.<phase>_unattributed: self time of the
        CATCH_ALL spans ÷ the same wall. Both come from the same traced
        execution, so host noise between traced and untraced runs does
        not enter them; the tracing overhead is reported on its own."""
        loose = sum(v for k, v in self_by_span.items()
                    if k in CATCH_ALL[phase])
        named = sum(self_by_span.values()) - loose
        self.layers[f"trace.{phase}_coverage"] = (named / wall, "ratio")
        if CATCH_ALL[phase]:
            self.layers[f"trace.{phase}_unattributed"] = (loose / wall,
                                                          "ratio")

    def check_coverage(self) -> None:
        """The named layers' self times must add up to within
        COVERAGE_TOLERANCE of the traced wall (ROADMAP aim 1); report, do
        not fail the run."""
        cov = {k: v for k, (v, _u) in self.layers.items()
               if k.endswith("_coverage")}
        bad = {k: v for k, v in cov.items()
               if abs(v - 1) > COVERAGE_TOLERANCE}
        self.detail["coverage_ok"] = not bad
        if bad:
            print(f"perfbench: layer self times do not add up: {bad}",
                  file=sys.stderr)


def transport_s(spans: list, results, prefix: str,
                latency=lambda r: r.latency_s) -> float:
    """Client-observed time of the given requests outside the server's
    per-request span (http.connection): socket connect, request and
    response transfer, the client's own parsing."""
    conn = {sp[REQUEST]: sp[END] - sp[START] for sp in spans
            if sp[NAME] == "http.connection"}
    return sum(latency(r) - conn.get(f"{prefix}{r.i}", latency(r))
               for r in results)


E2E_UNITS = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "merge_s": "s",
    "index_bytes_per_source_byte": "ratio",
    "search_p50_ms": "ms",
    "search_p90_ms": "ms",
    "search_qps": "req/s",
    "ingest_docs_per_s": "docs/s",
    "ingest_ack_p50_ms": "ms",
    "rss_mb": "MB",
}
