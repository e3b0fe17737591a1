"""sparkwit benchmark: Spark build + merge, HTTP search, ingest beside search.

    python3 perfbench/run.py --workload search_fanout --seed 1 \
        --seconds 12 --trace 0

Run from the root of a checkout. Every run goes through the same
lifecycle on inputs generated from --seed (perfbench/streams.py):

  set-up   Spark local[nproc] start and an untimed warm-up build + merge;
           the REST server launched three times (median taken); on the
           Zipf stream, untimed requests that fill the leaf cache
  rounds   three times: a routed build_index into 32 segments and
           run_merges; a slice of one closed-loop HTTP search client; an
           open-loop NDJSON writer, then a closed-loop burst, beside one
           closed-loop reader; a second search slice

The workloads differ in what is served and queried (WORKLOADS);
perfbench/lifecycle.py runs the phases, perfbench/README.md describes the
metrics. With --trace 0 the last stdout line carries the end-to-end
metrics; with --trace 1 it carries the per-layer metrics of a traced run
(spans from perfbench/spans.py). The line before it is a JSON detail record
with the host-load sentinel, sample counts and the error ledger. Exits 1
when an output check fails, 2 when the checkout holds no program to
measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# What is served, and how it is queried. Every workload also runs the
# build/merge and ingest phases, so every run reports every metric.
WORKLOADS = {
    # unmerged 32-segment layout, no query repeats: per-segment leaf
    # cost, pruning and the root merge dominate; the leaf cache misses
    "search_fanout": {"serve": "unmerged", "queries": "unique"},
    # merged layout, Zipf-popular queries from a 2k pool: decode, BM25,
    # WAND, doc-store fetch and leaf-cache hits dominate
    "search_merged": {"serve": "merged", "queries": "zipf"},
}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(CHECKOUT, "quickwit_spark")):
        print("perfbench: no quickwit_spark package next to perfbench/ — "
              "run from the root of a sparkwit checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    work = os.path.join(CHECKOUT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    # temporary files of this process and of the processes it starts
    # (Spark's Python workers, the server) stay inside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    try:
        from perfbench.lifecycle import Run
        result = Run(args.workload, WORKLOADS[args.workload], args.seed,
                     args.seconds, bool(args.trace), work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": result["detail"]}))
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
