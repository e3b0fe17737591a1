"""Build and merge phase: the Spark routed build and run_merges, plus the
in-process replay the traced run uses to split build and merge time by
layer (executor processes cannot be wrapped from this process)."""

from __future__ import annotations

import os
import subprocess
import time

from quickwit_spark.config import IndexConfig, MergePolicyConfig
from quickwit_spark.index import builder, merge
from quickwit_spark.index.manifest import BUILDER_POS_PREFIX, Manifest
from quickwit_spark.index.merge_policy import StableLogMergePolicy

from .load import CHECKOUT
from .streams import SEGMENTS

INDEX_UID = "perfbench"
# bench.py's merge settings (its legacy `merge_segments` key): every
# segment is in one level, so the policy merges to a handful of segments
MERGE_POLICY = MergePolicyConfig(merge_factor=8, max_merge_factor=12,
                                 min_level_num_docs=1_000_000)


def start_spark(work: str, nproc: int):
    """Spark local[nproc] whose temporary files stay under `work`."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # serial GC: one collector thread, so the JVM idling between
        # builds takes no cores from the server it shares the host with
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit, so no
    process the benchmark started outlives it."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def config(index_dir: str) -> IndexConfig:
    return IndexConfig(index_uid=INDEX_UID, index_dir=index_dir)


def routed_source(spark, src_path: str, nproc: int):
    """The source table laid out by routing group, as a table bucketed by
    the doc key would be read (cached, so builds exclude the scan)."""
    df = spark.read.parquet(src_path)
    routed = (builder.route_partitions(df, config(""), SEGMENTS)
              .repartition(nproc, "_pid").cache())
    routed.count()
    return routed


def spark_build(spark, routed, index_dir: str) -> float:
    t0 = time.perf_counter()
    builder.build_index(spark, routed, config(index_dir),
                        num_partitions=SEGMENTS, wave_size=SEGMENTS,
                        input_routed=True)
    return time.perf_counter() - t0


def spark_merge(spark, index_dir: str) -> float:
    t0 = time.perf_counter()
    merge.run_merges(index_dir, spark=spark,
                     policy=StableLogMergePolicy(MERGE_POLICY))
    return time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _d, fs in os.walk(path) for f in fs)


def doc_count(index_dir: str) -> int:
    return sum(int(s["num_docs"])
               for s in Manifest.load(index_dir).segments())


# -- in-process replay (traced run) ----------------------------------------

BUILD_WRAPS = (
    (builder, "build_partition", "builder.partition"),
    (builder, "build_segment", "builder.segment"),
    (builder, "write_segment", "builder.write"),
    (builder, "_varint_encode_with_sizes", "codecs.encode"),
    (Manifest, "publish", "manifest.publish"),
    (merge, "merge_segments", "merge.segment"),
)


def install_tracing(recorder) -> None:
    for owner, attr, name in BUILD_WRAPS:
        recorder.wrap(owner, attr, name)
    # amount = tokens emitted (length of the token -> doc index array)
    recorder.wrap(builder, "tokenize_batch_ids", "tokenizers.tokenize",
                  amount=lambda out: len(out[0]))


def replay_build(groups, index_dir: str) -> float:
    """build_partition over each routed group, then one publish — the
    work one Spark build does in its executors, run in this process."""
    cfg = config(index_dir)
    t0 = time.perf_counter()
    manifest = Manifest.load_or_create(index_dir, cfg.index_uid,
                                       cfg.manifest_config())
    seg_root = os.path.join(index_dir, "segments")
    os.makedirs(seg_root, exist_ok=True)
    rows, delta = [], {}
    for pid, grp in groups:
        part = builder.build_partition(grp, cfg, seg_root)
        rows.extend(part)
        delta[int(pid)] = (None, f"{BUILDER_POS_PREFIX}"
                                 f"{sum(r['num_docs'] for r in part)}")
    manifest.publish(rows, checkpoint_delta=delta)
    return time.perf_counter() - t0


def replay_merge(index_dir: str) -> float:
    t0 = time.perf_counter()
    merge.run_merges(index_dir, policy=StableLogMergePolicy(MERGE_POLICY))
    return time.perf_counter() - t0
