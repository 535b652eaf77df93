#!/usr/bin/env python
"""Stage-level profiling for one bench query: runs it with the UI enabled,
then dumps per-stage metrics (duration, task count, shuffle read/write,
executor run time) from the REST API.  Guide §7.1 without a browser.

Usage: python scripts/profile_stages.py <dedup|simhash|ngram|audio|docs>
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import ops
from lexis_minhash_spark.session import get_spark

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_CLIPS = int(os.environ.get("SPARK_GRAFT_BENCH_CLIPS", "50000"))
CFG = EngineConfig(seed=12345)


def run_dedup(spark):
    import bench

    corpus_path = bench.ensure_corpus(spark, N_CLIPS)
    docs = (
        spark.read.parquet(corpus_path)
        .withColumnRenamed("transcript", "text")
        .repartition(CPUS * 3)
    )
    t0 = time.monotonic()
    sig = ops.with_signatures(docs, CFG).persist()
    bands = ops.bands_table(sig).persist()
    packed = bands.select("doc_id", ops.pack_band_key().alias("band_key"))
    cands = ops.candidate_pairs(
        packed, max_bucket_size=10_000, key_cols=("band_key",)
    )
    ver = ops.verified_pairs(cands, sig, 0.75).persist()
    cc = ops.connected_components(ver.select("a", "b"))
    clusters = ops.clusters_with_singletons(sig, cc)
    clusters.count()
    clusters.select("cluster_id").distinct().count()
    print(f"WALL dedup_e2e: {time.monotonic() - t0:.3f}", file=sys.stderr)


def run_simhash(spark):
    import bench
    from lexis_minhash_spark.operators.dedup import (
        simhash_candidate_pairs,
        with_simhash,
    )

    corpus_path = bench.ensure_corpus(spark, N_CLIPS)
    docs = (
        spark.read.parquet(corpus_path)
        .withColumnRenamed("transcript", "text")
        .repartition(CPUS * 3)
    )
    t0 = time.monotonic()
    sim = with_simhash(docs, CFG)
    caches: list = []
    simhash_candidate_pairs(
        sim, max_hamming=3, max_bucket_size=10_000, cache_handle=caches
    ).count()
    print(f"WALL simhash: {time.monotonic() - t0:.3f}", file=sys.stderr)


def run_ngram(spark):
    from lexis_minhash_spark.operators.dedup import ngram_jaccard_pairs

    ddocs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    t0 = time.monotonic()
    caches: list = []
    ngram_jaccard_pairs(
        ddocs, n=3, threshold=0.2, max_doc_freq=1000, cache_handle=caches
    ).count()
    print(f"WALL ngram: {time.monotonic() - t0:.3f}", file=sys.stderr)


def run_audio(spark):
    import bench
    from lexis_minhash_spark.operators.audio_dedup import audio_near_dup_pairs

    n_audio = int(os.environ.get("SPARK_GRAFT_BENCH_AUDIO_CLIPS", "5000"))
    audio_path = bench.ensure_audio_corpus(spark, n_audio)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    clips = spark.read.parquet(audio_path)
    t0 = time.monotonic()
    audio_near_dup_pairs(clips, threshold=0.25).count()
    print(f"WALL audio: {time.monotonic() - t0:.3f}", file=sys.stderr)


def run_docs(spark):
    ddocs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    t0 = time.monotonic()
    dsig = ops.with_signatures(ddocs, CFG).persist()
    dver = ops.verified_pairs(
        ops.candidate_pairs(ops.bands_table(dsig)), dsig, 0.75
    )
    dver.count()
    print(f"WALL docs: {time.monotonic() - t0:.3f}", file=sys.stderr)


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "dedup"
    spark = get_spark(
        app_name=f"profile-{which}",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    {"dedup": run_dedup, "simhash": run_simhash, "ngram": run_ngram,
     "audio": run_audio, "docs": run_docs}[which](spark)

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages") as r:
        stages = json.load(r)
    rows = []
    for s in stages:
        if s["status"] != "COMPLETE":
            continue
        rows.append(
            {
                "stage": s["stageId"],
                "name": s["name"].split("\n")[0][:70],
                "tasks": s["numCompleteTasks"],
                "wall_ms": s.get("executorRunTime", 0),
                "cpu_ms": round(s.get("executorCpuTime", 0) / 1e6),
                "sched_delay_ms": s.get("schedulerDelay", 0),
                "sh_read_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 2),
                "sh_write_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 2),
                "in_mb": round(s.get("inputBytes", 0) / 1e6, 2),
                "submit": s.get("submissionTime", ""),
                "complete": s.get("completionTime", ""),
            }
        )
    rows.sort(key=lambda r: -r["wall_ms"])
    for r in rows:
        print(json.dumps(r))
    spark.stop()


if __name__ == "__main__":
    main()
