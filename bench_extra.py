#!/usr/bin/env python
"""Per-stage profiling harness for the bench queries (guide §1.1/§1.4).

NOT the driver bench — bench.py is frozen.  This isolates each phase of
every bench query with a noop sink so we time computation, not the sink,
and labels jobs for the UI.  Prints one JSON line with per-phase seconds
and os.getloadavg() context.

Usage: python bench_extra.py [phase ...]
  phases: dedup simhash docs ngram audio knn (default: all)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import ops
from lexis_minhash_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_CLIPS = int(os.environ.get("SPARK_GRAFT_BENCH_CLIPS", "50000"))
SEED = 42
CFG = EngineConfig(seed=12345)

TIMES: dict[str, float] = {}
LOADS: dict[str, list[float]] = {}


def noop(df):
    df.write.format("noop").mode("overwrite").save()


class phase:
    def __init__(self, spark, name):
        self.spark = spark
        self.name = name

    def __enter__(self):
        self.spark.sparkContext.setJobDescription(self.name)
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        TIMES[self.name] = round(time.monotonic() - self.t0, 3)
        LOADS[self.name] = [round(x, 2) for x in os.getloadavg()]
        self.spark.sparkContext.setJobDescription(None)


def profile_dedup(spark):
    import bench

    corpus_path = bench.ensure_corpus(spark, N_CLIPS)
    docs = (
        spark.read.parquet(corpus_path)
        .withColumnRenamed("transcript", "text")
        .repartition(CPUS * 3)
    )
    with phase(spark, "dedup/sig_noop"):
        sig = ops.with_signatures(docs, CFG).persist()
        noop(sig)
    with phase(spark, "dedup/bands_noop"):
        bands = ops.bands_table(sig).persist()
        noop(bands)
    packed = bands.select("doc_id", ops.pack_band_key().alias("band_key"))
    cands = ops.candidate_pairs(
        packed, max_bucket_size=10_000, key_cols=("band_key",)
    )
    with phase(spark, "dedup/cands_noop"):
        noop(cands)
    with phase(spark, "dedup/verify_persist_count"):
        ver = ops.verified_pairs(cands, sig, 0.75).persist()
        n_edges = ver.count()
    with phase(spark, "dedup/cc"):
        cc = ops.connected_components(ver.select("a", "b"))
    with phase(spark, "dedup/clusters_counts"):
        clusters = ops.clusters_with_singletons(sig, cc)
        clusters.count()
        clusters.select("cluster_id").distinct().count()
    TIMES["dedup/n_edges"] = n_edges
    bands.unpersist()
    sig.unpersist()
    ver.unpersist()


def profile_simhash(spark):
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
    with phase(spark, "simhash/fingerprint_noop"):
        sim = with_simhash(docs, CFG).persist()
        noop(sim)
    with phase(spark, "simhash/pairs_from_cached"):
        caches: list = []
        simhash_candidate_pairs(
            sim, max_hamming=3, max_bucket_size=10_000, cache_handle=caches
        ).count()
    sim.unpersist()
    for c in caches:
        c.unpersist()
    # and the full path as the bench runs it (UDF not pre-cached)
    docs2 = (
        spark.read.parquet(corpus_path)
        .withColumnRenamed("transcript", "text")
        .repartition(CPUS * 3)
    )
    with phase(spark, "simhash/full_as_bench"):
        sim2 = with_simhash(docs2, CFG)
        caches2: list = []
        simhash_candidate_pairs(
            sim2, max_hamming=3, max_bucket_size=10_000, cache_handle=caches2
        ).count()
    for c in caches2:
        c.unpersist()


def profile_docs(spark):
    ddocs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    with phase(spark, "docs/sig_noop"):
        dsig = ops.with_signatures(ddocs, CFG).persist()
        noop(dsig)
    with phase(spark, "docs/bands_cands_verify_count"):
        dver = ops.verified_pairs(
            ops.candidate_pairs(ops.bands_table(dsig)), dsig, 0.75
        )
        dver.count()
    dsig.unpersist()


def profile_ngram(spark):
    from lexis_minhash_spark.operators.dedup import ngram_jaccard_pairs

    ddocs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    caches: list = []
    with phase(spark, "ngram/full_count"):
        ngram_jaccard_pairs(
            ddocs, n=3, threshold=0.2, max_doc_freq=1000, cache_handle=caches
        ).count()
    for c in caches:
        c.unpersist()
    caches.clear()
    # isolate the explode+persist cost
    toks = ddocs.select(
        F.col("doc_id"), F.expr("split(trim(lower(text)), '\\\\s+')").alias("_w")
    )
    gram_arr = F.array_distinct(
        F.expr(
            "CASE WHEN size(_w) >= 3 THEN"
            " transform(sequence(1, size(_w) - 2),"
            " i -> array_join(slice(_w, i, 3), ' '))"
            " ELSE array() END"
        )
    )
    ex = toks.select(F.col("doc_id"), F.explode(gram_arr).alias("gram"))
    with phase(spark, "ngram/explode_noop"):
        noop(ex)


def profile_audio(spark):
    import bench
    from lexis_minhash_spark.operators.audio_dedup import (
        audio_near_dup_pairs,
        with_audio_signatures,
    )
    from lexis_minhash_spark.config import EngineConfig as EC

    n_audio = int(os.environ.get("SPARK_GRAFT_BENCH_AUDIO_CLIPS", "5000"))
    audio_path = bench.ensure_audio_corpus(spark, n_audio)
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    try:
        clips = spark.read.parquet(audio_path)
        acfg = EC(seed=12345, num_bands=50)
        with phase(spark, "audio/sig_noop"):
            asig = with_audio_signatures(clips, acfg)
            noop(asig)
        clips2 = spark.read.parquet(audio_path)
        with phase(spark, "audio/full_count"):
            audio_near_dup_pairs(clips2, threshold=0.25).count()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)


def profile_knn(spark):
    from lexis_minhash_spark.operators.dedup import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = emb.where("vec_id = 0").head().embedding
    with phase(spark, "knn/collect"):
        cosine_topk(emb, list(qvec), k=10).collect()


def main():
    which = sys.argv[1:] or ["dedup", "simhash", "docs", "ngram", "audio", "knn"]
    spark = get_spark(
        app_name="lexis-minhash-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()
    fns = {
        "dedup": profile_dedup,
        "simhash": profile_simhash,
        "docs": profile_docs,
        "ngram": profile_ngram,
        "audio": profile_audio,
        "knn": profile_knn,
    }
    for w in which:
        fns[w](spark)
    print(
        json.dumps(
            {
                "metric": "bench_extra_phases",
                "wall_s": round(time.monotonic() - t0, 3),
                "phases": TIMES,
                "loadavg": LOADS,
                "cpus": CPUS,
                "sf": SF_DIR,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
