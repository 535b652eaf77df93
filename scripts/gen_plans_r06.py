#!/usr/bin/env python
"""Capture .explain("formatted") for every bench query → plans/r06/<q>_<tag>.txt.

Usage: python scripts/gen_plans_r06.py before|after
Replicates the bench.py query shapes (the driver-timed surface).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from lexis_minhash_spark.session import get_spark
from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import ops

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = "/root/repo/plans/r06"
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CFG = EngineConfig(seed=12345)


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def save(name: str, text: str) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(f"{OUT}/{name}_{TAG}.txt", "w") as f:
        f.write(text)
    print(f"wrote {name}_{TAG}.txt")


def main() -> None:
    spark = get_spark(master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")

    import bench

    corpus_path = bench.ensure_corpus(spark, 50000)
    docs = (
        spark.read.parquet(corpus_path)
        .withColumnRenamed("transcript", "text")
        .repartition(CPUS * 3)
    )
    # dedup_e2e: sig/bands persisted as in bench; plan of the verified-pairs
    # subtree (the expensive part: candidates + verify) and cluster join
    sig = ops.with_signatures(docs, CFG).persist()
    bands = ops.bands_table(sig).persist()
    packed = bands.select("doc_id", ops.pack_band_key().alias("band_key"))
    cands = ops.candidate_pairs(
        packed, max_bucket_size=10_000, key_cols=("band_key",)
    )
    ver = ops.verified_pairs(cands, sig, 0.75)
    save("dedup_e2e_verified", fmt(ver))

    from lexis_minhash_spark.operators.dedup import (
        simhash_candidate_pairs,
        with_simhash,
    )

    sim = with_simhash(docs, CFG)
    caches: list = []
    sp = simhash_candidate_pairs(
        sim, max_hamming=3, max_bucket_size=10_000, cache_handle=caches
    )
    save("simhash_pairs", fmt(sp))
    for c in caches:
        c.unpersist()
    caches.clear()

    ddocs = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(CPUS)
    dsig = ops.with_signatures(ddocs, CFG)
    dver = ops.verified_pairs(ops.candidate_pairs(ops.bands_table(dsig)), dsig, 0.75)
    save("docs_verified", fmt(dver))

    from lexis_minhash_spark.operators.dedup import cosine_topk, ngram_jaccard_pairs

    ng = ngram_jaccard_pairs(
        ddocs, n=3, threshold=0.2, max_doc_freq=1000, cache_handle=caches
    )
    save("ngram_jaccard", fmt(ng))
    for c in caches:
        c.unpersist()

    from lexis_minhash_spark.operators.audio_dedup import audio_near_dup_pairs

    n_audio = 5000
    audio_path = bench.ensure_audio_corpus(spark, n_audio)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    clips = spark.read.parquet(audio_path)
    # materialize=False keeps the plan lazy so explain shows the full tree
    ap = audio_near_dup_pairs(clips, threshold=0.25, materialize=False)
    save("audio_dedup", fmt(ap))
    spark.conf.unset("spark.sql.files.maxPartitionBytes")

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = emb.where("vec_id = 0").head().embedding
    save("embedding_knn", fmt(cosine_topk(emb, list(qvec), k=10)))

    spark.stop()


if __name__ == "__main__":
    main()
