#!/usr/bin/env python
"""Regenerate PLANS.md (formatted physical plans of the core stages)."""
import contextlib
import io
import sys

sys.path.insert(0, "/root/repo")

from lexis_minhash_spark.session import get_spark
from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import ops


def fmt(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig(seed=12345)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = ops.with_signatures(docs, cfg)
    bands = ops.bands_table(sig)
    cands = ops.candidate_pairs(bands, max_bucket_size=10000)
    from lexis_minhash_spark.operators.dedup import exact_duplicate_groups

    from lexis_minhash_spark.operators.dedup import (
        lsh_bucketed_cosine_pairs,
        ngram_jaccard_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sections = [
        ("Signature stage (one ArrowEvalPython pass, pruned scan)",
         fmt(sig.select("doc_id", "is_zero", "n_shingles"))),
        ("Grouped candidate generation (single shuffle + in-SQL pair expansion)",
         fmt(cands)),
        ("Grouped candidates, packed 64-bit band key (the scale path: one-long exchange rows)",
         fmt(ops.candidate_pairs(
             bands.select("doc_id", ops.pack_band_key().alias("band_key")),
             max_bucket_size=10000, key_cols=("band_key",)))),
        ("Similarity verify (codegen zip_with/aggregate, no Python)",
         fmt(ops.verified_pairs(cands, sig, 0.75))),
        ("Query path (broadcast of query band rows)",
         fmt(ops.query_candidates(spark, [(0, "probe text for plan dump")], bands, cfg))),
        ("Exact dedup (map-side partial aggregation)",
         fmt(exact_duplicate_groups(docs))),
        ("n-gram Jaccard (posting lists, pure SQL — no Python eval nodes)",
         fmt(ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_doc_freq=100))),
        ("Embedding ANN (ids-only candidate dedup; vectors re-join post-distinct)",
         fmt(lsh_bucketed_cosine_pairs(emb, dim=64, threshold=0.9))),
    ]
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("# PLANS — formatted physical plans of the core stages\n\n")
        f.write("Generated from sf0.001 inputs (`python scripts/gen_plans.py`); the\n")
        f.write("shapes are pinned by `tests/test_plans.py`.\n\n")
        for title, plan in sections:
            f.write(f"## {title}\n\n```\n{plan}\n```\n\n")
    spark.stop()


if __name__ == "__main__":
    main()
