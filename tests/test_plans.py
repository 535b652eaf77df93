"""Physical-plan quality gates — the 100 TB design assertions.

These tests pin the *shape* of the executed plans, not timings:
- parquet scans prune columns (never read `text` when only ids are needed)
- filters reach the scan (PushedFilters)
- the verify stage is whole-stage-codegen SQL (no ArrowEvalPython)
- the signature stage is exactly ONE ArrowEvalPython pass
- every candidate family pairs bucket members through ops.bucket_pairs:
  capped → cap before a grouped collect_list, uncapped → array-free join
"""

import re

import pytest
from pyspark.sql import functions as F

from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import ops

CFG = EngineConfig(seed=12345)
DOCS_PATH = "/root/testdata/sf0.001/documents.parquet"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS_PATH)


class TestScanPruning:
    def test_column_pruning_reaches_scan(self, spark, docs):
        # selecting ids off the signature stage must not read `lang`/`source`
        sig = ops.with_signatures(docs, CFG).select("doc_id", "is_zero")
        plan = plan_of(sig)
        m = re.search(r"ReadSchema: ([^\n]*)", plan)
        assert m, plan
        assert "lang" not in m.group(1) and "source" not in m.group(1)

    def test_filter_pushdown_reaches_scan(self, spark, docs):
        df = docs.where(F.col("doc_id") < 100).select("doc_id")
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan or (
            "LessThan(doc_id,100)" in plan
        ), plan


class TestStagePlans:
    def test_signature_stage_single_arrow_pass(self, spark, docs):
        sig = ops.with_signatures(docs, CFG)
        plan = plan_of(sig)
        assert plan.count("ArrowEvalPython") == 1, plan

    def test_verify_stage_is_pure_sql(self, spark, docs):
        sig = ops.with_signatures(docs, CFG)
        cands = ops.candidate_pairs(ops.bands_table(sig), max_bucket_size=1000)
        ver = ops.verified_pairs(cands, sig, 0.75)
        plan = plan_of(ver)
        # exactly the signature UDF evaluations (cands side + two sig joins
        # recompute signatures since nothing is cached here), but the
        # similarity predicate itself must be codegen SQL: no BatchEvalPython
        # (row-at-a-time) anywhere, and no Arrow node introduced by verify
        assert "BatchEvalPython" not in plan
        sig_cached = sig.cache()
        try:
            sig_cached.count()
            ver2 = ops.verified_pairs(
                ops.candidate_pairs(ops.bands_table(sig_cached), max_bucket_size=1000),
                sig_cached,
                0.75,
            )
            plan2 = plan_of(ver2)
            # every ArrowEvalPython in the plan is cached lineage (printed
            # under an InMemoryRelation) — verify itself adds no Python node
            assert plan2.count("ArrowEvalPython") == plan2.count("InMemoryRelation"), plan2
            assert "BatchEvalPython" not in plan2
        finally:
            sig_cached.unpersist()

    def test_grouped_candidates_shuffle_budget(self, spark, docs):
        sig = ops.with_signatures(docs, CFG).cache()
        try:
            bands = ops.bands_table(sig)
            cands = ops.candidate_pairs(bands, max_bucket_size=1000)
            plan = plan_of(cands)
            # exchanges: count-only cap agg [1] + posting groupBy(band) [2]
            # + final distinct [3].  The cap agg partial-aggregates map-side
            # so only (key, count) rows move; NOT a second full shuffle of
            # the bands table like the self-join variant.
            n_exchanges = plan.count("Exchange hashpartitioning")
            assert n_exchanges <= 3, plan
        finally:
            sig.unpersist()

    @pytest.mark.parametrize(
        "family, capped",
        [(f, c) for f in ("minhash", "simhash", "ngram", "ann") for c in (True, False)],
        ids=lambda v: v if isinstance(v, str) else ("capped" if v else "uncapped"),
    )
    def test_bucket_pairs_strategy(self, spark, docs, family, capped):
        # one candidate rule, two strategies (ops.bucket_pairs).  Capped:
        # the hot-bucket anti-join runs BEFORE the array aggregation, so a
        # pathological bucket's member array is never built in any task —
        # plans print root-first, so collect_list must sit ABOVE (= consume)
        # the LeftAnti, and no post-aggregation size cap may remain.
        # Uncapped: no member array at all (bucket self-join).
        from lexis_minhash_spark.operators import dedup

        cap = 100 if capped else None
        handle: list = []
        if family == "minhash":
            df = ops.candidate_pairs(
                ops.bands_table(ops.with_signatures(docs, CFG)), max_bucket_size=cap
            )
        elif family == "simhash":
            df = dedup.simhash_candidate_pairs(
                dedup.with_simhash(docs, CFG), max_bucket_size=cap, cache_handle=handle
            )
        elif family == "ngram":
            df = dedup.ngram_jaccard_pairs(
                docs, n=3, threshold=0.3, max_doc_freq=cap, cache_handle=handle
            )
        else:
            emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            df = dedup.lsh_bucketed_cosine_pairs(
                emb, dim=64, threshold=0.9, max_bucket_size=cap, cache_handle=handle
            )
        try:
            plan = plan_of(df)
        finally:
            for c in handle:
                c.unpersist()
        if capped:
            assert "LeftAnti" in plan and "collect_list" in plan, plan
            assert plan.index("collect_list") < plan.index("LeftAnti"), plan
            assert not re.search(r"size\([^)]*\) <= ", plan), plan
        else:
            assert "collect_list" not in plan, plan

    def test_slots_and_scored_query_are_pure_sql(self, spark, docs):
        # the slot dump and the scored query read sig_arr in SQL: every
        # ArrowEvalPython left in their plans is the cached signature lineage
        sig = ops.with_signatures(docs, CFG).cache()
        try:
            sig.count()
            scored = ops.query_with_scores(
                spark, [(0, "the quick brown fox jumps over it")],
                ops.bands_table(sig), sig, CFG,
            )
            for df in (ops.signature_slots(sig), scored):
                plan = plan_of(df)
                assert plan.count("ArrowEvalPython") == plan.count("InMemoryRelation"), plan
                assert "BatchEvalPython" not in plan
        finally:
            sig.unpersist()

    def test_query_uses_broadcast_join(self, spark, docs):
        sig = ops.with_signatures(docs, CFG).cache()
        try:
            bands = ops.bands_table(sig)
            q = ops.query_candidates(
                spark, [(0, "the quick brown fox jumps over it")], bands, CFG
            )
            plan = plan_of(q)
            assert "BroadcastHashJoin" in plan, plan
        finally:
            sig.unpersist()

    def test_exact_dedup_partial_aggregation(self, spark, docs):
        from lexis_minhash_spark.operators.dedup import exact_duplicate_groups

        plan = plan_of(exact_duplicate_groups(docs))
        # map-side partial agg before the shuffle (HashAggregate x2)
        assert plan.count("HashAggregate") >= 2, plan

    def test_exact_dedup_narrow_prefilter_exchange(self, spark, docs):
        # round-4 verdict item #6: the FIRST exchange carries the 12-byte
        # (length, xxhash64) key, not full text or a 32-char md5 hex —
        # md5 runs only on the suspect rows that survive the semi-join
        from lexis_minhash_spark.operators.dedup import exact_duplicate_groups

        plan = plan_of(exact_duplicate_groups(docs))
        assert "xxhash64" in plan, plan
        # the suspect-key filter is a semi-join ahead of the md5 groupBy
        assert "LeftSemi" in plan, plan
        # md5 must appear downstream of (above) the semi join, never below
        # it: everything below the join is the narrow key pipeline
        md5_pos = plan.index("md5")
        semi_pos = plan.index("LeftSemi")
        assert md5_pos < semi_pos, plan  # toString prints top-down

    def test_ngram_jaccard_is_pure_sql(self, spark, docs):
        from lexis_minhash_spark.operators.dedup import ngram_jaccard_pairs

        plan = plan_of(ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_doc_freq=100))
        # posting-list formulation: no Python eval nodes anywhere
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan

    def test_audio_signature_single_arrow_pass(self, spark):
        from lexis_minhash_spark.operators.audio_dedup import with_audio_signatures
        from lexis_minhash_spark.sources.synth import clips_spark_df

        clips, _ = clips_spark_df(spark, n_clips=10, seed=1)
        plan = plan_of(with_audio_signatures(clips, CFG))
        assert plan.count("ArrowEvalPython") == 1, plan

    def test_ann_candidate_dedup_carries_ids_only(self, spark):
        from lexis_minhash_spark.operators.dedup import lsh_bucketed_cosine_pairs

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = plan_of(lsh_bucketed_cosine_pairs(emb, dim=64, threshold=0.9))
        # the candidate-pair distinct must aggregate on (a, b) alone — the
        # embedding vectors re-join AFTER the dedup
        import re as _re

        m = _re.search(r"HashAggregate\(keys=\[a[^\]]*\bb[^\]]*\]", plan)
        assert m, plan
        assert "embedding" not in m.group(0), m.group(0)

    def test_bucketed_sig_checkpoint_elides_sig_exchanges(self, spark, tmp_path, docs):
        # round-5: with a BUCKETED signature checkpoint (bucketBy(id)) the
        # two verify-join legs read signatures exchange-free — only the
        # thin (a, b) pair list shuffles.  At 10^12 rows the ~0.5 KB/row
        # signature payload is the side that must never move.
        from lexis_minhash_spark.plans.pipeline import DedupPipeline

        workdir = str(tmp_path / "bktplan")
        p = DedupPipeline(spark, CFG, workdir, sig_buckets=8)
        p.run(docs.limit(300))
        sig_bucketed = spark.table(p._table_name("signatures"))
        sig_plain = spark.read.parquet(f"{workdir}/signatures")
        cands = spark.read.parquet(f"{workdir}/candidates")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            n_bkt = plan_of(ops.verified_pairs(cands, sig_bucketed, 0.75)).count(
                "Exchange hashpartitioning"
            )
            n_plain = plan_of(ops.verified_pairs(cands, sig_plain, 0.75)).count(
                "Exchange hashpartitioning"
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # plain parquet: pairs-by-a, sig-by-a, joined-by-b, sig-by-b = 4;
        # bucketed: both signature-side exchanges elided = 2
        assert n_plain == 4, n_plain
        assert n_bkt == 2, n_bkt
