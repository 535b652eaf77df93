"""Synthetic clips corpus, audio plumbing invariants, end-to-end recall,
and checkpoint/resume (BASELINE.json north_rule requirements)."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import oracle as O
from lexis_minhash_spark import ops
from lexis_minhash_spark.plans.pipeline import DedupPipeline
from lexis_minhash_spark.sources import audio, synth

CFG = EngineConfig(seed=12345)


class TestAudioKernels:
    def test_wav_roundtrip(self):
        rng = np.random.default_rng(0)
        samples = (rng.uniform(-0.5, 0.5, 1600) * 32767).astype(np.int16)
        blob = audio.pcm16_to_wav(samples, 16000)
        out, sr = audio.wav_to_pcm16(blob)
        assert sr == 16000
        assert np.array_equal(out, samples)

    def test_decode_unknown_codec_stubbed(self):
        with pytest.raises(NotImplementedError):
            audio.decode_clip(b"xxxx", "opus")

    def test_malformed_wav(self):
        with pytest.raises(ValueError):
            audio.wav_to_pcm16(b"not a wav")

    def test_snr(self):
        rng = np.random.default_rng(1)
        sig = rng.standard_normal(8000)
        assert audio.snr_db(sig, sig) == float("inf")
        noisy = sig + rng.standard_normal(8000) * 0.01
        assert 35.0 < audio.snr_db(sig, noisy) < 45.0


class TestSyntheticCorpus:
    def test_vocab_distinct(self):
        # round-3 advice: compound words could collide as strings; the
        # generator now skips seen compounds.  At the default size the
        # guard is a no-op (no collision occurs in the generated range),
        # keeping the round-3 corpus byte-identical; at other sizes it
        # guarantees exactly n_words distinct tokens.
        v = synth.VOCAB
        assert len(v) == 50_000 and len(set(v)) == 50_000
        v2 = synth._build_vocab(60_000)
        assert len(v2) == 60_000 and len(set(v2)) == 60_000
        # prefix-stability: the guard did not move any default-range word
        assert v2[:50_000] == v

    def test_deterministic(self):
        c1, t1 = synth.generate_clips(n_clips=50, seed=42)
        c2, t2 = synth.generate_clips(n_clips=50, seed=42)
        assert c1["transcript"].tolist() == c2["transcript"].tolist()
        assert c1["bytes"].iloc[0] == c2["bytes"].iloc[0]
        c3, _ = synth.generate_clips(n_clips=50, seed=43)
        assert c1["transcript"].tolist() != c3["transcript"].tolist()

    def test_schema_and_edge_rows(self, spark):
        sdf, tdf = synth.clips_spark_df(spark, n_clips=50, seed=42)
        assert sdf.columns == ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
        assert sdf.count() == 50
        # planted edge rows: empty / whitespace / short transcripts
        texts = {r.clip_id: r.transcript for r in sdf.collect()}
        assert "" in texts.values()

    def test_per_row_invariants_snr_and_transcript(self):
        """input_hint invariant: within a planted cluster, decoded PCM of a
        dup vs its original is allclose at SNR >= 30 dB."""
        clips, truth = synth.generate_clips(n_clips=80, seed=42)
        merged = clips.merge(truth, on="clip_id")
        for cid, grp in merged.groupby("cluster_id"):
            if len(grp) < 2:
                continue
            rows = grp.sort_values("clip_id")
            base = audio.decode_clip(rows.iloc[0]["bytes"], "pcm_s16le")
            for i in range(1, len(rows)):
                dup = audio.decode_clip(rows.iloc[i]["bytes"], "pcm_s16le")
                assert audio.snr_db(base, dup) >= 30.0

    def test_audio_features_stage(self, spark):
        sdf, _ = synth.clips_spark_df(spark, n_clips=20, seed=42)
        feats = audio.with_audio_features(sdf).collect()
        assert len(feats) == 20
        for r in feats:
            assert r.n_samples > 0
            assert 0.0 < r.rms < 1.0
            assert len(r.frame_energies) >= 1


class TestEndToEndRecall:
    def test_dup_pair_recall_vs_reference_oracle(self, spark):
        """north_rule gate: cluster assignments match the reference-semantics
        oracle at the same config with dup-pair recall >= 0.99.

        The oracle is the scalar reimplementation of the reference formulas
        (bit-exact, tests/test_kernels.py), run over the same corpus."""
        sdf, truth = synth.clips_spark_df(spark, n_clips=300, seed=42)
        docs = sdf.select(
            F.monotonically_increasing_id().alias("_tmp"),
            F.col("clip_id"),
            F.col("transcript").alias("text"),
        ).select(
            F.expr("cast(substring(clip_id, 6, 8) as long)").alias("doc_id"), "text"
        )
        sig = ops.with_signatures(docs, CFG).cache()
        ver = ops.verified_pairs(ops.candidate_pairs(ops.bands_table(sig)), sig, 0.75)
        got = {(r.a, r.b) for r in ver.collect()}

        pdf = docs.toPandas()
        ao, bo = O.oracle_coefficients(12345, 100)
        sigs = {
            int(r.doc_id): O.oracle_signature(r.text, ao, bo, 5, 4)
            for r in pdf.itertuples()
        }
        nonzero = {d: s for d, s in sigs.items() if any(s)}
        exp = O.oracle_find_similar_pairs(nonzero, 20, 5, 0.75)
        # recall vs reference pairs (target >= 0.99; bit-exact kernels give 1.0)
        recall = len(got & exp) / max(len(exp), 1)
        assert recall >= 0.99
        assert got == exp  # and in fact exact equality

    def test_cluster_assignments_match_oracle(self, spark):
        sdf, truth = synth.clips_spark_df(spark, n_clips=200, seed=42)
        docs = sdf.select(
            F.expr("cast(substring(clip_id, 6, 8) as long)").alias("doc_id"),
            F.col("transcript").alias("text"),
        )
        sig = ops.with_signatures(docs, CFG).cache()
        ver = ops.verified_pairs(ops.candidate_pairs(ops.bands_table(sig)), sig, 0.75)
        cl = ops.clusters_with_singletons(sig, ops.connected_components(ver.select("a", "b")))
        got = {r.doc_id: r.cluster_id for r in cl.collect()}
        pdf = docs.toPandas()
        ao, bo = O.oracle_coefficients(12345, 100)
        sigs = {int(r.doc_id): O.oracle_signature(r.text, ao, bo, 5, 4) for r in pdf.itertuples()}
        nonzero = {d: s for d, s in sigs.items() if any(s)}
        exp_pairs = O.oracle_find_similar_pairs(nonzero, 20, 5, 0.75)
        exp_cc = O.oracle_connected_components(exp_pairs)
        for d in got:
            assert got[d] == exp_cc.get(d, d)


class TestAudioNearDup:
    def test_recovers_planted_audio_clusters(self, spark):
        from itertools import combinations

        from lexis_minhash_spark.operators.audio_dedup import audio_near_dup_pairs

        clips, truth = synth.clips_spark_df(spark, n_clips=150, seed=31)
        got = {
            (r.a, r.b)
            for r in audio_near_dup_pairs(clips, threshold=0.25).collect()
        }
        members: dict[str, list[str]] = {}
        for r in truth.collect():
            members.setdefault(r.cluster_id, []).append(r.clip_id)
        true_pairs = {
            (min(x, y), max(x, y))
            for ids in members.values()
            for x, y in combinations(sorted(ids), 2)
        }
        assert true_pairs, "fixture must plant duplicate audio"
        recall = len(got & true_pairs) / len(true_pairs)
        assert recall >= 0.9, (recall, len(true_pairs), len(got))
        # the planted perturbation keeps SNR >= ~40 dB, so true pairs sit
        # well above threshold; false pairs are rare degenerate
        # constant-envelope tone collisions
        precision = len(got & true_pairs) / max(len(got), 1)
        assert precision >= 0.8, (precision, len(got - true_pairs))

    def test_signature_schema_matches_text_path(self, spark):
        from lexis_minhash_spark.operators.audio_dedup import with_audio_signatures

        clips, _ = synth.clips_spark_df(spark, n_clips=20, seed=5)
        sig = with_audio_signatures(clips, CFG)
        assert set(sig.columns) == {
            "clip_id", "sig_arr", "bands", "is_zero", "n_shingles"
        }
        rows = sig.collect()
        assert len(rows) == 20
        for r in rows:
            assert len(r.sig_arr) == CFG.signature_size
            assert len(r.bands) == CFG.num_bands
            if r.is_zero:
                assert r.n_shingles == 0

    def test_too_short_clips_quarantined(self, spark):
        from lexis_minhash_spark.operators.audio_dedup import with_audio_signatures

        samples = (np.sin(np.arange(160) / 5.0) * 20000).astype(np.int16)
        tiny = audio.pcm16_to_wav(samples, 16000)  # 10 ms @ 16 kHz → 0 frames...
        df = spark.createDataFrame(
            [("c1", bytearray(tiny), 16000, 10, "pcm_s16le", "x")],
            "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
        )
        rows = with_audio_signatures(df, CFG).collect()
        assert rows[0].is_zero is True

    def test_undecodable_rows_quarantined_not_fatal(self, spark):
        # round-2 advice: one malformed blob / unsupported codec must not
        # fail the stage — undecodable rows become zero signatures and good
        # rows in the same Arrow batch are unaffected
        from lexis_minhash_spark.operators.audio_dedup import with_audio_signatures

        samples = (np.sin(np.arange(32000) / 5.0) * 20000).astype(np.int16)
        good = audio.pcm16_to_wav(samples, 16000)
        rows_in = [
            ("good", bytearray(good), 16000, 2000, "pcm_s16le", "x"),
            ("trunc", bytearray(b"RIFFxxxx"), 16000, 2000, "pcm_s16le", "x"),
            ("garbage", bytearray(b"not a wav at all, just junk bytes"), 16000, 2000, "pcm_s16le", "x"),
            ("badcodec", bytearray(good), 16000, 2000, "opus", "x"),
        ]
        df = spark.createDataFrame(
            rows_in,
            "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
        ).coalesce(1)  # one Arrow batch: bad rows sit next to the good one
        got = {r.clip_id: r for r in with_audio_signatures(df, CFG).collect()}
        assert got["good"].is_zero is False and got["good"].n_shingles > 0
        for cid in ("trunc", "garbage", "badcodec"):
            assert got[cid].is_zero is True, cid


class TestCheckpointResume:
    def test_resume_skips_completed_stages(self, spark, tmp_path):
        workdir = str(tmp_path / "ckpt")
        docs = spark.createDataFrame(
            [
                (1, "apple banana orange fruit salad recipe with apple and banana"),
                (2, "apple banana orange fruit salad recipe with apple and banana"),
                (3, "completely unrelated cooking about pasta and sauce"),
            ],
            "doc_id long, text string",
        )
        p1 = DedupPipeline(spark, CFG, workdir, input_desc="test-docs")
        cl1 = p1.run(docs)
        res1 = {r.doc_id: r.cluster_id for r in cl1.collect()}
        assert res1 == {1: 1, 2: 1, 3: 3}
        assert all(not r.skipped for r in p1.results)

        # simulate mid-run kill: delete the last two stage outputs, resume
        shutil.rmtree(f"{workdir}/verified")
        shutil.rmtree(f"{workdir}/clusters")
        p2 = DedupPipeline(spark, CFG, workdir, input_desc="test-docs")
        cl2 = p2.run(docs)
        res2 = {r.doc_id: r.cluster_id for r in cl2.collect()}
        assert res2 == res1
        skipped = {r.name: r.skipped for r in p2.results}
        assert skipped["signatures"] and skipped["bands"] and skipped["candidates"]
        assert not skipped["verified"] and not skipped["clusters"]
        # metrics + lineage written
        stages = [m["stage"] for m in p2.metrics()]
        assert "signatures" in stages and "clusters" in stages

    def test_per_partition_lineage_recorded(self, spark, tmp_path):
        import json as _json

        workdir = str(tmp_path / "ckpt_lineage")
        docs = spark.createDataFrame(
            [(i, f"document number {i} with several words here") for i in range(20)],
            "doc_id long, text string",
        )
        p = DedupPipeline(spark, CFG, workdir, input_desc="lineage-docs")
        p.run(docs)
        with open(f"{workdir}/_lineage.jsonl") as f:
            recs = [_json.loads(l) for l in f if l.strip()]
        by_stage = {r["stage"]: r for r in recs}
        assert "signatures" in by_stage and "clusters" in by_stage
        for stage in ("signatures", "clusters"):
            r = by_stage[stage]
            assert r["n_partitions"] >= 1
            assert sum(rows for _, rows in r["partitions"]) == 20

    def test_pipeline_with_non_default_id_col(self, spark, tmp_path):
        # regression: id_col must thread through bands/verified/clusters
        # (jobs/dedup_job.py defaults to --id-col clip_id)
        workdir = str(tmp_path / "ckpt_clip")
        docs = spark.createDataFrame(
            [
                (11, "apple banana orange fruit salad recipe with apple and banana"),
                (12, "apple banana orange fruit salad recipe with apple and banana"),
                (13, "completely unrelated cooking about pasta and sauce"),
            ],
            "clip_id long, transcript string",
        )
        p = DedupPipeline(spark, CFG, workdir, input_desc="clips")
        cl = p.run(docs, text_col="transcript", id_col="clip_id")
        res = {r.doc_id: r.cluster_id for r in cl.collect()}
        assert res == {11: 11, 12: 11, 13: 13}

    def test_bucketed_signature_checkpoint_resume(self, spark, tmp_path):
        # round-5: sig_buckets writes the signatures checkpoint as a
        # bucketed table (exchange-free verify joins, see test_plans) —
        # results must be identical to the plain-parquet checkpoint, and
        # resume in a fresh catalog must re-register the bucket spec.
        workdir = str(tmp_path / "ckpt_bkt")
        docs = spark.createDataFrame(
            [
                (1, "apple banana orange fruit salad recipe with apple and banana"),
                (2, "apple banana orange fruit salad recipe with apple and banana"),
                (3, "completely unrelated cooking about pasta and sauce"),
            ],
            "doc_id long, text string",
        )
        p1 = DedupPipeline(spark, CFG, workdir, sig_buckets=4)
        res1 = {r.doc_id: r.cluster_id for r in p1.run(docs).collect()}
        assert res1 == {1: 1, 2: 1, 3: 3}
        name = p1._table_name("signatures")
        assert spark.catalog.tableExists(name)

        # simulate a new session's empty catalog + a mid-run kill
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{workdir}/verified")
        shutil.rmtree(f"{workdir}/clusters")
        p2 = DedupPipeline(spark, CFG, workdir, sig_buckets=4)
        res2 = {r.doc_id: r.cluster_id for r in p2.run(docs).collect()}
        assert res2 == res1
        skipped = {r.name: r.skipped for r in p2.results}
        assert skipped["signatures"] and not skipped["verified"]
        # the re-registered table carries the bucket spec
        assert spark.catalog.tableExists(name)
        ddl = spark.sql(f"SHOW CREATE TABLE {name}").collect()[0][0]
        assert "CLUSTERED BY" in ddl and "4 BUCKETS" in ddl, ddl

    def test_bucketed_resume_validates_bucket_spec(self, spark, tmp_path):
        # round-6 (round-5 advice): the bucket spec of record is persisted
        # at write time; resuming with a DIFFERENT --sig-buckets, or
        # bucketed over a previously PLAIN checkpoint, must raise instead
        # of registering a wrong spec (which can silently drop joins).
        import pytest

        docs = spark.createDataFrame(
            [
                (1, "apple banana orange fruit salad recipe with apple and banana"),
                (2, "apple banana orange fruit salad recipe with apple and banana"),
            ],
            "doc_id long, text string",
        )
        workdir = str(tmp_path / "ckpt_spec")
        p1 = DedupPipeline(spark, CFG, workdir, sig_buckets=4)
        p1.run(docs)
        name = p1._table_name("signatures")
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        p2 = DedupPipeline(spark, CFG, workdir, sig_buckets=8)
        with pytest.raises(ValueError, match="4 buckets"):
            p2.run(docs)

        workdir_plain = str(tmp_path / "ckpt_plain")
        p3 = DedupPipeline(spark, CFG, workdir_plain)
        p3.run(docs)
        p4 = DedupPipeline(spark, CFG, workdir_plain, sig_buckets=4)
        with pytest.raises(ValueError, match="no bucket spec"):
            p4.run(docs)

    def test_bucketed_checkpoint_string_ids(self, spark, tmp_path):
        # north-rule input uses clip_id:string — the bucketed signature
        # checkpoint (bucketBy on the id column) must behave identically
        # for string ids, including the cluster join-back.
        workdir = str(tmp_path / "ckpt_bkt_str")
        docs = spark.createDataFrame(
            [
                ("clip_a", "apple banana orange fruit salad recipe with apple and banana"),
                ("clip_b", "apple banana orange fruit salad recipe with apple and banana"),
                ("clip_c", "completely unrelated cooking about pasta and sauce"),
            ],
            "clip_id string, transcript string",
        )
        p = DedupPipeline(spark, CFG, workdir, sig_buckets=4)
        cl = p.run(docs, text_col="transcript", id_col="clip_id")
        res = {r.doc_id: r.cluster_id for r in cl.collect()}
        assert res == {"clip_a": "clip_a", "clip_b": "clip_a", "clip_c": "clip_c"}
        ddl = spark.sql(
            f"SHOW CREATE TABLE {p._table_name('signatures')}"
        ).collect()[0][0]
        assert "CLUSTERED BY" in ddl, ddl
