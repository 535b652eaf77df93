"""Single-document API parity (api.py) + spec'd helpers + stop words."""

import numpy as np
import pytest

from lexis_minhash_spark import api
from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import oracle as O

CFG = EngineConfig(seed=12345)
AO, BO = O.oracle_coefficients(12345, 100)


class TestSingleDocAPI:
    def test_compute_signature_matches_oracle(self):
        t = "The quick brown fox jumps over the lazy dog"
        assert api.compute_signature(t, cfg=CFG).tolist() == O.oracle_signature(t, AO, BO, 5, 4)

    def test_weighted_matches_oracle(self):
        t = "hello world test document"
        w = {"hello": 2.0, "ello ": 0.5, "llo w": -1.0}
        assert api.compute_signature(t, weights=w, cfg=CFG).tolist() == O.oracle_signature(
            t, AO, BO, 5, 4, weights=w
        )

    def test_from_hashes(self):
        hs = [1, 2, 3, 2**63 + 5]
        assert api.compute_signature_from_hashes(hs, cfg=CFG).tolist() == O.oracle_signature_from_hashes(
            hs, AO, BO
        )
        assert api.compute_signature_from_hashes(
            hs, weights=[1.0, 2.0, -1.0, 0.5], cfg=CFG
        ).tolist() == O.oracle_signature_from_hashes(hs, AO, BO, weights=[1.0, 2.0, -1.0, 0.5])

    def test_similarity_and_compare(self):
        # compare = compute both + similarity (spec'd helper)
        t1 = "The quick brown fox jumps over the lazy dog"
        t2 = "The quick brown fox jumps over the lazy cat"
        s = api.compare(t1, t2, cfg=CFG)
        assert s == api.similarity(
            api.compute_signature(t1, cfg=CFG), api.compute_signature(t2, cfg=CFG)
        )
        assert 0.0 < s < 1.0
        assert api.compare(t1, t1, cfg=CFG) == 1.0

    def test_generate_bands_and_quirk(self):
        sig = O.oracle_signature("The quick brown fox jumps over the lazy dog", AO, BO, 5, 4)
        got = api.generate_bands(sig, cfg=CFG)
        exp = [
            (i, h if h < 2**63 else h - 2**64) for i, h in O.oracle_bands(sig, 20, 5)
        ]
        assert got == exp
        got10 = api.generate_bands(sig, bands=10, cfg=CFG)
        assert got10 == exp[:10]

    def test_detection_probability(self):
        assert api.detection_probability(0.75, CFG) == pytest.approx(0.9956, abs=5e-4)

    def test_prehash_weights(self):
        hashed = api.prehash_weights({"hello": 2.0})
        assert hashed == {O.oracle_shingle_hashes("hello", 5)[0]: 2.0}

    def test_exact_jaccard(self):
        assert api.exact_jaccard("abcdef", "abcdef", CFG) == 1.0
        assert api.exact_jaccard("abcdef", "uvwxyz", CFG) == 0.0
        assert api.exact_jaccard("", "", CFG) == 0.0


class TestStopWords:
    def test_stop_words_removed_before_shingling(self):
        cfg = EngineConfig(seed=12345, stop_words=("the", "a"))
        t = "the quick brown fox jumps over the lazy dog"
        stripped = "quick brown fox jumps over lazy dog"
        assert api.compute_signature(t, cfg=cfg).tolist() == O.oracle_signature(
            stripped, AO, BO, 5, 4
        )

    def test_stop_words_in_spark_stage(self, spark):
        from lexis_minhash_spark import ops

        cfg = EngineConfig(seed=12345, stop_words=("the", "a"))
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
        )
        row = ops.with_signatures(df, cfg).head()
        exp = O.oracle_signature("quick brown fox jumps over lazy dog", AO, BO, 5, 4)
        assert np.asarray(row.sig_arr, np.int32).view(np.uint32).tolist() == exp

    def test_stop_words_can_gate_out(self):
        cfg = EngineConfig(seed=12345, stop_words=("the", "lazy", "dog"))
        # after removal only 0 words remain → zero signature via min_words
        assert api.compute_signature("the lazy dog the", cfg=cfg).tolist() == [0] * 100

    def test_config_hash_includes_stop_words(self):
        c1 = EngineConfig(seed=12345)
        c2 = EngineConfig(seed=12345, stop_words=("x",))
        assert c1.config_hash() != c2.config_hash()


class TestConfigureShim:
    def test_configure_and_reset(self):
        from lexis_minhash_spark import config as C

        t = "The quick brown fox jumps over the lazy dog"
        try:
            default_sig = api.compute_signature(t)
            cfg = C.configure(seed=999, shingle_size=4)
            assert cfg.seed == 999 and cfg.shingle_size == 4
            assert C.current_config() is cfg
            got = api.compute_signature(t)
            exp = api.compute_signature(t, cfg=EngineConfig(seed=999, shingle_size=4))
            assert got.tolist() == exp.tolist()
            assert got.tolist() != default_sig.tolist()
        finally:
            C.reset_config()
        assert api.compute_signature(t).tolist() == default_sig.tolist()

    def test_configure_resets_unspecified_params(self):
        # reference parity (engine/config.cr:79-96): Engine.configure takes
        # DEFAULTED keyword args, so sequential calls do NOT layer — every
        # parameter not passed resets to the built-in default
        from lexis_minhash_spark import config as C

        try:
            C.configure(min_words=10)
            assert C.current_config().min_words == 10
            C.configure(num_bands=25)
            assert C.current_config().num_bands == 25
            assert C.current_config().min_words == 4  # reset, not layered
        finally:
            C.reset_config()

    def test_configure_rejects_unknown_field(self):
        from lexis_minhash_spark import config as C

        with pytest.raises(TypeError):
            C.configure(not_a_field=1)
        assert C.current_config().seed == 12345

    def test_configure_validates_band_divisibility(self):
        from lexis_minhash_spark import config as C

        with pytest.raises(ValueError):
            C.configure(signature_size=101)
        C.reset_config()


class TestSerializationTwins:
    def test_native_blob_equals_le_on_little_endian_hosts(self):
        import sys

        from lexis_minhash_spark import kernels as K

        sig = api.compute_signature("The quick brown fox jumps over the lazy dog", cfg=CFG)
        le = K.signature_to_bytes(sig)
        # the reference's Signature#to_blob writes native-endian uint32s
        native = np.ascontiguousarray(sig, dtype=np.uint32).tobytes()
        if sys.byteorder == "little":  # every Spark deployment target
            assert native == le
        assert K.bytes_to_signature(le).tolist() == sig.tolist()


class TestMultisetOverlap:
    def test_matches_two_pointer_reference_semantics(self):
        import random

        from lexis_minhash_spark import kernels as K

        def two_pointer(a, b):
            # independent restatement of similarity.cr:53-69
            if not a or not b:
                return 0.0
            a, b = sorted(a), sorted(b)
            i = j = m = 0
            while i < len(a) and j < len(b):
                if a[i] == b[j]:
                    m += 1
                    i += 1
                    j += 1
                elif a[i] < b[j]:
                    i += 1
                else:
                    j += 1
            return m / min(len(a), len(b))

        rng = random.Random(11)
        for _ in range(50):
            a = [rng.randrange(8) for _ in range(rng.randrange(12))]
            b = [rng.randrange(8) for _ in range(rng.randrange(12))]
            got = K.overlap_coefficient_multiset(np.array(sorted(a)), np.array(sorted(b)))
            assert got == pytest.approx(two_pointer(a, b), abs=1e-12)
        # on distinct input it equals the set-based overlap
        a = np.array([1, 2, 3, 9])
        b = np.array([2, 3, 4])
        assert K.overlap_coefficient_multiset(a, b) == K.overlap_coefficient(a, b)
