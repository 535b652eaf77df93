"""Audio near-duplicate detection: decoded-PCM fingerprints through the
SAME MinHash/LSH engine as transcripts.

Pipeline shape (axes: pyspark × audio):

    clips(bytes, codec, sr_hz) ──audio_signature_udf──▶ SIGNATURE_STRUCT
        └─ decode PCM (per-row: ragged binary — the one unavoidable
           per-row step) → frame energy envelope → loudness-invariant
           4-bit quantization → w-frame rolling shingles hashed with the
           SAME P=31 byte kernel (kernels.batch_shingle_hashes_bytes) →
           minhash_batch → band_hashes_batch
    then ops.bands_table / candidate_pairs / verified_pairs unchanged —
    the audio path reuses every downstream relational stage (zero-sig
    quarantine, hot-bucket caps, codegen verify, connected components).

Scale notes: the UDF is one Arrow pass per batch; all hashing/min-reduce is
the batch kernel path (fused C when it loads, else blocked NumPy).
Quantization normalizes by the clip's own peak
energy, so uniform gain changes don't move the fingerprint; the envelope is
NOT shift-invariant (same-offset near-dups, the dedup case for re-encoded /
re-noised copies of one recording — time-aligned by construction).

Reference parity note: the reference is text-only; this operator is a
north-star extension (BASELINE.json: audio clip + transcript pairs), built
on the reference's own signature/band kernels (engine/signature.cr:7-30,
engine.cr:426-456) applied to a quantized audio byte stream.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from lexis_minhash_spark import kernels as K
from lexis_minhash_spark import ops
from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark.sources.audio import decode_clip

N_QUANT_LEVELS = 16  # 4-bit energy quantization


def quantize_envelope(pcm: np.ndarray, sr_hz: int, frame_ms: int) -> np.ndarray:
    """float PCM → uint8 per-frame feature bytes: (energy_4bit << 4) |
    zero_crossing_rate_4bit.

    Energy is peak-normalized (loudness-invariant); the zero-crossing rate
    adds frequency structure — a stationary tone has a FLAT energy envelope
    (every frame in the same bin), so energy alone degenerates to a
    constant byte stream; ZC rate separates stationary clips by dominant
    frequency.  Parameters tuned on the synthetic corpus: within-cluster
    MinHash similarity ≥ ~0.5, cross-cluster ~0 (see tests)."""
    flen = max(1, int(sr_hz * frame_ms / 1000))
    n_frames = pcm.shape[0] // flen
    if n_frames == 0:
        return np.empty(0, dtype=np.uint8)
    x = pcm[: n_frames * flen].astype(np.float64).reshape(n_frames, flen)
    energy = np.sqrt((x * x).mean(axis=1))
    peak = energy.max()
    if peak <= 0.0:
        qe = np.zeros(n_frames, dtype=np.int64)
    else:
        qe = np.minimum(
            np.floor(energy * (N_QUANT_LEVELS / peak)), N_QUANT_LEVELS - 1
        ).astype(np.int64)
    sb = np.signbit(x)
    zc = (sb[:, 1:] != sb[:, :-1]).sum(axis=1)
    qz = np.minimum(np.floor(zc / flen * 48.0), N_QUANT_LEVELS - 1).astype(np.int64)
    return ((qe << 4) | qz).astype(np.uint8)


def audio_signature_udf(
    cfg: EngineConfig,
    frame_ms: int = 20,
    window_frames: int = 6,
):
    """pandas UDF (bytes, codec, sr_hz) → ops.SIGNATURE_STRUCT.

    One Arrow round-trip; decode is per-row, everything after (shingle
    hashing over the concatenated quantized streams, blocked minhash,
    band fold) is the batch kernel path shared with transcripts."""
    a, b = cfg.coefficients

    @pandas_udf(ops.SIGNATURE_STRUCT)
    def _sig(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        for blobs, codecs, srs in it:
            n = len(blobs)
            streams: list[np.ndarray] = []
            for blob, codec, sr in zip(blobs, codecs, srs):
                if blob is None or len(blob) == 0:
                    streams.append(np.empty(0, dtype=np.uint8))
                    continue
                # undecodable rows (malformed container, unsupported codec)
                # are quarantined as zero signatures instead of failing the
                # stage — same philosophy as the zero-sig text gate
                # (round-2 advice): one bad blob in 10^12 must not kill the
                # job; zero-sig rows are already excluded from banding.
                try:
                    # no bytes() copy: the WAV parser works on any buffer
                    # (slice compare + np.frombuffer)
                    pcm = decode_clip(blob, str(codec))
                except (ValueError, NotImplementedError, struct.error):
                    streams.append(np.empty(0, dtype=np.uint8))
                    continue
                streams.append(quantize_envelope(pcm, int(sr), frame_ms))
            lens = np.array([s.shape[0] for s in streams], dtype=np.int64)
            big = np.concatenate(streams) if n else np.empty(0, dtype=np.uint8)
            hc, counts = K.batch_shingle_hashes_bytes(
                big, np.cumsum(lens) - lens, lens, window_frames
            )
            ok = counts > 0
            sig_mat = np.zeros((n, cfg.signature_size), dtype=np.uint32)
            if hc.size:
                sig_mat[ok] = K.minhash_batch(hc, counts[ok], a, b)
            band_mat = K.band_hashes_batch(sig_mat, cfg.num_bands, cfg.rows_per_band)
            yield pd.DataFrame(
                {
                    "sig_arr": list(sig_mat.view(np.int32)),
                    "bands": list(band_mat.view(np.int64)),
                    "is_zero": ~ok,
                    "n_shingles": counts.astype(np.int32),
                }
            )

    # Deterministic in fact; marked non-deterministic so a filter on a
    # struct field (bands_table's `~is_zero` over an unpersisted signature
    # table) can never be pushed below the evaluation and duplicate the
    # decode+fingerprint pass (guide §4.4 — same rationale as the text
    # signature UDF in ops.make_signature_udf).
    return _sig.asNondeterministic()


def with_audio_signatures(
    clips: DataFrame,
    cfg: EngineConfig,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    frame_ms: int = 20,
    window_frames: int = 6,
) -> DataFrame:
    """clips → audio signature table (same schema as ops.with_signatures,
    so every downstream stage — bands_table, candidate generation, verify,
    connected components, the checkpointed pipeline — applies unchanged)."""
    u = audio_signature_udf(cfg, frame_ms, window_frames)
    return (
        clips.select(id_col, bytes_col, codec_col, sr_col)
        .withColumn("_s", u(F.col(bytes_col), F.col(codec_col), F.col(sr_col)))
        .select(id_col, "_s.*")
    )


def audio_near_dup_pairs(
    clips: DataFrame,
    cfg: EngineConfig | None = None,
    threshold: float = 0.25,
    id_col: str = "clip_id",
    max_bucket_size: int | None = 10_000,
    frame_ms: int = 20,
    window_frames: int = 6,
    materialize: bool = True,
) -> DataFrame:
    """End-to-end audio near-dup pairs: (a, b, similarity) with a < b.

    EAGER by default: with ``materialize=True`` the result is computed and
    ``localCheckpoint``-ed before returning, so the signature cache can be
    released immediately and repeated actions on the returned (small) pair
    list never re-decode the corpus.  ``localCheckpoint`` stores blocks
    unreplicated on executors — on a real cluster, an executor loss makes
    the returned DataFrame unrecoverable (round-3 advice).  Cluster jobs
    that need a durable result should pass ``materialize=False`` (lazy
    plan, lineage retained; the caller manages persisting/writing — e.g.
    jobs/dedup_job.py writes each stage to checkpointed parquet instead).

    threshold is on MinHash-estimated Jaccard of the quantized-envelope
    shingle sets; re-noised copies of one recording (SNR ≥ ~30 dB) keep
    most envelope bins intact (sim ≫ 0.3), unrelated recordings with
    distinct temporal envelopes sit near 0.  Quantization-bin flips at the
    noise level make true-pair similarity land well below 1.0, hence the
    default verify threshold of 0.25 (measured on the synthetic corpus:
    recall 0.96 / precision 0.99 at 2,000 clips).

    Default band config is b=50/r=2 (LSH detection threshold ≈ 0.14,
    p(detect) ≈ 1.0 at s = 0.5): audio envelope Jaccard for true near-dups
    sits lower than text shingle Jaccard (quantization bin flips), so the
    text default b=20/r=5 (t ≈ 0.55) would silently drop ~half the
    candidates at s ≈ 0.5."""
    cfg = cfg or EngineConfig(seed=12345, num_bands=50)
    # persist (eager and lazy alike): the signature table feeds the bands
    # explode AND both sides of the verify join — unpersisted, the
    # decode+fingerprint UDF would execute three times.  The eager result
    # is localCheckpoint'ed so the cache can be released before returning
    # (round-2 advice: repeated calls in a long-lived session must not
    # accumulate cached blocks); the returned pair list is small and
    # reusable without recomputation.
    sig = with_audio_signatures(
        clips, cfg, id_col=id_col, frame_ms=frame_ms, window_frames=window_frames
    )
    # Scan splits are sized for DECODE parallelism (many small blob splits
    # — straggler-resistant); the persisted signature table inherits that
    # fan-out, and every downstream cache scan (bands explode, hot count,
    # two verify legs) then pays per-task overhead on ~split-sized slivers
    # of a far narrower table.  Fan the cache in 4:1 (floored at cluster
    # width) — a shuffle-free coalesce merging adjacent splits; the decode
    # UDF still runs at >= defaultParallelism.  Persist only the columns
    # downstream consumers read (id, sig_arr, bands, is_zero) — n_shingles
    # stays derivable but uncached (guide §2.3).
    # Measured (5k clips, 128 splits): 5.8 s -> 3.4 s, identical pairs.
    n_parts = clips.rdd.getNumPartitions()  # == sig's (narrow 1:1 stage)
    width = clips.sparkSession.sparkContext.defaultParallelism
    sig = sig.coalesce(max(width, n_parts // 4)).select(
        id_col, "sig_arr", "bands", "is_zero"
    ).persist()
    bands = ops.bands_table(sig, id_col=id_col)
    # packed 64-bit band key for the candidate shuffle (merge-only
    # collisions absorbed by the exact verify — ops.pack_band_key)
    packed = bands.select(F.col(id_col), ops.pack_band_key().alias("band_key"))
    cands = ops.candidate_pairs(
        packed, id_col=id_col, max_bucket_size=max_bucket_size, key_cols=("band_key",)
    )
    pairs = ops.verified_pairs(cands, sig, threshold, id_col=id_col)
    if not materialize:
        # lazy: the cache (NOT localCheckpoint — lineage retained, so lost
        # blocks recompute on a cluster) is left to the caller/session
        return pairs
    try:
        return pairs.localCheckpoint()
    finally:
        sig.unpersist()
