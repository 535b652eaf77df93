#!/usr/bin/env python
"""Single-thread signature-kernel microbenchmark (BASELINE.md comparator).

Measures the full normalize→shingle→minhash→bands→serialize path the Spark
UDF executes per Arrow batch, on the same synthetic corpus as bench.py, in
one thread with no Spark involved.  Reports docs/s and shingles/s plus a
bit-exactness checksum (stable across kernel refactors; any change in the
checksum means the kernel broke, not just slowed).

Usage: python scripts/kernel_bench.py [n_docs] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")

import numpy as np

from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import kernels as K
from lexis_minhash_spark.sources.synth import generate_clips


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    clips, _ = generate_clips(n_clips=n_docs, seed=42, with_audio=False)
    texts = [t.lower().strip() for t in clips["transcript"].tolist()]
    cfg = EngineConfig(seed=12345)
    a, b = cfg.coefficients

    def full_path():
        hc, counts = K.batch_shingle_hashes(texts, cfg.shingle_size)
        sig = K.minhash_batch(hc, counts, a, b)
        bands = K.band_hashes_batch(sig, cfg.num_bands, cfg.rows_per_band)
        blob = np.ascontiguousarray(sig, dtype="<u4").tobytes()
        return hc.size, sig, bands, blob

    full_path()  # warm (allocators, scratch cache, native library load)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        n_shingles, sig, bands, _ = full_path()
        best = min(best, time.perf_counter() - t0)
    checksum = int(sig.astype(np.uint64).sum() + bands.view(np.uint64).sum())
    print(
        {
            "n_docs": n_docs,
            "n_shingles": int(n_shingles),
            "best_sec": round(best, 3),
            "docs_per_sec": round(n_docs / best, 1),
            "shingles_per_sec": round(n_shingles / best, 1),
            "checksum": checksum,
            "backend": "native" if K._native_fused_available() else "u64",
            "loadavg": round(os.getloadavg()[0], 2),
        }
    )


if __name__ == "__main__":
    main()
