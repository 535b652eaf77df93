"""Benchmark-owned input corpora, generated from the run's seed and cached.

Each corpus is produced by ``sources.synth.generate_clips`` and written as
parquet with pyarrow (no Spark session is involved, so generation never
warms the engine).  The cache key is (kind, seed, size, hash of the
generator sources): a change to ``sources/synth.py`` or ``sources/audio.py``
regenerates without a hand-bumped version string.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# batch_dedup: the batch job dedups the first TEXT_DOCS transcripts; the
# traced ingest probe streams the next INGEST_DOCS in micro-batches.
TEXT_DOCS = 4_000
INGEST_DOCS = 1_000
# clip_families: clips with WAV blobs (~70 KB each).
AUDIO_CLIPS = 400
AUDIO_FILES = 16  # parquet files, fixed so the input layout is host-independent
DUP_FRACTION = 0.3
MUTATION_RATE = 0.10


@dataclass(frozen=True)
class Corpus:
    path: str
    gen_s: float  # 0.0 when served from the cache
    cached: bool


def generator_hash(root: str) -> str:
    h = hashlib.sha256()
    for rel in ("lexis_minhash_spark/sources/synth.py", "lexis_minhash_spark/sources/audio.py"):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _doc_ids(clips):
    return clips["clip_id"].str.slice(5).astype("int64")


def _write_text(out: str, seed: int) -> None:
    from lexis_minhash_spark.sources.synth import generate_clips

    clips, truth = generate_clips(
        n_clips=TEXT_DOCS + INGEST_DOCS, seed=seed, dup_fraction=DUP_FRACTION,
        mutation_rate=MUTATION_RATE, with_audio=False,
    )
    clips["doc_id"] = _doc_ids(clips)
    truth["doc_id"] = _doc_ids(truth)
    docs = clips[["doc_id", "transcript"]]
    os.makedirs(os.path.join(out, "docs"))
    os.makedirs(os.path.join(out, "ingest"))
    pq.write_table(
        pa.Table.from_pandas(docs.iloc[:TEXT_DOCS], preserve_index=False),
        os.path.join(out, "docs", "part-0.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(docs.iloc[TEXT_DOCS:], preserve_index=False),
        os.path.join(out, "ingest", "part-0.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(truth[["doc_id", "cluster_id"]], preserve_index=False),
        os.path.join(out, "truth.parquet"),
    )


def _write_audio(out: str, seed: int) -> None:
    from lexis_minhash_spark.sources.synth import generate_clips

    clips, truth = generate_clips(
        n_clips=AUDIO_CLIPS, seed=seed, dup_fraction=DUP_FRACTION,
        mutation_rate=MUTATION_RATE, with_audio=True,
    )
    clips["doc_id"] = _doc_ids(clips)
    table = pa.Table.from_pandas(clips, preserve_index=False)
    os.makedirs(os.path.join(out, "clips"))
    step = -(-len(clips) // AUDIO_FILES)
    for i in range(AUDIO_FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            # small row groups: scan splits are bounded by row-group size,
            # and the blob decode wants many splits
            pq.write_table(part, os.path.join(out, "clips", f"part-{i:03d}.parquet"),
                           row_group_size=16)
    pq.write_table(
        pa.Table.from_pandas(truth, preserve_index=False),
        os.path.join(out, "truth.parquet"),
    )


_WRITERS = {"text": (_write_text, TEXT_DOCS + INGEST_DOCS), "audio": (_write_audio, AUDIO_CLIPS)}


def ensure(root: str, cache_dir: str, kind: str, seed: int) -> Corpus:
    """Return the cached corpus for (kind, seed), generating it if absent."""
    write, size = _WRITERS[kind]
    key = f"{kind}-n{size}-s{seed}-g{generator_hash(root)}"
    path = os.path.join(cache_dir, key)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return Corpus(path, 0.0, True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.monotonic()
    try:
        write(tmp, seed)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return Corpus(path, time.monotonic() - t0, False)
