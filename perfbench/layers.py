"""Layer probes of a traced run.  Each one times the benchmark's own calls
into one module's public functions, on the workload's own input."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd  # module-level: pandas UDF annotations resolve here
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from lexis_minhash_spark import kernels as K
from lexis_minhash_spark import ops
from lexis_minhash_spark import oracle as O
from lexis_minhash_spark.index import LSHIndexDF
from lexis_minhash_spark.streaming import incremental

KERNEL_SAMPLE = 2_000
UDF_BATCH = 10_000


@contextmanager
def timed_calls(module, names: list[str], acc: list[float]):
    """Patch ``module.<name>`` so that time spent in the outermost call of
    any of them accumulates into ``acc[0]``; restore on exit."""
    originals = {n: getattr(module, n) for n in names}
    depth = [0]

    def wrap(f):
        def timed(*args, **kwargs):
            if depth[0]:
                return f(*args, **kwargs)
            depth[0] += 1
            t0 = time.perf_counter()
            try:
                return f(*args, **kwargs)
            finally:
                acc[0] += time.perf_counter() - t0
                depth[0] -= 1

        return timed

    for n, f in originals.items():
        setattr(module, n, wrap(f))
    try:
        yield
    finally:
        for n, f in originals.items():
            setattr(module, n, f)


def _median_time(fn, reps: int) -> float:
    fn()  # first call pays lazy set-up (calibration, native load)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_rates(texts: list[str], cfg, seed: int, reps: int = 3) -> dict[str, float]:
    """L0: single-thread docs/s of each hash kernel on a sample of the
    workload's own texts (gated-in docs only, as the UDF feeds them)."""
    norm = [K.normalize_text(t) for t in texts[:KERNEL_SAMPLE]]
    docs = [t for t in norm if K.passes_gates(t, cfg.min_words, cfg.shingle_size)]
    a, b = cfg.coefficients
    hc, counts = K.batch_shingle_hashes(docs, cfg.shingle_size)
    w = np.random.default_rng(seed).uniform(0.5, 2.0, hc.shape[0])
    n = len(docs)
    return {
        "kernels.shingle_docs_per_s": n / _median_time(
            lambda: K.batch_shingle_hashes(docs, cfg.shingle_size), reps),
        "kernels.minhash_docs_per_s": n / _median_time(
            lambda: K.minhash_batch(hc, counts, a, b), reps),
        "kernels.weighted_minhash_docs_per_s": n / _median_time(
            lambda: K.minhash_batch(hc, counts, a, b, weights_concat=w), reps),
        "kernels.simhash_docs_per_s": n / _median_time(
            lambda: K.simhash_batch(hc, counts), reps),
    }


def udf_batch(texts: list[str], cfg, reps: int = 3) -> dict[str, float]:
    """L1: one Arrow-batch-sized call of the signature UDF body, and the
    share of it spent inside the hash kernels."""
    batch = pd.Series(np.resize(np.array(texts, dtype=object), UDF_BATCH))
    walls, shares = [], []
    ops._compute_batch(batch, cfg)
    for _ in range(reps):
        acc = [0.0]
        with timed_calls(K, ["batch_shingle_hashes", "minhash_batch"], acc):
            t0 = time.perf_counter()
            ops._compute_batch(batch, cfg)
            wall = time.perf_counter() - t0
        walls.append(wall)
        shares.append(acc[0] / wall)
    return {"ops.udf_batch_s": statistics.median(walls),
            "ops.udf_kernel_share": statistics.median(shares)}


def executor_native_kernel(spark, width: int) -> int:
    """1 if every executor Python worker loaded the native C kernel."""

    @pandas_udf("long")
    def probe(s: pd.Series) -> pd.Series:
        from lexis_minhash_spark import kernels_native

        return pd.Series([int(kernels_native.load() is not None)] * len(s))

    row = (
        spark.range(0, width, 1, width)
        .select(probe("id").alias("ok"))
        .agg(F.min("ok").alias("ok"))
        .head()
    )
    return int(row.ok)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _signed64(x: int) -> int:
    return x - (1 << 64) if x >= 1 << 63 else x


class IngestQuery:
    """Micro-batches through ``incremental.foreach_batch_candidates`` (with
    ``counts_path``) against the history a batch run checkpointed; after
    each batch commits it joins an ``LSHIndexDF`` and a fixed mix of point
    queries runs against that index.  Pairs and query results are checked
    against ``ops.candidate_pairs`` and a brute-force band match."""

    QUERIES_PER_BATCH = ("query", "query_with_scores", "query_with_weights")

    def __init__(self, spark, cfg, tracer, tally, workdir: str, history: str,
                 new_docs: pd.DataFrame, n_batches: int, seed: int, max_bucket: int):
        self.spark, self.cfg, self.tracer, self.tally = spark, cfg, tracer, tally
        self.dir = workdir
        self.history = history  # a DedupPipeline workdir (signatures, bands)
        self.new_docs = new_docs
        self.n_batches = n_batches
        self.rng = np.random.default_rng(seed)
        self.max_bucket = max_bucket
        self.ao, self.bo = O.oracle_coefficients(cfg.seed, cfg.signature_size)
        self.batch_of: dict[int, int] = {}
        self.query_info: list[dict] = []
        self.pairs_per_batch: list[int] = []

    def run(self, history_texts: list[str]) -> None:
        bands_root = f"{self.dir}/bands"
        shutil.copytree(f"{self.history}/bands", f"{bands_root}/batch_id=0")
        hist = pq.read_table(f"{self.history}/signatures", columns=["doc_id"]).column(0)
        self.batch_of.update((int(d), 0) for d in hist.to_numpy())
        hook = incremental.foreach_batch_candidates(
            bands_root, f"{self.dir}/pairs", max_bucket_size=self.max_bucket,
            counts_path=f"{self.dir}/counts")
        index = LSHIndexDF(self.spark, self.cfg)
        index.add_signatures(self.spark.read.parquet(f"{self.history}/signatures"))
        pool = list(history_texts)
        n = len(self.new_docs)
        for k in range(1, self.n_batches + 1):
            part = self.new_docs.iloc[(k - 1) * n // self.n_batches: k * n // self.n_batches]
            self.batch_of.update((int(d), k) for d in part["doc_id"])
            bdf = self.spark.createDataFrame(
                part.rename(columns={"transcript": "text"}), "doc_id long, text string")
            sig = ops.with_signatures(bdf, self.cfg)
            with self.tracer.span("incremental.batch"):
                hook(sig, k)
            with self.tracer.span("index.add"):
                path = f"{self.dir}/sigs/batch_id={k}"
                sig.write.parquet(path)
                index.add_signatures(self.spark.read.parquet(path))
            pool.extend(part["transcript"])
            self._queries(index, pool)
        self._check_pairs(bands_root)

    # -- queries -------------------------------------------------------------

    def _queries(self, index: LSHIndexDF, pool: list[str]) -> None:
        bands, sigs = self._index_state()
        for kind in self.QUERIES_PER_BATCH:
            text = pool[int(self.rng.integers(len(pool)))]
            weights = None
            if kind == "query_with_weights":
                grams = [s for _, s in O.oracle_shingle_strings(text.lower().strip(),
                                                                self.cfg.shingle_size)]
                weights = {g: (0.5 if i % 2 else 2.0) for i, g in enumerate(grams[:4])}
            driver = [0.0]
            with self.tracer.span(f"index.{kind}") as sp, timed_calls(
                K, ["normalize_text", "passes_gates", "shingle_hashes_text",
                    "minhash_from_hashes", "minhash_batch", "band_hashes_batch",
                    "zero_signature", "signature_to_bytes", "shingle_hash_for"], driver):
                if kind == "query":
                    got = index.query(text)
                elif kind == "query_with_scores":
                    got = index.query_with_scores(text)
                else:
                    got = index.query_with_weights(text, weights)
            errors = self._check_query(kind, text, weights, got, bands, sigs)
            self.tally.record(kind, errors)
            scores = [s for _, s in got] if kind == "query_with_scores" else None
            self.query_info.append({"span": sp.span_id, "kind": kind, "wall": sp.duration,
                                    "driver": driver[0], "candidates": len(got),
                                    "scores": scores})

    def _index_state(self) -> tuple[dict, dict]:
        """Driver copies of the index: band key -> doc ids (gated-out docs
        excluded, as ``ops.bands_table`` does) and doc id -> signature."""
        bands, sigs = {}, {}
        for path in [f"{self.history}/signatures", f"{self.dir}/sigs"]:
            df = pq.read_table(path, columns=["doc_id", "sig_arr", "bands", "is_zero"]).to_pandas()
            for d, s, bs, zero in df.itertuples(index=False):
                d = int(d)
                sigs[d] = [int(v) & 0xFFFFFFFF for v in s]
                if not zero:
                    for i, h in enumerate(bs):
                        bands.setdefault((i, int(h)), set()).add(d)
        return bands, sigs

    def _check_query(self, kind, text, weights, got, bands, sigs) -> list[str]:
        cfg = self.cfg
        qsig = O.oracle_signature(text, self.ao, self.bo, cfg.shingle_size, cfg.min_words,
                                  weights=weights, default_weight=cfg.default_weight)
        expected = set()
        for band in O.oracle_bands(qsig, cfg.num_bands, cfg.rows_per_band):
            expected |= bands.get((band[0], _signed64(band[1])), set())
        if kind == "query_with_scores":
            ids = [d for d, _ in got]
            if set(ids) != expected or len(ids) != len(expected):
                return [f"scored candidates differ from brute force ({len(ids)} vs {len(expected)})"]
            bad = [d for d, s in got if abs(s - O.oracle_similarity(qsig, sigs[d])) > 1e-12]
            return [f"{len(bad)} scores differ from the oracle similarity"] if bad else []
        if got != expected:
            return [f"{kind} returned {len(got)} ids, brute force {len(expected)}"]
        return []

    # -- pairs ---------------------------------------------------------------

    def _check_pairs(self, bands_root: str) -> None:
        everything = self.spark.read.parquet(bands_root).drop("batch_id")
        cands = ops.candidate_pairs(everything, max_bucket_size=self.max_bucket)
        expected: dict[int, set] = {k: set() for k in range(1, self.n_batches + 1)}
        for a, b in cands.collect():
            k = max(self.batch_of[a], self.batch_of[b])
            if k:
                expected[k].add((a, b))
        for k in range(1, self.n_batches + 1):
            got = pq.read_table(f"{self.dir}/pairs/batch_id={k}").to_pandas()
            got_set = set(zip(got["a"].tolist(), got["b"].tolist()))
            self.pairs_per_batch.append(len(got_set))
            errors = [] if got_set == expected[k] and len(got) == len(got_set) else [
                f"{len(got)} pairs written, ops.candidate_pairs gives {len(expected[k])}"]
            self.tally.record(f"ingest batch {k}", errors)
