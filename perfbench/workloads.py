"""One benchmark run in a fresh process: set up a session, run one workload
as a closed loop with one client, check its outputs, write the result.

Started by ``perfbench/run.py``, which generates the corpus first and
samples memory from outside; run that instead of this module.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
from itertools import combinations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import corpora, layers
from perfbench.procs import JIT, cpu_since, tree_cpu_s
from perfbench.stats import Tally
from perfbench.trace import (
    Tracer, bookkeeping_s, descendants, event_log_files, parse_event_log,
    self_times, spark_active_s, work_for,
)

# After the cold iteration, timed warm iterations run until --seconds have
# passed since it ended and at least MIN_TIMED of them passed their checks.
# The JIT keeps compiling through the first warm iterations (the wall time
# of each reads 5-15% below the one before), so the minimum count, not the
# host's speed, fixes which iterations a median sees.
MIN_TIMED = 2
MAX_FAILURES = 3  # consecutive failed iterations before the loop gives up
DEFAULT_SEED = 1
ENGINE_SEED = 12345
THRESHOLD = 0.75
MAX_BUCKET = 10_000
ORACLE_SAMPLE = 200
INGEST_BATCHES = 2
STAGES = ("signatures", "bands", "candidates", "verified", "clusters")

# Output counts at --seed DEFAULT_SEED; a change in any of them is a failure.
PINNED = {
    "batch_dedup": {"clusters": 1816, "verified_pairs": 4526},
    "clip_families": {"audio_pairs": 632, "simhash_pairs": 86, "ngram_pairs": 624},
}


class Context:
    def __init__(self, spark, args, tracer: Tracer, tally: Tally):
        from lexis_minhash_spark.config import EngineConfig

        self.spark = spark
        self.seed = args.seed
        self.corpus = args.corpus
        self.work = args.work
        self.tracer = tracer
        self.tally = tally
        self.threads = args.threads
        self.cfg = EngineConfig(seed=ENGINE_SEED)


def _pin_errors(workload: str, seed: int, counts: dict) -> list[str]:
    if seed != DEFAULT_SEED:
        return []
    return [f"{k} = {counts[k]}, pinned {v}" for k, v in PINNED[workload].items()
            if counts[k] != v]


def _pairs(n):
    return n * (n - 1) // 2


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class BatchDedup:
    """``DedupPipeline.run`` into a fresh workdir per iteration."""

    name = "batch_dedup"
    n_docs = corpora.TEXT_DOCS

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.docs_path = f"{ctx.corpus}/docs"
        self.ref = None
        self.ref_sigs = None
        self.pipelines = []
        self.cc_driver_used = []
        self.counts = {}

    def instrument(self) -> None:
        """Traced runs only: one span (and job group) per pipeline stage and
        around connected components."""
        from lexis_minhash_spark import ops
        from lexis_minhash_spark.plans.pipeline import DedupPipeline

        tracer = self.ctx.tracer
        run_stage = DedupPipeline._run_stage
        cc, cc_driver = ops.connected_components, ops._cc_driver

        def traced_stage(pipeline, stage, build, *args, **kwargs):
            with tracer.span(f"pipeline.{stage}"):
                return run_stage(pipeline, stage, build, *args, **kwargs)

        def traced_cc(*args, **kwargs):
            self.cc_driver_used.append(False)
            with tracer.span("cc"):
                return cc(*args, **kwargs)

        def flag_driver(*args, **kwargs):
            self.cc_driver_used[-1] = True
            return cc_driver(*args, **kwargs)

        DedupPipeline._run_stage = traced_stage
        ops.connected_components = traced_cc
        ops._cc_driver = flag_driver

    def iterate(self, i: int):
        from lexis_minhash_spark.plans.pipeline import DedupPipeline

        ctx = self.ctx
        docs = (
            ctx.spark.read.parquet(self.docs_path)
            .withColumnRenamed("transcript", "text")
            .repartition(3 * ctx.threads)
        )
        p = DedupPipeline(ctx.spark, ctx.cfg, f"{ctx.work}/dedup/it{i}", threshold=THRESHOLD,
                          max_bucket_size=MAX_BUCKET, input_desc=self.docs_path)
        p.run(docs)
        self.pipelines.append(p)
        return p

    def _sig_sample(self, workdir: str) -> dict[int, list[int]]:
        """Signatures (as uint32 values) of a seeded sample of doc ids."""
        ids = np.random.default_rng(self.ctx.seed).choice(self.n_docs, ORACLE_SAMPLE, replace=False)
        t = pq.read_table(f"{workdir}/signatures", columns=["doc_id", "sig_arr"],
                          filters=[("doc_id", "in", [int(x) for x in ids])])
        return {int(d): [v & 0xFFFFFFFF for v in s]
                for d, s in zip(t.column(0).to_pylist(), t.column(1).to_pylist())}

    def _oracle_errors(self, sample: dict[int, list[int]]) -> list[str]:
        from lexis_minhash_spark import oracle as O

        if len(sample) != ORACLE_SAMPLE:
            return [f"signature sample has {len(sample)} rows, expected {ORACLE_SAMPLE}"]
        cfg = self.ctx.cfg
        a, b = O.oracle_coefficients(cfg.seed, cfg.signature_size)
        texts = pq.read_table(self.docs_path).to_pandas().set_index("doc_id")["transcript"]
        bad = [d for d, sig in sample.items()
               if sig != O.oracle_signature(texts[d], a, b, cfg.shingle_size, cfg.min_words)]
        return [f"{len(bad)} of {ORACLE_SAMPLE} signatures differ from the oracle"] if bad else []

    def _reference_clusters(self, workdir: str) -> pd.DataFrame:
        """The pipeline's semantics recomputed on the driver from the
        checkpointed signatures: band fold, every pair sharing a band,
        similarity >= THRESHOLD, components labelled by their least id."""
        cfg = self.ctx.cfg
        t = pq.read_table(f"{workdir}/signatures", columns=["doc_id", "sig_arr", "is_zero"])
        ids = t.column("doc_id").to_numpy()
        sig = np.stack(t.column("sig_arr").to_numpy(zero_copy_only=False)).view(np.uint32)
        keep = ~t.column("is_zero").to_numpy(zero_copy_only=False)
        ids_nz, sig_nz = ids[keep], sig[keep].astype(np.uint64)
        r = cfg.rows_per_band
        pairs = set()
        for band in range(cfg.num_bands):
            key = np.zeros(len(ids_nz), dtype=np.uint64)
            for j in range(band * r, band * r + r):
                key = (key << np.uint64(7)) ^ sig_nz[:, j]
            for members in pd.Series(np.arange(len(ids_nz))).groupby(key).indices.values():
                if len(members) > 1:
                    pairs.update(combinations(sorted(members), 2))
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        if pairs:
            a, b = np.array(sorted(pairs)).T
            ok = (sig_nz[a] == sig_nz[b]).sum(axis=1) / cfg.signature_size >= THRESHOLD
            for x, y in zip(ids_nz[a[ok]], ids_nz[b[ok]]):
                rx, ry = find(int(x)), find(int(y))
                if rx != ry:
                    parent[max(rx, ry)] = min(rx, ry)
        return pd.DataFrame({"doc_id": ids, "cluster_id": [find(int(d)) for d in ids]}) \
            .sort_values("doc_id").reset_index(drop=True)

    def _planted_recall(self, assign: pd.DataFrame) -> float:
        """Share of the generator's planted duplicate pairs that share a
        cluster.  Reported, not checked: gated-out edge rows and mutated
        copies whose Jaccard sits at the threshold are missed by design."""
        truth = pq.read_table(f"{self.ctx.corpus}/truth.parquet").to_pandas()
        m = truth.merge(assign, on="doc_id", suffixes=("_truth", ""))
        planted = _pairs(m.groupby("cluster_id_truth").size()).sum()
        found = _pairs(m.groupby(["cluster_id_truth", "cluster_id"]).size()).sum()
        return float(found / planted)

    def _reference_recall(self, assign: pd.DataFrame, ref: pd.DataFrame) -> float:
        """Share of the reference clustering's duplicate pairs found."""
        m = ref.merge(assign, on="doc_id", suffixes=("_ref", ""))
        expected = _pairs(m.groupby("cluster_id_ref").size()).sum()
        found = _pairs(m.groupby(["cluster_id_ref", "cluster_id"]).size()).sum()
        return float(found / expected) if expected else 1.0

    def check(self, i: int, p) -> list[str]:
        assign = (
            pq.read_table(f"{p.workdir}/clusters").to_pandas()
            .sort_values("doc_id").reset_index(drop=True)
        )
        sigs = self._sig_sample(p.workdir)
        errors = []
        if len(assign) != self.n_docs:
            errors.append(f"{len(assign)} docs clustered, expected {self.n_docs}")
        if self.ref is None:
            self.ref, self.ref_sigs = assign, sigs
            reference = self._reference_clusters(p.workdir)
            recall = self._reference_recall(assign, reference)
            rows = {r.name: r.rows for r in p.results}
            self.counts = {"clusters": int(assign["cluster_id"].nunique()),
                           "verified_pairs": int(rows["verified"]),
                           "dup_pair_recall_vs_reference": recall,
                           "dup_pair_recall_vs_planted": self._planted_recall(assign)}
            if recall < 0.99:
                errors.append(f"dup-pair recall {recall:.4f} < 0.99 against the reference")
            if not assign.equals(reference):
                errors.append("clusters differ from the driver-side reference clustering")
            errors += self._oracle_errors(sigs)
            errors += _pin_errors(self.name, self.ctx.seed, self.counts)
        else:
            if not assign.equals(self.ref):
                errors.append("cluster assignments differ from the first iteration")
            if sigs != self.ref_sigs:
                errors.append("signature sample differs from the first iteration")
        return errors

    def probes(self) -> dict:
        ctx = self.ctx
        texts = list(pq.read_table(self.docs_path).column("transcript").to_pylist())
        out = {}
        with ctx.tracer.span("kernels"):
            out.update(layers.kernel_rates(texts, ctx.cfg, ctx.seed))
        with ctx.tracer.span("ops.udf_batch"):
            out.update(layers.udf_batch(texts, ctx.cfg))
        last = self.pipelines[-1].workdir
        sig = pq.read_table(f"{last}/signatures", columns=["is_zero"]).column(0).to_numpy()
        bands = pq.read_table(f"{last}/bands").to_pandas()
        sizes = bands.groupby(["band_idx", "band_hash"])["doc_id"].transform("size")
        rows = {r.name: r.rows for r in self.pipelines[-1].results}
        out["ops.zero_gated_docs"] = int(sig.sum())
        out["ops.candidates"] = rows["candidates"]
        out["ops.verified_ratio"] = rows["verified"] / max(rows["candidates"], 1)
        out["ops.capped_docs"] = int(bands.loc[sizes > MAX_BUCKET, "doc_id"].nunique())
        out["cc.edges"] = rows["verified"]
        out["cc.strategy"] = 1 if all(self.cc_driver_used) else 2
        for s in STAGES:
            out[f"pipeline.{s}.rows"] = rows[s]
        in_bytes = layers.dir_bytes(self.docs_path)
        out["pipeline.written_bytes_per_input_byte"] = layers.dir_bytes(last) / in_bytes
        self.ingest = layers.IngestQuery(
            ctx.spark, ctx.cfg, ctx.tracer, ctx.tally, f"{ctx.work}/ingest", last,
            pq.read_table(f"{ctx.corpus}/ingest").to_pandas(), INGEST_BATCHES, ctx.seed,
            MAX_BUCKET)
        self.ingest.run(texts)
        return out

    def layer_metrics(self, log, spans, warm) -> dict:
        out = {}
        by_parent = _children_by_name(spans)
        bookkeeping = []
        for s in STAGES:
            stage_spans = [by_parent[(it.span_id, f"pipeline.{s}")] for it in warm]
            works = [work_for(log, descendants(spans, sp.span_id)) for sp in stage_spans]
            out[f"pipeline.{s}.wall_s"] = _median([sp.duration for sp in stage_spans])
            out[f"pipeline.{s}.task_s"] = _median([w.task_s for w in works])
            out[f"pipeline.{s}.shuffle_write_mb"] = _median([w.shuffle_write_mb for w in works])
            out[f"pipeline.{s}.fetch_wait_s"] = _median([w.fetch_wait_s for w in works])
            out[f"pipeline.{s}.jobs"] = _median([w.jobs for w in works])
            bookkeeping.append([bookkeeping_s(log, w) for w in works])
        out["pipeline.bookkeeping_s"] = _median([sum(x) for x in zip(*bookkeeping)])
        clusters = [by_parent[(it.span_id, "pipeline.clusters")] for it in warm]
        out["cc.s"] = _median([by_parent[(sp.span_id, "cc")].duration for sp in clusters])
        out.update(_ingest_metrics(log, spans, self.ingest))
        return out


class ClipFamilies:
    """Audio near-dup pairs on the WAV blobs, then SimHash and word-trigram
    Jaccard pairs on the transcripts of the same clips table."""

    name = "clip_families"
    n_docs = corpora.AUDIO_CLIPS

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.clips_path = f"{ctx.corpus}/clips"
        self.ref = None
        self.counts = {}
        # scan splits sized for per-row blob decode, as the audio job does
        ctx.spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))

    def instrument(self) -> None:
        pass

    def iterate(self, i: int):
        from pyspark.sql import functions as F

        from lexis_minhash_spark.operators.audio_dedup import audio_near_dup_pairs
        from lexis_minhash_spark.operators.dedup import (
            ngram_jaccard_pairs, simhash_candidate_pairs, with_simhash,
        )

        ctx = self.ctx
        clips = ctx.spark.read.parquet(self.clips_path)
        with ctx.tracer.span("audio_dedup.pairs"):
            audio = {(r.a, r.b) for r in audio_near_dup_pairs(clips, threshold=0.25).collect()}
        docs = clips.select("doc_id", F.col("transcript").alias("text")).repartition(2 * ctx.threads)
        caches: list = []
        try:
            with ctx.tracer.span("dedup.simhash"):
                sim = {(r.a, r.b) for r in simhash_candidate_pairs(
                    with_simhash(docs, ctx.cfg), max_hamming=3, max_bucket_size=MAX_BUCKET,
                    cache_handle=caches).collect()}
            with ctx.tracer.span("dedup.ngram"):
                ngram = {(r.a, r.b) for r in ngram_jaccard_pairs(
                    docs, n=3, threshold=0.2, max_doc_freq=1000, cache_handle=caches).collect()}
        finally:
            for c in caches:
                c.unpersist()
        return audio, sim, ngram

    def _audio_quality(self, audio: set) -> tuple[float, float]:
        from itertools import combinations

        truth = pq.read_table(f"{self.ctx.corpus}/truth.parquet").to_pandas()
        planted = {
            (x, y)
            for ids in truth.groupby("cluster_id")["clip_id"].apply(sorted)
            for x, y in combinations(ids, 2)
        }
        hit = len(audio & planted)
        return hit / len(planted), hit / max(len(audio), 1)

    def check(self, i: int, result) -> list[str]:
        if self.ref is not None:
            names = ("audio", "simhash", "ngram")
            return [f"{n} pair set differs from the first iteration"
                    for n, got, ref in zip(names, result, self.ref) if got != ref]
        self.ref = result
        audio, sim, ngram = result
        recall, precision = self._audio_quality(audio)
        self.counts = {"audio_pairs": len(audio), "simhash_pairs": len(sim),
                       "ngram_pairs": len(ngram), "audio_recall": recall,
                       "audio_precision": precision}
        errors = _pin_errors(self.name, self.ctx.seed, self.counts)
        # the planted-audio thresholds of tests/test_audio_and_e2e.py
        if recall < 0.9:
            errors.append(f"audio pair recall {recall:.3f} < 0.9 against the planted truth")
        if precision < 0.8:
            errors.append(f"audio pair precision {precision:.3f} < 0.8")
        return errors

    def probes(self) -> dict:
        from lexis_minhash_spark.config import EngineConfig
        from lexis_minhash_spark.operators.audio_dedup import with_audio_signatures

        ctx = self.ctx
        texts = list(pq.read_table(self.clips_path, columns=["transcript"]).column(0).to_pylist())
        out = {}
        with ctx.tracer.span("kernels"):
            out.update(layers.kernel_rates(texts, ctx.cfg, ctx.seed))
        with ctx.tracer.span("ops.udf_batch"):
            out.update(layers.udf_batch(texts, ctx.cfg))
        walls = []
        for _ in range(2):
            with ctx.tracer.span("audio_dedup.signatures") as sp:
                clips = ctx.spark.read.parquet(self.clips_path)
                # the band config audio_near_dup_pairs uses by default
                sig = with_audio_signatures(clips, EngineConfig(seed=ENGINE_SEED, num_bands=50))
                sig.write.format("noop").mode("overwrite").save()
            walls.append(sp.duration)
        out["audio_dedup.signatures_s"] = _median(walls)
        audio, sim, ngram = self.ref
        out["dedup.simhash_pairs"] = len(sim)
        out["dedup.ngram_pairs"] = len(ngram)
        return out

    def layer_metrics(self, log, spans, warm) -> dict:
        by_parent = _children_by_name(spans)
        out = {}
        for name, prefix in (("audio_dedup.pairs", "audio_dedup"), ("dedup.simhash", "dedup.simhash"),
                             ("dedup.ngram", "dedup.ngram")):
            sps = [by_parent[(it.span_id, name)] for it in warm]
            works = [work_for(log, descendants(spans, sp.span_id)) for sp in sps]
            wall = _median([sp.duration for sp in sps])
            if prefix == "audio_dedup":
                out["audio_dedup.pairs_s"] = wall
                out["audio_dedup.scan_rows"] = _median([w.input_rows for w in works])
                out["audio_dedup.task_s"] = _median([w.task_s for w in works])
            else:
                out[f"{prefix}_s"] = wall
                out[f"{prefix}_shuffle_mb"] = _median([w.shuffle_write_mb for w in works])
        return out


WORKLOADS = {w.name: w for w in (BatchDedup, ClipFamilies)}


def _children_by_name(spans) -> dict:
    return {(s.parent, s.name): s for s in spans if s.parent is not None}


def _ingest_metrics(log, spans, ingest: layers.IngestQuery) -> dict:
    batches = [s for s in spans if s.name == "incremental.batch"]
    bworks = [work_for(log, descendants(spans, s.span_id)) for s in batches]
    queries = ingest.query_info
    qworks = [work_for(log, descendants(spans, q["span"])) for q in queries]
    scores = [s for q in queries if q["scores"] is not None for s in q["scores"]]
    return {
        "incremental.batch_s": _median([s.duration for s in batches]),
        "incremental.jobs_per_batch": _median([w.jobs for w in bworks]),
        "incremental.history_read_rows": _median([w.input_rows for w in bworks]),
        "incremental.written_mb": _median([w.output_mb for w in bworks]),
        "incremental.pairs_per_batch": _median(ingest.pairs_per_batch),
        "index.query_driver_ms": 1000 * _median([q["driver"] for q in queries]),
        "index.query_spark_ms": 1000 * _median([q["wall"] - q["driver"] for q in queries]),
        "index.jobs_per_query": _median([w.jobs for w in qworks]),
        "index.candidates_per_query": _median([q["candidates"] for q in queries]),
        "index.scored_useful_ratio": (
            sum(s >= THRESHOLD for s in scores) / len(scores) if scores else 0.0),
    }


def _guarded(tally: Tally, what: str, fn) -> None:
    """Run a traced-only step; a failure is counted, and its metrics print 0."""
    try:
        fn()
    except Exception as e:
        tally.record(what, [f"raised {type(e).__name__}: {e}"])


def _iteration_metrics(log, spans, warm) -> dict:
    selfs = self_times(spans)
    walls, driver, task, jobs = [], [], [], []
    for it in warm:
        w = work_for(log, descendants(spans, it.span_id))
        walls.append(it.duration)
        driver.append(it.duration - spark_active_s(w, it.start, it.end))
        task.append(w.task_s)
        jobs.append(w.jobs)
    return {
        "iter.wall_s": _median(walls),
        "iter.driver_s": _median(driver),
        "iter.residue_s": _median([selfs[it.span_id] for it in warm]),
        "iter.task_s": _median(task),
        "iter.jobs": _median(jobs),
    }


def setup(args, tracer: Tracer):
    """Everything between process start and the first timed operation:
    the session (JVM start, get_spark) and the native kernel."""
    from lexis_minhash_spark import kernels_native
    from lexis_minhash_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.work}/tmp "
                                         f"-Dderby.system.home={args.work}",
        "spark.sql.warehouse.dir": f"{args.work}/warehouse",
    }
    if args.trace:
        os.makedirs(f"{args.work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{args.work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with tracer.span("setup"):
        with tracer.span("session.get_spark") as sp_spark:
            spark = get_spark(app_name=f"perfbench-{args.workload}",
                              master=f"local[{args.threads}]",
                              shuffle_partitions=2 * args.threads, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("kernels_native.load"):
            driver_native = kernels_native.load() is not None
    return spark, driver_native, sp_spark


def _work_cpu(cpu: dict[str, tuple[float, float]]) -> float:
    """CPU seconds of the program's processes, the JIT's compiler threads
    left out: JIT compilation is warm-up that fades over the first warm
    iterations, and how far it got would otherwise set the figure."""
    return sum(u + s for name, (u, s) in cpu.items() if name != JIT)


def _jit_cpu(cpu: dict[str, tuple[float, float]]) -> float:
    return sum(cpu.get(JIT, (0.0, 0.0)))


def run(args) -> dict:
    from lexis_minhash_spark import session

    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    tally = Tally()
    spark, driver_native, sp_spark = setup(args, tracer)
    ready = time.time()
    if args.trace:
        tracer.attach(spark.sparkContext)

    ctx = Context(spark, args, tracer, tally)
    wl = WORKLOADS[args.workload](ctx)
    if args.trace:
        _guarded(tally, "instrumentation", wl.instrument)

    # (span, passed its checks, CPU seconds of this process tree inside it
    # by command name: (user, system))
    iters, failures_in_row, timed_from = [], 0, None
    while True:
        i = len(iters)
        cpu = {}
        try:
            with tracer.span("iteration") as sp:
                cpu0 = tree_cpu_s(os.getpid())
                result = wl.iterate(i)
                cpu = cpu_since(cpu0, tree_cpu_s(os.getpid()))
            errors = wl.check(i, result)
        except Exception as e:  # a failed iteration is counted, not fatal
            errors = [f"raised {type(e).__name__}: {e}"]
        ok = tally.record(f"iteration {i}", errors)
        iters.append((sp, ok, cpu))
        failures_in_row = 0 if ok else failures_in_row + 1
        if i == 0:
            timed_from = time.time()
        timed = [(s, c) for s, good, c in iters[1:] if good]
        if failures_in_row >= MAX_FAILURES:
            break
        if len(timed) >= MIN_TIMED and time.time() - timed_from >= args.seconds:
            break

    walls = [s.duration for s, _ in timed]
    cpus = [_work_cpu(c) for _, c in timed]
    metrics = {
        "setup_s": ready - args.spawn_time,
        "first_result_s": iters[0][0].end - ready,
        "first_result_cpu_s": _work_cpu(iters[0][2]),
        "docs_per_s": wl.n_docs / _median(walls) if timed else 0.0,
        "docs_per_cpu_s": wl.n_docs / _median(cpus) if timed else 0.0,
    }

    layer = {}
    if args.trace:
        _guarded(tally, "layer probes", lambda: layer.update(wl.probes()))
    executor_native = layers.executor_native_kernel(spark, args.threads)
    host = {
        "master": spark.sparkContext.master,
        "maybe_warm_ran": spark.sparkContext.applicationId in session._WARMED_APPS,
        "driver_kernel": "native" if driver_native else "numpy",
        "executor_kernel": "native" if executor_native else "numpy",
        "spark_version": spark.version,
    }
    spark.stop()

    if args.trace:
        log = parse_event_log(event_log_files(f"{args.work}/eventlog"))
        spans = tracer.spans
        timed_spans = [s for s, _ in timed]
        _guarded(tally, "layer metrics",
                 lambda: layer.update(wl.layer_metrics(log, spans, timed_spans)))
        layer.update(_iteration_metrics(log, spans, timed_spans))
        layer["session.get_spark_s"] = sp_spark.duration
        layer["jit.cold_cpu_s"] = _jit_cpu(iters[0][2])
        layer["jit.warm_cpu_s"] = _median([_jit_cpu(c) for _, c in timed])
        layer["session.executor_native_kernel"] = executor_native
        layer.update({f"traced.{k}": v for k, v in metrics.items()})
        tracer.write(args.spans)
        metrics = layer
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
        "host": host,
        "info": {
            "iteration_s": [s.duration for s, _, _ in iters],
            "iteration_cpu_s": [{n: [round(u, 2), round(s, 2)] for n, (u, s) in c.items()}
                                for _, _, c in iters],
            "timed_iterations": len(timed),
            "counts": wl.counts,
            "failures": tally.failures,
            "error_rate": tally.error_rate,
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--threads", type=int, required=True, help="task slots of the local master")
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True, help="where a traced run writes its spans")
    args = ap.parse_args()
    result = run(args)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
