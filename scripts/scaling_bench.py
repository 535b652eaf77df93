#!/usr/bin/env python
"""Two-cluster-size scaling evidence (north_rule): run the IDENTICAL
flagship dedup job on the same input at local[N] and local[4N], report
throughput at both and scaling efficiency = T_N / (4 * T_4N).

Each measurement runs in a fresh subprocess (own JVM + python workers) and
is repeated ``--reps`` times, taking the best rep (co-tenant noise on the
sandbox host is significant; best-of is the standard defense).

Writes/updates the results table in BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

JOB = r"""
import json, sys, time
sys.path.insert(0, "/root/repo")
from lexis_minhash_spark.session import get_spark
from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import ops

cpus = int(sys.argv[1]); corpus = sys.argv[2]
spark = get_spark(app_name=f"scaling-{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=max(2 * cpus, 16))
spark.sparkContext.setLogLevel("ERROR")
CFG = EngineConfig(seed=12345)
docs = spark.read.parquet(corpus).withColumnRenamed("transcript", "text").repartition(cpus * 3)
docs.count()  # warm input (exclude scan-cache effects from the timed region)
# warm python workers (one-time spawn + numpy import is serial noise, not
# steady-state throughput — a long-lived cluster amortizes it away)
ops.with_signatures(docs.limit(cpus * 4), CFG).count()
t0 = time.monotonic()
sig = ops.with_signatures(docs, CFG).persist()
# bands persisted: the pre-agg hot-bucket cap consumes the table twice
bands = ops.bands_table(sig).persist()
cands = ops.candidate_pairs(bands, max_bucket_size=10_000)
# persist the edge list: the CC size probe + collect would otherwise
# re-execute the candidates+verify subtree
ver = ops.verified_pairs(cands, sig, 0.75).persist()
cc = ops.connected_components(ver.select("a", "b"))
clusters = ops.clusters_with_singletons(sig, cc)
n = clusters.count()
wall = time.monotonic() - t0
print(json.dumps({"cpus": cpus, "wall_sec": round(wall, 2), "rows": n}))
spark.stop()
"""


def run_once(cpus: int, corpus: str) -> float:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(JOB)
        path = f.name
    out = subprocess.run(
        [sys.executable, path, str(cpus), corpus],
        capture_output=True, text=True, timeout=1800,
    )
    os.unlink(path)
    for line in out.stdout.splitlines():
        line = line.strip().split("\r")[-1]
        if line.startswith('{"cpus"'):
            return json.loads(line)["wall_sec"]
    raise RuntimeError(f"job failed: {out.stdout[-2000:]} {out.stderr[-2000:]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--clips", type=int, default=50000)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--quiet", type=float, default=3.0,
                    help="1-min loadavg gate before each rep")
    args = ap.parse_args()

    sys.path.insert(0, "/root/repo")
    import bench as _bench

    corpus = f"/tmp/lexis_bench_corpus_{args.clips}_42_{_bench.CORPUS_VERSION}"
    if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
        # generate via bench.ensure_corpus in a subprocess
        subprocess.run(
            [sys.executable, "-c",
             f"import sys; sys.path.insert(0,'/root/repo');"
             f"from lexis_minhash_spark.session import get_spark;"
             f"import bench; s=get_spark(master='local[8]');"
             f"bench.ensure_corpus(s, {args.clips}); s.stop()"],
            check=True, timeout=3600, cwd="/root/repo",
        )

    def wait_for_quiet(max_wait: int = 900, threshold: float = None) -> float:
        """Co-tenant noise gate: wait until 1-min loadavg < threshold."""
        import time as _t

        threshold = args.quiet if threshold is None else threshold
        waited = 0
        while waited < max_wait:
            load = os.getloadavg()[0]
            if load < threshold:
                return load
            _t.sleep(30)
            waited += 30
        return os.getloadavg()[0]

    # alternate 4N / N reps so each pairing samples the same co-tenant load
    # regime (running all N reps then all 4N reps let a load shift bias one
    # side — observed in the round-3 500k run)
    times: dict[int, list] = {args.n: [], args.n * 4: []}
    for rep in range(args.reps):
        for cpus in (args.n * 4, args.n):
            load = wait_for_quiet()
            t = run_once(cpus, corpus)
            times[cpus].append(t)
            print(f"  local[{cpus}] rep: {t}s (loadavg at start {load:.1f})",
                  flush=True)
    results = {}
    for cpus in (args.n, args.n * 4):
        results[cpus] = min(times[cpus])
        print(f"local[{cpus}]: reps={times[cpus]} best={results[cpus]}s "
              f"({args.clips / results[cpus]:.0f} clips/s)")

    t_n, t_4n = results[args.n], results[args.n * 4]
    eff = t_n / (4.0 * t_4n)
    print(f"scaling efficiency N={args.n} -> 4N={args.n * 4}: {eff:.2f}")
    summary = {
        "n_clips": args.clips,
        "N": args.n,
        "wall_N_sec": t_n,
        "wall_4N_sec": t_4n,
        "clips_per_sec_N": round(args.clips / t_n, 1),
        "clips_per_sec_4N": round(args.clips / t_4n, 1),
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(summary))
    with open("/root/repo/BENCH.md", "a") as f:
        f.write(
            f"\n| {args.clips} | local[{args.n}] {t_n}s "
            f"({summary['clips_per_sec_N']}/s) | local[{args.n * 4}] {t_4n}s "
            f"({summary['clips_per_sec_4N']}/s) | {summary['scaling_efficiency']} |"
        )


if __name__ == "__main__":
    main()
