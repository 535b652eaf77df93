#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 10 --trace 0

From the repository root.  The corpus for (workload, seed) is generated
first (cached under .bench_build/perfbench/corpora, timed apart from every
metric); the workload then runs in a fresh Python process with its own
Spark session (local[nproc/2]) while this process samples the resident
memory of that process tree from /proc.  The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}; the line
before it records the host, the corpus and the output counts.

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1
enables the Spark event log and job groups and prints its per-layer
metrics instead; its spans are kept in .bench_build/perfbench/traces.  A
failed run keeps its directory under .bench_build/perfbench/runs.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procs import PAGE, Proc, processes, stop, tree  # noqa: E402

TIMEOUT_S = 160  # from launch, so that a stuck run still ends within 180 s
SAMPLE_EVERY_S = 0.2
CORPUS_KIND = {"batch_dedup": "text", "clip_families": "audio"}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _split_mb(procs: dict[int, Proc], pids: list[int]) -> dict[str, float]:
    """Resident MB by command name (java, python, ...)."""
    out: dict[str, float] = {}
    for pid in pids:
        out[procs[pid].name] = out.get(procs[pid].name, 0.0) + procs[pid].rss / (1024 * 1024)
    return out


def _cpu_times() -> list[int]:
    """The machine's CPU time by kind (user, nice, system, idle, iowait,
    irq, softirq, steal), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _self_rss() -> int:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * PAGE


def _source_sha() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(f"{ROOT}/lexis_minhash_spark/**/*.py", recursive=True)):
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _interrupt(signum, frame):
    raise KeyboardInterrupt(f"signal {signum}")


def task_threads(nproc: int) -> int:
    """Task slots of the local master: half the CPUs, so that the Python
    workers, the JVM's compiler and GC threads and the driver's own work
    find a free CPU instead of queueing behind the tasks."""
    return max(1, nproc // 2)


def _watch(cmd: list[str], cwd: str, env: dict, log_path: str, deadline: float):
    """Run the workload process to its end, sampling the resident memory of
    its process tree; stop the whole tree on every way out.  Returns the
    exit code, the peak resident bytes and their split by process name."""
    peak, peak_split, seen = 0, {}, {}
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            seen[child.pid] = processes()[child.pid].start
            while child.poll() is None:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"workload still running after {TIMEOUT_S} s")
                procs = processes()
                pids = tree(child.pid, procs)
                seen.update((pid, procs[pid].start) for pid in pids)
                total = sum(procs[pid].rss for pid in pids) + _self_rss()
                if total > peak:
                    peak, peak_split = total, _split_mb(procs, pids)
                time.sleep(SAMPLE_EVERY_S)
        finally:
            stop(seen)
            child.wait()
    return child.returncode, peak, peak_split


def main() -> None:
    started = time.monotonic()
    signal.signal(signal.SIGTERM, _interrupt)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CORPUS_KIND))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(f"{ROOT}/lexis_minhash_spark"):
        _fail(f"no lexis_minhash_spark package under {ROOT}; run from a full checkout")
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)
    from perfbench import corpora

    nproc = len(os.sched_getaffinity(0))
    threads = task_threads(nproc)
    load_before, cpu_before = os.getloadavg(), _cpu_times()
    work = f"{ROOT}/.bench_build/perfbench"
    corpus = corpora.ensure(ROOT, f"{work}/corpora", CORPUS_KIND[args.workload], args.seed)
    rundir = f"{work}/runs/{os.getpid()}-{int(time.time())}"
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{rundir}/{d}")
    env = dict(os.environ)
    env.update({
        # the native kernel cache and Python tempfiles stay in the checkout;
        # workers inherit the interpreter and the import path of this run
        "TMPDIR": f"{work}/tmp",
        "SPARK_LOCAL_DIRS": f"{rundir}/spark-local",
        "PYTHONPATH": os.pathsep.join([ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
    })
    # no JVM perf-data file in the system /tmp (it ignores java.io.tmpdir);
    # JIT compiler threads that stay alive, so that their CPU can be told
    # apart (perfbench/procs.py)
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        "-XX:-UseDynamicNumberOfCompilerThreads"]))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    os.makedirs(f"{work}/traces", exist_ok=True)
    spans_path = f"{work}/traces/{args.workload}-s{args.seed}-{os.path.basename(rundir)}.jsonl"
    out_path = f"{rundir}/result.json"
    cmd = [sys.executable, "-m", "perfbench.workloads", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--corpus", corpus.path, "--work", rundir, "--threads", str(threads),
           "--out", out_path, "--spans", spans_path, "--spawn-time", repr(time.time())]
    try:
        code, peak, peak_split = _watch(cmd, rundir, env, f"{rundir}/child.log",
                                        started + TIMEOUT_S)
    except (TimeoutError, KeyboardInterrupt) as e:
        _fail(f"{e}; log kept in {rundir}/child.log")
    if code != 0 or not os.path.exists(out_path):
        with open(f"{rundir}/child.log") as f:
            sys.stderr.write(f.read()[-4000:])
        _fail(f"workload exited with {code}; log kept in {rundir}")
    with open(out_path) as f:
        result = json.load(f)

    metrics = result["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = peak / (1024 * 1024)
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    # a layer the workload does not run reports 0 (see perfbench/DESIGN.json)
    not_run = [m["name"] for m in listed if m["name"] not in metrics]
    printed = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in listed}
    # the share of the machine's CPU time the hypervisor gave to others
    ticks = [b - a for a, b in zip(cpu_before, _cpu_times())]
    host = dict(result["host"], nproc=nproc, load_before=load_before, load_after=os.getloadavg(),
                steal_share=ticks[7] / max(sum(ticks), 1),
                git_commit=_git_commit(), source_sha=_source_sha(),
                python=sys.version.split()[0])
    # measured but without a bound, such as the wall times behind the CPU metrics
    unbounded = {k: v for k, v in metrics.items() if k not in printed}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "host": host, "corpus": {"path": os.path.relpath(corpus.path, ROOT),
                                               "gen_s": corpus.gen_s, "cached": corpus.cached},
                      "unbounded": unbounded, "not_run": not_run,
                      "peak_rss_split_mb": peak_split, **result["info"]}))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": printed}))
    shutil.rmtree(rundir, ignore_errors=True)


if __name__ == "__main__":
    main()
