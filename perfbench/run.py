"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload articles --seed 1 --seconds 8 --trace 0

Run from the repository root. With --trace 0 it prints the end-to-end
metrics, with --trace 1 the per-layer metrics of a separate traced run
(perfbench/README.md describes both). The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. Lines
before it start with '#' and give the inputs' properties and every metric
with its unit.

Spark runs at local[N] with N = the CPUs this process may use. Everything
the run writes goes under .perfbench_work/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_REPS = 3  # timed repetitions per run, even past --seconds
TRACED_JOB_REPS = 3  # untraced repetitions in a traced run (the job time)
SAMPLE_INTERVAL = 0.1  # seconds between /proc samples
JVM_SHRINK_WAIT = 1.0  # seconds from the last full GC to reading the JVM's RSS

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "cpu_s_per_krow": "s",
    "peak_rss_mb": "MB",
    "ok_share": "share",
}

_S = "s"
PER_LAYER = {
    "jobs.scan_s": _S, "jobs.join_s": _S, "jobs.arrow_s": _S, "jobs.udf_s": _S,
    "jobs.sink_s": _S, "jobs.udf_overhead_ratio": "ratio", "jobs.rows_out": "count",
    "jobs.rule_hit_share": "share", "jobs.general_parse_share": "share",
    "htmldom.parse_s": _S, "htmldom.parse_head_s": _S, "htmldom.find_all_s": _S,
    "htmldom.parses_per_doc": "count", "htmldom.parse_kb_per_doc": "KB",
    "htmldom.parse_us_per_kb.p50": "us/KB", "htmldom.parse_us_per_kb.max": "us/KB",
    "engine.to_utf8_s": _S, "engine.readability_s": _S, "engine.get_text_s": _S,
    "engine.normalize_links_s": _S, "engine.extract_pics_s": _S,
    "engine.extract_self_s": _S, "engine.doc_ms.p50": "ms", "engine.doc_ms.p99": "ms",
    "engine.doc_ms.max": "ms", "engine.doc_ms.samples": "count",
    "engine.nodes_scored": "count", "engine.candidates_rejected": "count",
    "engine.retries_relaxed": "count",
    "dedup.signatures_s": _S, "dedup.lsh_s": _S, "dedup.verify_s": _S,
    "dedup.components_s": _S, "dedup.canonical_join_s": _S,
    "dedup.candidates": "count", "dedup.verified": "count",
    "dedup.verified_share": "share", "dedup.rounds": "count",
    "dedup.star_fallback": "count", "dedup.persisted_rdds": "count",
    "dedup.persisted_rdds_per_rep": "count",
    "similarity.bruteforce_s": _S, "similarity.bucketed_s": _S,
    "similarity.ivf_lsh_s": _S, "similarity.ivf_kmeans_s": _S,
    "similarity.kmeans_fit_s": _S,
    "similarity.pairs_scored.bruteforce": "count",
    "similarity.pairs_scored.bucketed": "count",
    "similarity.pairs_scored.ivf_lsh": "count",
    "similarity.pairs_scored.ivf_kmeans": "count",
    "similarity.recall_at_k.bucketed": "share",
    "similarity.recall_at_k.ivf_lsh": "share",
    "similarity.recall_at_k.ivf_kmeans": "share",
    "trace.overhead_share": "share", "trace.unaccounted_share": "share",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(workdir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    `workdir`, and put the repository on the workers' import path."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(workdir, "spark-local")
    # spark-submit's launcher JVM takes neither --driver-java-options nor conf
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


class Session:
    """The Spark session at local[cores], started through the package's
    own get_spark (its driver memory included) so that its configuration
    is what gets measured."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self):
        from ukeeper_readability_spark.jobs.extract_job import get_spark

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        """pid of the driver JVM (the gateway process PySpark launched)."""
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, end the JVM and wait until no child process is left."""
        from pyspark import SparkContext

        from perfbench.procstat import live_descendants

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while live_descendants() and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in live_descendants():
            os.kill(pid, signal.SIGKILL)
        deadline = time.monotonic() + 10
        while live_descendants() and time.monotonic() < deadline:
            time.sleep(0.2)


def set_up(wl, session):
    """Session start, seeded input generation and materialization, and the
    workload's warm-up passes (Python workers, JIT, file cache); returns
    (spark, seconds taken). A set-up is more than half of a run's cost, so
    a run sets up once."""
    t0 = time.perf_counter()
    spark = session.start()
    wl.generate()
    wl.materialize(spark)
    for _ in range(wl.warmups):
        wl.rep(spark)
    return spark, time.perf_counter() - t0


def jvm_seconds(spark) -> tuple:
    """(GC, JIT compilation) seconds the driver JVM has spent so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000, mf.getCompilationMXBean().getTotalCompilationTime() / 1000


def run_untraced(wl, session, seconds: float):
    from perfbench.procstat import TreeSampler, host_ticks, rss_bytes
    from perfbench.workloads import persisted_rdds

    spark, setup_s = set_up(wl, session)
    jvm_pid = session.jvm_pid()
    persisted_before = persisted_rdds(spark)
    sampler = TreeSampler(interval=SAMPLE_INTERVAL).start()
    times, cpus, rss, failed_reps = [], [], [], 0
    steal0, total0 = host_ticks()
    gc0, jit0 = jvm_seconds(spark)
    t_start = time.perf_counter()
    while len(times) + failed_reps < MIN_REPS or time.perf_counter() - t_start < seconds:
        sampler.reset_peak()
        cpu0 = sampler.sample()
        t0 = time.perf_counter()
        try:
            wl.rep(spark)
            times.append(time.perf_counter() - t0)
            cpus.append(sampler.sample() - cpu0)
            rss.append(sampler.peak_rss_bytes(skip_pid=jvm_pid) / 2**20)
        except Exception:  # a failed job counts all of its rows as failed
            traceback.print_exc()
            failed_reps += 1
    sampler.stop()
    steal1, total1 = host_ticks()
    gc1, jit1 = jvm_seconds(spark)
    reps = len(times) + failed_reps
    persisted_after = persisted_rdds(spark)
    # The driver JVM counts with what it holds resident after a full
    # collection at the end of the timed repetitions: its live heap (cached
    # and checkpointed data included) and its code, classes and buffers.
    # Its peak RSS is the heap G1 chose to commit, which depends on how much
    # GC time the cold passes cost under the host's contention: identical
    # runs peaked at one of two values about 1.3 GB apart.
    spark._jvm.java.lang.System.gc()
    time.sleep(JVM_SHRINK_WAIT)  # G1 returns the freed heap concurrently
    jvm_mb = rss_bytes(jvm_pid) / 2**20

    per_rep, failed_check, _ = checked(wl, spark)
    attempted = per_rep * reps
    failed = per_rep * failed_reps + failed_check * len(times)
    metrics = {
        "setup_s": setup_s,
        "rows_per_s": wl.rows / statistics.median(times) if times else 0.0,
        "cpu_s_per_krow": statistics.median(cpus) / wl.rows * 1000 if cpus else 0.0,
        "peak_rss_mb": statistics.median(rss) + jvm_mb if rss else 0.0,
        "ok_share": 1 - failed / attempted,
    }
    notes = {
        "rep_s": times, "rep_cpu_s": cpus, "rep_peak_rss_without_jvm_mb": rss,
        "jvm_rss_after_gc_mb": jvm_mb,
        "failed_reps": failed_reps, "procstat_interval_s": SAMPLE_INTERVAL,
        "procstat_samples": sampler.samples, "fail_share": failed / attempted,
        "persisted_rdds_before_reps": persisted_before,
        "persisted_rdds_after_reps": persisted_after,
        "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "jvm_gc_s": gc1 - gc0, "jvm_jit_s": jit1 - jit0,
    }
    return attempted, failed, metrics, notes


def run_traced(wl, session, spans_dir: str):
    from perfbench.spans import Tracer

    spark, _ = set_up(wl, session)
    times = []
    for _ in range(TRACED_JOB_REPS):
        t0 = time.perf_counter()
        wl.rep(spark)
        times.append(time.perf_counter() - t0)
    job_s = statistics.median(times)

    tracer = Tracer()
    layer = wl.layers(spark, tracer, job_s)
    attempted, failed, counters = checked(wl, spark)
    metrics = {name: 0.0 for name in PER_LAYER}
    metrics.update(layer)
    metrics.update(counters)
    unknown = set(metrics) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
    os.makedirs(spans_dir, exist_ok=True)
    spans_path = os.path.join(spans_dir, f"{wl.name}-seed{wl.seed}.jsonl")
    tracer.dump(spans_path)
    notes = {"job_s": job_s, "rep_s": times, "spans": len(tracer.spans),
             "spans_file": os.path.relpath(spans_path, ROOT)}
    return attempted, failed, metrics, notes


def checked(wl, spark):
    """The workload's output check; a check that raises fails every row."""
    try:
        return wl.check(spark)
    except Exception:
        traceback.print_exc()
        return wl.check_rows, wl.check_rows, {}


def main(argv=None) -> int:
    args = parse_args(argv)
    if HERE in sys.path:
        sys.path.remove(HERE)
    sys.path.insert(0, ROOT)
    try:
        import ukeeper_readability_spark
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if os.path.commonpath([ROOT, os.path.abspath(ukeeper_readability_spark.__file__)]) != ROOT:
        print(f"perfbench: imported the package from {ukeeper_readability_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(workdir)

    wl = WORKLOADS[args.workload](args.seed, cores, workdir)
    session = Session(cores)
    try:
        if args.trace:
            attempted, failed, metrics, notes = run_traced(wl, session, os.path.join(work_root, "spans"))
        else:
            attempted, failed, metrics, notes = run_untraced(wl, session, args.seconds)
    finally:
        session.close()
        shutil.rmtree(workdir, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    print(f"# perfbench workload={wl.name} seed={args.seed} cores={cores} "
          f"trace={args.trace} seconds={args.seconds}")
    print("# inputs " + json.dumps(wl.properties(), sort_keys=True))
    print("# run " + json.dumps(notes, sort_keys=True))
    for name, unit in units.items():
        print(f"# {name} = {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
