"""Crawl-engine benchmark: one seeded workload per process.

    python3 perfbench/run.py --workload crawl_expand --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run pins the Spark environment to the
host (local[nproc], nproc shuffle partitions, a driver heap below
physical RAM, local dirs inside the checkout), builds the workload's inputs
from ``--seed``, and repeats the workload's fixed unit of work ("rep") until
``--seconds`` have been measured. It then checks every rep's output and
prints one report line per metric followed by a JSON summary as the last
line. With ``--trace 1`` the same reps run with spans around the engine's
public calls and the summary carries the per-layer metrics instead of the
end-to-end ones. ``--size smoke`` runs the workload at the size the
benchmark's own tests use.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from spans import CycleClock, Tracer, job_totals  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_expand", "crawl_backlog", "crawl_mixed", "corpus_dedup")
CRAWLS = WORKLOADS[:3]

END_TO_END_UNITS = {"setup_s": "s", "throughput_per_s": "1/s",
                    "driver_mem_mb": "MB"}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "crawler.jobs_per_cycle": "count",
    "crawler.stages_per_cycle": "count",
    "crawler.tasks_per_cycle": "count",
    "crawler.driver_gap_s": "s",
    "crawler.executor_busy_share": "ratio",
    "crawler.shuffle_bytes_per_cycle": "B",
    "crawler.cycle_self_s": "s",
    "crawler.popped": "count",
    "crawler.links_found": "count",
    "crawler.links_new": "count",
    "crawler.dedup_hits": "count",
    "crawler.robots_denied": "count",
    "crawler.errors": "count",
    "crawler.new_link_ratio": "ratio",
    "crawler.seed_s": "s",
    "crawler.seed_df_s": "s",
    "crawler.resume_s": "s",
    "storage.commit_s": "s",
    "storage.commits": "count",
    "storage.append_s": "s",
    "storage.load_s": "s",
    "storage.bytes_written": "B",
    "storage.state_bytes_per_url": "B/url",
    "bloom.add_s": "s",
    "bloom.adds": "count",
    "bloom.prefilter_s": "s",
    "bloom.fp_rate_est": "ratio",
    "handlers.fire_pages_per_s": "1/s",
    "handlers.links_per_page": "count",
    "urls.canonicalize_per_s": "1/s",
    "robots.is_allowed_per_s": "1/s",
    "datapipe.exact_dedup_s": "s",
    "datapipe.fingerprint_dedup_s": "s",
    "datapipe.minhash_lsh_pairs_s": "s",
    "datapipe.jaccard_pairs_s": "s",
    "datapipe.dup_clusters_s": "s",
    "datapipe.simhash_near_pairs_s": "s",
    "datapipe.quality_features_s": "s",
    "datapipe.shuffle_bytes": "B",
    "datapipe.lsh_verified_ratio": "ratio",
    "spark.failed_tasks": "count",
    "spark.spill_bytes": "B",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}

# units of the report lines, which name the end-to-end metrics per workload
REPORT_UNITS = {**END_TO_END_UNITS, "crawl_urls_per_s": "1/s",
                "corpus_docs_per_s": "1/s", "seed_s": "s", "cycle_s_p50": "s",
                "call_s_p50": "s", "resume_s": "s",
                "state_bytes_per_url": "B/url", "peak_rss_mb": "MB",
                "fail_share": "ratio"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Spark settings sized to the host, exported before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_SHUFFLE_PARTITIONS": str(cpus),
        "SPARK_MASTER": f"local[{cpus}]",
        "SPARK_DRIVER_MEM": f"{min(1024, phys_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    return env


def versions(spark) -> dict:
    """Python and pyspark versions, and the running JVM's."""
    import pyspark
    prop = spark.sparkContext._jvm.java.lang.System.getProperty
    return {"python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": f"{prop('java.vm.name')} {prop('java.version')}"}


def driver_mem_mb(spark) -> tuple[float, float]:
    """Memory the driver holds: the Python process's peak resident set,
    and the JVM's heap and non-heap bytes in use after a full collection
    (what the engine retains, not what the JVM happened to reserve)."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = spark.sparkContext._jvm.java.lang
    jvm.System.gc()
    bean = jvm.management.ManagementFactory.getMemoryMXBean()
    used = (int(bean.getHeapMemoryUsage().getUsed())
            + int(bean.getNonHeapMemoryUsage().getUsed()))
    return py, used / 2.0 ** 20


def jvm_rss_mb(proc) -> float:
    """Peak resident set of the JVM process."""
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def instrument(tracer) -> None:
    """Spans around the public calls of every crawl layer."""
    from supercrawler_spark.bloom import PartitionedBloom
    from supercrawler_spark.crawler import SparkCrawler
    from supercrawler_spark.storage import AppendLog, SnapshotStore
    from workloads import dir_bytes

    def commit_bytes(span, args, version):
        span["bytes"] = dir_bytes(os.path.join(args[0].root, f"v{version:06d}"))

    def append_bytes(span, args, _):
        root = args[0].root
        newest = max(e for e in os.listdir(root) if e.startswith("part-"))
        span["bytes"] = dir_bytes(os.path.join(root, newest))

    for method in ("seed", "seed_df", "crawl", "run_cycle", "resume"):
        tracer.wrap(SparkCrawler, method, f"crawler.{method}")
    tracer.wrap(SnapshotStore, "commit", "storage.commit", after=commit_bytes)
    tracer.wrap(SnapshotStore, "load", "storage.load")
    tracer.wrap(AppendLog, "append", "storage.append", after=append_bytes)
    tracer.wrap(AppendLog, "read", "storage.read")
    tracer.wrap(PartitionedBloom, "add", "bloom.add",
                after=lambda span, _, n: span.update(keys=n))
    tracer.wrap(PartitionedBloom, "prefilter", "bloom.prefilter")


def _median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def end_to_end(reps: list[dict], setup_s: float, mem_mb: float) -> dict:
    return {"setup_s": setup_s,
            "throughput_per_s": (sum(r["items"] for r in reps)
                                 / sum(r["work_s"] for r in reps)),
            "driver_mem_mb": mem_mb}


def per_layer(wl, tracer, reps: list[dict],
              get_spark_s: float) -> tuple[dict, dict]:
    """Per-layer metrics averaged per rep, and the Spark jobs they were
    computed from."""
    from workloads import DATAPIPE_CALLS

    jobs = tracer.spark_jobs()
    n = max(len(reps), 1)
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name, key=None):
        spans = by_name.get(name, [])
        if key is None:
            return sum(s["end"] - s["start"] for s in spans) / n
        return sum(s.get(key, 0) for s in spans) / n

    cyc = [(s, job_totals(jobs, s)) for s in by_name.get("crawler.run_cycle", [])]
    wall = sum(s["end"] - s["start"] for s, _ in cyc)
    m = {"session.get_spark_s": get_spark_s}
    m["crawler.jobs_per_cycle"] = _mean(t["jobs"] for _, t in cyc)
    m["crawler.stages_per_cycle"] = _mean(t["stages"] for _, t in cyc)
    m["crawler.tasks_per_cycle"] = _mean(t["tasks"] for _, t in cyc)
    m["crawler.driver_gap_s"] = _mean(t["driver_gap_s"] for _, t in cyc)
    m["crawler.executor_busy_share"] = (
        sum(t["run_s"] for _, t in cyc) / (wall * tracer.cores) if wall else 0.0)
    m["crawler.shuffle_bytes_per_cycle"] = _mean(
        t["shuffle_write_bytes"] for _, t in cyc)
    m["crawler.cycle_self_s"] = _mean(tracer.self_time(s) for s, _ in cyc)
    stats = [st for r in reps for st in r.get("stats", [])]
    for key in ("popped", "links_found", "links_new", "dedup_hits",
                "robots_denied", "errors"):
        m[f"crawler.{key}"] = sum(getattr(st, key) for st in stats) / n
    m["crawler.new_link_ratio"] = (
        m["crawler.links_new"] / m["crawler.links_found"]
        if m["crawler.links_found"] else 0.0)
    m["crawler.seed_s"] = total("crawler.seed")
    m["crawler.seed_df_s"] = total("crawler.seed_df")
    m["crawler.resume_s"] = _mean(resume_s(r) for r in reps
                                  if "resume_call_s" in r)
    m["storage.commit_s"] = total("storage.commit")
    m["storage.commits"] = len(by_name.get("storage.commit", [])) / n
    m["storage.append_s"] = total("storage.append")
    m["storage.load_s"] = total("storage.load") + total("storage.read")
    m["storage.bytes_written"] = (total("storage.commit", "bytes")
                                  + total("storage.append", "bytes"))
    m["storage.state_bytes_per_url"] = _mean(
        r["state_bytes"] / r["frontier_rows"] for r in reps
        if "state_bytes" in r)
    m["bloom.add_s"] = total("bloom.add")
    m["bloom.adds"] = total("bloom.add", "keys")
    m["bloom.prefilter_s"] = total("bloom.prefilter")
    bloom = reps[-1]["crawler"]._bloom if "crawler" in reps[-1] else None
    m["bloom.fp_rate_est"] = bloom.fp_rate_estimate() if bloom else 0.0
    m.update(wl.driver_side())
    dp_spans = [s for s in tracer.spans if s["name"].startswith("datapipe.")]
    for call in DATAPIPE_CALLS:
        m[f"datapipe.{call}_s"] = total(f"datapipe.{call}")
    m["datapipe.shuffle_bytes"] = sum(
        job_totals(jobs, s)["shuffle_write_bytes"] for s in dp_spans) / n
    res = reps[-1].get("results")
    if res:
        cand = res["minhash_lsh_pairs"].count()
        m["datapipe.lsh_verified_ratio"] = (
            res["jaccard_pairs"].count() / cand if cand else 0.0)
    else:
        m["datapipe.lsh_verified_ratio"] = 0.0
    roots = by_name.get("rep", [])
    m["spark.failed_tasks"] = sum(job_totals(jobs, s)["failed_tasks"]
                                  for s in roots) / n
    m["spark.spill_bytes"] = sum(job_totals(jobs, s)["spill_bytes"]
                                 for s in roots) / n
    # the wall time the spans add: measured by the tracer around its own
    # bookkeeping, as an untraced run of the same seed is another process
    m["trace.overhead_s"] = tracer.cost_s / n
    m["trace.overhead_share"] = tracer.cost_s / sum(r["wall_s"] for r in reps)
    return m, jobs


def resume_s(rep: dict) -> float:
    """resume() plus the first cycle after it."""
    return rep["resume_call_s"] + rep["steps"][0]


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import supercrawler_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(work)
    try:
        return run(args, env, work, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, env: dict, work: str, work_root: str) -> int:
    from inputs import generate
    from supercrawler_spark.session import get_spark
    from workloads import WORKLOADS as CLASSES

    t0 = time.perf_counter()
    inputs, params = generate(args.workload, args.seed, args.size)
    phases = {"inputs_s": time.perf_counter() - t0}
    cpus = int(env["SPARK_GRAFT_CPUS"])
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=env["SPARK_MASTER"], shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
        })
    phases["get_spark_s"] = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        wl = CLASSES[args.workload](args.workload, spark, inputs, params,
                                    os.path.join(work, "state"))
        t0 = time.perf_counter()
        wl.prepare()
        phases["prepare_s"] = time.perf_counter() - t0
        if wl.warm_up:
            # one smoke-size rep first: the JIT warm-up of the code paths a
            # rep runs is paid once per process, so it belongs to set-up
            t0 = time.perf_counter()
            small, small_params = generate(args.workload, args.seed, "smoke")
            warm = CLASSES[args.workload](args.workload, spark, small,
                                          small_params,
                                          os.path.join(work, "warm"))
            warm.prepare()
            warm.cleanup(warm.rep(-1))
            phases["warm_up_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START
        return measure(args, env, spark, wl, setup_s, phases, jvm, work_root)
    finally:
        stop_spark(spark)


def measure(args, env, spark, wl, setup_s, phases, jvm, work_root) -> int:
    from supercrawler_spark.crawler import SparkCrawler

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    clock = CycleClock(SparkCrawler)
    tracer = None
    if args.trace:
        tracer = Tracer(spark, run_id)
        instrument(tracer)
    reps, failures, attempted, failed = [], [], 0, 0
    t_meas = time.perf_counter()
    k = 0
    while True:
        n_before = len(clock.cycles)
        root = tracer.open("rep", rep=k) if tracer is not None else None
        t0 = time.perf_counter()
        try:
            rep = wl.rep(k, tracer)
        except Exception:
            traceback.print_exc()
            failures.append(f"rep {k} raised")
            attempted += 1
            failed += 1
            break
        finally:
            if root is not None:
                tracer.close(root)
        rep["wall_s"] = time.perf_counter() - t0
        if args.workload in CRAWLS:
            rep["steps"] = clock.cycles[n_before:]
        reps.append(rep)
        attempted += rep_ops(args.workload, rep)
        k += 1
        if k >= wl.min_reps and time.perf_counter() - t_meas >= args.seconds:
            break
    clock.restore()
    if tracer is not None:
        tracer.restore()
    phases["measure_s"] = time.perf_counter() - t_meas
    phases["jvm_peak_rss_mb"] = jvm_rss_mb(jvm)
    py_mb, jvm_mb = driver_mem_mb(spark)
    phases.update(python_peak_rss_mb=py_mb, jvm_retained_mb=jvm_mb)

    layer, jobs = ({}, {})
    if tracer is not None and reps:
        layer, jobs = per_layer(wl, tracer, reps, phases["get_spark_s"])
    t0 = time.perf_counter()
    for i, rep in enumerate(reps):
        attempted += 1
        try:
            bad = wl.check(rep, last=(i == len(reps) - 1))
        except Exception:
            traceback.print_exc()
            bad = [f"check of rep {i} raised"]
        failures.extend(bad)
        failed += 1 if bad else 0
    phases["check_s"] = time.perf_counter() - t0
    for rep in reps:
        wl.cleanup(rep)

    e2e = end_to_end(reps, setup_s, py_mb + jvm_mb) if reps else {}
    report(args, env, versions(spark), reps, e2e, layer, phases, attempted,
           failed, failures)
    if tracer is not None:
        trace_dir = os.path.join(work_root, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{run_id}.jsonl")
        tracer.dump(path, jobs)
        print(f"# trace written to {os.path.relpath(path, ROOT)}")
    if args.trace:
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items() if k in e2e}
    print(json.dumps({"correct": failed == 0 and bool(reps),
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 and reps else 1


def rep_ops(workload: str, rep: dict) -> int:
    """Timed calls into the engine in one rep."""
    if workload == "corpus_dedup":
        from workloads import DATAPIPE_CALLS
        return 1 + len(DATAPIPE_CALLS)  # load, chain calls
    return 2 + (1 if "resume_call_s" in rep else 0)  # seed, (resume,) crawl


def report(args, env, vers, reps, e2e, layer, phases, attempted, failed,
           failures) -> None:
    """Human-readable lines: environment, the end-to-end metrics under
    their workload-specific names (also on traced runs, so that a traced
    and an untraced run of one seed can be compared), and the per-layer
    metrics."""
    print(f"# workload={args.workload} seed={args.seed} size={args.size} "
          f"seconds={args.seconds} trace={args.trace}")
    for key, value in {**vers, **{
            k: env[k] for k in ("SPARK_MASTER", "SPARK_GRAFT_CPUS",
                                "SPARK_SHUFFLE_PARTITIONS",
                                "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS")}
    }.items():
        if key == "SPARK_LOCAL_DIRS":
            value = os.path.relpath(value, ROOT)
        print(f"# env {key} = {value}")
    print("# phases " + " ".join(f"{k}={v:.3f}" for k, v in phases.items()))
    print(f"# reps = {len(reps)}, rep walls = "
          f"{[round(r['wall_s'], 3) for r in reps]}")
    if e2e:
        crawl = args.workload in CRAWLS
        named = dict(e2e)
        named["crawl_urls_per_s" if crawl else "corpus_docs_per_s"] = \
            named.pop("throughput_per_s")
        named["seed_s"] = _median(r["seed_s"] for r in reps)
        named["cycle_s_p50" if crawl else "call_s_p50"] = _median(
            c for r in reps for c in r["steps"])
        if crawl:
            named["resume_s"] = _median(
                (resume_s(r) for r in reps if "resume_call_s" in r), None)
            named["state_bytes_per_url"] = _median(
                r["state_bytes"] / r["frontier_rows"] for r in reps)
        named["peak_rss_mb"] = phases["python_peak_rss_mb"] + \
            phases["jvm_peak_rss_mb"]
        named["fail_share"] = failed / attempted if attempted else 1.0
        for key, value in named.items():
            if value is not None:
                print(f"# e2e {key} = {value:.6g} {REPORT_UNITS[key]}")
        print(f"# {'cycle' if crawl else 'call'} walls s = "
              f"{[round(c, 4) for r in reps for c in r['steps']]}")
    for key, value in layer.items():
        print(f"# layer {key} = {value:.6g} {PER_LAYER_UNITS[key]}")
    for msg in failures:
        print(f"# FAILED {msg}")

if __name__ == "__main__":
    sys.exit(main())
