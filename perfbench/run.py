"""paraocr_spark benchmark: one command, seeded workloads, one JSON line.

    python3 perfbench/run.py --workload extract_crawl --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the program. Inputs are generated from
``--seed`` by ``perfbench/gen.py`` and cached under ``.bench_work/cache``;
all scratch output, Spark local dirs and temp files stay under
``.bench_work``. The session is the program's own
``job.build_session(master=local[nproc], shuffle_partitions=nproc)``.

``--trace 0`` (end-to-end metrics):
  1. set-up, three times (the first includes the JVM launch; each later one
     stops the session and builds a new one): session build, one input
     scan, and a small fixed kernel warm-up. ``setup_s`` is their median;
     input generation is excluded.
  2. one untimed warm-up repetition (the first full repetition runs
     20-40% slower than later ones), checked like the rest.
  3. timed repetitions until their wall time adds up to ``--seconds``;
     every one is checked, and every metric is a median over them, except
     ``py_worker_peak_rss_mb`` (largest VmHWM seen over the run's Python
     workers) and ``ok_ops_frac`` (passed / attempted).

``--trace 1`` (per-layer metrics): one set-up, the warm-up repetition, a
traced repetition between two plain ones (the tracing overhead is the
traced wall over their mean), then per-layer measurements. Spans, with Spark counts per span
from the status store, are written to
``.bench_work/traces/<workload>-seed<seed>.json``. Metrics of a layer the
workload does not exercise, or whose function the program no longer has,
read 0.

The last line of stdout is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
The process exits 2 without printing a result when no ``paraocr_spark``
package sits next to ``perfbench``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
MAX_REPS = 50

END_TO_END = {
    "docs_per_s": "1/s", "wall_s": "s", "cpu_s_per_kdoc": "s", "setup_s": "s",
    "py_worker_peak_rss_mb": "MB", "out_bytes_per_in_byte": "ratio",
    "ok_ops_frac": "frac",
}
PER_LAYER = {
    "core.html_mb_per_s": "MB/s", "core.layout_mb_per_s": "MB/s",
    "core.native_docs_per_s": "1/s", "core.features_docs_per_s": "1/s",
    "core.kernel_docs_per_s": "1/s",
    "operators.extract.kernel_stage_s": "s", "operators.extract.kernel_cpu_s": "s",
    "operators.extract.kernel_share": "frac",
    "operators.skew.probe_calls": "count", "operators.skew.probe_jobs": "count",
    "operators.skew.probe_s": "s", "operators.skew.fanout_frac": "frac",
    "operators.skew.salt_s": "s", "operators.skew.shards": "count",
    "operators.resume.filter_unprocessed_s": "s", "operators.resume.keep_frac": "frac",
    "pipeline.run_and_write_s": "s", "pipeline.write_job_s": "s",
    "pipeline.lineage_s": "s", "pipeline.plan_build_s": "s",
    "pipeline.plan_build_jobs": "count", "pipeline.parallel_efficiency": "frac",
    "sources.scan_s": "s", "sources.scan_mb_per_s": "MB/s",
    "sources.write_extracted_s": "s", "sources.files_written": "count",
    "sources.write_lineage_rows_s": "s",
    "operators.dedup.with_shingles_s": "s", "operators.dedup.shingle_rows": "count",
    "operators.dedup.shingle_stats_s": "s", "operators.dedup.candidates": "count",
    "operators.dedup.pairs": "count", "operators.dedup.pair_yield": "frac",
    "operators.dedup.ngram_jaccard_s": "s", "operators.dedup.minhash_lsh_s": "s",
    "operators.corpus.span_dedup_s": "s", "operators.corpus.clean_corpus_s": "s",
    "operators.corpus.gate_keep_frac": "frac", "operators.corpus.survivors": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.input_mb": "MB",
    "spark.output_mb": "MB", "spark.task_skew": "ratio",
    "trace.overhead_frac": "frac", "trace.unattributed_frac": "frac",
}


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout; let workers import the program from source."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} pyspark-shell")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _run_rep(wl, out: str, tracer, after=None) -> tuple[float, object, str | None]:
    """(wall, rep result or None when it raised, check error or None);
    ``after`` is called as soon as the repetition ends, before the check."""
    # start every repetition from a collected heap, so a collection the
    # previous one left pending does not land in this one's timing
    wl.spark._jvm.System.gc()
    t0 = time.perf_counter()
    try:
        res = wl.rep(out, tracer)
    except Exception:  # a failing repetition is counted, not fatal
        traceback.print_exc()
        res = None
    wall = time.perf_counter() - t0
    if after is not None:
        after()
    if res is None:
        return wall, None, "repetition raised"
    try:
        err = wl.check(out)
    except Exception:
        traceback.print_exc()
        err = "output check raised"
    return wall, res, err


def timed_reps(wl, spark, work: str, seconds: float, setups: list) -> dict:
    import procstat
    from tracing import NullTracer

    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    null = NullTracer()
    walls, cpus, outs = [], [], []
    attempted = failed = 0
    rss = 0.0
    total = 0.0
    while attempted == 0 or (total < seconds and attempted < MAX_REPS):
        out = os.path.join(work, f"rep{attempted}")
        c0 = procstat.cpu_seconds(jvm)
        c1 = []
        wall, res, err = _run_rep(wl, out, null,
                                  lambda: c1.append(procstat.cpu_seconds(jvm)))
        cpu = c1[0] - c0
        total += wall
        attempted += 1
        if res is not None:
            walls.append(wall)
            cpus.append(cpu)
            outs.append(wl.out_bytes(out))
        if err is not None:
            failed += 1
            print(f"perfbench: repetition {attempted - 1} failed its check: {err}",
                  file=sys.stderr)
        rss = max(rss, procstat.python_peak_rss_mb(jvm))
        shutil.rmtree(out, ignore_errors=True)
    med = statistics.median
    kdocs = wl.n_docs / 1000.0
    metrics = {
        "docs_per_s": med([wl.n_docs / w for w in walls]) if walls else 0.0,
        "wall_s": med(walls) if walls else 0.0,
        "cpu_s_per_kdoc": med([c / kdocs for c in cpus]) if cpus else 0.0,
        "setup_s": med(setups),
        "py_worker_peak_rss_mb": rss,
        "out_bytes_per_in_byte": med([o / wl.in_bytes for o in outs]) if outs else 0.0,
        "ok_ops_frac": (attempted - failed) / attempted,
    }
    print(f"perfbench: {attempted} timed repetitions, walls "
          f"{[round(w, 3) for w in walls]}, setups {[round(s, 3) for s in setups]}",
          file=sys.stderr)
    return {"attempted": attempted, "failed": failed,
            "metrics": {k: (metrics[k], END_TO_END[k]) for k in END_TO_END}}


def traced_run(wl, spark, work: str, cores: int) -> dict:
    from tracing import SPARK_COUNTS, NullTracer, Tracer, duration

    attempted, failed = 3, 0

    def plain() -> float:
        nonlocal failed
        plain_out = os.path.join(work, "plain")
        wall, _, err = _run_rep(wl, plain_out, NullTracer())
        failed += err is not None
        shutil.rmtree(plain_out, ignore_errors=True)
        return wall

    plain_walls = [plain()]

    tracer = Tracer(spark)
    out = os.path.join(work, "traced")
    spark._jvm.System.gc()
    with tracer.span("rep"):
        try:
            rep_m = wl.trace_rep(out, tracer)
        except Exception:
            traceback.print_exc()
            rep_m = None
    try:
        err = "traced repetition raised" if rep_m is None else wl.check(out)
    except Exception:
        traceback.print_exc()
        err = "output check raised"
    rep_m = rep_m or {}
    failed += err is not None
    files_written = sum(len([f for f in fs if f.endswith(".parquet")])
                        for _, _, fs in os.walk(os.path.join(out, "extracted")))
    shutil.rmtree(out, ignore_errors=True)
    # plain repetitions on both sides of the traced one: the overhead is
    # measured against their mean, so a drift between repetitions cancels
    plain_walls.append(plain())
    plain_wall = statistics.mean(plain_walls)

    try:
        M = wl.trace_layers(tracer, rep_m, wl.n_docs / plain_wall, cores)
    except Exception:  # keep the rep's numbers; the trace records the failure
        traceback.print_exc()
        M = {"error": traceback.format_exc()}
    for layer_err in getattr(wl, "layer_checks", []):
        attempted += 1
        failed += layer_err is not None
        if layer_err is not None:
            print(f"perfbench: layer run failed its check: {layer_err}", file=sys.stderr)
    tracer.attach_spark_counts()

    spans = tracer.spans
    root = spans[0]
    under = {root["span_id"]}
    for s in spans[1:]:
        if s["parent"] in under:
            under.add(s["span_id"])
    in_rep = [s for s in spans if s["span_id"] in under]
    by_name = {}
    for s in in_rep:
        by_name.setdefault(s["name"], []).append(s)

    def first(name):
        return by_name.get(name, [None])[0]

    probes = by_name.get("operators.skew.ensure_min_parallelism", [])
    M["operators.skew.probe_calls"] = float(len(probes))
    M["operators.skew.probe_jobs"] = float(sum(p["spark"]["jobs"] for p in probes))
    M["operators.skew.probe_s"] = sum(duration(p) for p in probes)
    M["operators.skew.fanout_frac"] = (
        sum(bool(p["attrs"].get("fanout")) for p in probes) / len(probes)) if probes else 0.0
    for c in SPARK_COUNTS:
        M["spark." + c] = float(root["spark"][c])
    raw = first("pipeline.run_and_write")
    if raw is not None:
        M["pipeline.run_and_write_s"] = duration(raw)
        M["pipeline.write_job_s"] = float(rep_m.get("phase_s", {}).get("write_job", 0.0))
        M["pipeline.lineage_s"] = float(rep_m.get("phase_s", {}).get("lineage", 0.0))
        M["sources.files_written"] = float(files_written)
    wl_rows = first("sources.write_lineage_rows")
    if wl_rows is not None:
        M["sources.write_lineage_rows_s"] = duration(wl_rows)
    for name, key in (("operators.corpus.clean_corpus", "operators.corpus.clean_corpus_s"),
                      ("operators.dedup.dedup_ngram_jaccard", "operators.dedup.ngram_jaccard_s")):
        if first(name) is not None:
            M[key] = duration(first(name))
    for s in spans:
        if s["attrs"].get("plan_build"):
            M["pipeline.plan_build_jobs"] = float(s["spark"]["jobs"])
        if s["attrs"].get("kernel_stage") and s["spark"]["executor_run_s"] > 0:
            M["operators.extract.kernel_share"] = (
                M.get("operators.extract.kernel_cpu_s", 0.0) / s["spark"]["executor_run_s"])
    M["trace.overhead_frac"] = (duration(root) - plain_wall) / plain_wall
    node = root
    while len(tracer.children(node)) == 1:
        node = tracer.children(node)[0]
    staged = sum(duration(c) for c in tracer.children(node))
    M["trace.unattributed_frac"] = 1.0 - staged / duration(root) if staged else 1.0

    tdir = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(tdir, exist_ok=True)
    path = os.path.join(tdir, f"{wl.name}-seed{wl.seed}.json")
    tracer.to_json(path, {"workload": wl.name, "seed": wl.seed, "cores": cores,
                          "plain_walls_s": plain_walls, "metrics": M})
    print(f"perfbench: trace written to {path}", file=sys.stderr)
    return {"attempted": attempted, "failed": failed,
            "metrics": {k: (float(M.get(k, 0.0)), u) for k, u in PER_LAYER.items()}}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "paraocr_spark", "__init__.py")):
        print(f"perfbench: no paraocr_spark package in {ROOT}; run from a "
              "checkout of the program", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    for stale in glob.glob(os.path.join(work_root, "run-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):
            shutil.rmtree(stale, ignore_errors=True)  # left by a killed run
    _env(work_root)
    os.makedirs(work, exist_ok=True)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cache = os.path.join(work_root, "cache")
    os.makedirs(cache, exist_ok=True)
    t_gen = time.perf_counter()
    wl = WORKLOADS[args.workload](cache, work, args.seed)
    gen_s = time.perf_counter() - t_gen
    cores = len(os.sched_getaffinity(0))

    from paraocr_spark.job import build_session

    spark = None
    try:
        setups = []
        for k in range(1 if args.trace else SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = build_session(master=f"local[{cores}]", shuffle_partitions=cores)
            spark.sparkContext.setLogLevel("ERROR")
            wl.open(spark)
            wl.warm()
            t1 = time.perf_counter()
            setups.append(t1 - T_START - gen_s if k == 0 else t1 - t0)
        from tracing import NullTracer

        warm_out = os.path.join(work, "warmup")
        t_w = time.perf_counter()
        warm_wall, _, err = _run_rep(wl, warm_out, NullTracer())
        print(f"perfbench: warm-up repetition {warm_wall:.3f} s, with its check "
              f"{time.perf_counter() - t_w:.3f} s", file=sys.stderr)
        if err is not None:
            print(f"perfbench: warm-up repetition failed its check: {err}", file=sys.stderr)
        shutil.rmtree(warm_out, ignore_errors=True)
        if args.trace:
            res = traced_run(wl, spark, work, cores)
        else:
            res = timed_reps(wl, spark, work, args.seconds, setups)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: inputs {gen_s:.1f} s, total {time.perf_counter() - T_START:.1f} s",
          file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
