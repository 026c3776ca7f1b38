"""QC-job benchmark: the user path of ``longqc_spark.cli --report``.

A job is the lineage run (``lineage.run_qc_with_lineage``, which drives
``pipeline.qc_pipeline`` and its ``kernels``/``models`` Arrow pass) followed
by the report (``report.summarize`` + JSON + HTML writes), on
``local[<cores>]``, called in-process through the public functions. A run
first runs one untimed job in the fresh JVM (class loading, code generation,
JIT), then times jobs in a closed loop with one client until ``--seconds``
of job time is measured, and reports medians over those jobs.

    python3 perfbench/run.py --workload cc_html_dedup --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
around every layer call and reports the per-layer metrics. Every timed job
is checked against the reference labeler outside the timed window; a failed
check makes the run exit with code 1. The last stdout line is one JSON
object ``{correct, attempted, failed, metrics}``.

Everything the run writes (input cache, Spark local and warehouse dirs,
label dirs, spans) stays under ``.perfbench_work/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Why each workload exists is recorded in BENCHMARK.json. ``cc_text`` (all
# classes, text pre-extracted, one wave) runs by hand but is not in
# BENCHMARK.json: a run with its warm-up takes about a minute, and the run
# budget holds two workloads.
WORKLOADS: dict[str, dict] = {
    "cc_text": dict(variant="text", n_docs=8000, n_buckets=16),
    "cc_html_dedup": dict(variant="html_dup", n_docs=6000, n_buckets=16,
                          html_col="html", dedup=True),
    "cc_short_resume": dict(variant="stub", n_docs=4000, n_buckets=16,
                            wave_buckets=4, fail_after_bucket=7),
}
MIN_JOBS = 2             # timed jobs per run, at least; metrics are their medians
SETUP_REPEATS = 2        # fresh-context set-ups per run; setup_s is their median
FILES_PER_CORE = 3       # input layout: splits per core
CACHE_KEEP = 32          # input tables kept in the cache (about 10 MB each)

END_TO_END_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "job_s": "s",
    "report_s": "s",
    "worker_peak_rss_mb": "MB",
    "label_f1": "ratio",
}
# printed for the reader, not regression metrics: the first two read 0 on a
# correct run (a non-zero value fails the run), resume_s exists on
# cc_short_resume only
SHOWN_UNITS = {"failed_frac": "ratio", "scrub_mismatch_docs": "docs", "resume_s": "s"}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark and Python write under the run dir, and let
    the Python workers import the program from the checkout."""
    for d in ("local", "tmp", "warehouse", "cwd"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    os.chdir(os.path.join(run_dir, "cwd"))


def first_udf_job(spark) -> None:
    """A tiny Arrow-UDF job that runs the models in the Python workers."""
    import pandas as pd

    def score(batches):
        from longqc_spark.kernels import compute_stats

        for pdf in batches:
            st = compute_stats(pd.Series(["warm up the models"] * len(pdf)))
            yield pd.DataFrame({"id": pdf["id"], "n": st["n_words"]})

    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(score, "id long, n long").collect()


def setup(tracer) -> tuple[object, dict]:
    """JVM launch, then SETUP_REPEATS fresh contexts in that JVM; each is
    ``get_spark`` + the first Arrow-UDF job (worker spawn, model load)."""
    from longqc_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores())
    first_udf_job(spark)
    cold_s = time.perf_counter() - t0
    gs, fu = [], []
    for _ in range(SETUP_REPEATS):
        spark.stop()
        with tracer.span("bench.setup"):
            a = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark("perfbench", cores=cores())
            b = time.perf_counter()
            with tracer.span("session.first_udf_job"):
                first_udf_job(spark)
            c = time.perf_counter()
        gs.append(b - a)
        fu.append(c - b)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {
        "setup_s": statistics.median(g + f for g, f in zip(gs, fu)),
        "session.get_spark_s": statistics.median(gs),
        "session.first_udf_job_s": statistics.median(fu),
        "session.cold_setup_s": cold_s,
    }


def shutdown(spark) -> None:
    """Stop Spark, the JVM and every Python worker, and wait for them."""
    import probes

    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    kids = probes.descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    for pid in probes.wait_gone(kids, 30):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    probes.wait_gone(kids, 10)


def run_job(spark, docs, spec: dict, out_dir: str, tracer, counter) -> dict:
    """One QC job as ``cli --report`` runs it; returns stage times."""
    from longqc_spark.lineage import read_labels, run_qc_with_lineage
    from longqc_spark.report import summarize, write_html_report, write_json_report

    shutil.rmtree(out_dir, ignore_errors=True)
    kw = dict(
        n_buckets=spec["n_buckets"],
        html_col=spec.get("html_col"),
        dedup=spec.get("dedup", False),
        wave_buckets=spec.get("wave_buckets"),
    )
    fail_after = spec.get("fail_after_bucket")
    crashed_at = None
    with tracer.span("bench.job"):
        t0 = time.perf_counter()
        if fail_after is not None:
            with tracer.span("lineage.run_qc_with_lineage"), counter.group("lineage"):
                try:
                    run_qc_with_lineage(docs, out_dir, fail_after_bucket=fail_after, **kw)
                except RuntimeError as e:
                    if not str(e).startswith("injected failure"):
                        raise
                    from longqc_spark.lineage import load_manifest

                    crashed_at = len(load_manifest(out_dir)["committed"])
        t1 = time.perf_counter()
        with tracer.span("lineage.run_qc_with_lineage"), counter.group("lineage"):
            manifest = run_qc_with_lineage(docs, out_dir, **kw)
        t2 = time.perf_counter()
        with tracer.span("report.summarize"), counter.group("report"):
            summary = summarize(read_labels(spark, out_dir))
        t3 = time.perf_counter()
        with tracer.span("report.write_json_report"):
            write_json_report(summary, os.path.join(out_dir, "report.json"))
        with tracer.span("report.write_html_report"):
            write_html_report(summary, os.path.join(out_dir, "report.html"))
        t4 = time.perf_counter()
    problems = []
    if fail_after is not None and crashed_at != fail_after + 1:
        problems.append(f"injected crash committed {crashed_at} buckets, want {fail_after + 1}")
    return {
        "lineage_s": t2 - t0,
        "resume_s": t2 - t1,
        "summarize_s": t3 - t2,
        "write_s": t4 - t3,
        "report_s": t4 - t2,
        "job_s": t4 - t0,
        "manifest": manifest,
        "summary": summary,
        "problems": problems,
    }


def gated_job(spark, docs, spec, out_dir, tracer, counter, oracle) -> tuple[dict | None, dict | None]:
    """run_job + the correctness gate; (timings, gate) or (None, None) when
    the job raised."""
    import gate

    try:
        r = run_job(spark, docs, spec, out_dir, tracer, counter)
        g = gate.check(out_dir, r["manifest"], r["summary"], oracle, spec["n_buckets"])
    except Exception:  # a raising job is a failed attempt: record it, go on
        log("job raised:\n" + traceback.format_exc())
        return None, None
    g["problems"] = r["problems"] + g["problems"]
    for p in g["problems"]:
        log(f"check failed: {p}")
    return r, g


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"],
                    help="'all' runs every workload, each in its own process")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "longqc_spark", "lineage.py")):
        log(f"no longqc_spark package under {ROOT}; run from a full checkout")
        return 2
    if args.workload == "all":
        codes = [
            subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                            "--seconds", str(args.seconds), "--trace", str(args.trace)]).returncode
            for w in WORKLOADS
        ]
        return max(codes)
    sys.path.insert(0, ROOT)
    spec = WORKLOADS[args.workload]

    import gen

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    n_cores = cores()
    try:
        meta = gen.generate(cache, args.workload, spec["variant"], args.seed,
                            spec["n_docs"], FILES_PER_CORE * n_cores, n_cores)
        gen.prune(cache, CACHE_KEEP)
        log("input: " + json.dumps({k: meta[k] for k in (
            "n_docs", "n_files", "payload_bytes", "planted_dups", "distinct_payloads")}))
        prepare_env(run_dir)
        return measure(args, spec, meta, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, spec: dict, meta: dict, run_dir: str) -> int:
    import gate
    import probes
    from spans import Tracer

    from longqc_spark.config import DEFAULT_CONFIG

    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("bench.run"):
        oracle = gate.Oracle(meta["path"], spec.get("dedup", False), DEFAULT_CONFIG)
        log("oracle ready")
        spark, setup_m = setup(tracer)
        log("setup done: " + json.dumps(setup_m))
        try:
            res = spark_phase(args, spec, meta, run_dir, spark, tracer, oracle)
        finally:
            shutdown(spark)
            log("spark stopped")
        if args.trace and res["jobs"]:
            batch = int(res["conf"]["spark.sql.execution.arrow.maxRecordsPerBatch"])
            with tracer.span("bench.harness"):
                res["kernels"] = probes.kernel_harness(
                    oracle.docs, DEFAULT_CONFIG, batch,
                    fused_extract=spec.get("html_col") is not None, tracer=tracer)
    correct = res["failed"] == 0
    if not res["jobs"]:
        return emit(False, res["attempted"], res["failed"], {})
    if args.trace:
        metrics = layer_metrics(res, setup_m, meta, tracer)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.jsonl"))
        traced_job, untraced_job = res["jobs"]
        print(f"workload {args.workload} seed {args.seed}: traced run {tracer.run_id}, "
              f"{len(tracer.spans)} spans; traced "
              f"job_s {traced_job['job_s']:.4f}, untraced job_s {untraced_job['job_s']:.4f}; "
              f"batch tail = p{res['kernels']['kernels.batch_tail_pct']:.1f} of "
              f"{res['kernels']['kernels.batch_samples']} batches")
        for name, (v, unit) in metrics.items():
            print(f"  {name:36s} {v:14.4f} {unit}")
        return emit(correct, res["attempted"], res["failed"], metrics)

    jobs, gates = res["jobs"], res["gates"]
    med = lambda k: statistics.median(j[k] for j in jobs)  # noqa: E731
    metrics = {
        "setup_s": setup_m["setup_s"],
        "docs_per_s": meta["n_docs"] / med("lineage_s"),
        "job_s": med("job_s"),
        "report_s": med("report_s"),
        "worker_peak_rss_mb": res["rss_mb"]["one_worker"],
        "label_f1": min(g["label_f1"] for g in gates),
    }
    shown = {
        **metrics,
        "failed_frac": res["failed"] / res["attempted"],
        "scrub_mismatch_docs": max(g["scrub_mismatch_docs"] for g in gates),
    }
    if spec.get("fail_after_bucket") is not None:
        shown["resume_s"] = med("resume_s")
    units = {**END_TO_END_UNITS, **SHOWN_UNITS}
    print(f"workload {args.workload} seed {args.seed}: {len(jobs)} timed jobs, "
          f"{sum(j['job_s'] for j in jobs):.2f} s measured; {meta['n_docs']} docs, "
          f"{meta['payload_bytes']} payload bytes, {meta['planted_dups']} planted duplicates; "
          f"spark conf {json.dumps(res['conf'])}")
    for k, v in shown.items():
        print(f"  {k:22s} {v:14.4f} {units[k]}")
    return emit(correct, res["attempted"], res["failed"],
                {k: (v, END_TO_END_UNITS[k]) for k, v in metrics.items()})


def spark_phase(args, spec, meta, run_dir, spark, tracer, oracle) -> dict:
    """A warm-up job, then the timed jobs under the RSS sampler; a traced run
    times a traced and an untraced job instead, then the no-op pipeline run."""
    import probes
    from spans import Tracer

    from longqc_spark.config import DEFAULT_CONFIG
    from longqc_spark.lineage import load_manifest, run_qc_with_lineage
    from longqc_spark.pipeline import qc_pipeline

    sc = spark.sparkContext
    conf = {k: spark.conf.get(k) for k in (
        "spark.master",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.shuffle.partitions",
    )}
    docs = spark.read.parquet(meta["path"])
    off = Tracer(enabled=False)
    no_count = probes.JobCounter(sc, enabled=False)

    out = os.path.join(run_dir, "out")
    res = {"conf": conf, "jobs": [], "gates": [], "attempted": 0, "failed": 0}

    def attempt(tr, counter) -> bool:
        # collect the garbage of the last job outside the timed window, so
        # no job pays for the one before it
        gc.collect()
        sc._jvm.System.gc()
        res["attempted"] += 1
        r, g = gated_job(spark, docs, spec, out, tr, counter, oracle)
        log("job: " + json.dumps({k: v for k, v in (r or {}).items() if k.endswith("_s")}))
        if r is None or g["problems"]:
            res["failed"] += 1
        if r is None:
            return False
        res["jobs"].append(r)
        res["gates"].append(g)
        return True

    def warm_up() -> bool:
        """One untimed, ungated job: the first job in a fresh JVM runs about
        twice as long and far less steadily (class loading, code generation,
        JIT). It runs without the injected crash, whose call and the
        resuming call plan the same wave jobs as one uninterrupted call."""
        from longqc_spark.lineage import read_labels
        from longqc_spark.report import summarize

        warm_spec = {k: v for k, v in spec.items() if k != "fail_after_bucket"}
        warm_out = os.path.join(run_dir, "warmup")
        t0 = time.perf_counter()
        try:
            run_job(spark, docs, warm_spec, warm_out, off, no_count)
            # the report's ~25 small Spark jobs warm up slowest; one more
            # pass of them costs a third of a job
            summarize(read_labels(spark, warm_out))
        except Exception:
            log("warm-up job raised:\n" + traceback.format_exc())
            res["attempted"] += 1
            res["failed"] += 1
            return False
        log(f"warm-up job: {time.perf_counter() - t0:.2f} s")
        return True

    counter = probes.JobCounter(sc, enabled=bool(args.trace))
    with probes.RssSampler(sc._gateway.proc.pid) as rss:
        warm = warm_up()
        if warm and not args.trace:
            # jobs until --seconds of job time is measured, at least MIN_JOBS
            while attempt(off, no_count):
                jobs = res["jobs"]
                if len(jobs) >= MIN_JOBS and sum(j["job_s"] for j in jobs) >= args.seconds:
                    break
        elif warm and attempt(tracer, counter):
            # a traced, then an untraced job: their difference is the
            # tracing overhead
            manifest = load_manifest(out)
            res["label_dir"] = probes.dir_size(os.path.join(out, manifest.get("data_root", "data")))
            res["manifest_commits"] = manifest["version"]
            attempt(off, no_count)
    # planned after the warm-up, when planning is cheap
    conf["scan_partitions"] = docs.rdd.getNumPartitions()
    log("spark conf: " + json.dumps(conf))
    res["rss_mb"] = rss.mb()
    res["rss_procs"] = len(rss.pids)
    log(f"peak rss MB over {rss.samples} samples, {len(rss.pids)} worker processes: "
        + json.dumps(res["rss_mb"]))
    if not args.trace:
        return res
    if len(res["jobs"]) < 2:
        res["jobs"] = []
        return res
    if spec.get("fail_after_bucket") is None:
        # no crash to resume from: time the resume of the finished run (the
        # manifest-only path every restart of a committed job takes)
        with tracer.span("lineage.run_qc_with_lineage"):
            t0 = time.perf_counter()
            run_qc_with_lineage(docs, out, n_buckets=spec["n_buckets"],
                                html_col=spec.get("html_col"), dedup=spec.get("dedup", False))
            res["jobs"][0]["resume_s"] = time.perf_counter() - t0
    with tracer.span("pipeline.qc_pipeline"), counter.group("pipeline"):
        t0 = time.perf_counter()
        qc_pipeline(docs, DEFAULT_CONFIG, html_col=spec.get("html_col")).write.format(
            "noop").mode("overwrite").save()
        res["noop_s"] = time.perf_counter() - t0
    res["counts"] = {layer: counter.totals(layer) for layer in ("lineage", "report", "pipeline")}
    return res


def layer_metrics(res: dict, setup_m: dict, meta: dict, tracer) -> dict:
    k = res["kernels"]
    traced_job, untraced_job = res["jobs"]
    files, size = res["label_dir"]
    noop_s = res["noop_s"]
    counts = res["counts"]
    layer_self: dict[str, float] = {}
    for name, s in tracer.self_times().items():
        layer = name.split(".")[0]
        layer_self[layer] = layer_self.get(layer, 0.0) + s
    return {
        "session.get_spark_s": (setup_m["session.get_spark_s"], "s"),
        "session.first_udf_job_s": (setup_m["session.first_udf_job_s"], "s"),
        "session.cold_setup_s": (setup_m["session.cold_setup_s"], "s"),
        "rss.peak_mb": (res["rss_mb"]["total"], "MB"),
        "rss.jvm_peak_mb": (res["rss_mb"]["root"], "MB"),
        "rss.python_processes": (res["rss_procs"], "count"),
        "models.load_s": (k["models.load_s"], "s"),
        "models.langid_docs_per_s": (k["models.langid_docs_per_s"], "docs/s"),
        "models.lm_tokens_per_s": (k["models.lm_tokens_per_s"], "tokens/s"),
        "kernels.stats_docs_per_s": (k["kernels.stats_docs_per_s"], "docs/s"),
        "kernels.scrub_docs_per_s": (k["kernels.scrub_docs_per_s"], "docs/s"),
        "kernels.extract_mb_per_s": (k["kernels.extract_mb_per_s"], "MB/s"),
        "kernels.batch_ms_p50": (k["kernels.batch_ms_p50"], "ms"),
        "kernels.batch_ms_tail": (k["kernels.batch_ms_tail"], "ms"),
        "kernels.batch_samples": (k["kernels.batch_samples"], "count"),
        "pipeline.noop_s": (noop_s, "s"),
        "pipeline.kernel_share": (k["kernel_s"] / cores() / noop_s, "ratio"),
        "pipeline.spark_jobs": (counts["pipeline"][0], "count"),
        "pipeline.tasks": (counts["pipeline"][1], "count"),
        "lineage.overhead_s": (traced_job["lineage_s"] - noop_s, "s"),
        "lineage.resume_s": (traced_job["resume_s"], "s"),
        "lineage.spark_jobs": (counts["lineage"][0], "count"),
        "lineage.manifest_commits": (res["manifest_commits"], "count"),
        "lineage.files_written": (files, "count"),
        "lineage.bytes_written_per_doc": (size / meta["n_docs"], "B/doc"),
        "lineage.dedup_recall": (res["gates"][0]["dedup_recall"], "ratio"),
        "report.summarize_s": (traced_job["summarize_s"], "s"),
        "report.write_s": (traced_job["write_s"], "s"),
        "report.spark_jobs": (counts["report"][0], "count"),
        "trace.overhead_s": (traced_job["job_s"] - untraced_job["job_s"], "s"),
        **{f"self.{layer}_s": (v, "s") for layer, v in sorted(layer_self.items())},
    }


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> int:
    print(json.dumps({
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
