"""Benchmark entry point.

    python3 perfbench/run.py --workload wiki_pipeline --seed 1 --seconds 20 --trace 0

Prints a report line (environment, noise canary, every workload metric
with its unit, failed checks) and, last, the result line:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness as H  # noqa: E402

END_TO_END = {"setup_s": "s", "run_s": "s", "peak_rss_mb": "MB"}

# spill (memory + disk bytes spilled) read 0 on every layer at these sizes
EVENT_QS = {"wall_s": "s", "executor_run_s": "s", "tasks": "count", "task_skew": "ratio",
            "shuffle_write_mb": "MB", "python_sent_mb": "MB"}
EVENT_LAYERS = ("wiki_xml", "ingest", "matches", "contexts")
CRAWL_WAVE_QS = ("jobs", "tasks", "shuffle_write_mb", "task_skew")
UDF_KERNELS = {"clean_text": "text.clean_up_text_us", "phrase_match": "text.phrase_match_us",
               "crop_mask": "text.crop_mask_us"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    from perfbench.crawl import DETAIL_KEYS

    units = {
        "session.start_s": "s", "trace.overhead_ratio": "ratio",
        "ingest_xml_s": "s", "build_matches_db_s": "s", "build_contexts_db_s": "s",
        "pages_per_s": "pages/s", "crawl_urls_per_s": "urls/s", "wave_s_max": "s",
        "recrawl_s": "s",
    }
    for layer in EVENT_LAYERS:
        units.update({f"{layer}.{q}": u for q, u in EVENT_QS.items()})
    units.update({
        "wiki_xml.parse_page_xml_us": "us", "ingest.parse_wikitext_us": "us",
        "text.clean_up_text_us": "us", "text.phrase_match_us": "us", "text.crop_mask_us": "us",
        "crawl.fetch_extract_us": "us",
    })
    units.update({f"udfs.{u}.kernel_share": "ratio" for u in UDF_KERNELS})
    units.update({"dao.write_s": "s", "dao.output_mb": "MB",
                  "ref_model.python_s": "s", "ref_crawler.python_s": "s"})
    units.update({f"crawl.{k}_s": "s" for k in DETAIL_KEYS})
    units.update({f"crawl.wave.{q}": EVENT_QS.get(q, "count") for q in CRAWL_WAVE_QS})
    units.update({"crawl.scheduled": "count", "crawl.extracted": "count",
                  "crawl.new_urls": "count", "crawl.queued_after": "count",
                  "crawl.discovery_yield": "ratio",
                  "crawl.seen.build_s": "s", "crawl.seen.probe_s": "s",
                  "crawl.seen.maybe_ratio": "ratio",
                  "crawl.seed_s": "s", "crawl.expire_s": "s", "crawl.resume_open_s": "s",
                  "crawl.recrawl_wave_s": "s"})
    return units


def workloads() -> dict:
    from perfbench.crawl import CrawlRecrawl
    from perfbench.wiki import WikiPipeline

    return {w.name: w for w in (WikiPipeline, CrawlRecrawl)}


def _rep(spark, wl):
    spark.catalog.clearCache()  # no repetition reads the previous one's cache
    return wl.rep(spark)


def untraced_child(args) -> tuple[dict, dict]:
    """The same run with tracing off, in its own process (one JVM at a
    time): the baseline for ``trace.overhead_ratio`` and the source of
    the untraced timings the per-layer table repeats."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    if args.smoke:
        cmd.append("--smoke")
    proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr)
        raise RuntimeError(f"untraced run exited with {proc.returncode}")
    lines = proc.stdout.splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def measure_traced(args, work: str) -> tuple[dict, dict]:
    """Event log on: one warm-up and one measured repetition, then the
    standalone layer probes and the kernel timings; the log is reduced
    per job group. → (report, result) with every per-layer metric, zero
    for layers this workload does not run."""
    from perfbench import eventlog

    base_report, base_result = untraced_child(args)
    H.prepare_env(work)
    log_dir = os.path.join(work, "eventlog")
    wl = workloads()[args.workload](work, args.seed, args.smoke)
    spark, _ = H.start_session(work, "perfbench-traced", event_log_dir=log_dir)
    wl.make_inputs(spark)
    spark.catalog.clearCache()
    wl.warmup(spark)
    since_ms = int(time.time() * 1000)
    traced = [_rep(spark, wl)]
    out = {k: (v["value"], v["unit"]) for k, v in base_report["metrics"].items()}
    out["trace.overhead_ratio"] = (traced[0]["seconds"] / out["run_s"][0], "ratio")
    probes = wl.probes(spark, traced)
    rows = probes.pop("_rows", {})
    out.update(probes)
    out.update(wl.kernels(traced))
    n_checks, failures, _ = wl.check(spark, traced)
    failures += [f"traced {name} failed" for name, _, ok in traced[0]["ops"] if not ok]
    spark.stop()

    groups = eventlog.reduce_log(eventlog.find_log(log_dir), since_ms)
    for layer in EVENT_LAYERS:
        merged = eventlog.merge(groups, layer)
        out.update({f"{layer}.{q}": (merged[q], u) for q, u in EVENT_QS.items() if merged})
    wave = eventlog.merge(groups, "crawl.wave")
    if wave:
        out.update({f"crawl.wave.{q}": (wave[q], EVENT_QS.get(q, "count"))
                    for q in CRAWL_WAVE_QS})
    for udf, kernel in UDF_KERNELS.items():
        ex = eventlog.merge(groups, f"udfs.{udf}")
        if ex and ex["executor_run_s"] > 0:
            share = out[kernel][0] * rows[f"udfs.{udf}"] / 1e6 / ex["executor_run_s"]
            out[f"udfs.{udf}.kernel_share"] = (share, "ratio")

    failures = base_report["failures"] + failures
    report = dict(base_report, failures=failures, traced_rep_s=traced[0]["seconds"],
                  metrics={k: {"value": v, "unit": u} for k, (v, u) in sorted(out.items())})
    result = {
        "correct": not failures,
        "attempted": base_result["attempted"] + len(traced[0]["ops"]) + n_checks,
        "failed": len(failures),
        "metrics": {k: {"value": out.get(k, (0.0, u))[0], "unit": u}
                    for k, u in per_layer_units().items()},
    }
    return report, result


def measure(args, work: str) -> tuple[dict, dict]:
    """Untraced: set-up (session, inputs, canary, warm-up), then as many
    repetitions as fill ``args.seconds``, then the checks."""
    t0 = time.perf_counter()
    H.prepare_env(work)
    wl = workloads()[args.workload](work, args.seed, args.smoke)
    spark, start_s = H.start_session(work, "perfbench")
    env = H.environment(spark)
    wl.make_inputs(spark)
    canary_pre = H.canary(spark)
    spark.catalog.clearCache()
    wl.warmup(spark)
    setup_s = time.perf_counter() - t0

    steal0 = H.steal_s()
    with H.TreeRSS() as rss:
        reps = [_rep(spark, wl) for _ in range(H.repetitions(args.seconds, wl.rep_s))]
    steal = H.steal_s() - steal0
    run_s = H.median([r["seconds"] for r in reps])
    n_checks, failures, check_metrics = wl.check(spark, reps)
    canary_post = H.canary(spark)
    ops = [op for r in reps for op in r["ops"]]
    failures += [f"{name} failed" for name, _, ok in ops if not ok]
    attempted = len(ops) + n_checks

    e2e = {"setup_s": (setup_s, "s"), "run_s": (run_s, "s"), "peak_rss_mb": (rss.peak_mb, "MB")}
    metrics = dict(e2e)
    metrics.update(wl.detail(reps))
    metrics.update(check_metrics)
    metrics["error_rate"] = (len(failures) / attempted, "fraction")
    metrics["session.start_s"] = (start_s, "s")
    report = {
        "workload": args.workload, "seed": args.seed, "smoke": args.smoke,
        "environment": env, "loadavg_after": list(os.getloadavg()),
        "canary_s": {"pre": canary_pre, "post": canary_post},
        "repetitions": len(reps), "rep_s": [r["seconds"] for r in reps],
        "steal_s_during_reps": steal,
        "peak_mb_by_process": {k: v / 2**20 for k, v in rss.peak_parts.items()},
        "failures": failures,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": e2e[k][0], "unit": u} for k, u in END_TO_END.items()},
    }
    return report, result


def stop_spark() -> None:
    """Stop the session, then the JVM behind it, and wait until the JVM
    (and with it every Python worker) has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when this pipe closes
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["wiki_pipeline", "crawl_recrawl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    args = ap.parse_args(argv)
    for need in ("ecc_spark/__init__.py", "tests/ref_model.py", "tests/ref_crawler.py",
                 "bench.py"):
        if not os.path.isfile(os.path.join(H.ROOT, need)):
            print(f"perfbench: {need} is missing; run from a full checkout", file=sys.stderr)
            return 2
    work = os.path.join(H.ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        report, result = (measure_traced if args.trace else measure)(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
