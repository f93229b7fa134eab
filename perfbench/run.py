#!/usr/bin/env python3
"""Run one frontier-benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Works from any working directory: the repository root is found from this
file's location, put on the Python path of the driver and of Spark's Python
workers, and every file the run writes (staged input, catalogs, Spark local
dirs, event logs, spans) goes under ``<root>/.perfbench_work``.

A run starts a local[nproc] session, sets up the workload several times
from the seed (the median set-up is reported), runs warm-up iterations
that are discarded, then runs closed-loop iterations for ``--seconds``:
each starts when the previous one ends. Every iteration's output is checked
against the pure-Python reference; an iteration that raises or fails its
check counts in ``failed``. Stdout ends with one JSON line
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

A traced run alternates untraced and traced iterations. Traced iterations
record a span around each call into a layer, materialize each layer's
output at its boundary, and run with the Spark event log on; the log's jobs
and tasks are attributed to spans by time window. Spans are written to
``.perfbench_work/traces/<run>.jsonl``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("fetch_parse_wide", "crawl_resume")
SETUP_REPEATS = 3
END_TO_END_UNITS = {
    "frontier_urls_per_s": "urls/s", "pages_per_s": "pages/s", "wave_s_p50": "s",
    "crawl_s": "s", "resume_s": "s", "peak_rss_mb": "MB", "setup_s": "s",
}


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    let Spark's Python workers import the package from any directory."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the spark-submit launcher's too: temp files and no
    # /tmp/hsperfdata_* entries
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work, "eventlog")
    else:
        os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    sys.path.insert(0, ROOT)


def _start_spark(work: str, cores: int):
    from licenta_crawler_spark.session import get_spark

    return get_spark(
        "perfbench", parallelism=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM and
    its Python workers to exit."""
    from pyspark import SparkContext

    from perfbench.procs import descendants, wait_gone

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(children, timeout_s=30)


def _iterate(wl, tracer, force_fn) -> dict:
    from perfbench.workloads import release_session_state

    try:
        res = wl.iterate(tracer, force_fn)
    except Exception:
        res = {"ok": False, "why": traceback.format_exc(limit=3)}
    release_session_state(wl.spark)
    return res


def _measure(args, work: str, run_id: str) -> dict:
    from perfbench.metrics import Tracer, median
    from perfbench.workloads import force, no_force, release_session_state

    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = _start_spark(work, cores)
    session_s = time.perf_counter() - t
    try:
        from perfbench.workloads import CrawlResume, FetchParseWide

        workload = {"fetch_parse_wide": FetchParseWide, "crawl_resume": CrawlResume}
        wl = workload[args.workload](spark, work, args.seed)
        setups = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t)
        wl.prepare_checks()
        t = time.perf_counter()
        wl.warm_up(Tracer(run_id, False))
        release_session_state(spark)
        warmup_s = time.perf_counter() - t

        traced, untraced = Tracer(run_id, True), Tracer(run_id, False)
        results = []  # (iteration, traced?, result)
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            is_traced = bool(args.trace) and i % 2 == 1
            traced.iteration = i
            res = _iterate(wl, traced if is_traced else untraced,
                           force if is_traced else no_force)
            results.append((i, is_traced, res))
            i += 1
            if time.perf_counter() >= deadline and {tr for _, tr, _ in results} >= {
                False, bool(args.trace)
            }:
                break
    finally:
        _stop_spark(spark)
    return {
        "cores": cores, "session_s": session_s, "setups": setups,
        "warmup_s": warmup_s, "setup_s": session_s + median(setups) + warmup_s,
        "results": results, "tracer": traced, "sizes": wl.sizes,
    }


def _measured(results: list, traced: bool) -> list:
    """(iteration, result) of the iterations of one kind to take metrics
    from: those that passed their check, or, when none did, every one that
    completed, so a wrong program still reports its timings (and
    ``"correct": false``)."""
    done = [(i, r) for i, tr, r in results if tr == traced and "crawl_s" in r]
    return [(i, r) for i, r in done if r["ok"]] or done


def _end_to_end(m: dict, peak_rss_mb: float) -> dict[str, float]:
    from perfbench.metrics import median

    ok = [r for _, r in _measured(m["results"], False)]
    crawl_s = median([r["crawl_s"] for r in ok])
    return {
        "frontier_urls_per_s": ok[0]["urls"] / crawl_s,
        "pages_per_s": ok[0]["pages"] / crawl_s,
        "wave_s_p50": median([w for r in ok for w in r["wave_s"]]),
        "crawl_s": crawl_s,
        "resume_s": median([x for r in ok for x in r["resume_s"]]),
        "peak_rss_mb": peak_rss_mb,
        "setup_s": m["setup_s"],
    }


def _per_layer(m: dict, eventlog_dir: str) -> dict[str, tuple[float, str]]:
    from perfbench import metrics as pm

    cores, spans = m["cores"], m["tracer"].spans
    ok_traced = _measured(m["results"], True)
    ok_plain = [r for _, r in _measured(m["results"], False)]
    its = [i for i, _ in ok_traced]
    logs = sorted(glob.glob(os.path.join(eventlog_dir, "*")), key=os.path.getmtime)
    with open(logs[-1]) as fh:
        jobs, tasks = pm.parse_event_log(fh)
    attributed = pm.attribute(spans, jobs, tasks)
    layers = pm.layer_rollup(spans, attributed, its, cores)
    secs = pm.span_seconds(spans, its)
    c = {k: pm.median([r["counters"].get(k, 0) for _, r in ok_traced])
         for k in set().union(*(r["counters"] for _, r in ok_traced))}
    wave_spans = [s for s in spans if s.iteration in its and s.name in
                  ("wave.frontier", "wave.sitemap_wave", "wave.browse_wave")]
    traced_crawl = pm.median([r["crawl_s"] for _, r in ok_traced])
    plain_crawl = pm.median([r["crawl_s"] for r in ok_plain])
    out: dict[str, tuple[float, str]] = {
        "urlnorm.canon_s": (secs.get("urlnorm.canonicalize", 0.0), "s"),
        "urlnorm.rows_in": (c.get("urlnorm.rows_in", 0), "count"),
        "seen.first_discovery_s": (secs.get("seen.first_discovery", 0.0), "s"),
        "seen.d2_keep_ratio": (pm.ratio(c.get("seen.rows_after_d2", 0),
                                        c.get("urlnorm.rows_in", 0)), "ratio"),
        "seen.bloom_build_s": (secs.get("seen.bloom_build", 0.0), "s"),
        "seen.probe_s": (secs.get("seen.probe", 0.0), "s"),
        "seen.bloom_fp_ratio": (pm.ratio(c.get("seen.maybe_seen_kept", 0),
                                         c.get("seen.maybe_seen_rows", 0)), "ratio"),
        "seen.maybe_seen_rows": (c.get("seen.maybe_seen_rows", 0), "count"),
        "seen.directory_bytes": (c.get("seen.directory_bytes", 0), "bytes"),
        "politeness.schedule_s": (secs.get("politeness.schedule", 0.0), "s"),
        "politeness.max_host_share": (pm.ratio(c.get("politeness.max_host_rows", 0),
                                               c.get("politeness.scheduled_rows", 0)),
                                      "ratio"),
        "politeness.scheduled_rows": (c.get("politeness.scheduled_rows", 0), "count"),
        "fetch.fetch_s": (secs.get("fetch.fetch", 0.0), "s"),
        "fetch.ok_ratio": (pm.ratio(c.get("fetch.ok_pages", 0), c.get("fetch.pages", 0)),
                           "ratio"),
        "fetch.pages": (c.get("fetch.pages", 0), "count"),
        "parse.parse_s": (secs.get("parse.parse", 0.0), "s"),
        "parse.spans_per_doc": (pm.ratio(c.get("parse.spans", 0),
                                         c.get("fetch.ok_pages", 0)), "ratio"),
        "parse.docs": (c.get("fetch.ok_pages", 0), "count"),
        "wave.admit_s": (secs.get("wave.admit", 0.0), "s"),
        "wave.sitemap_wave_s": (secs.get("wave.sitemap_wave", 0.0), "s"),
        "wave.browse_wave_s": (secs.get("wave.browse_wave", 0.0), "s"),
        "wave.finalize_s": (secs.get("wave.finalize", 0.0), "s"),
        "wave.spark_jobs_per_wave": (pm.ratio(pm.jobs_within(wave_spans, jobs),
                                              len(wave_spans)), "count"),
        "checkpoint.commit_s": (secs.get("checkpoint.commit", 0.0), "s"),
        "checkpoint.bytes_written": (c.get("checkpoint.bytes_written", 0), "bytes"),
        "checkpoint.snapshots": (c.get("checkpoint.snapshots", 0), "count"),
        "checkpoint.load_s": (pm.median([s.duration for s in spans if s.iteration in its
                                         and s.name == "checkpoint.load"] or [0.0]), "s"),
        "trace.overhead_s": (traced_crawl - plain_crawl, "s"),
        "trace.overhead_ratio": (pm.ratio(traced_crawl - plain_crawl, plain_crawl),
                                 "ratio"),
    }
    totals = pm.iteration_totals(spans, attributed, its, cores)
    out["spark.jobs"] = (totals["jobs"], "count")
    out["spark.shuffle_write_bytes"] = (totals["shuffle_write_bytes"], "bytes")
    out["spark.gc_s"] = (totals["gc_s"], "s")
    out["spark.task_busy_ratio"] = (totals["task_busy_ratio"], "ratio")
    empty = {"self_s": 0.0, "jobs": 0, "shuffle_write_bytes": 0, "gc_s": 0.0,
             "task_busy_ratio": 0.0}
    for layer in ("urlnorm", "seen", "politeness", "fetch", "parse", "wave",
                  "checkpoint"):
        lr = layers.get(layer, empty)
        out[f"{layer}.self_s"] = (lr["self_s"], "s")
        out[f"{layer}.spark_jobs"] = (lr["jobs"], "count")
        out[f"{layer}.shuffle_write_bytes"] = (lr["shuffle_write_bytes"], "bytes")
        out[f"{layer}.gc_s"] = (lr["gc_s"], "s")
        out[f"{layer}.task_busy_ratio"] = (lr["task_busy_ratio"], "ratio")
    return out


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "licenta_crawler_spark", "__init__.py")):
        sys.stderr.write(f"perfbench: no licenta_crawler_spark package under {ROOT}\n")
        return 2
    run_id = f"{args.workload}-seed{args.seed}-{'traced' if args.trace else 'plain'}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, run_id)
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    _environment(work, bool(args.trace))

    from perfbench.procs import PeakRss

    try:
        with PeakRss() as rss:
            m = _measure(args, work, run_id)
        results = m["results"]
        attempted = len(results)
        failed = sum(1 for _, _, r in results if not r["ok"])
        for i, tr, r in results:
            if not r["ok"]:
                sys.stderr.write(f"iteration {i} ({'traced' if tr else 'plain'}) "
                                 f"failed: {r['why']}\n")
        if not {tr for _, tr, r in results if "crawl_s" in r} >= {False, bool(args.trace)}:
            sys.stderr.write("perfbench: no iteration of a needed kind completed\n")
            return 1
        e2e = _end_to_end(m, rss.peak_mb)
        if args.trace:
            layer = _per_layer(m, os.path.join(work, "eventlog"))
            spans_path = os.path.join(base, "traces", f"{run_id}.jsonl")
            m["tracer"].write_jsonl(spans_path)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} local[{m['cores']}] "
          f"closed loop, 1 client; input sizes: {json.dumps(m['sizes'])}")
    print(f"iterations: {attempted} attempted, {failed} failed "
          f"(error_rate {failed / attempted:.4f}); warm-up discarded; set-up repeated "
          f"{SETUP_REPEATS}x (median {statistics.median(m['setups']):.3f} s)")
    print(f"set-up parts: session {m['session_s']:.3f} s, corpus build + staging "
          f"{', '.join(f'{x:.3f}' for x in m['setups'])} s, warm-up {m['warmup_s']:.3f} s")
    print("iteration seconds (t = traced): " + ", ".join(
        f"{r['crawl_s']:.3f}{'t' if tr else ''}" for _, tr, r in results if "crawl_s" in r)
        + f"; waves per iteration: {len(results[0][2].get('wave_s', []))}")
    for k, v in e2e.items():
        print(f"  {k:<24} {v:>14.4f} {END_TO_END_UNITS[k]}")
    if args.trace:
        print(f"spans: {spans_path}")
        for k, d in metrics.items():
            print(f"  {k:<34} {d['value']:>16.4f} {d['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
