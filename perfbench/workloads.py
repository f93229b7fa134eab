"""The benchmark's workloads: seeded set-up and one closed-loop iteration
each, driving the engine through its public functions.

Each workload object offers ``setup()`` (build the corpus from the seed and
stage the program's input — timed as set-up), ``prepare_checks()`` (the
pure-Python expected results, untimed), ``warm_up(tracer)`` (discarded work
timed as set-up) and ``iterate(tracer, force)`` (one timed iteration,
checked against those expectations).
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from licenta_crawler_spark.fixtures.corpus import build_corpus, corpus_to_resolver
from licenta_crawler_spark.functions.urlnorm import (
    cached_canon_sha1,
    canonicalize_url,
    url_sha1_hex,
)
from licenta_crawler_spark.operators.fetch import fetch_batches
from licenta_crawler_spark.operators.parse import parse_pages
from licenta_crawler_spark.operators.politeness import schedule_fetches
from licenta_crawler_spark.operators.seen import (
    BloomShardSet,
    filter_unseen,
    first_discovery,
)
from licenta_crawler_spark.oracle.simulator import simulate_crawl
from licenta_crawler_spark.plans import schemas
from licenta_crawler_spark.plans.bench_jobs import _spellings
from licenta_crawler_spark.plans.wave import CrawlEngine, EngineConfig
from licenta_crawler_spark.sources.checkpoint import IcebergLayoutCatalog

SEED_JOBS_SCHEMA = (
    "job_id string, homepage string, seeds array<string>, "
    "additional_sitemaps array<string>, disallow_cookies boolean"
)
# the crawl engine's own Bloom directory sizing (EngineConfig defaults): at
# this seen-set size it stays under the broadcast limit, so the probe is the
# map-side one the engine uses
_ENGINE_DEFAULTS = EngineConfig()
CHECKSUM_HEX = 11  # 44-bit sha1 prefixes: 10^5 of them still sum inside a long
# resume_s is sub-second: each iteration resumes this many times and the
# benchmark reports the median of all samples
RESUME_SAMPLES = 5


def bench_shaped_corpus(seed: int):
    """The corpus shape of plans/bench_jobs.bench_corpus, built from
    ``seed`` instead of the fixed seed 42."""
    return build_corpus(
        seed=seed,
        n_browse_hosts=48,
        n_sitemap_hosts=16,
        mega_host=True,
        chain_len=(3, 4),
        products_per_shelf=(22, 30),
        mega_chain=(8, 10),
        mega_products=(25, 35),
    )


def force(df):
    """Materialize a layer's output at its boundary: a noop write computes
    it and the lazy local checkpoint keeps the blocks for the next layer."""
    df = df.localCheckpoint(eager=False)
    df.write.format("noop").mode("overwrite").save()
    return df


def no_force(df):
    return df


def release_session_state(spark) -> None:
    """Drop cached tables and locally checkpointed RDD blocks an iteration
    left behind, so iterations do not slow each other down."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def _url_checksum(urls) -> int:
    return sum(int(hashlib.sha1(u.encode()).hexdigest()[:CHECKSUM_HEX], 16)
               for u in urls)


def _expected_fetch(corpus, url: str):
    """(status, page) a first fetch attempt of ``url`` ends with, following
    redirects like the reference (at most 5 hops)."""
    cur = url
    for _ in range(6):
        page = corpus.pages.get(cur)
        if page is None:
            return 404, None
        if page.redirect_to and page.status in (301, 302, 303):
            cur = canonicalize_url(page.redirect_to)
            continue
        if page.transient_failures > 0:
            return 503, None
        return page.status, page
    return -1, None


class FetchParseWide:
    """One steady frontier wave from staged raw candidates: canonicalize
    (urlnorm) -> first discovery, Bloom build, probe + exact confirm (seen)
    -> per-host schedule (politeness) -> fetch -> parse — the operator chain
    of plans/bench_jobs.frontier_steady_wave. The seen set is the committed
    ``seen`` table of an Iceberg-layout catalog, half of the distinct URLs,
    loaded at the start of each wave.

    The corpus has the bench shape. PAGES of its page URLs (the lowest by
    sha1, so every host keeps its share) are staged once in each of their
    four RFC-3986-equivalent spellings: thousands of distinct pages to fetch
    and parse, one hot mega host in the per-host grouping, four spellings
    per URL for first discovery to collapse, and the same input size for
    every seed."""

    PAGES = 6500

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.stage_path = os.path.join(work, "candidates")
        self.catalog_root = os.path.join(work, "catalog")
        self.resolver_bc = None

    def setup(self) -> None:
        spark = self.spark
        self.corpus = bench_shaped_corpus(self.seed)
        self.urls = sorted(sorted(self.corpus.pages, key=url_sha1_hex)[:self.PAGES])
        if self.resolver_bc is not None:
            self.resolver_bc.destroy()
        self.resolver_bc = spark.sparkContext.broadcast(corpus_to_resolver(self.corpus))
        self.robots = spark.createDataFrame(self.corpus.robots, schemas.ROBOTS).cache()
        self.robots.count()
        self._stage_candidates()
        seen = sorted(
            h for h in (url_sha1_hex(u) for u in self.urls) if int(h[:4], 16) % 2 == 0
        )
        shutil.rmtree(self.catalog_root, ignore_errors=True)
        self.catalog = IcebergLayoutCatalog(self.catalog_root)
        self.catalog.commit_table(
            "seen", spark.createDataFrame(pd.DataFrame({"url_sha1": seen})), 0
        )
        self.n_seen = len(seen)

    def _stage_candidates(self) -> None:
        """Write the raw candidate stream (the rows
        plans/bench_jobs.frontier_candidates generates) as parquet, one file
        per core with rows dealt round-robin, as the previous wave's parse
        stage would leave it."""
        host, url, vi = [], [], []
        for i, canon in enumerate(self.urls):
            for j, sp in enumerate(_spellings(canon)):
                host.append(self.corpus.pages[canon].host)
                url.append(sp)
                vi.append(i * 8 + j)
        table = pa.table({
            "host": host,
            "url": url,
            "vi": pa.array(vi, pa.int64()),
            "replica": pa.array(np.zeros(len(url), np.int64)),
        })
        shutil.rmtree(self.stage_path, ignore_errors=True)
        os.makedirs(self.stage_path)
        parts = self.spark.sparkContext.defaultParallelism
        for p in range(parts):
            pq.write_table(table.take(np.arange(p, table.num_rows, parts)),
                           os.path.join(self.stage_path, f"part-{p:05d}.parquet"))
        self.n_raw = table.num_rows

    def prepare_checks(self) -> None:
        """What the pure-Python canonicalizer predicts the wave fetches."""
        canon = {canonicalize_url(sp) for u in self.urls for sp in _spellings(u)}
        fresh = sorted(u for u in canon if int(url_sha1_hex(u)[:4], 16) % 2 == 1)
        ok = [p for s, p in (_expected_fetch(self.corpus, u) for u in fresh) if s == 200]
        self.expected = {
            "n_fetched": len(fresh),
            "n_ok": len(ok),
            "n_spans": sum(len(p.spans) for p in ok),
            "checksum": _url_checksum(fresh),
        }
        self.sizes = {"raw_candidates": self.n_raw, "distinct_urls": len(canon),
                      "pre_seen_urls": self.n_seen, "corpus_pages": len(self.corpus.pages),
                      "staged_pages": len(self.urls)}

    def warm_up(self, tr) -> None:
        """Two discarded waves: the first compiles the plans and starts the
        workers, the second still runs measurably slower than later ones."""
        for _ in range(2):
            self.iterate(tr, no_force)
            release_session_state(self.spark)

    def iterate(self, tr, force_fn) -> dict:
        spark = self.spark
        n_par = spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        with tr.span("wave.frontier"):
            with tr.span("checkpoint.load"):
                seen = self.catalog.load(spark, "seen").localCheckpoint()
            t1 = time.perf_counter()
            with tr.span("urlnorm.canonicalize"):
                canon = cached_canon_sha1("url")[0]
                raw = force_fn(
                    spark.read.parquet(self.stage_path)
                    .withColumn("url_canon", canon)
                    .withColumn("url_sha1", F.sha1(F.encode(F.col("url_canon"), "UTF-8")))
                )
            with tr.span("seen.first_discovery"):
                c = first_discovery(raw, [F.col("replica"), F.col("vi")]).localCheckpoint()
            with tr.span("seen.bloom_build"):
                directory = BloomShardSet(
                    _ENGINE_DEFAULTS.bloom_shards, _ENGINE_DEFAULTS.bloom_bits,
                    _ENGINE_DEFAULTS.bloom_k,
                ).build(seen)
            with tr.span("seen.probe"):
                new = force_fn(filter_unseen(c, seen, directory))
            with tr.span("politeness.schedule"):
                sched = force_fn(schedule_fetches(
                    new.select(
                        "host", F.col("url_canon").alias("url"),
                        F.lit("PRODUCT").alias("kind"),
                        F.lit(0).cast("long").alias("prio0"),
                        F.col("vi").alias("prio1"), F.col("replica").alias("prio2"),
                    ),
                    self.robots,
                    spark.createDataFrame([], schemas.HOST_CLOCK),
                    max_per_host=1 << 30,  # steady state: drain the whole wave
                ))
            with tr.span("fetch.fetch"):
                fetched = force_fn(fetch_batches(
                    sched.select("url", "host").repartition(n_par), self.resolver_bc
                ))
            with tr.span("parse.parse"):
                agg = parse_pages(fetched, passthrough=["host"]).agg(
                    F.count("*").alias("n_fetched"),
                    F.sum((F.col("status") == 200).cast("long")).alias("n_ok"),
                    F.sum(F.size("spans")).alias("n_spans"),
                    F.sum(F.conv(F.substring(F.sha1(F.col("url")), 1, CHECKSUM_HEX),
                                 16, 10).cast("long")).alias("checksum"),
                ).collect()[0]
        t2 = time.perf_counter()
        resumes = [t1 - t0]
        for _ in range(RESUME_SAMPLES - 1):
            t = time.perf_counter()
            with tr.span("checkpoint.load"):
                self.catalog.load(spark, "seen").localCheckpoint()
            resumes.append(time.perf_counter() - t)
        got = {k: int(agg[k] or 0) for k in self.expected}
        out = {
            "ok": got == self.expected,
            "why": "" if got == self.expected else f"got {got}, expected {self.expected}",
            "wave_s": [t2 - t1], "crawl_s": t2 - t0, "resume_s": resumes,
            "urls": self.n_raw, "pages": got["n_fetched"],
        }
        if tr.enabled:
            out["counters"] = self._counters(raw, c, seen, directory, sched, got)
        return out

    def _counters(self, raw, c, seen, directory, sched, got) -> dict:
        """Work counts at the layer boundaries of a traced wave, read from
        the layers' materialized outputs."""
        probed = directory.maybe_seen_col(c).filter(F.col("_maybe_seen"))
        n_maybe = probed.count()
        by_host = sched.groupBy("host").count().agg(F.max("count")).collect()[0][0]
        return {
            "urlnorm.rows_in": raw.count(),
            "seen.rows_after_d2": c.count(),
            "seen.maybe_seen_rows": n_maybe,
            "seen.maybe_seen_kept": probed.join(seen, "url_sha1", "left_anti").count(),
            "seen.directory_bytes": directory.directory_bytes,
            "politeness.scheduled_rows": got["n_fetched"],
            "politeness.max_host_rows": int(by_host or 0),
            "fetch.pages": got["n_fetched"],
            "fetch.ok_pages": got["n_ok"],
            "parse.spans": got["n_spans"],
        }


class TracedCatalog:
    """The engine's checkpointer with a span around every table commit."""

    def __init__(self, catalog: IcebergLayoutCatalog, tr):
        self._catalog, self._tr = catalog, tr

    def commit_table(self, *args, **kwargs):
        with self._tr.span("checkpoint.commit"):
            return self._catalog.commit_table(*args, **kwargs)

    def __getattr__(self, name):
        return getattr(self._catalog, name)


def _row_key(row) -> str:
    return json.dumps(row.asDict(recursive=True), sort_keys=True, default=str)


STATE_TABLES = ("jobs", "nav", "sitemap_queue", "fetch_frontier", "crawl_log",
                "documents", "host_clocks")


class CrawlResume:
    """The full CrawlEngine loop (admit -> sitemap BFS -> paginated browse
    -> finalize_jobs) committing every wave to an Iceberg-layout catalog,
    then a fresh engine's ``resume(catalog)``."""

    # one browse host (one seed walked, then its alias that redirects back
    # to it; a robots-disallowed link and its allowed carve-out) beside one
    # sitemap host (index -> leaves, a gzipped leaf, an over-long redirect
    # chain). Transient fetch failures are cleared: their retry tail would
    # double the serial waves, and the crawl must fit the run budget. The
    # first corpus seed from seed * 1000 up with that one browse seed and
    # exactly URLS URLs is taken, so every seed crawls the same waves and URL
    # and page rates compare across seeds.
    CORPUS = dict(n_browse_hosts=1, n_sitemap_hosts=1, mega_host=False,
                  chain_len=(1, 1), products_per_shelf=(10, 10))
    URLS = 40

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work = spark, work
        self.corpus_seed = next(
            k for k in itertools.count(seed * 1000)
            if len(self._corpus(k).seed_jobs[0]["seeds"]) == 2
            and len(simulate_crawl(self._corpus(k)).seen) == self.URLS
        )
        self.resolver_bc = None
        self.n_runs = 0

    def _corpus(self, corpus_seed: int):
        corpus = build_corpus(seed=corpus_seed, **self.CORPUS)
        for page in corpus.pages.values():
            page.transient_failures = 0
        return corpus

    def setup(self) -> None:
        spark = self.spark
        self.corpus = self._corpus(self.corpus_seed)
        if self.resolver_bc is not None:
            self.resolver_bc.destroy()
        self.resolver_bc = spark.sparkContext.broadcast(corpus_to_resolver(self.corpus))
        self.robots = spark.createDataFrame(self.corpus.robots, schemas.ROBOTS)
        self.seed_jobs = spark.createDataFrame(self.corpus.seed_jobs, SEED_JOBS_SCHEMA).cache()
        self.seed_jobs.count()

    def prepare_checks(self) -> None:
        self.oracle = simulate_crawl(self.corpus)
        self.sizes = {"corpus_seed": self.corpus_seed,
                      "corpus_pages": len(self.corpus.pages),
                      "expected_urls": len(self.oracle.seen),
                      "seed_jobs": len(self.corpus.seed_jobs)}

    def _engine(self, checkpointer) -> CrawlEngine:
        return CrawlEngine(
            self.spark, self.resolver_bc, self.robots,
            EngineConfig(max_per_host=64, bloom_shards=16, bloom_bits=1 << 20,
                         track_schedule=False, checkpointer=checkpointer),
        )

    def warm_up(self, tr) -> None:
        """A discarded crawl of one wave of each kind: compiles the wave
        plans and starts the workers at a fraction of a full crawl's cost."""
        self.iterate(tr, no_force, max_waves=1)

    def iterate(self, tr, force_fn, max_waves: int | None = None) -> dict:
        """One crawl and RESUME_SAMPLES resumes. ``force_fn`` is unused: the
        engine materializes its state at every wave boundary itself."""
        self.n_runs += 1
        root = os.path.join(self.work, f"crawl-{self.n_runs}")
        catalog = IcebergLayoutCatalog(root)
        eng = self._engine(TracedCatalog(catalog, tr) if tr.enabled else catalog)
        waves = []
        t0 = time.perf_counter()
        with tr.span("wave.crawl"):
            with tr.span("wave.admit"):
                st = eng.admit(self.seed_jobs)
            for phase, step in (("sitemap_wave", eng.sitemap_wave),
                                ("browse_wave", eng.browse_wave)):
                for _ in range(max_waves or eng.cfg.max_waves):
                    tw = time.perf_counter()
                    with tr.span(f"wave.{phase}"):
                        more = step(st)
                    if not more:
                        break
                    waves.append(time.perf_counter() - tw)
            with tr.span("wave.finalize"):
                eng.finalize_jobs(st)
        crawl_s = time.perf_counter() - t0
        resumes, resumed = [], []
        for _ in range(1 if max_waves else RESUME_SAMPLES):
            t1 = time.perf_counter()
            with tr.span("checkpoint.load"):
                resumed.append(self._engine(catalog).resume(catalog))
            resumes.append(time.perf_counter() - t1)

        n_pages = sum(m["n_fetched"] for m in st.metrics)
        out = {"wave_s": waves, "crawl_s": crawl_s, "resume_s": resumes,
               "pages": n_pages}
        if max_waves is None:
            why = self._check(st, resumed[-1])
            out.update(ok=not why, why=why, urls=len(self.oracle.seen))
        if tr.enabled:
            out["counters"] = {
                "checkpoint.bytes_written": sum(
                    os.path.getsize(p) for p in _walk_files(root)),
                "checkpoint.snapshots": sum(
                    len(catalog.snapshots(t)) for t in STATE_TABLES),
            }
        shutil.rmtree(root, ignore_errors=True)
        return out

    def _check(self, st, st2) -> str:
        """'' when the crawl matches the oracle and the resumed state the
        committed one, else what differed."""
        got: dict[str, list] = {}
        for r in st.crawl_log.orderBy("host", "seq").collect():
            got.setdefault(r["host"], []).append((r["url"], r["referer"], r["page_type"]))
        exp = {h: rows for h, rows in self.oracle.discovery_log.items() if rows}
        if got != exp:
            return "per-host discovery order differs from simulate_crawl"
        seen = {r["url_sha1"] for r in st.crawl_log.select("url_sha1").collect()}
        if seen != self.oracle.seen:
            return "URL-seen set differs from simulate_crawl"
        docs = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                              for s in r["spans"]]
                for r in st.documents.collect()}
        exp_docs = {d: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
                    for d, spans in self.oracle.documents.items()}
        if docs != exp_docs:
            return "document spans differ from simulate_crawl"
        for name in STATE_TABLES:
            a = sorted(map(_row_key, getattr(st, name).collect()))
            b = sorted(map(_row_key, getattr(st2, name).collect()))
            if a != b:
                return f"resumed {name} differs from the committed state"
        return ""


def _walk_files(root: str):
    for d, _, files in os.walk(root):
        for f in files:
            yield os.path.join(d, f)
