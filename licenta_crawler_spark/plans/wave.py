"""The crawl wave engine — EP1 admission, EP2 sitemap BFS, EP3 paginated
browse (SURVEY.md §3), re-expressed as one Catalyst plan per wave plus a
driver loop. Per-wave dataflow (SURVEY §3 EP3 diagram):

  frontier(QUEUED) ─politeness O1 (applyInPandas heap)─▶ schedule
  schedule ─round-robin repartition─▶ fetch S1-S4 (mapInPandas)
  fetched ─parse P1/P2/S9 (mapInPandas)─▶ spans ⊕ out-links
  out-links ─canonicalize P6 → sha1─▶ D2 first-discovery ─▶ Bloom D1
  pre-filter ─▶ exact left_anti vs crawl_log ─▶ new discoveries
  (crawl_log append with per-host seq, fetch_frontier append, documents)

Order equivalence with the single-threaded reference is achieved by making
order a *data property*: per-host seq is assigned from the deterministic
key (seed order, pagination order, link document order, shelf-last), never
from execution order — so the same log falls out at any parallelism.

Navigation (shelf chains) is deliberately separate from discovery: the
reference re-walks a redirected/aliased chain even when every URL on it is
already seen (upsert idempotence), so ``nav`` rows advance regardless of
the seen-set.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from licenta_crawler_spark.functions.urlnorm import cached_canon_sha1
from licenta_crawler_spark.operators.fetch import fetch_batches
from licenta_crawler_spark.operators.parse import parse_pages, parse_sitemaps
from licenta_crawler_spark.operators.politeness import advance_clocks, schedule_fetches
from licenta_crawler_spark.operators.cuckoo import CuckooShardSet
from licenta_crawler_spark.operators.seen import (
    BloomShardSet,
    ShardDirectory,
    filter_unseen,
    first_discovery,
)
from licenta_crawler_spark.plans import schemas

SHELF_LAST = 1 << 30  # shelf sorts after its products (P3 batch order)

# F6 retry cap: at most 3 total attempts per URL — transient (>=500)
# failures requeue with retries+1, anything else is terminal. Mirrors the
# reference's <=3 tolerated timeouts per page (BrowserCrawler.java:46-47,197).
MAX_FETCH_RETRIES = 3


def _retry_state_col(status_col, retries_col):
    """QUEUED-with-retry / FETCHED / FAILED from a fetch status (F6):
    5xx is retryable below the cap; 200 done; anything else terminal."""
    return (
        # 304 Not Modified is a SUCCESSFUL fetch outcome (conditional
        # revalidation): the key is done for this wave, content unchanged
        F.when(status_col.isin(200, 304), F.lit("FETCHED"))
        .when(
            (status_col >= 500) & (retries_col + 1 < MAX_FETCH_RETRIES),
            F.lit("QUEUED"),
        )
        .otherwise(F.lit("FAILED"))
    )


def _retry_count_col(status_col, retries_col):
    return (
        F.when(status_col.isin(200, 304), retries_col)
        .otherwise(retries_col + 1)
        .cast("int")
    )

# hive-partition the work tables by lifecycle state: every wave filters
# state='QUEUED', so partition pruning skips the (ever-growing) FETCHED
# files entirely instead of scanning and filtering them
STATE_PARTITIONING = {
    "fetch_frontier": ["state"],
    "nav": ["state"],
    "sitemap_queue": ["state"],
}


@dataclass
class EngineConfig:
    max_per_host: int = 64
    bloom_shards: int = 8
    bloom_bits: int = 1 << 18
    bloom_k: int = 7
    # adaptive engagement: below this many seen URLs the exact anti-join
    # is cheaper than building+probing the shard directory (2 extra Spark
    # jobs per wave), so D1 runs join-only; crossing the threshold
    # triggers a one-time catch-up build over the full seen set, after
    # which the directory advances incrementally. At production scale the
    # threshold is crossed in the first waves; on tiny corpora it never
    # is and the wave loop stays lean. 0 = always engage (tests).
    bloom_min_seen: int = 100_000
    # URL-seen directory backend: "bloom" (append-only, smallest bytes
    # per key) or "cuckoo" (operators/cuckoo.py — DELETABLE: recrawl
    # eviction via evict_seen without a directory rebuild, FPP ~0.012%).
    # Same adaptive engagement, probe strategies, and checkpoint story.
    seen_filter: str = "bloom"
    cuckoo_buckets: int = 1 << 14  # per shard; capacity = shards*buckets*4
    track_schedule: bool = True  # keep the per-fetch schedule log (tests/metrics)
    # fetch-batch partitioner: "roundrobin" (default — even rows/task) or
    # "hrw" (rendezvous-hash by host — ALL of a host's scheduled rows
    # land in one fetch task, so per-host connection/cookie state in the
    # fetch worker is reused instead of re-established per task, and the
    # host→shard map is resize-minimal like the politeness state pinning
    # in operators/frontier_policy.rendezvous_shard). Identity-preserving
    # by construction: partition placement never changes WHAT is fetched,
    # only where — pinned by the hrw e2e identity test.
    fetch_sharding: str = "roundrobin"
    # global per-wave fetch budget (None = unlimited): apportioned across
    # hosts largest-remainder by queued-candidate count, enforced as
    # per-host caps inside the O1 scheduler (operators/frontier_policy).
    # A budget only DEFERS fetches — capped hosts keep their rows QUEUED
    # and re-enter next wave — so the crawl result is unchanged, spread
    # over more waves. Opt-in: adds one count-agg + one host-rank window
    # per wave when set.
    wave_budget: int | None = None
    # crawler-trap admission cut (None = off): templates whose fetched
    # pages show >= trap_min_urls distinct URLs collapsing onto
    # trap_content_ratio x fewer distinct bodies stop admitting new
    # expansions (operators/frontier_policy.url_trap_stats; broadcast
    # anti-join on (host, template) — blocks the generator, not the host).
    # Opt-in: adds one documents-table agg + one anti-join per wave.
    trap_min_urls: int | None = None
    trap_content_ratio: int = 10
    # DUST enforcement (empty = off): query parameters proven
    # content-neutral (operators/frontier_policy.param_effect_rules —
    # typically via CrawlEngine.learn_dust_rules on a prior crawl) are
    # stripped from every discovered URL BEFORE canonicalization, so
    # session-id/tracking spellings collapse onto one seen-set key
    # instead of inflating the frontier. Pure column expression
    # (functions/urlnorm.strip_params_col) — no extra shuffle or join.
    strip_params: tuple = ()
    # conditional-fetch revalidation (opt-in): remember each fetch key's
    # ETag / Last-Modified from its last 200 and send them back
    # (If-None-Match / If-Modified-Since) on any RE-fetch of the same key
    # — the evict_seen / change-rate recrawl path. An unchanged page
    # answers 304: no body transfer, no re-parse, no documents-row churn;
    # the outcome lands in the fetch_ledger state table (the
    # validator/304 ledger). At recrawl scale this is the single biggest
    # bandwidth lever: a daily refresh of 10^9 mostly-static pages pays
    # headers, not bodies. First fetches are unconditional by
    # construction (empty validator table), so enabling this never
    # changes WHAT a fresh crawl produces — pinned by the e2e identity
    # assertion in the revalidation test. Browse-path only: sitemap
    # queues are fetch-once, so there is no sitemap re-fetch to save.
    revalidate: bool = False
    max_waves: int = 10_000
    checkpointer: object | None = None  # sources.checkpoint.IcebergLayoutCatalog
    # scratch mode only: parquet round-trip every K-th wave, cheap
    # localCheckpoint in between. The parquet reset bounds the carried
    # sizeInBytes estimate (see _materialize) to ~K join-tree products from
    # an honest physical base — a few hundred digits worst case — while
    # saving the write+read of every state table on 3 of 4 waves. With a
    # checkpointer configured every wave commits durably regardless.
    full_materialize_every: int = 4


@dataclass
class CrawlState:
    jobs: DataFrame
    nav: DataFrame
    sitemap_queue: DataFrame
    fetch_frontier: DataFrame
    crawl_log: DataFrame
    documents: DataFrame
    host_clocks: DataFrame
    schedule_log: DataFrame
    # conditional revalidation state (None unless cfg.revalidate): per
    # fetch key the last 200's validators, and the 304/200 outcome ledger
    validators: DataFrame | None = None
    fetch_ledger: DataFrame | None = None
    metrics: list = field(default_factory=list)
    wave: int = 0
    # back-reference keeping the engine (and its scratch dir of materialized
    # state files) alive as long as any state referencing those files is
    engine: object = None


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        resolver_bc,
        robots: DataFrame,
        config: EngineConfig | None = None,
    ):
        self.spark = spark
        self.resolver_bc = resolver_bc
        self.cfg = config or EngineConfig()
        if self.cfg.fetch_sharding not in ("roundrobin", "hrw"):
            raise ValueError(
                "fetch_sharding must be 'roundrobin' or 'hrw', "
                f"got {self.cfg.fetch_sharding!r}"
            )
        self.bloom = self._new_directory()
        self.robots = robots.cache()
        self._job_prefix = f"crawl-{uuid.uuid4().hex[:12]}"
        # scratch dir for per-wave state truncation when no durable
        # checkpointer is configured (see _checkpoint for why parquet)
        self._scratch = tempfile.mkdtemp(prefix="lcs-state-")
        # monotonically increasing scratch-file id: paths must NEVER be
        # keyed by (table, wave) — two commits of the same table in one
        # wave (e.g. streaming _admit_merge followed by the wave body)
        # would overwrite the parquet path the merged plan is reading
        # from, which Spark rejects mid-job
        self._mat_seq = 0
        # cumulative seen-set size for adaptive Bloom engagement
        self._seen_count = 0

    def __del__(self):
        try:  # shutil may already be torn down at interpreter exit
            shutil.rmtree(self._scratch, ignore_errors=True)
        except Exception:
            pass

    # ------------------------------------------------------------ admission
    def admit(self, seed_jobs: DataFrame) -> CrawlState:
        """EP1 (CrawlJobResource.java:53-119): validate F1/F3, choose
        strategy, seed nav chains + sitemap queues."""
        spark = self.spark
        jobs = seed_jobs.withColumn(
            "domain", F.lower(F.parse_url("homepage", F.lit("HOST")))
        )
        # F1: every seed host must equal the homepage host
        seed_hosts = (
            jobs.select("job_id", F.explode_outer("seeds").alias("seed"), "domain")
            .withColumn("seed_host", F.lower(F.parse_url("seed", F.lit("HOST"))))
            .groupBy("job_id")
            .agg(
                F.max(
                    (F.col("seed_host").isNotNull() & (F.col("seed_host") != F.col("domain"))).cast("int")
                ).alias("bad_seed")
            )
        )
        jobs = jobs.join(seed_hosts, "job_id", "left").fillna({"bad_seed": 0})
        # F3: one active job per host — first admitted (lowest job_id) wins
        w = Window.partitionBy("domain").orderBy("job_id")
        jobs = jobs.withColumn(
            "host_rank", F.row_number().over(w)
        )
        jobs = jobs.join(
            F.broadcast(self.robots.select(F.col("host").alias("domain"), F.col("sitemaps").alias("robot_sitemaps"))),
            "domain",
            "left",
        )
        jobs = jobs.select(
            "job_id",
            "domain",
            "homepage",
            "seeds",
            F.flatten(
                F.array(
                    F.coalesce("robot_sitemaps", F.array().cast("array<string>")),
                    F.coalesce("additional_sitemaps", F.array().cast("array<string>")),
                )
            ).alias("sitemaps"),
            F.when(F.col("bad_seed") == 1, "REJECTED_SEED_HOST")
            .when(F.col("host_rank") > 1, "REJECTED_ACTIVE_ON_HOST")
            .otherwise("RUNNING")
            .alias("status"),
            F.when(F.col("bad_seed") == 1, None)
            .when(F.col("host_rank") > 1, None)
            .when(F.size(F.coalesce("robot_sitemaps", F.array().cast("array<string>"))) + F.size(F.coalesce("additional_sitemaps", F.array().cast("array<string>"))) > 0, "SITEMAP")
            .otherwise("BROWSE")
            .alias("strategy"),
            "disallow_cookies",
        ).cache()

        running = jobs.filter(F.col("status") == "RUNNING")
        # nav chains for BROWSE jobs: one row per seed, page_index 0
        nav = (
            running.filter(F.col("strategy") == "BROWSE")
            .select(
                "job_id",
                F.col("domain").alias("host"),
                F.posexplode("seeds").alias("seed_index", "url"),
            )
            .select(
                "job_id", "host", "seed_index",
                F.lit(0).alias("page_index"), "url",
                F.lit(None).cast("string").alias("prev_shelf"),
                F.lit("QUEUED").alias("state"),
                F.lit(0).alias("retries"),
            )
        )
        # sitemap FIFO queues for SITEMAP jobs
        smq = (
            running.filter(F.col("strategy") == "SITEMAP")
            .select(
                "job_id",
                F.col("domain").alias("host"),
                F.posexplode("sitemaps").alias("pos", "url"),
            )
            .select("job_id", "host", F.col("pos").cast("long").alias("queue_pos"), "url",
                    F.lit("QUEUED").alias("state"))
        )
        empty = lambda s: spark.createDataFrame([], s)  # noqa: E731
        st = CrawlState(
            jobs=jobs,
            nav=nav.localCheckpoint(),
            sitemap_queue=smq.localCheckpoint(),
            fetch_frontier=empty(schemas.FETCH_FRONTIER),
            crawl_log=empty(schemas.CRAWL_LOG),
            documents=empty(schemas.DOCUMENTS),
            host_clocks=empty(schemas.HOST_CLOCK),
            schedule_log=empty(
                "host string, url string, kind string, scheduled_at long, wave int"
            ),
            validators=empty(schemas.VALIDATORS) if self.cfg.revalidate else None,
            fetch_ledger=empty(schemas.FETCH_LEDGER) if self.cfg.revalidate else None,
            engine=self,
        )
        # snapshot the admitted state (wave -1) so a crawl killed before its
        # first post-admission checkpoint still resumes with its nav chains,
        # sitemap queues, AND job statuses intact — jobs must be committed
        # too, or a restarted service loses RUNNING/REJECTED statuses and
        # the cross-batch one-active-job-per-host check (F3) silently
        # admits duplicates
        if self.cfg.checkpointer is not None:
            for name in ("jobs", "nav", "sitemap_queue", "fetch_frontier",
                         "crawl_log", "documents", "host_clocks"):
                setattr(st, name, self._materialize(name, getattr(st, name), -1))
        return st

    # ------------------------------------------------------------- helpers
    def _seq_base(self, st: CrawlState) -> DataFrame:
        return st.crawl_log.groupBy("host").agg((F.max("seq") + 1).alias("seq_base"))

    def _fetch_parts(self, n_rows: int) -> int:
        """Partition count for a fetch batch of known size: ~64 URLs per
        task, capped at the cluster parallelism. A steady-state wave at
        scale saturates every core; a small wave (short pagination chains,
        crawl tail) must not pay 32 task launches + Arrow worker round
        trips to fetch a dozen URLs — measured ~1.5 s/wave of overhead on
        the e2e bench before this."""
        return max(1, min(self.spark.sparkContext.defaultParallelism,
                          (n_rows + 63) // 64))

    def _fetch_repartition(self, df: DataFrame, n_rows: int) -> DataFrame:
        """Place scheduled fetch rows into tasks per ``cfg.fetch_sharding``
        (see EngineConfig): round-robin for even row counts, or HRW by
        host so a host's rows co-locate in one task (session reuse). HRW
        shard ids map to partitions by hash — a shard collision only
        merges two hosts into one task, never splits a host."""
        parts = self._fetch_parts(n_rows)
        if self.cfg.fetch_sharding == "hrw":
            from licenta_crawler_spark.operators.frontier_policy import (
                rendezvous_shard,
            )

            return (
                rendezvous_shard(
                    df, key_col="host", n_shards=parts, out_col="_shard"
                )
                .repartition(parts, "_shard")
                .drop("_shard")
            )
        return df.repartition(parts)

    def _begin_wave(self, st: CrawlState, phase: str) -> str:
        """Tag every Spark job this wave schedules so the per-wave job
        count lands in the metrics table (regression guard: per-wave
        driver overhead is proportional to jobs scheduled). The group is
        unique to this engine, so another engine's crawl in the same
        session never adds to its count."""
        group = f"{self._job_prefix}-wave-{st.wave}-{phase}"
        self.spark.sparkContext.setJobGroup(group, f"crawl {phase} wave {st.wave}")
        return group

    def _end_wave(self, group: str) -> int:
        """Clear the wave's job group (later jobs on this thread are not
        the wave's) and return how many jobs it ran (-1 if unknown)."""
        sc = self.spark.sparkContext
        sc._jsc.clearJobGroup()
        try:
            return len(sc.statusTracker().getJobIdsForGroup(group))
        except Exception:
            return -1

    def _new_directory(self) -> ShardDirectory:
        """Empty URL-seen directory for the configured backend."""
        cfg = self.cfg
        if cfg.seen_filter == "bloom":
            return BloomShardSet(cfg.bloom_shards, cfg.bloom_bits, cfg.bloom_k)
        if cfg.seen_filter == "cuckoo":
            return CuckooShardSet(cfg.bloom_shards, cfg.cuckoo_buckets)
        raise ValueError(
            f"seen_filter must be 'bloom' or 'cuckoo', got {cfg.seen_filter!r}"
        )

    def learn_dust_rules(self, st: CrawlState, min_tests: int = 1) -> list:
        """Mine DUST rules from THIS crawl's fetched pages: which query
        parameters never changed content
        (operators/frontier_policy.param_effect_rules over the documents
        table's span-sequence fingerprint — the same content identity
        the trap cut uses). Returns the removable parameter keys, meant
        to feed ``EngineConfig.strip_params`` for the next crawl or
        resume — the learn-then-enforce loop of Bar-Yossef et al.

        Bounded control-plane collect: the rule table is keyed by the
        parameter VOCABULARY (~10^3 keys on real corpora), the same
        class as the IVF centroid partials — never URL-sized."""
        from licenta_crawler_spark.operators.frontier_policy import (
            param_effect_rules,
        )

        fetched = st.documents.select(
            "url",
            F.sha2(
                F.concat_ws(
                    "\x1f",
                    F.transform(
                        "spans",
                        lambda s: F.coalesce(
                            s["text"], s["media_ref"], F.lit("")
                        ),
                    ),
                ),
                256,
            ).alias("content_hash"),
        )
        rules = param_effect_rules(fetched)
        rows = (
            rules.where(
                F.col("removable") & (F.col("n_tested") >= int(min_tests))
            )
            .select("pkey")
            .collect()
        )
        return sorted(r.pkey for r in rows)

    def evict_seen(self, st: CrawlState, keys: DataFrame) -> CrawlState:
        """Recrawl eviction: remove ``keys`` (column ``url_sha1``) from
        BOTH the exact seen table and the shard directory so the next
        wave re-admits those URLs. Requires the deletable backend —
        a Bloom directory cannot unset bits, which is exactly why the
        north star names the cuckoo alternative. Control-plane rare-path:
        one anti-join + one cogrouped delete, both distributed.

        Document refresh: the re-crawled page keeps its doc_id (sha1 of
        the canonical final_url), and the documents sink upserts by
        doc_id (latest wave wins) — so the stale row is replaced when
        the refetch lands, which is the point of evicting."""
        if not self.bloom.deletable:
            raise ValueError(
                "evict_seen needs seen_filter='cuckoo' — the Bloom "
                "directory is append-only (bits cannot be unset)"
            )
        import dataclasses

        new_log = st.crawl_log.join(
            keys.select("url_sha1"), "url_sha1", "left_anti"
        )
        new_log = self._materialize("crawl_log", new_log, st.wave,
                                    force_parquet=True)
        if self.bloom.shards_df is not None:
            deleted = self.bloom.delete(keys.select("url_sha1"),
                                        materialize="none")
            shards = self._materialize(self.bloom.table_name,
                                       deleted.shards_df, st.wave,
                                       force_parquet=True)
            self.bloom = self.bloom.with_shards(shards)
        self._seen_count = new_log.count()
        return dataclasses.replace(st, crawl_log=new_log)

    def _advance_bloom(self, log_rows: DataFrame, wave: int) -> None:
        """Merge this wave's keys into the shard directory and truncate it
        through a parquet round-trip EVERY wave (tiny: n_shards rows). A
        localCheckpoint chain here re-creates the compounding-sizeInBytes
        pathology _materialize documents — the bloom participates in every
        wave's probe plan, so its carried stats multiply into every join
        tree. Parquet gives honest physical stats at constant cost; with a
        checkpointer configured the directory also becomes resumable state."""
        built = self.bloom.build(log_rows.select("url_sha1"), materialize="none")
        shards = self._materialize(self.bloom.table_name, built.shards_df,
                                   wave, force_parquet=True)
        self.bloom = self.bloom.with_shards(shards)

    def _note_new_seen(self, st: CrawlState, log_rows: DataFrame,
                       n_new: int, wave: int) -> None:
        """Adaptive D1 Bloom engagement (see EngineConfig.bloom_min_seen):
        count the seen set; once it crosses the threshold, catch-up-build
        the directory from the full crawl_log + this wave's rows, then
        advance incrementally every subsequent wave."""
        self._seen_count += n_new
        if self._seen_count < self.cfg.bloom_min_seen:
            return  # exact-anti-join regime; bloom.shards_df stays None
        if self.bloom.shards_df is None and self._seen_count - n_new > 0:
            self._advance_bloom(
                st.crawl_log.select("url_sha1").unionByName(
                    log_rows.select("url_sha1")
                ),
                wave,
            )
        else:
            self._advance_bloom(log_rows, wave)

    def _fetch_policy(self, st: CrawlState) -> DataFrame:
        """Per-host fetch options from the owning job (F7 cookie policy,
        BrowserCrawler.java:86-88): broadcast-joined onto every fetch
        batch so the fetch UDF can configure its session per host."""
        return (
            st.jobs.filter(F.col("status") == "RUNNING")
            .select(F.col("domain").alias("host"), "disallow_cookies")
            .dropDuplicates(["host"])
        )

    def _append_discoveries(self, st: CrawlState, cands: DataFrame, wave: int):
        """cands: host, url(raw), referer, page_type, ord0 long, ord1 long.
        Returns (new crawl_log, new frontier rows as DataFrame)."""
        # Materialize canonical+sha1 eagerly: the canonicalization column
        # expression is large (pct-normalize transform + dot-segment
        # fixed-point), and letting it flow un-materialized into window/join
        # plans makes Catalyst re-analyze it per stage (measured 60s/wave on
        # tiny data). One projection job per wave, tiny plans after. The
        # Column tree itself is memoized (cached_canon_sha1) — rebuilding
        # it per wave cost ~0.5 s of py4j traffic.
        # DUST param stripping (opt-in) rides the same projection: the
        # stripped URL feeds the canonicalizer, so every downstream key
        # (url_canon, url_sha1, D2 window, Bloom probe) sees the
        # collapsed spelling.
        if self.cfg.strip_params:
            from licenta_crawler_spark.functions.urlnorm import (
                strip_params_col,
            )

            cands = cands.withColumn(
                "url", strip_params_col(F.col("url"), self.cfg.strip_params)
            )
        c = cands.withColumn(
            "url_canon", cached_canon_sha1("url")[0]
        ).withColumn(
            "url_sha1", F.sha1(F.encode(F.col("url_canon"), "UTF-8"))
        ).localCheckpoint()
        # robots enforcement (S7, RFC 9309 §2.2.2): a candidate whose
        # canonical path matches a disallow prefix is rejected before it
        # is logged or scheduled — UNLESS an allow prefix matches at
        # least as long (longest-match precedence, allow wins ties: the
        # `Allow: /public` carve-out under `Disallow: /`). The robots
        # table is a broadcast dim; the filter is native column math
        # (array_max over per-prefix match lengths, no explode).
        dis = self.robots.select(
            "host", F.col("disallow").alias("_dis"), F.col("allow").alias("_alw")
        )

        def _best(arr):  # longest matching prefix length, -1 if none
            return F.coalesce(
                F.array_max(
                    F.transform(
                        arr,
                        lambda p: F.when(
                            F.col("_path").startswith(p), F.length(p)
                        ),
                    )
                ),
                F.lit(-1),
            )

        c = (
            c.join(F.broadcast(dis), "host", "left")
            .withColumn("_path", F.parse_url(F.col("url_canon"), F.lit("PATH")))
            .filter(
                (_best(F.col("_dis")) < 0)
                | (_best(F.col("_alw")) >= _best(F.col("_dis")))
            )
            .drop("_dis", "_alw", "_path")
        )
        # crawler-trap cut (opt-in): URL templates that already exploded
        # on FETCHED content stop admitting new expansions. Trap stats
        # come from the documents state table (url + span-text
        # fingerprint); the rejection is a broadcast anti-join on
        # (host, template) — the same plan shape as the disallow filter.
        # Only the trapped GENERATOR is blocked, never the whole host.
        if self.cfg.trap_min_urls is not None:
            from licenta_crawler_spark.operators.frontier_policy import url_trap_stats

            fetched = st.documents.select(
                "host", "url",
                F.sha2(
                    F.concat_ws(
                        "\x1f",
                        F.transform(
                            "spans",
                            lambda s: F.coalesce(
                                s["text"], s["media_ref"], F.lit("")
                            ),
                        ),
                    ),
                    256,
                ).alias("content_hash"),
            )
            traps = url_trap_stats(
                fetched,
                min_urls=self.cfg.trap_min_urls,
                max_content_ratio=self.cfg.trap_content_ratio,
            ).filter("is_trap").select("host", "template")
            c = (
                c.withColumn(
                    "_tpl", F.regexp_replace(F.col("url_canon"), "[0-9]+", "N")
                )
                .join(
                    F.broadcast(traps.withColumnRenamed("template", "_tpl")),
                    ["host", "_tpl"],
                    "left_anti",
                )
                .drop("_tpl")
            )
        c = first_discovery(c, [F.col("ord0"), F.col("ord1")])  # D2
        new = filter_unseen(c, st.crawl_log, self.bloom)  # D1
        w = Window.partitionBy("host").orderBy("ord0", "ord1")
        new = (
            new.join(F.broadcast(self._seq_base(st)), "host", "left")
            .fillna({"seq_base": 0})
            .withColumn("seq", F.col("seq_base") + F.row_number().over(w) - 1)
        )
        log_rows = new.select(
            "host", "seq", F.col("url_canon").alias("url"), "url_sha1",
            "referer", "page_type", F.lit(wave).alias("wave"),
        )
        return log_rows

    def _schedule(self, cand: DataFrame, st: "CrawlState") -> DataFrame:
        """O1 scheduling, optionally under the global wave budget
        (EngineConfig.wave_budget): caps ride a broadcast dim into
        schedule_fetches, so the budgeted plan differs from the plain one
        only by a host-count agg + the apportionment's host-rank window —
        no new wide exchange on the candidate stream."""
        caps = None
        if self.cfg.wave_budget is not None:
            from licenta_crawler_spark.operators.frontier_policy import allocate_budget

            scores = cand.groupBy("host").agg(F.count("*").alias("score"))
            caps = allocate_budget(
                scores, total_budget=self.cfg.wave_budget
            ).select("host", F.col("alloc").alias("cap"))
        return schedule_fetches(
            cand, self.robots, st.host_clocks, self.cfg.max_per_host,
            host_caps=caps,
        )

    def _materialize(self, name: str, df: DataFrame, wave: int,
                     force_parquet: bool = False) -> DataFrame:
        """Truncate a state table's plan through a parquet round-trip.

        NOT ``localCheckpoint()``: Spark carries the *estimated*
        ``sizeInBytes`` of the pre-checkpoint plan into the LogicalRDD leaf,
        and each wave's join tree multiplies several state leaves together
        — so the carried estimate compounds geometrically across waves
        (measured: ~3.5x more digits per wave; by wave ~12 the driver spends
        minutes in BigInteger products inside
        SizeInBytesOnlyStatsPlanVisitor). A parquet round-trip gives every
        wave honest *physical* stats, keeps per-wave cost constant, and is
        what a real cluster does anyway (state tables live in object
        storage, not executor memory, at 10^10-URL scale)."""
        n = self.spark.sparkContext.defaultParallelism
        df = df.coalesce(n)
        part = STATE_PARTITIONING.get(name)
        if self.cfg.checkpointer is not None:
            snap = self.cfg.checkpointer.commit_table(name, df, wave, partition_by=part)
            return self.cfg.checkpointer.load(self.spark, name, snap)
        k = max(self.cfg.full_materialize_every, 1)
        if wave >= 0 and wave % k != k - 1 and not force_parquet:
            # LAZY local checkpoint: the truncation happens inside the
            # next wave's first job that touches this table instead of as
            # its own job now — one job materializes every state table it
            # reads (measured: ~4 eager jobs/wave folded away). Lineage is
            # still cut at first use, so the sizeInBytes bound documented
            # above is unchanged.
            return df.localCheckpoint(eager=False)
        self._mat_seq += 1
        path = f"{self._scratch}/{name}-m{self._mat_seq:06d}"
        writer = df.write.mode("overwrite")
        if part:
            writer = writer.partitionBy(*part)
        writer.parquet(path)
        out = self.spark.read.schema(df.schema).option("basePath", path).parquet(path)
        return out.select(*df.columns)

    def _checkpoint(self, st: CrawlState, tables: dict[str, DataFrame]) -> None:
        for name, df in tables.items():
            setattr(st, name, self._materialize(name, df, st.wave))

    # --------------------------------------------------------- sitemap BFS
    def sitemap_wave(self, st: CrawlState) -> bool:
        """One FIFO level of the sitemap BFS (EP2). Returns True if work
        was done."""
        queued = st.sitemap_queue.filter(F.col("state") == "QUEUED")
        wave = st.wave
        group = self._begin_wave(st, "sitemap")
        cand = queued.select(
            "host", "url", F.lit("SITEMAP").alias("kind"),
            F.lit(0).cast("long").alias("prio0"),
            F.col("queue_pos").alias("prio1"),
            F.lit(0).cast("long").alias("prio2"),
        )
        sched = self._schedule(cand, st)
        sched = sched.localCheckpoint()
        n_sched = sched.count()
        if n_sched == 0:
            self._end_wave(group)
            return False

        fetched = fetch_batches(
            self._fetch_repartition(
                sched.select("url", "host", F.col("prio1").alias("queue_pos"), "scheduled_at")
                .join(F.broadcast(self._fetch_policy(st)), "host", "left")
                .fillna({"disallow_cookies": False}),
                n_sched,
            ),
            self.resolver_bc,
        )
        parsed = parse_sitemaps(fetched, passthrough=["host", "queue_pos"]).localCheckpoint()

        # children of INDEX sitemaps -> appended at the back of the queue (D3: no dedup)
        base = (
            st.sitemap_queue.groupBy("host").agg((F.max("queue_pos") + 1).alias("qbase"))
        )
        idx_children = (
            parsed.filter(F.col("is_index") & (F.col("status") == 200))
            .select("host", "queue_pos", F.posexplode("children").alias("cpos", "curl"))
        )
        w = Window.partitionBy("host").orderBy("queue_pos", "cpos")
        new_q = (
            idx_children.join(F.broadcast(base), "host", "left")
            .fillna({"qbase": 0})
            .select(
                F.lit(None).cast("string").alias("job_id"),
                "host",
                (F.col("qbase") + F.row_number().over(w) - 1).alias("queue_pos"),
                F.col("curl").alias("url"),
                F.lit("QUEUED").alias("state"),
            )
        )
        # page URLs from LEAF sitemaps -> discoveries in FIFO order
        leaf_pages = (
            parsed.filter(~F.col("is_index") & (F.col("status") == 200))
            .select("host", "queue_pos", F.posexplode("children").alias("cpos", "purl"))
            .select(
                "host", F.col("purl").alias("url"),
                F.lit("sitemap").alias("referer"), F.lit("sitemap").alias("page_type"),
                F.col("queue_pos").alias("ord0"), F.col("cpos").cast("long").alias("ord1"),
            )
        )
        log_rows = self._append_discoveries(st, leaf_pages, wave).localCheckpoint()

        # state updates
        done_keys = sched.select("host", "url")
        smq = (
            st.sitemap_queue.join(done_keys, ["host", "url"], "left_anti")
            .unionByName(
                st.sitemap_queue.join(done_keys, ["host", "url"], "left_semi")
                .withColumn("state", F.lit("FETCHED"))
            )
            .unionByName(new_q)
        )
        new_frontier = log_rows.select(
            "host", "url", "url_sha1", "seq",
            F.lit("QUEUED").alias("state"), F.lit(0).alias("retries"),
        )
        n_new = log_rows.count()
        if n_new:
            self._note_new_seen(st, log_rows, n_new, wave)
        self._checkpoint(
            st,
            {
                "sitemap_queue": smq,
                "crawl_log": st.crawl_log.unionByName(log_rows),
                "fetch_frontier": st.fetch_frontier.unionByName(new_frontier),
                "host_clocks": advance_clocks(st.host_clocks, sched, self.robots),
                **(
                    {"schedule_log": st.schedule_log.unionByName(
                        sched.select("host", "url", "kind", "scheduled_at", F.lit(wave).alias("wave"))
                    )} if self.cfg.track_schedule else {}
                ),
            },
        )
        st.metrics.append(
            {"wave": wave, "phase": "sitemap", "n_fetched": n_sched,
             "n_new": n_new, "spark_jobs": self._end_wave(group)}
        )
        st.wave += 1
        return True

    # --------------------------------------------------------- browse wave
    def browse_wave(self, st: CrawlState) -> bool:
        """One politeness window: per host, the active shelf (lowest
        unfinished seed's chain tip — sequential-seed semantics O3) plus
        queued product fetches up to the budget."""
        w_nav = Window.partitionBy("host").orderBy("seed_index", "page_index")
        active = (
            st.nav.filter(F.col("state") == "QUEUED")
            .withColumn("_rn", F.row_number().over(w_nav))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        products = st.fetch_frontier.filter(F.col("state") == "QUEUED")
        wave = st.wave
        group = self._begin_wave(st, "browse")

        shelf_cand = active.select(
            "host", "url", F.lit("SHELF").alias("kind"),
            F.lit(0).cast("long").alias("prio0"),
            F.col("seed_index").cast("long").alias("prio1"),
            F.col("page_index").cast("long").alias("prio2"),
        )
        prod_cand = products.select(
            "host", "url", F.lit("PRODUCT").alias("kind"),
            F.lit(1).cast("long").alias("prio0"),
            F.col("seq").alias("prio1"),
            F.lit(0).cast("long").alias("prio2"),
        )
        sched = self._schedule(
            shelf_cand.unionByName(prod_cand), st
        ).localCheckpoint()
        n_sched = sched.count()
        if n_sched == 0:
            self._end_wave(group)
            return False

        # attach the per-row retry count so the fetch stage knows which
        # attempt this is (transient-failure modelling, F6). The backlog
        # (all QUEUED nav + frontier rows) must NOT shuffle for this: the
        # scheduled batch's keys broadcast INTO the backlog scan (map-side
        # broadcast hash join filters it to <= n_sched rows), and only
        # that small hit set joins back to the schedule.
        retry_src = active.select(
            "host", "url", F.lit("SHELF").alias("kind"), "retries"
        ).unionByName(
            products.select("host", "url", F.lit("PRODUCT").alias("kind"), "retries")
        )
        retry_hits = retry_src.join(
            F.broadcast(sched.select("host", "url", "kind")), ["host", "url", "kind"]
        )
        fetch_in = (
            sched.select("url", "host", "kind", "scheduled_at")
            .join(F.broadcast(retry_hits), ["host", "url", "kind"], "left")
            .fillna({"retries": 0})
            .join(F.broadcast(self._fetch_policy(st)), "host", "left")
            .fillna({"disallow_cookies": False})
        )
        passthrough = ["host", "kind"]
        if self.cfg.revalidate:
            # stored validators for RE-fetched keys ride the request as
            # If-None-Match / If-Modified-Since. Same discipline as the
            # retry attach: the big validator table never shuffles — the
            # scheduled batch's keys broadcast INTO its scan, and only the
            # (<= n_sched) hit rows broadcast back onto the schedule.
            # Sentinels (''/-1) instead of nulls keep the long column
            # Arrow-safe through the fetch/parse passthrough.
            val_hits = st.validators.join(
                F.broadcast(sched.select("host", "url")), ["host", "url"]
            )
            fetch_in = fetch_in.join(
                F.broadcast(
                    val_hits.select(
                        "host", "url",
                        F.col("etag").alias("if_none_match"),
                        F.col("last_modified").alias("if_modified_since"),
                        F.col("next_url").alias("cached_next"),
                    )
                ),
                ["host", "url"],
                "left",
            ).fillna({"if_none_match": "", "if_modified_since": -1,
                      "cached_next": ""})
            passthrough += ["etag", "last_modified", "cached_next",
                            "if_none_match", "if_modified_since"]
        fetched = fetch_batches(
            self._fetch_repartition(fetch_in, n_sched), self.resolver_bc
        )
        parsed = parse_pages(fetched, passthrough=passthrough).localCheckpoint()

        shelves = parsed.filter(F.col("kind") == "SHELF").join(
            active.select(
                "host", "url", "job_id", "seed_index", "page_index", "prev_shelf"
            ),
            ["host", "url"],
            "inner",
        ).localCheckpoint()

        # ---- discoveries from shelves: products in doc order, shelf last (P3)
        ok = shelves.filter(F.col("status") == 200)
        prod_disc = ok.select(
            "host", "seed_index", "page_index",
            F.col("final_url").alias("referer"),
            F.posexplode_outer("product_links").alias("link_index", "durl"),
        ).filter(F.col("durl").isNotNull()).select(
            "host", F.col("durl").alias("url"), "referer",
            F.lit("PRODUCT").alias("page_type"),
            (F.col("seed_index").cast("long") * F.lit(1 << 20) + F.col("page_index")).alias("ord0"),
            F.col("link_index").cast("long").alias("ord1"),
        )
        shelf_disc = ok.select(
            "host", F.col("final_url").alias("url"),
            F.col("prev_shelf").alias("referer"),
            F.lit("SHELF").alias("page_type"),
            (F.col("seed_index").cast("long") * F.lit(1 << 20) + F.col("page_index")).alias("ord0"),
            F.lit(SHELF_LAST).cast("long").alias("ord1"),
        )
        log_rows = self._append_discoveries(
            st, prod_disc.unionByName(shelf_disc), wave
        ).localCheckpoint()
        new_frontier = log_rows.filter(F.col("page_type") == "PRODUCT").select(
            "host", "url", "url_sha1", "seq",
            F.lit("QUEUED").alias("state"), F.lit(0).alias("retries"),
        )

        # ---- documents: shelf docs now, product docs from PRODUCT fetches.
        # doc identity comes from the parse stage (doc_sha1, fused with the
        # HTML parse) — no second canonicalizer pass per wave.
        prod_parsed = parsed.filter((F.col("kind") == "PRODUCT") & (F.col("status") == 200))
        doc_src = ok.select("host", "final_url", "spans", "doc_sha1").unionByName(
            prod_parsed.select("host", "final_url", "spans", "doc_sha1")
        )
        docs = (
            doc_src.select(
                F.col("doc_sha1").alias("doc_id"), "spans",
                F.col("final_url").alias("url"), "host",
                F.lit(wave).alias("wave"),
            )
            .dropDuplicates(["doc_id"])
            # lazy truncation: n_docs below materializes it once; the
            # documents-table upsert then reads the cached rows instead of
            # re-running the dedup chain a second time
            .localCheckpoint(eager=False)
        )

        # ---- nav updates: advance chains (navigation != discovery)
        # a 304 SHELF advances its chain from the CACHED next link: Not
        # Modified means the body (hence the pagination link) is exactly
        # what the stored 200 parsed — two seeds' chains may traverse the
        # same URL, and the second traversal must not stall the chain
        eff_next = (
            F.when(F.col("status") == 200, F.col("next_url"))
            .when(
                (F.col("status") == 304) & (F.col("cached_next") != ""),
                F.col("cached_next"),
            )
            if self.cfg.revalidate
            else F.when(F.col("status") == 200, F.col("next_url"))
        )
        fetched_nav = shelves.select(
            "job_id", "host", "seed_index", "page_index",
            F.col("status").alias("_status"), eff_next.alias("_next"),
            F.col("final_url").alias("_final"),
        )
        nav_rest = st.nav.join(
            fetched_nav.select("host", "seed_index", "page_index"),
            ["host", "seed_index", "page_index"],
            "left_anti",
        )
        nav_done = (
            st.nav.alias("n")
            .join(fetched_nav.alias("f"), ["host", "seed_index", "page_index"], "inner")
            .select(
                "n.job_id", "host", "seed_index", "page_index", "n.url", "n.prev_shelf",
                _retry_state_col(F.col("f._status"), F.col("n.retries")).alias("state"),
                _retry_count_col(F.col("f._status"), F.col("n.retries")).alias("retries"),
            )
        )
        nav_next = (
            fetched_nav.filter(
                F.col("_status").isin(200, 304) & F.col("_next").isNotNull()
            )
            .select(
                "job_id", "host", "seed_index",
                (F.col("page_index") + 1).alias("page_index"),
                F.col("_next").alias("url"),
                F.col("_final").alias("prev_shelf"),
                F.lit("QUEUED").alias("state"),
                F.lit(0).alias("retries"),
            )
        )

        # ---- frontier updates: mark scheduled PRODUCT fetches
        prod_keys = sched.filter(F.col("kind") == "PRODUCT").select("host", "url")
        frontier_rest = st.fetch_frontier.join(prod_keys, ["host", "url"], "left_anti")
        frontier_done = (
            st.fetch_frontier.join(prod_keys, ["host", "url"], "left_semi")
            .join(
                parsed.filter(F.col("kind") == "PRODUCT").select(
                    "url", F.col("status").alias("_status")
                ),
                "url",
                "left",
            )
            .select(
                "host", "url", "url_sha1", "seq",
                _retry_state_col(F.col("_status"), F.col("retries")).alias("state"),
                _retry_count_col(F.col("_status"), F.col("retries")).alias("retries"),
            )
        )

        n_new = log_rows.count()
        n_docs = docs.count()
        if n_new:
            self._note_new_seen(st, log_rows, n_new, wave)
        reval_tables = {}
        if self.cfg.revalidate:
            # validator upsert (latest 200 wins per fetch key) + the
            # append-only conditional-outcome ledger. 304 rows refresh
            # nothing: the stored validators are still current by
            # definition of Not Modified.
            new_vals = (
                parsed.filter(F.col("status") == 200)
                .select("host", "url", "etag", "last_modified", "next_url")
                .dropDuplicates(["host", "url"])
            )
            reval_tables["validators"] = st.validators.join(
                new_vals.select("host", "url"), ["host", "url"], "left_anti"
            ).unionByName(new_vals)
            ledger_rows = parsed.filter(
                (F.col("if_none_match") != "") | (F.col("if_modified_since") >= 0)
            ).select(
                "host", "url",
                F.lit(wave).cast("int").alias("wave"),
                F.col("status").cast("int").alias("status"),
                (F.col("status") == 304).alias("revalidated"),
                # If-None-Match decides when present (RFC 9110 §13.1.2)
                F.when(F.col("if_none_match") != "", F.lit("etag"))
                .otherwise(F.lit("lastmod")).alias("validator"),
            )
            reval_tables["fetch_ledger"] = st.fetch_ledger.unionByName(ledger_rows)
        self._checkpoint(
            st,
            {
                **reval_tables,
                "nav": nav_rest.unionByName(nav_done).unionByName(nav_next),
                "fetch_frontier": frontier_rest.unionByName(frontier_done)
                .unionByName(new_frontier),
                "crawl_log": st.crawl_log.unionByName(log_rows),
                # upsert by doc_id (latest wave wins), not append+anti-join:
                # after evict_seen re-admits a URL its refetched spans must
                # REPLACE the stale row — the pre-r04 left_anti sink kept
                # the old content forever because a re-crawled page keeps
                # its doc_id (sha1 of canonical final_url). Steady-state
                # cost is identical (one anti-join per wave, small side is
                # this wave's docs); in the common no-recollision wave the
                # anti-join removes nothing and this degenerates to append.
                "documents": st.documents.join(
                    docs.select("doc_id"), "doc_id", "left_anti"
                ).unionByName(docs),
                "host_clocks": advance_clocks(st.host_clocks, sched, self.robots),
                **(
                    {"schedule_log": st.schedule_log.unionByName(
                        sched.select("host", "url", "kind", "scheduled_at", F.lit(wave).alias("wave"))
                    )} if self.cfg.track_schedule else {}
                ),
            },
        )
        st.metrics.append(
            {"wave": wave, "phase": "browse", "n_fetched": n_sched,
             "n_new": n_new, "n_docs": n_docs,
             "spark_jobs": self._end_wave(group)}
        )
        st.wave += 1
        return True

    # --------------------------------------------------------------- resume
    def resume(self, catalog) -> CrawlState:
        """Rebuild CrawlState from the latest Iceberg-layout snapshots and
        re-seed the Bloom shards from the persisted seen-set — a crawl
        killed after wave k continues identically (resume test, SURVEY §5.5)."""
        spark = self.spark
        wave = (catalog.latest_wave() or -1) + 1

        def load(table, schema):
            try:
                return catalog.load(spark, table).localCheckpoint()
            except KeyError:
                return spark.createDataFrame([], schema)

        st = CrawlState(
            jobs=load("jobs", schemas.JOBS),
            nav=load("nav", schemas.NAV),
            sitemap_queue=load("sitemap_queue", schemas.SITEMAP_QUEUE),
            fetch_frontier=load("fetch_frontier", schemas.FETCH_FRONTIER),
            crawl_log=load("crawl_log", schemas.CRAWL_LOG),
            documents=load("documents", schemas.DOCUMENTS),
            host_clocks=load("host_clocks", schemas.HOST_CLOCK),
            schedule_log=spark.createDataFrame(
                [], "host string, url string, kind string, scheduled_at long, wave int"
            ),
            validators=(
                load("validators", schemas.VALIDATORS)
                if self.cfg.revalidate else None
            ),
            fetch_ledger=(
                load("fetch_ledger", schemas.FETCH_LEDGER)
                if self.cfg.revalidate else None
            ),
            wave=wave,
            engine=self,
        )
        self._seen_count = st.crawl_log.count()
        if self._seen_count >= self.cfg.bloom_min_seen:
            # prefer the committed shard directory (the whole point of
            # checkpointing it every wave): loading n_shards tiny rows
            # beats re-hashing the full seen set, which at 10^10-key
            # scale is a full-corpus pass per restart
            try:
                shards = catalog.load(spark, self.bloom.table_name).localCheckpoint()
                probe = shards.limit(1).collect()
                if probe and len(probe[0]["bits"]) != self.bloom.cell_bytes:
                    raise KeyError("seen-directory config changed; rebuild")
                self.bloom = self.bloom.with_shards(shards)
            except KeyError:
                self.bloom = self.bloom.with_shards(None).build(
                    st.crawl_log.select("url_sha1")
                )
        return st

    # ---------------------------------------------------------------- run
    def finalize_jobs(self, st: CrawlState) -> None:
        """K2 job-state transition (Crawler.java:24-30 finishCrawlJob):
        RUNNING jobs whose host has no QUEUED work left become FINISHED.
        A later job on a finished host is admissible again (the reference's
        JobActiveOnHost check only blocks *concurrent* jobs)."""
        q = F.col("state") == "QUEUED"
        remaining = (
            st.nav.filter(q).select("host")
            .unionByName(st.sitemap_queue.filter(q).select("host"))
            .unionByName(st.fetch_frontier.filter(q).select("host"))
            .distinct()
            .withColumnRenamed("host", "domain")
            .withColumn("_active", F.lit(1))
        )
        jobs = (
            st.jobs.join(F.broadcast(remaining), "domain", "left")
            .withColumn(
                "status",
                F.when(
                    (F.col("status") == "RUNNING") & F.col("_active").isNull(),
                    "FINISHED",
                ).otherwise(F.col("status")),
            )
            .drop("_active")
        )
        # job lifecycle transitions are state like any other (K2): commit
        # through the checkpointer so resume() recovers FINISHED statuses
        if self.cfg.checkpointer is not None:
            st.jobs = self._materialize("jobs", jobs, st.wave)
        else:
            st.jobs = jobs.localCheckpoint()

    def run_from(self, st: CrawlState, max_waves: int | None = None) -> CrawlState:
        budget = max_waves if max_waves is not None else self.cfg.max_waves
        for _ in range(budget):
            if not self.sitemap_wave(st):
                break
        for _ in range(budget):
            if not self.browse_wave(st):
                break
        self.finalize_jobs(st)
        return st

    def run(self, seed_jobs: DataFrame) -> CrawlState:
        return self.run_from(self.admit(seed_jobs))
