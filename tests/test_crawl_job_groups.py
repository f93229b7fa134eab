"""Per-wave Spark job accounting: each engine tags its waves with its own
job group and clears it when the wave ends, so two crawls in one session
report the same per-wave ``spark_jobs`` instead of the second counting
the first's jobs too."""

from __future__ import annotations

from licenta_crawler_spark.fixtures.corpus import build_corpus, corpus_to_resolver
from licenta_crawler_spark.plans import schemas
from licenta_crawler_spark.plans.wave import CrawlEngine, EngineConfig

AQE = "spark.sql.adaptive.enabled"


def _crawl_jobs(spark, corpus):
    engine = CrawlEngine(
        spark,
        spark.sparkContext.broadcast(corpus_to_resolver(corpus)),
        spark.createDataFrame(corpus.robots, schemas.ROBOTS),
        EngineConfig(max_per_host=5, bloom_shards=2, bloom_bits=1 << 12,
                     bloom_min_seen=0),
    )
    seed_jobs = spark.createDataFrame(
        corpus.seed_jobs,
        "job_id string, homepage string, seeds array<string>, "
        "additional_sitemaps array<string>, disallow_cookies boolean",
    )
    st = engine.run(seed_jobs)
    return [(m["wave"], m["phase"], m["spark_jobs"]) for m in st.metrics]


def test_two_engines_count_their_own_jobs(spark):
    corpus = build_corpus(
        n_browse_hosts=1, n_sitemap_hosts=0, mega_host=False,
        chain_len=(1, 1), products_per_shelf=(1, 1),
    )
    # adaptive execution submits one job per query stage and how many
    # depends on stage timing (+-1 job per wave between identical
    # crawls); without it the count of a wave is a fixed property of
    # its plans, so equal crawls must report equal counts
    aqe = spark.conf.get(AQE)
    spark.conf.set(AQE, "false")
    try:
        first = _crawl_jobs(spark, corpus)
        second = _crawl_jobs(spark, corpus)
    finally:
        spark.conf.set(AQE, aqe)
    assert first and all(n > 0 for _, _, n in first)
    assert second == first
