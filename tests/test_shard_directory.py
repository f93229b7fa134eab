"""The shared sharded seen directory (operators/seen.ShardDirectory):
an incremental Bloom build is one cogroup upsert whose cells equal a
one-shot build's byte for byte, and bad sizes or config strings fail at
construction with ValueError (not an assert, which ``python -O`` strips)."""

from __future__ import annotations

import hashlib

import pytest

from licenta_crawler_spark.operators.cuckoo import CuckooShardSet
from licenta_crawler_spark.operators.seen import BloomShardSet
from licenta_crawler_spark.plans.wave import CrawlEngine, EngineConfig


def _keys(spark, prefix, n):
    return spark.createDataFrame(
        [(hashlib.sha1(f"{prefix}-{i}".encode()).hexdigest(),) for i in range(n)],
        ["url_sha1"],
    )


def _cells(directory):
    return {r["shard"]: bytes(r["bits"]) for r in directory.shards_df.collect()}


def test_bloom_incremental_build_is_byte_identical(spark):
    a = _keys(spark, "a", 700)
    b = _keys(spark, "b", 700)
    empty = BloomShardSet(n_shards=4, m_bits=1 << 14, k=5)
    incremental = _cells(empty.build(a).build(b))
    one_shot = _cells(empty.build(a.unionByName(b)))
    assert sorted(incremental) == [0, 1, 2, 3]
    assert incremental == one_shot


def test_bad_sizes_and_config_strings_raise(spark):
    with pytest.raises(ValueError, match="m_bits"):
        BloomShardSet(m_bits=12)
    with pytest.raises(ValueError, match="power of two"):
        CuckooShardSet(buckets_per_shard=1000)
    robots = spark.createDataFrame(
        [], "host string, sitemaps array<string>, delay_ms long, disallow array<string>"
    )
    with pytest.raises(ValueError, match="seen_filter"):
        CrawlEngine(spark, None, robots, EngineConfig(seen_filter="cukoo"))
    with pytest.raises(ValueError, match="fetch_sharding"):
        CrawlEngine(spark, None, robots, EngineConfig(fetch_sharding="hrv"))
