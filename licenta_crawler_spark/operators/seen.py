"""URL-seen set: a sharded filter directory + exact anti-join confirm.

The reference's entire dedup story is "upsert keyed by URL"
(BrowserCrawler.java:145, SitemapSaxCrawler.java:86 — SURVEY §2.4 D1/D2).
At 10^10-URL frontier scale an exact join against the full seen table every
wave is the dominant shuffle, so the north rule prescribes a partitioned
Bloom/cuckoo pre-filter. ``ShardDirectory`` is that directory minus its
cell format, and it is FULLY DISTRIBUTED — no process ever holds all
shards:

  * the seen table's sha1 keys are hashed into ``n_shards`` shards
    (``h1 % n_shards``); each shard is ONE binary cell kept as a DataFrame
    row ``(shard, bits)`` — executor-resident, never collected on the
    build path;
  * the first build is one ``applyInPandas`` group per shard into an
    empty cell; later builds cogroup the new keys with the existing shard
    rows and insert in place (an upsert) — still one task per shard;
  * candidates are probed ADAPTIVELY by directory size — the same
    size-based decision Spark itself makes for broadcast vs shuffle
    joins (``autoBroadcastJoinThreshold``):
      - **small directory** (total cell bytes ≤ ``broadcast_max_bytes``,
        default 4 MB — A/B-measured crossover, see BENCH.md): the shard
        rows are collected once (bounded by the threshold, exactly like
        Spark collecting a broadcast-join side) and probed with a
        map-only vectorized ``pandas_udf`` — zero shuffle, the
        candidates never move, and the verdict folds into the
        exact-confirm anti-join condition so the whole D1 step is one
        plan with no intermediate materialization;
      - **large directory** (the 10^10-key regime: ~12.5 GB of Bloom
        bitmap over 1024 shards): a *cogrouped* ``applyInPandas`` —
        candidates shuffle once on their shard id and each task receives
        exactly the one cell its group probes; the full directory is
        never assembled anywhere;
  * probe-negative rows are **definitely new** (neither filter has false
    negatives for inserted keys) and skip the exact join entirely;
    probe-positive rows go to the exact ``left_anti`` join, so false
    positives can never drop a URL.

A backend is a *cell codec* (the probe kernel is the part worth swapping;
the batched probe loop around it stays the same): ``cell_bytes``,
``decode(blob)`` to a writable numpy cell, ``insert(cell, h1, h2)`` in
place and ``probe(cell, h1, h2)`` to a bool array, plus ``delete`` for a
deletable backend. ``BloomShardSet`` (here) is the append-only codec;
``operators/cuckoo.CuckooShardSet`` is the deletable one.

The two 60-bit hash inputs (h1, h2) are carved natively out of the sha1
hex with ``conv``/``substring`` — the sha1 is already a cryptographic
hash, so double hashing ``(h1 + i*h2) % m`` gives the k Bloom probes
without any Python-side hashing. All Python here is numpy array math over
Arrow batches; no per-row Python.

Bloom sizing: with ``bits_per_key ≈ 10`` and ``k = 7`` the FPP is ~0.8%.
"""

from __future__ import annotations

import copy
from functools import partial
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SHARD_SCHEMA = "shard int, bits binary"


def with_hash_cols(df: DataFrame, sha1_col: str = "url_sha1") -> DataFrame:
    """Derive h1/h2 (60-bit longs) + shard natively from the sha1 hex."""
    h1 = F.conv(F.substring(F.col(sha1_col), 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.col(sha1_col), 17, 15), 16, 10).cast("long")
    return df.withColumn("_h1", h1).withColumn("_h2", h2)


class CellCodec(NamedTuple):
    """One shard cell's format. Plain functions over primitives only:
    they ship inside Spark UDF closures, which must never capture a
    directory (SPARK-5063: it holds a DataFrame and its SparkSession)."""

    decode: Callable      # blob -> writable numpy cell
    insert: Callable      # (cell, h1, h2) -> None, in place
    probe: Callable       # (cell, h1, h2) -> bool array
    delete: Callable | None = None  # (cell, h1, h2) -> None; None = append-only


def _hashes(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    return (pdf["_h1"].to_numpy(dtype=np.uint64),
            pdf["_h2"].to_numpy(dtype=np.uint64))


def _shard_row(shard: int, cell: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"shard": [int(shard)], "bits": [cell.tobytes()]})


_NO_SHARD = pd.DataFrame({"shard": pd.array([], dtype="int32"),
                          "bits": pd.array([], dtype=object)})


class ShardDirectory:
    """Immutable distributed directory of filter shards: a DataFrame of
    ``(shard int, bits binary)`` rows, one per non-empty shard, plus the
    codec (``CellCodec``) a subclass supplies with ``cell_bytes`` and
    ``table_name``.

    ``broadcast_max_bytes`` selects the probe strategy (module docstring):
    directories at or under it broadcast and probe map-side; above it the
    probe is a cogrouped shuffle. The default keeps every directory a
    single executor could not comfortably hold out of the broadcast path.
    """

    codec: CellCodec
    cell_bytes: int  # one shard's committed cell size
    # committed table name, keyed by the codec CONFIG: a resumed engine
    # with different parameters gets a clean KeyError -> full rebuild
    # instead of probing a directory hashed under other parameters (which
    # would create false negatives -> re-crawled URLs)
    table_name: str

    def __init__(self, n_shards: int, shards_df: DataFrame | None,
                 broadcast_max_bytes: int):
        self.n_shards = n_shards
        self.shards_df = shards_df  # None == empty set
        self.broadcast_max_bytes = broadcast_max_bytes
        self._dir_bc = None  # lazy broadcast of the small-directory path

    @property
    def deletable(self) -> bool:
        return self.codec.delete is not None

    @property
    def directory_bytes(self) -> int:
        """Upper bound on total cell bytes (n_shards full cells)."""
        return self.n_shards * self.cell_bytes

    def with_shards(self, shards_df: DataFrame | None) -> "ShardDirectory":
        """The same directory config over other shard rows."""
        out = copy.copy(self)
        out.shards_df, out._dir_bc = shards_df, None
        return out

    def _with_shard(self, df: DataFrame, sha1_col: str) -> DataFrame:
        return with_hash_cols(df, sha1_col).withColumn(
            "_shard", F.pmod(F.col("_h1"), F.lit(self.n_shards)).cast("int")
        )

    def _keys(self, df: DataFrame, sha1_col: str) -> DataFrame:
        return self._with_shard(df, sha1_col).select("_h1", "_h2", "_shard")

    def _finish(self, shards_df: DataFrame, materialize: str) -> "ShardDirectory":
        # executor-resident materialization (n_shards rows) — never a
        # driver collect either way
        return self.with_shards(
            shards_df.localCheckpoint() if materialize == "checkpoint"
            else shards_df
        )

    # ---------------------------------------------------------------- build
    def build(self, df: DataFrame, sha1_col: str = "url_sha1",
              materialize: str = "checkpoint") -> "ShardDirectory":
        """Distributed build: the first build is one applyInPandas group
        per shard into an empty cell; an incremental build is one cogroup
        upsert into the existing cells — the cells never leave the
        executors (no driver collect, no broadcast).

        ``materialize``: 'checkpoint' (default) eagerly localCheckpoints
        the shard rows — right for one-shot builds; 'none' returns the raw
        plan so an iterative caller can truncate it its own way (the wave
        engine parquet-round-trips it per wave: a localCheckpoint chain
        carries *estimated* sizeInBytes that compounds geometrically
        across waves, the same pathology the state tables avoid via
        parquet — see plans/wave.py _materialize)."""
        keys = self._keys(df, sha1_col)
        if self.shards_df is not None:
            return self._finish(
                self._cogroup(keys, self.codec.insert, create=True), materialize
            )
        decode, insert, n_bytes = self.codec.decode, self.codec.insert, self.cell_bytes

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            cell = decode(bytes(n_bytes))
            insert(cell, *_hashes(pdf))
            return _shard_row(pdf["_shard"].iloc[0], cell)

        return self._finish(
            keys.groupBy("_shard").applyInPandas(build_shard, schema=SHARD_SCHEMA),
            materialize,
        )

    def _cogroup(self, keys: DataFrame, update: Callable,
                 create: bool) -> DataFrame:
        """Apply ``update(cell, h1, h2)`` to each shard's cell with that
        shard's keys: keys cogroup with the existing shard rows, one task
        per shard. A shard with keys but no row starts from an empty cell
        when ``create``, else is skipped (deleting from a shard that never
        existed is a no-op)."""
        decode, n_bytes = self.codec.decode, self.cell_bytes

        def apply(k: pd.DataFrame, rows: pd.DataFrame) -> pd.DataFrame:
            if len(k) == 0:
                return rows[["shard", "bits"]]
            if len(rows):
                shard, cell = rows["shard"].iloc[0], decode(rows["bits"].iloc[0])
            elif create:
                shard, cell = k["_shard"].iloc[0], decode(bytes(n_bytes))
            else:
                return _NO_SHARD
            update(cell, *_hashes(k))
            return _shard_row(shard, cell)

        return (
            keys.groupBy("_shard")
            .cogroup(self.shards_df.groupBy("shard"))
            .applyInPandas(apply, schema=SHARD_SCHEMA)
        )

    # ---------------------------------------------------------------- probe
    def _directory_broadcast(self):
        """Broadcast of {shard: cell} for the small-directory fast path.
        The collect here is bounded by ``broadcast_max_bytes`` — the same
        driver-side cost Spark pays to build any broadcast-join relation —
        and cached per directory (the set is immutable)."""
        if self._dir_bc is None:
            from pyspark.sql import SparkSession

            directory = {int(r["shard"]): self.codec.decode(r["bits"])
                         for r in self.shards_df.collect()}
            sc = SparkSession.getActiveSession().sparkContext
            self._dir_bc = sc.broadcast(directory)
        return self._dir_bc

    def maybe_seen_col(self, df: DataFrame, sha1_col: str = "url_sha1") -> DataFrame:
        """Adds boolean ``_maybe_seen``.

        Small directory: map-only vectorized pandas_udf against the
        broadcast cells — the candidates never shuffle. Large directory:
        cogrouped applyInPandas — candidates shuffle once on shard id and
        each task probes only its own shard's cell (the co-partitioned
        join of the north rule); the full directory is never assembled
        anywhere.
        """
        cols = df.columns
        if self.shards_df is None:
            return df.withColumn("_maybe_seen", F.lit(False))
        decode, probe = self.codec.decode, self.codec.probe
        hashed = self._with_shard(df, sha1_col)

        if self.directory_bytes <= self.broadcast_max_bytes:
            bc = self._directory_broadcast()

            @F.pandas_udf("boolean")
            def shard_probe(h1s: pd.Series, h2s: pd.Series,
                            shards: pd.Series) -> pd.Series:
                directory = bc.value
                h1 = h1s.to_numpy(dtype=np.uint64)
                h2 = h2s.to_numpy(dtype=np.uint64)
                sh = shards.to_numpy(dtype=np.int64)
                hit = np.zeros(len(h1), dtype=bool)
                for s in np.unique(sh):
                    cell = directory.get(int(s))
                    if cell is not None:  # empty shard -> definitely unseen
                        m = sh == s
                        hit[m] = probe(cell, h1[m], h2[m])
                return pd.Series(hit)

            return hashed.withColumn(
                "_maybe_seen",
                shard_probe(F.col("_h1"), F.col("_h2"), F.col("_shard")),
            ).select(*cols, "_maybe_seen")

        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        ) + ", _maybe_seen boolean"

        def probe_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            hit = (probe(decode(right["bits"].iloc[0]), *_hashes(left))
                   if len(right) else np.zeros(len(left), dtype=bool))
            return left.drop(columns=["_h1", "_h2", "_shard"]).assign(_maybe_seen=hit)

        return (
            hashed.groupBy("_shard")
            .cogroup(self.shards_df.groupBy("shard"))
            .applyInPandas(probe_shard, schema=out_schema)
            .select(*cols, "_maybe_seen")
        )


def _bloom_decode(blob) -> np.ndarray:
    return np.frombuffer(blob, dtype=np.uint8).copy()


def _bloom_positions(h1: np.ndarray, h2: np.ndarray, m_bits: int, k: int):
    """(byte index, bit shift) of each of the k double-hashed probes."""
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
        yield (idx >> np.uint64(3)).astype(np.int64), (idx & np.uint64(7)).astype(np.uint8)


def _bloom_insert(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray,
                  m_bits: int, k: int) -> None:
    for byte, shift in _bloom_positions(h1, h2, m_bits, k):
        np.bitwise_or.at(bits, byte, np.uint8(1) << shift)


def _bloom_probe(bits: np.ndarray, h1: np.ndarray, h2: np.ndarray,
                 m_bits: int, k: int) -> np.ndarray:
    hit = np.ones(len(h1), dtype=bool)
    for byte, shift in _bloom_positions(h1, h2, m_bits, k):
        hit &= (bits[byte] >> shift) & 1 > 0
    return hit


class BloomShardSet(ShardDirectory):
    """Append-only directory: each cell is an ``m_bits`` Bloom bitmap
    probed with k double-hashed bits."""

    def __init__(self, n_shards: int = 8, m_bits: int = 1 << 16, k: int = 7,
                 shards_df: DataFrame | None = None,
                 broadcast_max_bytes: int = 4 << 20):
        if m_bits <= 0 or m_bits % 8:
            raise ValueError(f"m_bits must be a positive multiple of 8, got {m_bits}")
        super().__init__(n_shards, shards_df, broadcast_max_bytes)
        self.m_bits = m_bits
        self.k = k
        self.cell_bytes = m_bits // 8
        self.table_name = f"bloom_shards_{n_shards}x{m_bits}x{k}"
        self.codec = CellCodec(
            decode=_bloom_decode,
            insert=partial(_bloom_insert, m_bits=m_bits, k=k),
            probe=partial(_bloom_probe, m_bits=m_bits, k=k),
        )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: ShardDirectory | None,
    sha1_col: str = "url_sha1",
) -> DataFrame:
    """D1: rows of ``candidates`` whose sha1 is not in ``seen``.

    Bloom-negative rows bypass the join; Bloom-positive rows are confirmed
    with an exact left_anti join (no false drops possible).
    """
    if bloom is None or bloom.shards_df is None:
        return candidates.join(
            seen.select(sha1_col).distinct(), on=sha1_col, how="left_anti"
        )
    probed = bloom.maybe_seen_col(candidates, sha1_col)
    if bloom.directory_bytes <= bloom.broadcast_max_bytes:
        # Broadcast-probe regime: ONE plan, no union, no materialization
        # job. The Bloom verdict is folded into the anti-join condition —
        # a probe-negative row's join key never matches (`_maybe_seen`
        # is part of the condition), so it survives the anti-join without
        # a probe re-execution or a branch split. At this directory size
        # the seen table is modest, so the exact confirm is a broadcast /
        # small join and shuffling probe-negative rows through it is not
        # the cost it would be at 10^10 keys. (A/B-measured: the earlier
        # two-branch form evaluated the probe UDF twice and lost to the
        # cogroup path; this form wins at every shape tested — BENCH.md.)
        seen_keys = seen.select(F.col(sha1_col).alias("_seen_sha1")).distinct()
        return (
            probed.join(
                seen_keys,
                on=(F.col(sha1_col) == F.col("_seen_sha1"))
                & F.col("_maybe_seen"),
                how="left_anti",
            ).drop("_maybe_seen")
        )
    # Cogroup regime (10^10-key directories): materialize the probe output
    # once (executor-resident) — both branches below read it, and in an
    # iterative caller an un-truncated cogroup plan would re-evaluate per
    # branch and chain across waves. The branch split matters here: only
    # probe-POSITIVE rows (true seen + ~1% FP) shuffle into the sort-merge
    # anti-join against the huge seen table; fresh rows bypass it.
    probed = probed.localCheckpoint()
    fresh = probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    suspect = probed.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed = suspect.join(
        seen.select(sha1_col).distinct(), on=sha1_col, how="left_anti"
    )
    return fresh.unionByName(confirmed)


def first_discovery(
    df: DataFrame, order_cols: list[str | Column], sha1_col: str = "url_sha1"
) -> DataFrame:
    """D2: within-batch dedup — keep the first discovery of each URL by the
    deterministic order key (wave, seq ordering made a *data property*)."""
    w = Window.partitionBy(sha1_col).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
