"""URL-seen set, cuckoo-filter codec: the DELETABLE cell format behind
the shared sharded directory (operators/seen.ShardDirectory — sharding,
build/upsert, both probe regimes and the filter_unseen D1 contract are
documented there).

The north star names a "partitioned Bloom/cuckoo-filter URL-seen set";
the Bloom cells cover the append-only regime, and this codec adds the
cuckoo filter (Fan et al. 2014, "Cuckoo Filter: Practically Better Than
Bloom", CoNEXT) for the capability Bloom fundamentally lacks: DELETION —
the recrawl path (recrawl_schedule query) evicts due URLs from the seen
set so the frontier re-admits them, without rebuilding the directory.

Each shard's cell is one cuckoo table, ``(n_buckets × slots)`` uint16
fingerprints. Partial-key cuckoo hashing: bucket1 = high bits of h1;
fingerprint f = 16 bits of h2 (0 reserved for empty, remapped to 1);
bucket2 = bucket1 XOR spread(f). Because bucket2 is derivable from
(bucket1, f) alone, an evicted fingerprint can be re-homed without the
original key — which is what makes the BULK build vectorizable:

  round r:  try to place every pending (f, b) into bucket b — sort by
            bucket, rank within bucket, scatter into the bucket's free
            slots (rank < free-count wins); losers flip to their
            alternate bucket for round r+1;
  eviction: if placement-only rounds stall, kick slot (r mod slots) of
            each pending row's target bucket: victims re-enter the
            pending set as (victim_f, alternate-of-victim) — a pure
            gather/scatter, no per-row Python.

At slots=4 / 16-bit fingerprints the table holds ~95% load with FPP
≈ 2·slots/2^16 ≈ 0.012% (vs the Bloom config's ~0.8%), i.e. ~60x fewer
false positives per byte-comparable directory at high load.

All numpy over Arrow batches; no per-row Python anywhere. sf-scale
equivalence vs exact joins and the Bloom path is pytest-pinned
(tests/test_cuckoo.py); the D1 query twin is ``d1_cuckoo_unseen``.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from licenta_crawler_spark.operators.seen import CellCodec, ShardDirectory

_FP_SPREAD = np.uint64(0x5BD1E995)  # odd multiplier spreading f over buckets


def _fingerprint(h2: np.ndarray) -> np.ndarray:
    """16-bit fingerprint from the key's second sha1-derived hash; 0 is
    the empty-slot sentinel so it remaps to 1 (spec-standard)."""
    f = (h2 & np.uint64(0xFFFF)).astype(np.uint16)
    f[f == 0] = 1
    return f


def _alt_bucket(bucket: np.ndarray, f: np.ndarray, n_buckets: int) -> np.ndarray:
    """The partial-key property: the other candidate bucket from
    (bucket, fingerprint) alone — no original key needed."""
    spread = (f.astype(np.uint64) * _FP_SPREAD) & np.uint64(n_buckets - 1)
    return (bucket.astype(np.uint64) ^ spread).astype(np.int64)


def _fpb(table: np.ndarray, h1: np.ndarray, h2: np.ndarray):
    """(fingerprint, bucket1, n_buckets) of hashed keys for ``table``.
    bucket1 takes high bits: the low bits already picked the shard
    (h1 % n_shards)."""
    n_buckets = table.shape[0]
    b1 = ((h1 >> np.uint64(20)) & np.uint64(n_buckets - 1)).astype(np.int64)
    return _fingerprint(h2), b1, n_buckets


def _decode(blob, slots: int) -> np.ndarray:
    return np.frombuffer(blob, dtype=np.uint16).reshape(-1, slots).copy()


def _rank_within(groups: np.ndarray) -> np.ndarray:
    """For a SORTED group-id array: 0,1,2,... within each run."""
    idx = np.arange(len(groups))
    first = np.ones(len(groups), dtype=bool)
    first[1:] = groups[1:] != groups[:-1]
    return idx - np.maximum.accumulate(np.where(first, idx, 0))


def _bulk_insert(table: np.ndarray, h1: np.ndarray, h2: np.ndarray,
                 max_rounds: int = 256) -> None:
    """Vectorized cuckoo insertion of hashed keys into ``table``
    (n_buckets × slots uint16, in place). Raises on overfull — capacity
    is the caller's sizing contract, exactly like a Bloom m_bits."""
    pf, pb, n_buckets = _fpb(table, h1, h2)
    slots = table.shape[1]
    for r in range(max_rounds):
        if len(pf) == 0:
            return
        order = np.argsort(pb, kind="stable")
        pf, pb = pf[order], pb[order]
        rank = _rank_within(pb)
        free = table[pb] == 0                      # (n, slots)
        n_free = free.sum(axis=1)
        place = rank < n_free
        if place.any():
            # the rank-th free slot of each placed row's bucket
            slot_order = np.argsort(~free[place], axis=1, kind="stable")
            sel = slot_order[np.arange(int(place.sum())), rank[place]]
            table[pb[place], sel] = pf[place]
            pf, pb = pf[~place], pb[~place]
        if len(pf) == 0:
            return
        if r < 2:
            # each key tries both its buckets placement-only first
            pb = _alt_bucket(pb, pf, n_buckets)
            continue
        # eviction (the cuckoo random walk, batched): the FIRST pending
        # row per bucket kicks a slot chosen per-ROW and per-ROUND —
        # hash(f, r) — and places itself; the victim re-homes to ITS
        # alternate bucket (partial-key property). The slot choice MUST
        # vary per row and round: a globally synchronized slot index
        # lets two keys kick each other back in a perfect 2-cycle
        # forever (observed: a handful of keys homeless at 80% load).
        # Non-lead rows flip to their alternate bucket, desynchronizing
        # the walk further.
        lead = _rank_within(pb) == 0
        vslot = ((pf[lead].astype(np.int64) * 31) + r * 7) % slots
        vf = table[pb[lead], vslot].copy()
        table[pb[lead], vslot] = pf[lead]
        new_f = np.concatenate([pf[~lead], vf])
        new_b = np.concatenate(
            [_alt_bucket(pb[~lead], pf[~lead], n_buckets),
             _alt_bucket(pb[lead], vf, n_buckets)]
        )
        pf, pb = new_f, new_b
    raise RuntimeError(
        f"cuckoo shard overfull: {len(pf)} keys homeless after "
        f"{max_rounds} rounds — raise buckets_per_shard (capacity contract)"
    )


def _probe(table: np.ndarray, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    f, b1, n_buckets = _fpb(table, h1, h2)
    b2 = _alt_bucket(b1, f, n_buckets)
    return ((table[b1] == f[:, None]).any(axis=1)
            | (table[b2] == f[:, None]).any(axis=1))


def _bulk_delete(table: np.ndarray, h1: np.ndarray, h2: np.ndarray) -> None:
    """Remove ONE stored copy per key, in place (deleting a never-inserted
    key is a no-op here, never a corruption). Scatter conflicts (two
    deletes aiming at the same physical slot) resolve over rounds."""
    pf, pb, n_buckets = _fpb(table, h1, h2)
    slots = table.shape[1]
    while len(pf):
        b2 = _alt_bucket(pb, pf, n_buckets)
        m1 = table[pb] == pf[:, None]
        m2 = table[b2] == pf[:, None]
        in1 = m1.any(axis=1)
        in2 = ~in1 & m2.any(axis=1)
        found = in1 | in2
        if not found.any():
            break
        tgt_b = np.where(in1, pb, b2)[found]
        tgt_s = np.where(in1, m1.argmax(axis=1), m2.argmax(axis=1))[found]
        # one delete per physical slot per round
        phys = tgt_b * slots + tgt_s
        _, keep_idx = np.unique(phys, return_index=True)
        sel = np.zeros(len(tgt_b), dtype=bool)
        sel[keep_idx] = True
        table[tgt_b[sel], tgt_s[sel]] = 0
        # rows whose slot was taken by an earlier duplicate retry
        retry = np.zeros(len(pf), dtype=bool)
        retry[np.flatnonzero(found)[~sel]] = True
        pf, pb = pf[retry], pb[retry]


class CuckooShardSet(ShardDirectory):
    """Deletable directory: each cell is a cuckoo table — BloomShardSet's
    sibling, same ShardDirectory surface plus ``delete``.

    Sizing: capacity per shard = buckets_per_shard × slots fingerprints;
    keep load ≤ ~0.95 (insert raises on overflow rather than degrading).
    Directory bytes = n_shards × buckets × slots × 2.
    """

    def __init__(self, n_shards: int = 8, buckets_per_shard: int = 1 << 12,
                 slots: int = 4, shards_df: DataFrame | None = None,
                 broadcast_max_bytes: int = 4 << 20):
        if buckets_per_shard <= 0 or buckets_per_shard & (buckets_per_shard - 1):
            raise ValueError(
                f"buckets_per_shard must be a power of two, got {buckets_per_shard}"
            )
        super().__init__(n_shards, shards_df, broadcast_max_bytes)
        self.n_buckets = buckets_per_shard
        self.slots = slots
        self.cell_bytes = buckets_per_shard * slots * 2
        self.table_name = f"cuckoo_shards_{n_shards}x{buckets_per_shard}x{slots}"
        self.codec = CellCodec(decode=partial(_decode, slots=slots),
                               insert=_bulk_insert, probe=_probe,
                               delete=_bulk_delete)

    def delete(self, df: DataFrame, sha1_col: str = "url_sha1",
               materialize: str = "checkpoint") -> "CuckooShardSet":
        """Evict keys (recrawl path): one stored fingerprint per key is
        removed, so a later probe reports the URL unseen and the frontier
        re-admits it. Same cogrouped, executor-resident shape as an
        incremental build; deleting an absent key is a no-op. Same
        ``materialize`` contract as ``build``."""
        if self.shards_df is None:
            return self
        keys = self._keys(df, sha1_col)
        return self._finish(
            self._cogroup(keys, self.codec.delete, create=False), materialize
        )
