"""Distributed URL-seen filter: per-partition blocked Bloom filters
with a cuckoo-filter hot tier, merged via ``treeAggregate``, with an
exact anti-join backstop (north rule; SURVEY.md §2.5 note, §4.2).

Tiering: the big Bloom holds the COLD seen set (everything folded so
far); the small :class:`CuckooFilter` hot tier holds URLs inserted
since the last fold. OR-merging a delta into a 10^10-key Bloom is an
O(filter-size) pass (~15 GB at 12 bits/key) — doing it every epoch
makes filter maintenance a flat per-epoch cost independent of batch
size. With the hot tier, per-epoch maintenance is O(batch) (build +
merge a batch-sized cuckoo) and the expensive Bloom fold is amortized
over ``bloom_fold_epochs`` epochs (engine knob). A probe is
bloom-OR-hot; the no-false-negative invariant (bloom ∪ hot ⊇ seen) is
what keeps the exact-backstop bypass sound, and it holds by
construction: the Bloom is built from the full seen set when a
process first probes, and every subsequent insertion lands in the hot
tier until folded.

Reference semantics are **exact** keyed lookups (podcast by rss_url,
episode by guid-else-url, job by fingerprint — reference
``server/ingest/feeds.py:154-159``, ``server/services/jobs.py:166-182``),
so the Bloom filter is only a shuffle-reduction fast path: candidates
that the filter rules out are definitively unseen (no false
negatives); candidates it flags are verified by the exact anti-join.
The final seen set is therefore always exact.

One filter type: :class:`ShardedBloom`, built by :func:`build_bloom`.
Its shards follow the frontier's crc32-host bucket; the monolithic
filter is simply ``n_shards=1`` (no host bucket is computed then).
:class:`BloomFilter` is the per-shard block kernel.

Blocked layout: the bit array is split into 512-bit (8×u64) blocks;
all k probe bits of a key land in one block (cache-friendly, and
mergeable by plain OR). Hash mixing is splitmix64 on the int64 key —
engine-independent and cluster-size invariant.

``bloom_fpr`` is measured per probe-partition and lands in the
lineage table (partition_id, batch_epoch, urls_in, urls_out,
bloom_fpr) per the north rule.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "BloomFilter",
    "CuckooFilter",
    "ShardedBloom",
    "build_bloom",
    "build_cuckoo",
    "build_sharded_bloom",
    "probe_bloom",
    "seen_filter_exact",
]

_BLOCK_WORDS = 8  # 8 × 64 = 512-bit blocks


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    x ^= x >> np.uint64(31)
    return x


class BloomFilter:
    """Numpy-backed blocked Bloom filter: one shard of a :class:`ShardedBloom`."""

    def __init__(self, n_blocks: int, k: int = 6, words: np.ndarray | None = None):
        self.n_blocks = n_blocks
        self.k = k
        self.words = words if words is not None else np.zeros(n_blocks * _BLOCK_WORDS, dtype=np.uint64)

    @classmethod
    def sized_for(cls, expected_items: int, bits_per_item: int = 12, k: int = 6) -> "BloomFilter":
        total_bits = max(1024, expected_items * bits_per_item)
        n_blocks = int(np.ceil(total_bits / (_BLOCK_WORDS * 64)))
        return cls(n_blocks, k)

    def _positions(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """block index (n,) and k bit offsets within block (n, k)."""
        h1 = _splitmix64(keys.astype(np.uint64))
        h2 = _splitmix64(h1)
        block = (h1 % np.uint64(self.n_blocks)).astype(np.uint64)
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        bit = (h2[:, None] + i * _splitmix64(h2)[:, None]) % np.uint64(_BLOCK_WORDS * 64)
        return block, bit

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        block, bit = self._positions(keys)
        word_idx = block[:, None] * np.uint64(_BLOCK_WORDS) + bit // np.uint64(64)
        masks = np.uint64(1) << (bit % np.uint64(64))
        np.bitwise_or.at(self.words, word_idx.ravel(), masks.ravel())

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        block, bit = self._positions(keys)
        word_idx = block[:, None] * np.uint64(_BLOCK_WORDS) + bit // np.uint64(64)
        masks = np.uint64(1) << (bit % np.uint64(64))
        return ((self.words[word_idx] & masks) == masks).all(axis=1)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.n_blocks == other.n_blocks and self.k == other.k
        return BloomFilter(self.n_blocks, self.k, self.words | other.words)


class ShardedBloom:
    """Blocked Bloom sharded by the frontier's host-hash bucket — the
    10^10 design point of BENCH/SCALE_DESIGN.md made code: a
    monolithic filter at 10^10 URLs × 12 bits is ~15 GB, too large to
    broadcast whole, but the frontier (and every candidate batch, via
    politeness host co-location) is bucketed by ``crc32(host) %
    n_shards`` — so shard s only ever serves probes for bucket s's
    hosts, and an executor working bucket s needs ~15 GB / n_shards.

    In local mode all shards ride one broadcast (same total bytes as
    one filter); the sharding is the PLACEMENT story plus the geometry
    story (each shard is sized for its share of the keys, so
    saturation in one hot bucket never degrades the other shards'
    fpr). ``n_shards=1`` is the monolithic filter. Every shard has the
    same geometry (``n_blocks``, ``k``); a bucket with no seen URL has
    no shard. Membership is :func:`probe_bloom`, which derives each
    key's bucket JVM-side.

    Probing every epoch against an unchanged filter would re-ship
    megabytes of bit array, so the broadcast is memoized per object;
    the words are treated as immutable once built (``merge`` returns
    a NEW object).
    """

    def __init__(self, n_shards: int, shards: "dict[int, BloomFilter]", n_blocks: int, k: int = 6):
        self.n_shards = n_shards
        self.shards = shards
        self.n_blocks = n_blocks
        self.k = k

    def merge(self, other: "ShardedBloom") -> "ShardedBloom":
        assert (self.n_shards, self.n_blocks, self.k) == (other.n_shards, other.n_blocks, other.k)
        merged: dict[int, BloomFilter] = dict(self.shards)
        for s, bf in other.shards.items():
            merged[s] = merged[s].merge(bf) if s in merged else bf
        return ShardedBloom(self.n_shards, merged, self.n_blocks, self.k)

    def contains_many(self, keys: np.ndarray, buckets: np.ndarray) -> np.ndarray:
        """Vectorized probe: group keys by bucket, probe each group
        against its shard. A bucket with no shard (no seen URLs from
        those hosts yet) is definitively unseen."""
        out = np.zeros(len(keys), dtype=bool)
        for s in np.unique(buckets):
            bf = self.shards.get(int(s))
            if bf is None:
                continue
            idx = np.nonzero(buckets == s)[0]
            out[idx] = bf.contains_many(keys[idx])
        return out

    def broadcast_on(self, spark) -> "object":
        bc = getattr(self, "_bc", None)
        if bc is None:
            payload = {s: bf.words for s, bf in self.shards.items()}
            bc = spark.sparkContext.broadcast((self.n_shards, self.n_blocks, self.k, payload))
            self._bc = bc
        return bc


class CuckooFilter:
    """Partial-key cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher,
    "Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014 — the
    public construction, re-implemented in numpy): 16-bit fingerprints,
    4-way buckets, the alternate bucket derived from the CURRENT bucket
    and the fingerprint alone (``i2 = i1 XOR h(fp)``), which is what
    makes the filter mergeable and deletable without the original keys.

    Role here: the HOT tier of the URL-seen filter — the current
    window's insertions, batch-sized, rebuilt O(batch) per epoch and
    cleared on each Bloom fold. A cuckoo (vs a second Bloom) gives
    (a) deletion — an aborted epoch's insertions can be retracted
    without rebuilding, (b) better space/fpr at the small sizes the
    hot tier lives at, (c) exact slot accounting (``load``), which
    the engine uses to trigger an early fold before saturation.

    Determinism: hashing is splitmix64 on the same int64 key column
    the Bloom uses; eviction order is a counter-derived slot choice —
    no randomness, so distributed builds are reproducible.
    """

    BUCKET_SLOTS = 4
    MAX_KICKS = 500

    def __init__(
        self,
        n_buckets: int,
        buckets: np.ndarray | None = None,
        stash: list | None = None,
    ):
        assert n_buckets > 0 and (n_buckets & (n_buckets - 1)) == 0, "power-of-two buckets"
        self.n_buckets = n_buckets
        self.buckets = (
            buckets if buckets is not None else np.zeros((n_buckets, self.BUCKET_SLOTS), dtype=np.uint16)
        )
        # rare eviction-failure overflow: (bucket_idx, fp) pairs, still
        # honoring the i1/i2 membership contract (no false negatives)
        self.stash: list = stash if stash is not None else []

    @classmethod
    def sized_for(cls, expected_items: int) -> "CuckooFilter":
        # ~0.7 target load: evictions stay rare, fpr ~ 2·4/2^16 ≈ 0.012%
        need_slots = max(1024, int(expected_items / 0.7) + 1)
        n_buckets = 1 << int(np.ceil(np.log2(need_slots / cls.BUCKET_SLOTS)))
        return cls(n_buckets)

    # -- hashing --------------------------------------------------------

    def _fp_i1_i2(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        h = _splitmix64(keys.astype(np.uint64))
        fp = (h >> np.uint64(48)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty sentinel
        mask = np.uint64(self.n_buckets - 1)
        i1 = (h & mask).astype(np.int64)
        i2 = self._alt(i1, fp)
        return fp, i1, i2

    def _alt(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        fh = _splitmix64(fp.astype(np.uint64))
        mask = np.uint64(self.n_buckets - 1)
        return (idx.astype(np.uint64) ^ (fh & mask)).astype(np.int64)

    def _alt_scalar(self, idx: int, fp: int) -> int:
        return int(self._alt(np.array([idx], dtype=np.int64), np.array([fp], dtype=np.uint16))[0])

    # -- mutation -------------------------------------------------------

    def _insert_fp(self, idx: int, fp: int) -> None:
        """Place fingerprint whose valid buckets are idx / alt(idx, fp)."""
        for b in (idx, self._alt_scalar(idx, fp)):
            slots = self.buckets[b]
            z = np.nonzero(slots == 0)[0]
            if len(z):
                slots[z[0]] = fp
                return
        cur, f = idx, fp
        for kick in range(self.MAX_KICKS):
            slot = (f + kick) % self.BUCKET_SLOTS  # deterministic victim
            victim = int(self.buckets[cur, slot])
            self.buckets[cur, slot] = f
            f = victim
            cur = self._alt_scalar(cur, f)
            z = np.nonzero(self.buckets[cur] == 0)[0]
            if len(z):
                self.buckets[cur, z[0]] = f
                return
        self.stash.append((int(cur), int(f)))

    def _bulk_place(self, idx: np.ndarray, fp: np.ndarray) -> None:
        """Vectorized placement: two rounds (preferred bucket, then
        alternate) of sorted-by-bucket free-slot assignment; only keys
        still homeless after both rounds fall back to the scalar
        eviction loop (rare below ~0.8 load). O(batch log batch)."""
        pend_idx, pend_fp = idx.astype(np.int64), fp.astype(np.uint16)
        for attempt in range(2):
            if len(pend_idx) == 0:
                return
            order = np.argsort(pend_idx, kind="stable")
            bi, bf = pend_idx[order], pend_fp[order]
            first = np.concatenate(([True], bi[1:] != bi[:-1])) if len(bi) else np.zeros(0, bool)
            run_start = np.flatnonzero(first)
            run_id = np.cumsum(first) - 1
            rank = np.arange(len(bi)) - run_start[run_id]
            free = self.buckets[bi] == 0  # (n, 4)
            occ = self.BUCKET_SLOTS - free.sum(axis=1)
            fits = (occ + rank) < self.BUCKET_SLOTS
            # rank-th free slot of each key's bucket (argsort: zeros first)
            slot_order = np.argsort(~free, axis=1, kind="stable")
            tgt = slot_order[np.arange(len(bi)), np.minimum(rank, self.BUCKET_SLOTS - 1)]
            self.buckets[bi[fits], tgt[fits]] = bf[fits]
            rem = ~fits
            if attempt == 0:
                pend_idx = self._alt(bi[rem], bf[rem])
                pend_fp = bf[rem]
            else:
                for j in np.flatnonzero(rem):
                    self._insert_fp(int(bi[j]), int(bf[j]))
                return

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        fp, i1, _ = self._fp_i1_i2(keys)
        self._bulk_place(i1, fp)

    def delete_many(self, keys: np.ndarray) -> int:
        """Remove ONE stored occurrence per key (the cuckoo capability
        a Bloom lacks). Only delete keys that were inserted — deleting
        an absent key may evict another key's colliding fingerprint
        (standard cuckoo-filter caveat). Returns #removed."""
        if len(keys) == 0:
            return 0
        fp, i1, i2 = self._fp_i1_i2(keys)
        removed = 0
        for j in range(len(keys)):
            f = int(fp[j])
            done = False
            for b in (int(i1[j]), int(i2[j])):
                s = np.nonzero(self.buckets[b] == f)[0]
                if len(s):
                    self.buckets[b, s[0]] = 0
                    removed += 1
                    done = True
                    break
            if not done:
                for si, (bi, sf) in enumerate(self.stash):
                    if sf == f and bi in (int(i1[j]), int(i2[j])):
                        self.stash.pop(si)
                        removed += 1
                        break
        return removed

    # -- queries --------------------------------------------------------

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._fp_i1_i2(keys)
        out = (self.buckets[i1] == fp[:, None]).any(axis=1)
        out |= (self.buckets[i2] == fp[:, None]).any(axis=1)
        for bi, sf in self.stash:
            out |= (fp == np.uint16(sf)) & ((i1 == bi) | (i2 == bi))
        return out

    @property
    def load(self) -> float:
        return float(np.count_nonzero(self.buckets)) / self.buckets.size

    # -- combination ----------------------------------------------------

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Union: re-place every stored fingerprint of ``other``. The
        stored bucket index is one of the fingerprint's two valid
        buckets, and ``alt`` is derivable from (index, fp) alone, so
        membership is preserved without the original keys."""
        assert self.n_buckets == other.n_buckets
        out = CuckooFilter(self.n_buckets, self.buckets.copy(), list(self.stash))
        rows, slots = np.nonzero(other.buckets)
        out._bulk_place(rows.astype(np.int64), other.buckets[rows, slots])
        for bi, sf in other.stash:
            out._insert_fp(int(bi), int(sf))
        return out

    def broadcast_on(self, spark) -> "object":
        bc = getattr(self, "_bc", None)
        if bc is None:
            bc = spark.sparkContext.broadcast((self.n_buckets, self.buckets, list(self.stash)))
            self._bc = bc
        return bc


def build_cuckoo(
    seen: DataFrame,
    key_col: str = "url_canon",
    expected_items: int | None = None,
    like: "CuckooFilter | None" = None,
) -> CuckooFilter:
    """Per-partition cuckoo partials built in ``mapInPandas``, merged
    via ``treeAggregate`` (the north rule's build shape, same as
    :func:`build_bloom`). ``like`` sizes the result to another
    filter's geometry so the two can be merged (the engine builds a
    batch delta ``like`` its hot tier every epoch)."""
    if like is not None:
        n_buckets = like.n_buckets
    else:
        n = expected_items or seen.count()
        n_buckets = CuckooFilter.sized_for(n).n_buckets

    import json as _json

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cf = CuckooFilter(n_buckets)
        for pdf in batches:
            if len(pdf):
                cf.add_many(pdf["__k"].to_numpy(dtype=np.int64).astype(np.uint64) % np.uint64(2**63))
        yield pd.DataFrame(
            {"buckets": [cf.buckets.tobytes()], "stash": [_json.dumps(cf.stash)]}
        )

    keys_df = seen.select(_key_col(key_col).alias("__k"))
    if keys_df.rdd.getNumPartitions() > 32:
        keys_df = keys_df.coalesce(32)
    parts = keys_df.mapInPandas(part, "buckets binary, stash string")

    def to_cf(r) -> CuckooFilter:
        return CuckooFilter(
            n_buckets,
            np.frombuffer(r["buckets"], dtype=np.uint16).reshape(-1, CuckooFilter.BUCKET_SLOTS).copy(),
            [tuple(x) for x in _json.loads(r["stash"])],
        )

    return parts.rdd.map(to_cf).treeAggregate(
        CuckooFilter(n_buckets), lambda a, b: a.merge(b), lambda a, b: a.merge(b), depth=3
    )


def _host_bucket_col(url_col: str, n_shards: int) -> F.Column:
    """Shard id from a URL column: same crc32-of-host bucketing as the
    frontier's ``host_hash`` layout (functions/urls.py:host_hash_col),
    so shard s of the filter aligns with bucket s of the frontier.
    One shard needs no host: the constant keeps ``parse_url``/``crc32``
    out of the 1-shard build and probe plans."""
    if n_shards == 1:
        return F.lit(0)
    host = F.coalesce(F.parse_url(F.col(url_col), F.lit("HOST")), F.lit(""))
    return F.pmod(F.crc32(F.encode(host, "utf-8")), F.lit(n_shards)).cast("int")


def _key_col(col: str) -> F.Column:
    """int64 key from a string column — first 15 sha256 hex chars
    (engine-independent, same discipline as the dedup family)."""
    return F.conv(F.substring(F.sha2(F.col(col), 256), 1, 15), 16, 10).cast("long")


def build_bloom(
    seen: DataFrame,
    key_col: str = "url_canon",
    expected_items: int | None = None,
    k: int = 6,
    bits_per_item: int = 12,
    like: "ShardedBloom | None" = None,
    n_shards: int = 1,
) -> ShardedBloom:
    """Per-host-bucket Bloom shards (``n_shards=1``: one filter over
    all keys), built in one distributed pass. Each input partition
    builds partial shards for the buckets it holds and emits one
    (shard, words) row per shard; the partials are OR-merged as
    ``{shard: words}`` maps with ``treeAggregate`` (logarithmic merge
    depth — the driver receives O(log P) partial maps, not P). Each
    map covers every shard its inputs touched, so with many shards a
    tree task, and the driver, holds whole-filter maps; a
    ``reduceByKey`` on shard id would keep each reducer to its own
    shards, but measured slower at one shard.

    ``like`` builds with another filter's shard count and geometry so
    the result can be merged into it (incremental maintenance: per
    epoch, build over only the epoch's insertions and OR into the
    running filter — never re-scan the full seen set).

    The ``like`` path builds SPARSELY: a batch of B keys sets at most
    B·k bits, so each partition emits only its touched (shard,
    word_index, word_bits) triples — never a full-geometry array. A
    dense partial per partition made every small delta build
    O(filter_size × partitions) in serialization alone (measured
    40–169 s per 20k-row delta at a 10^8-key geometry; at the 10^10
    design point a 15 GB partial per partition is simply unshippable).
    Sparse partials are O(batch) end-to-end; the driver ORs them into
    fresh arrays."""
    if like is not None:
        n_shards, n_blocks, k = like.n_shards, like.n_blocks, like.k
    else:
        n = expected_items or seen.count()
        n_blocks = BloomFilter.sized_for(max(1, n // n_shards), bits_per_item=bits_per_item, k=k).n_blocks

    keys_df = seen.select(
        _key_col(key_col).alias("__k"), _host_bucket_col(key_col, n_shards).alias("__b")
    )
    # ≤ 32 build partitions: fewer, larger partials cut task and
    # serialization overhead
    if keys_df.rdd.getNumPartitions() > 32:
        keys_df = keys_df.coalesce(32)

    def keys_by_shard(batches: Iterator[pd.DataFrame]) -> Iterator[tuple[int, np.ndarray]]:
        for pdf in batches:
            if not len(pdf):
                continue
            ks = pdf["__k"].to_numpy(dtype=np.int64).astype(np.uint64) % np.uint64(2**63)
            bs = pdf["__b"].to_numpy(dtype=np.int64)
            for s in np.unique(bs):
                yield int(s), ks[bs == s]

    if like is not None:
        proto = BloomFilter(n_blocks, k, words=np.zeros(0, dtype=np.uint64))  # hash geometry only

        def part_sparse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc: dict[int, tuple[list, list]] = {}
            for s, ks in keys_by_shard(batches):
                block, bit = proto._positions(ks)
                lists = acc.setdefault(s, ([], []))
                lists[0].append((block[:, None] * np.uint64(_BLOCK_WORDS) + bit // np.uint64(64)).ravel())
                lists[1].append((np.uint64(1) << (bit % np.uint64(64))).ravel())
            rows = {"shard": [], "idx": [], "bits": []}
            for s, (ws, ms) in acc.items():
                w = np.concatenate(ws)
                m = np.concatenate(ms)
                order = np.argsort(w, kind="stable")
                w, m = w[order], m[order]
                uniq, starts = np.unique(w, return_index=True)
                rows["shard"].append(s)
                rows["idx"].append(uniq.tobytes())
                rows["bits"].append(np.bitwise_or.reduceat(m, starts).tobytes())
            yield pd.DataFrame(rows) if rows["shard"] else pd.DataFrame(
                {"shard": pd.Series(dtype="int"), "idx": pd.Series(dtype=object),
                 "bits": pd.Series(dtype=object)}
            )

        shards: dict[int, BloomFilter] = {}
        # ≤ P·touched-shards rows of ≤ batch·k pairs each — the driver
        # receives O(batch)
        for r in keys_df.mapInPandas(part_sparse, "shard int, idx binary, bits binary").collect():
            bf = shards.setdefault(int(r["shard"]), BloomFilter(n_blocks, k))
            wi = np.frombuffer(r["idx"], dtype=np.uint64).astype(np.int64)
            np.bitwise_or.at(bf.words, wi, np.frombuffer(r["bits"], dtype=np.uint64))
        return ShardedBloom(n_shards, shards, n_blocks, k)

    # Arrow-vectorized partial shards: each partition builds its
    # shards over all its Arrow batches (numpy bulk insert), emitting
    # one binary row per shard it touched
    def part_shards(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        partial: dict[int, BloomFilter] = {}
        for s, ks in keys_by_shard(batches):
            partial.setdefault(s, BloomFilter(n_blocks, k)).add_many(ks)
        yield pd.DataFrame(
            {"shard": list(partial), "words": [bf.words.tobytes() for bf in partial.values()]}
        )

    # Shard-wise OR of two {shard: words} maps into a NEW map: neither
    # input is mutated (np.frombuffer arrays are read-only). Nested on
    # purpose: workers unpickle it by value instead of importing this
    # module (and pandas + pyspark.sql with it) in every fresh RDD
    # worker, which cost ~0.35 s per cold build.
    def or_maps(a: dict, b: dict) -> dict:
        out = dict(a)
        for s, w in b.items():
            out[s] = out[s] | w if s in out else w
        return out

    parts = keys_df.mapInPandas(part_shards, "shard int, words binary")
    merged = parts.rdd.map(
        lambda r: {int(r["shard"]): np.frombuffer(r["words"], dtype=np.uint64)}
    ).treeAggregate({}, or_maps, or_maps, depth=3)
    shards = {int(s): BloomFilter(n_blocks, k, w.copy()) for s, w in merged.items()}
    return ShardedBloom(n_shards, shards, n_blocks, k)


def build_sharded_bloom(seen: DataFrame, key_col: str = "url_canon", n_shards: int = 16, **kw) -> ShardedBloom:
    # kept because perfbench wraps this name; package code calls build_bloom
    return build_bloom(seen, key_col, n_shards=n_shards, **kw)


def probe_bloom(
    candidates: DataFrame,
    bloom: ShardedBloom,
    key_col: str = "url_canon",
    hot: "CuckooFilter | None" = None,
) -> DataFrame:
    """Adds ``maybe_seen`` (bloom positive, OR hot-tier positive when a
    :class:`CuckooFilter` hot tier is given — the tier holding
    insertions newer than the last Bloom fold). Definite negatives
    skip the exact join entirely.

    The Python stage is a SCALAR pandas UDF over two int columns only,
    the key and its host bucket: Arrow moves them in and one boolean
    out, instead of round-tripping every candidate column through
    Python (a mapInPandas form serialized the full wide row both ways
    — ~8× the Arrow bytes for a one-column computation). Key and
    bucket are computed JVM-side (sha2+conv, crc32 of the host; a
    constant bucket with one shard), so Python work is pure numpy
    bit-probing, each key against its bucket's shard only."""
    spark = candidates.sparkSession
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    bc = bloom.broadcast_on(spark)
    bc_hot = hot.broadcast_on(spark) if hot is not None else None

    @pandas_udf(BooleanType())
    def probe(keys: pd.Series, buckets: pd.Series) -> pd.Series:
        n_shards, n_blocks, k, payload = bc.value
        sb = ShardedBloom(n_shards, {s: BloomFilter(n_blocks, k, w) for s, w in payload.items()}, n_blocks, k)
        ks = keys.to_numpy(dtype=np.int64).astype(np.uint64) % np.uint64(2**63)
        out = sb.contains_many(ks, buckets.to_numpy(dtype=np.int64))
        if bc_hot is not None:
            nb, bkts, stash = bc_hot.value
            out |= CuckooFilter(nb, bkts, stash).contains_many(ks)
        return pd.Series(out)

    return candidates.withColumn(
        "maybe_seen", probe(_key_col(key_col), _host_bucket_col(key_col, bloom.n_shards))
    )


def seen_filter_exact(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: ShardedBloom,
    key_col: str = "url_canon",
    measure_fpr: bool = False,
    cache_registry: "list[DataFrame] | None" = None,
    hot: "CuckooFilter | None" = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Returns (unseen_candidates, fpr_stats-or-None).

    ``hot``: optional cuckoo hot tier covering insertions newer than
    the last Bloom fold (probe = bloom OR hot; the union must cover
    the full seen set — that invariant is what makes the
    definite-unseen bypass sound).

    Path: bloom probe → definite-unseen bypass ∪ (maybe-seen ∖ exact
    anti-join). With ``measure_fpr`` the per-partition (urls_in,
    bloom_pos, false_pos) stats for lineage are computed — this runs
    extra actions, so it's opt-in (the engine turns it on; the
    throughput bench leaves it off).

    ``cache_registry``: when given, the probed-candidates DataFrame is
    cached and the handle appended for the CALLER to unpersist after
    materializing the result. Without it, the broadcast subjobs
    (maybe_keys, hits) and the main job each re-evaluate the candidate
    subtree — for UDF-synthesized candidates that's the canonicalize +
    probe python stages run 3×, a measured ~30% of the epoch.
    """
    probed = probe_bloom(candidates, bloom, key_col, hot=hot)
    if measure_fpr or cache_registry is not None:
        probed = probed.cache()
        # Materialize NOW: the maybe_keys/hits broadcast exchanges
        # below execute as concurrent async subjobs of the caller's
        # action, and Spark cache fills are not locked — racing
        # readers of a cold cache each recompute the full candidate
        # subtree (canonicalize + probe UDFs ran 2× per epoch,
        # verified in SQL-node metrics). One narrow count here pins
        # the cache before any branch can race.
        probed.count()
        if cache_registry is not None:
            cache_registry.append(probed)
    definite_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    # Exact backstop WITHOUT shuffling the (huge) seen side: the Bloom
    # already shrank `maybe` to (true dupes + false positives), so
    #   hits      = seen ⋉ broadcast(maybe)   — seen streamed map-side
    #   truly_new = maybe ▷ broadcast(hits)   — hits ≤ |maybe|, tiny
    # Two broadcast joins, zero shuffle of the frontier. (A plain
    # maybe ▷ seen anti-join would shuffle all 10^10 seen keys every
    # epoch — the Bloom exists precisely to prevent that.)
    maybe_keys = maybe.select(key_col)
    hits = seen.select(key_col).join(F.broadcast(maybe_keys), key_col, "left_semi")
    truly_new = maybe.join(F.broadcast(hits), key_col, "left_anti")
    unseen = definite_new.unionByName(truly_new)

    if not measure_fpr:
        return unseen, None

    stats = (
        probed.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("urls_in"),
            F.sum(F.col("maybe_seen").cast("long")).alias("bloom_pos"),
        )
    )
    fp = truly_new.groupBy().agg(F.count(F.lit(1)).alias("__survived")).collect()[0]["__survived"]
    maybe_n = maybe.count()
    stats = stats.withColumn(
        "false_pos",
        F.when(F.lit(maybe_n) > 0, (F.col("bloom_pos") * F.lit(fp) / F.lit(maybe_n)).cast("long")).otherwise(
            F.lit(0)
        ),
    )
    return unseen, stats
