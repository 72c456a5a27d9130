"""Sharded Bloom filter URL-seen set (+ a cuckoo filter for deletable
entries), built distributively with mapInPandas.

Design scale (north rule: 10^10-URL frontier): a single bloom at 1% fpp for
10^10 keys needs ~12 GB — too big for one broadcast. We shard by
``crc32(url) % n_shards``: each shard covers ~N/n_shards keys, shards are
built per-partition as numpy bit arrays and OR-merged (associative, so the
merge tree can run on executors at scale; at sandbox scale the driver OR is
fine and exact). Probing broadcasts only the shards a partition needs.

Usage contract (exactness): ``contains == False`` ⇒ definitely unseen (skip
the expensive anti-join); ``contains == True`` ⇒ maybe seen ⇒ exact
``left_anti`` join against the frontier decides. The bloom is a prefilter,
never the source of truth — byte-exact URL-seen membership per the rule.

Hashes: blake2b(url) → two independent 64-bit values → k double-hashed probes
(Kirsch–Mitzenmacher). No external hash libs needed.
"""

from __future__ import annotations

import hashlib
import math
import zlib
from typing import Iterator, List

import numpy as np
import pandas as pd


def _hash_pair(url: str) -> tuple:
    d = hashlib.blake2b(url.encode("utf-8"), digest_size=16).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:], "little")


# a seen-filter add of at most this many URLs hashes them driver-side (one
# scan job, no Python stage); larger adds use the filter's distributed build
DRIVER_ADD_THRESHOLD = 100_000


def optimal_bits(n_keys: int, fpp: float) -> int:
    return max(64, int(-n_keys * math.log(fpp) / (math.log(2) ** 2)))


def optimal_hashes(bits: int, n_keys: int) -> int:
    return max(1, int(round(bits / max(n_keys, 1) * math.log(2))))


def probe_seen(
    filt, df, url_col: str, flag_col: str = "maybe_seen", ship: str = "broadcast"
):
    """Append a boolean ``maybe_seen`` column (vectorized per batch).

    ``ship="broadcast"`` (default): the filter decomposes via its
    ``probe_parts()`` protocol into one ``sc.broadcast`` PER SHARD plus a
    tiny routing closure. PySpark broadcasts fetch lazily on first
    ``.value`` access, so an executor pulls ONLY the shards its
    partitions' URLs actually hash to — at the design scale (10^10 keys ≈
    12 GB of bloom state across shards) no executor ever materializes the
    whole seen-set, and the torrent-style broadcast distribution replaces
    per-task closure serialization. Broadcasts free with the plan
    (ContextCleaner unpersists them when the captured references are
    GC'd).

    ``ship="closure"`` keeps the whole-filter-in-task-closure path — the
    equivalence reference for tests.

    Shared by every seen-filter class so the probe path cannot diverge
    between modes; both paths produce identical flags by construction
    (the broadcast parts close over the same state arrays)."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    schema = StructType(df.schema.fields + [StructField(flag_col, BooleanType())])

    if ship == "broadcast":
        router, parts = filt.probe_parts()
        sc = df.sparkSession.sparkContext
        bcs = [sc.broadcast(p) for p in parts]

        def gen_bc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                pdf[flag_col] = [
                    bool(u is not None and bcs[router(u)].value(u))
                    for u in pdf[url_col]
                ]
                yield pdf

        return df.mapInPandas(gen_bc, schema=schema)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[flag_col] = [
                bool(u is not None and filt.contains(u)) for u in pdf[url_col]
            ]
            yield pdf

    return df.mapInPandas(gen, schema=schema)


class _BloomShardProber:
    """One bloom shard's membership test as a picklable callable — the
    broadcast unit of ``ShardedBloom.probe_parts``."""

    __slots__ = ("arr", "bits", "k")

    def __init__(self, arr: np.ndarray, bits: int, k: int) -> None:
        self.arr, self.bits, self.k = arr, bits, k

    def __call__(self, url: str) -> bool:
        h1, h2 = _hash_pair(url)
        arr, bits = self.arr, self.bits
        return all(
            arr[p >> 3] & (1 << (p & 7))
            for p in ((h1 + i * h2) % bits for i in range(self.k))
        )

    def __reduce__(self):
        return (_BloomShardProber, (self.arr, self.bits, self.k))


class _ShardedFilter:
    """What the crawler uses of a seen-filter: driver-side ``add`` and
    ``contains``, the Spark ``probe``, and ``add_urls`` — one maintenance
    call whose driver-side vs distributed choice is the filter's own."""

    def add_urls(self, df, url_col: str = "url", n: int | None = None) -> None:
        """Add every URL in ``df[url_col]``. ``n`` is the row count when the
        caller knows it for free: up to ``DRIVER_ADD_THRESHOLD`` the URLs
        are collected and hashed driver-side; beyond it, or when unknown,
        the distributed ``add_positions`` runs. Both paths add the same
        set, so filter contents never depend on which one ran."""
        if n is not None and n <= DRIVER_ADD_THRESHOLD:
            for r in df.select(url_col).collect():
                if r[0] is not None:
                    self.add(r[0])
        else:
            self.add_positions(df, url_col, n_hint=n)

    def probe(self, df, url_col: str, flag_col: str = "maybe_seen"):
        return probe_seen(self, df, url_col, flag_col)


class ShardedBloom(_ShardedFilter):
    # ~4 Mbit/shard; size up per SURVEY §7.5
    def __init__(
        self, n_shards: int = 4, bits_per_shard: int = 1 << 22, n_hashes: int = 5
    ) -> None:
        self.n_shards = n_shards
        self.bits = bits_per_shard
        self.k = n_hashes
        self.shards: List[np.ndarray] = [
            np.zeros((bits_per_shard + 7) // 8, dtype=np.uint8)
            for _ in range(n_shards)
        ]

    # -- core bit ops -------------------------------------------------
    def _positions(self, url: str) -> tuple:
        h1, h2 = _hash_pair(url)
        shard = zlib.crc32(url.encode("utf-8")) % self.n_shards
        return shard, [(h1 + i * h2) % self.bits for i in range(self.k)]

    def add(self, url: str) -> None:
        shard, pos = self._positions(url)
        arr = self.shards[shard]
        for p in pos:
            arr[p >> 3] |= 1 << (p & 7)

    def contains(self, url: str) -> bool:
        shard, pos = self._positions(url)
        arr = self.shards[shard]
        return all(arr[p >> 3] & (1 << (p & 7)) for p in pos)

    def merge(self, other: "ShardedBloom") -> "ShardedBloom":
        assert (self.n_shards, self.bits, self.k) == (
            other.n_shards,
            other.bits,
            other.k,
        )
        for i in range(self.n_shards):
            np.bitwise_or(self.shards[i], other.shards[i], out=self.shards[i])
        return self

    # -- spark build / probe -------------------------------------------
    @classmethod
    def build(
        cls,
        df,
        url_col: str,
        n_shards: int,
        bits_per_shard: int,
        n_hashes: int,
        n_hint: int | None = None,
    ):
        """Distributed build with two strategies picked by expected key count:

        * **positions** (default): each partition emits the (shard, bit)
          pairs its URLs set — cost ∝ n_urls·k, independent of partition
          count. Right for incremental per-wave maintenance (a wave adds
          thousands-to-millions of URLs).
        * **bitmaps**: each partition emits full shard bitmaps, OR-merged —
          cost ∝ n_partitions·n_shards·bits/8. Only wins for bulk builds
          where n_urls·k approaches the total bitmap size (≳ bits·n_shards/64
          keys, e.g. rebuilding the seen-set from a 10^9-row frontier); at
          that scale the merge runs as an RDD ``treeReduce`` so the driver
          sees one bitmap set, not one per partition.
        """
        params = (n_shards, bits_per_shard, n_hashes)
        use_bitmaps = (
            n_hint is not None and n_hint * n_hashes > (n_shards * bits_per_shard) // 64
        )
        if use_bitmaps:
            def to_filter(it):
                partial = cls(*params)
                for row in it:
                    u = row[0]
                    if u is not None:
                        partial.add(u)
                yield partial.shards

            def or_shards(a, b):
                for x, y in zip(a, b):
                    np.bitwise_or(x, y, out=x)
                return a

            merged = (
                df.select(url_col)
                .rdd.mapPartitions(to_filter)
                .treeReduce(or_shards, depth=3)
            )
            out = cls(*params)
            out.shards = list(merged)
            return out

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            probe = cls(*params)
            for pdf in batches:
                shards, bits = [], []
                for u in pdf[url_col]:
                    if u is not None:
                        shard, pos = probe._positions(u)
                        for p in pos:
                            shards.append(shard)
                            bits.append(p)
                yield pd.DataFrame({"shard": shards, "pos": np.array(bits, dtype=np.int64)})

        parts = df.select(url_col).mapInPandas(gen, schema="shard int, pos long")
        out = cls(*params)
        for row in parts.collect():  # (shard, bit-position) pairs, never URLs
            arr = out.shards[row["shard"]]
            p = row["pos"]
            arr[p >> 3] |= 1 << (p & 7)
        return out

    def add_positions(
        self, df, url_col: str = "url", n_hint: int | None = None
    ) -> None:
        """Distributed add: ``build`` (positions or bitmaps, picked from
        ``n_hint``) OR-merged into this filter."""
        params = (self.n_shards, self.bits, self.k)
        self.merge(self.build(df, url_col, *params, n_hint=n_hint))

    def probe_parts(self):
        """(router, per-shard probers) for broadcast-shipped probing:
        each prober carries ONE shard's bit array plus the (bits, k)
        scalars — nothing else — so broadcasting part i ships ~bits/8
        bytes, and executors whose URLs never hash to shard i never
        fetch it. (Probers are plain-pickle-able module-level objects:
        ``sc.broadcast`` does not cloudpickle closures.)"""
        n_shards = self.n_shards

        def router(url: str) -> int:
            return zlib.crc32(url.encode("utf-8")) % n_shards

        return router, [
            _BloomShardProber(a, self.bits, self.k) for a in self.shards
        ]


class CuckooFilter:
    """Minimal cuckoo filter (Fan et al., CoNEXT'14 public algorithm):
    4-slot buckets, 16-bit fingerprints, supports delete — the fallback the
    north rule names for re-crawlable URL-seen entries.

    Seen-filter contract: ``contains == False`` ⇒ DEFINITELY unseen. A
    plain cuckoo filter breaks this when full (a failed insert evicts a
    resident fingerprint that is then lost). Two guards keep the contract:

    * homeless fingerprints land in a bounded **stash** (checked by
      ``contains``/``delete``), so no insert silently loses a resident;
    * if the stash itself fills, the filter flips to **saturated** and
      reports every probe as maybe-seen — degraded precision, never a
      false negative; the crawler's exact anti-join then decides.
    """

    def __init__(
        self, n_buckets: int = 1 << 16, max_kicks: int = 500, stash_max: int = 512
    ) -> None:
        self.n = n_buckets
        self.max_kicks = max_kicks
        self.table = np.zeros((n_buckets, 4), dtype=np.uint16)
        self.stash: set = set()  # (bucket, fp) pairs with no table slot
        self.stash_max = stash_max
        self.saturated = False

    def _fp(self, item: str) -> int:
        return (zlib.crc32(item.encode("utf-8")) & 0xFFFF) or 1

    def _i1(self, item: str) -> int:
        h, _ = _hash_pair(item)
        return h % self.n

    def _i2(self, i1: int, fp: int) -> int:
        h, _ = _hash_pair(str(fp))
        return (i1 ^ h) % self.n

    def _insert_at(self, i: int, fp: int) -> bool:
        row = self.table[i]
        for s in range(4):
            if row[s] == 0:
                row[s] = fp
                return True
        return False

    def add(self, item: str) -> bool:
        return self.add_pair(self._i1(item), self._fp(item))

    def add_pair(self, i1: int, fp: int) -> bool:
        """Insert a precomputed (primary bucket, fingerprint) pair — the
        distributed-build entry point: executors hash, the driver (which
        owns the mutable table) only inserts small ints."""
        i2 = self._i2(i1, fp)
        if self._insert_at(i1, fp) or self._insert_at(i2, fp):
            return True
        import random

        rng = random.Random(fp)
        i = rng.choice([i1, i2])
        for _ in range(self.max_kicks):
            s = rng.randrange(4)
            fp, self.table[i][s] = int(self.table[i][s]), fp
            i = self._i2(i, fp)
            if self._insert_at(i, fp):
                return True
        # table full: the held fp is a displaced RESIDENT (i is one of its
        # two homes — _i2 is an involution). Stash it so it is never lost;
        # past the stash bound, degrade to always-maybe-seen.
        if len(self.stash) < self.stash_max:
            self.stash.add((i, fp))
            return True
        self.saturated = True
        return False

    def contains(self, item: str) -> bool:
        if self.saturated:
            return True  # degraded: exact anti-join downstream decides
        fp = self._fp(item)
        i1 = self._i1(item)
        i2 = self._i2(i1, fp)
        return bool(
            (self.table[i1] == fp).any()
            or (self.table[i2] == fp).any()
            or (i1, fp) in self.stash
            or (i2, fp) in self.stash
        )

    # -- (de)serialization for the sharded distributed build ----------
    def state_tuple(self) -> tuple:
        return (
            self.table.tobytes(),
            sorted([list(p) for p in self.stash]),
            self.saturated,
        )

    def load_state(self, table_bytes: bytes, stash, saturated: bool) -> None:
        self.table = (
            np.frombuffer(table_bytes, dtype=np.uint16)
            .reshape(self.n, 4)
            .copy()
        )
        self.stash = {(int(a), int(b)) for a, b in stash}
        self.saturated = bool(saturated)

    def delete(self, item: str) -> bool:
        fp = self._fp(item)
        for i in (self._i1(item), self._i2(self._i1(item), fp)):
            row = self.table[i]
            hits = np.where(row == fp)[0]
            if len(hits):
                row[hits[0]] = 0
                return True
            if (i, fp) in self.stash:
                self.stash.discard((i, fp))
                return True
        return False


_CUCKOO_STATE_SCHEMA = (
    "shard int, tbl binary, stash array<array<int>>, saturated boolean"
)


class ShardedCuckoo(_ShardedFilter):
    """Sharded cuckoo filter — the deletable URL-seen set at frontier scale.

    One unsharded :class:`CuckooFilter` would funnel one (bucket,
    fingerprint) pair per URL through the driver, whose kick-loop insertion
    is a serial bottleneck, into one driver-memory blob. Sharding by an
    independent url-hash fixes both, mirroring :class:`ShardedBloom`:

    * **build/maintenance is distributed** — executors hash URLs to
      (shard, bucket, fingerprint), pairs shuffle once on shard, and each
      shard's kick-loop insertion runs inside ONE ``applyInPandas`` task
      against that shard's own table; only the updated serialized tables
      (n_shards rows, never per-URL pairs) return to the driver;
    * **state is per-shard** — at design scale shard tables live in a
      keyed table and probes broadcast only the shards a partition needs
      (same story as the bloom's 12 GB @ 10^10 keys); saturation degrades
      per shard, not globally.

    Insertion order within a shard is made deterministic by sorting the
    wave's pairs, so the built tables are independent of input
    partitioning. Same no-false-negative contract as the single filter:
    stash + per-shard saturation degrade to maybe-seen, the crawler's
    exact anti-join decides.
    """

    def __init__(
        self,
        n_shards: int = 4,
        n_buckets_per_shard: int = 1 << 16,
        max_kicks: int = 500,
        stash_max: int = 512,
    ) -> None:
        self.n_shards = n_shards
        self.shards: List[CuckooFilter] = [
            CuckooFilter(n_buckets_per_shard, max_kicks, stash_max)
            for _ in range(n_shards)
        ]

    def _shard(self, item: str) -> int:
        # blake2b upper-64 — independent of both the crc32 fingerprint and
        # the lower-64 bucket index, so shard routing does not correlate
        # with in-shard placement
        _, h2 = _hash_pair(item)
        return h2 % self.n_shards

    # -- driver-side ops (seeds, small waves, evict) -------------------
    def add(self, item: str) -> bool:
        return self.shards[self._shard(item)].add(item)

    def contains(self, item: str) -> bool:
        return self.shards[self._shard(item)].contains(item)

    def delete(self, item: str) -> bool:
        return self.shards[self._shard(item)].delete(item)

    @property
    def saturated(self) -> bool:
        return all(s.saturated for s in self.shards)

    def probe_parts(self):
        """(router, per-shard contains closures): part i is shard i's
        CuckooFilter bound ``contains`` — pickling it ships that shard's
        table + stash only, so executors fetch just the shards their
        URLs route to (blake2b upper-64 routing, same as ``_shard``)."""
        n_shards = self.n_shards

        def router(item: str) -> int:
            _, h2 = _hash_pair(item)
            return h2 % n_shards

        return router, [s.contains for s in self.shards]

    # -- distributed build / maintenance -------------------------------
    def _pairs_df(self, df, url_col: str):
        n_shards = self.n_shards
        n = self.shards[0].n

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                sh, i1s, fps = [], [], []
                for u in pdf[url_col]:
                    if u is not None:
                        h1, h2 = _hash_pair(u)
                        sh.append(h2 % n_shards)
                        i1s.append(h1 % n)
                        fps.append((zlib.crc32(u.encode("utf-8")) & 0xFFFF) or 1)
                yield pd.DataFrame(
                    {
                        "shard": np.array(sh, dtype=np.int32),
                        "i1": np.array(i1s, dtype=np.int64),
                        "fp": np.array(fps, dtype=np.int64),
                    }
                )

        return df.select(url_col).mapInPandas(gen, schema="shard int, i1 long, fp long")

    def add_positions(
        self, df, url_col: str = "url", n_hint: int | None = None
    ) -> None:
        """Distributed incremental insert (the cuckoo twin of the bloom's
        position build, with shard-local kick loops): executors hash,
        pairs shuffle once on shard, each shard's insertion runs in one
        task over the shard's CURRENT state, and only the n_shards updated
        serialized tables come back to the driver. There is one strategy,
        so ``n_hint`` is unused."""
        spark = df.sparkSession
        pairs = self._pairs_df(df, url_col)

        states = [
            (i,) + self.shards[i].state_tuple() for i in range(self.n_shards)
        ]
        state_df = spark.createDataFrame(  # Arrow path: JVM LocalTableScan
            pd.DataFrame(
                states, columns=["shard", "tbl", "stash", "saturated"]
            ),
        )
        params = (self.shards[0].n, self.shards[0].max_kicks, self.shards[0].stash_max)

        def upd(key, pairs_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
            filt = CuckooFilter(*params)
            if len(state_pdf):
                filt.load_state(
                    state_pdf["tbl"].iloc[0],
                    state_pdf["stash"].iloc[0],
                    state_pdf["saturated"].iloc[0],
                )
            if len(pairs_pdf):
                # deterministic insertion order: the built table must not
                # depend on how the wave's pairs were partitioned
                pairs_pdf = pairs_pdf.sort_values(["i1", "fp"], kind="mergesort")
                for i1, fp in zip(pairs_pdf["i1"], pairs_pdf["fp"]):
                    filt.add_pair(int(i1), int(fp))
            tbl, stash, sat = filt.state_tuple()
            return pd.DataFrame(
                {
                    "shard": [int(key[0])],
                    "tbl": [tbl],
                    "stash": [stash],
                    "saturated": [sat],
                }
            )

        rows = (
            pairs.groupBy("shard")
            .cogroup(state_df.groupBy("shard"))
            .applyInPandas(upd, _CUCKOO_STATE_SCHEMA)
            .collect()
        )
        for r in rows:
            self.shards[r["shard"]].load_state(
                bytes(r["tbl"]), r["stash"], r["saturated"]
            )
