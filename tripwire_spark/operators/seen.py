"""Partitioned Bloom-filter URL-seen set (with counting/cuckoo-style
deletion fallback), plus the exact anti-join backstop.

Scale math (SURVEY.md §7 hard part 6): 10^10 URLs x ~10 bits = ~12 GB
of bloom bits — far too big for one driver-side filter
(``df.stat.bloomFilter`` collects to the driver).  So the seen set is
sharded by ``bucket = url_hash % n_buckets``: each bucket owns an
independent bloom sized for its share, stored as one binary row in a
snapshot table.  Probing co-partitions candidates with sketches on the
bucket key, so each task touches exactly one bloom blob (a
zipPartitions-style join, never a broadcast of all bits).

The bloom is a PRE-FILTER: "definitely new" URLs skip the exact
anti-join entirely; "maybe seen" URLs (including the ~1% false
positives) fall through to the exact check, so the seen SET stays
exact.  All membership math is numpy over int64 arrays inside
applyInPandas — no per-row Python.

Hash scheme: double hashing h_i = h1 + i*h2 (Kirsch-Mitzenmacher) over
the already-computed JVM-side xxhash64 url_hash; h2 is an odd
avalanche-mixed variant, so no string re-hashing ever happens in
Python.
"""

from __future__ import annotations

import math
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MIX = np.int64(-7046029254386353131)  # 0x9E3779B97F4A7C15 as signed


def _h2(h1: np.ndarray) -> np.ndarray:
    """Avalanche-mix to an odd second hash (independent-ish of h1)."""
    x = h1 * MIX
    x = x ^ (x >> np.int64(29))
    return x | np.int64(1)


def _positions(h1: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) bit positions via double hashing, all-numpy."""
    h2 = _h2(h1)
    i = np.arange(k, dtype=np.int64)
    pos = h1[:, None] + i[None, :] * h2[:, None]
    return (pos % np.int64(m) + np.int64(m)) % np.int64(m)


def _bloom_bits(hs: np.ndarray, k: int, m: int) -> bytes:
    """The m-bit bloom array of ``hs`` (k double-hashed bits each)."""
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    if len(hs):
        pos = _positions(hs, k, m).ravel()
        np.bitwise_or.at(bits, pos // 8, np.uint8(1) << (pos % 8).astype(np.uint8))
    return bits.tobytes()


class BloomSeenSet:
    """Builder/prober/merger for the sharded bloom sketch table.

    ``capacity`` fixes each bucket's bit-array size up front
    (capacity x bits_per_key / n_buckets), which makes sketches
    **mergeable by bitwise OR**: a crawl round builds a partial sketch
    from only its NEW urls and ORs it into the persisted sketch —
    O(new) per round instead of O(frontier), the only shape that
    survives a 10^10-url frontier.  FP rate degrades gracefully if the
    true count overshoots capacity; the exact backstop keeps the seen
    SET exact regardless.
    """

    def __init__(self, n_buckets: int = 64, bits_per_key: int = 10, capacity: int = 1_000_000) -> None:
        self.n_buckets = n_buckets
        self.bits_per_key = bits_per_key
        self.k = max(1, round(bits_per_key * math.log(2)))  # optimal k
        self.m_bits = max(64, (capacity * bits_per_key) // n_buckets)

    def bucket_col(self, hash_col):
        return F.pmod(hash_col, F.lit(self.n_buckets)).cast("int")

    # -- build ------------------------------------------------------------
    def build(self, seen: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """seen(url_hash) -> sketch(bucket, bits, n_items, m_bits, k)."""
        k, m = self.k, self.m_bits

        def make(key, pdf: pd.DataFrame):
            hs = pdf["h"].to_numpy(dtype=np.int64)
            return pd.DataFrame(
                {
                    "bucket": [int(key[0])],
                    "bits": [_bloom_bits(hs, k, m)],
                    "n_items": [len(hs)],
                    "m_bits": [m],
                    "k": [k],
                }
            )

        prepared = seen.select(
            self.bucket_col(F.col(hash_col)).alias("bucket"), F.col(hash_col).alias("h")
        )
        return prepared.groupBy("bucket").applyInPandas(
            make, schema="bucket int, bits binary, n_items long, m_bits long, k int"
        )

    # -- merge ------------------------------------------------------------
    def merge(self, sketch: DataFrame, new_urls: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """OR ``new_urls`` into ``sketch`` — the incremental per-round
        update (never rebuilds from the frontier).

        One cogrouped pass: each bucket task sees (new hashes, existing
        blob) together — no intermediate partial-sketch shuffle.
        """
        k_default, m_default = self.k, self.m_bits

        def orr(key, new_pdf: pd.DataFrame, sk_pdf: pd.DataFrame):
            if len(sk_pdf):
                m = int(sk_pdf["m_bits"].iloc[0])
                k = int(sk_pdf["k"].iloc[0])
                n = int(sk_pdf["n_items"].iloc[0])
            else:
                m, k, n = m_default, k_default, 0
            hs = new_pdf["h"].to_numpy(dtype=np.int64)
            bits = np.frombuffer(_bloom_bits(hs, k, m), dtype=np.uint8)
            if len(sk_pdf):
                bits = bits | np.frombuffer(sk_pdf["bits"].iloc[0], dtype=np.uint8)
            return pd.DataFrame(
                {
                    "bucket": [int(key[0])],
                    "bits": [bits.tobytes()],
                    "n_items": [n + len(hs)],
                    "m_bits": [m],
                    "k": [k],
                }
            )

        new = new_urls.select(
            self.bucket_col(F.col(hash_col)).alias("bucket"), F.col(hash_col).alias("h")
        )
        return (
            new.groupBy("bucket")
            .cogroup(sketch.groupBy("bucket"))
            .applyInPandas(orr, schema="bucket int, bits binary, n_items long, m_bits long, k int")
        )

    # -- probe ------------------------------------------------------------
    def probe(self, candidates: DataFrame, sketch: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """Adds ``maybe_seen`` (bloom positive) to candidates.

        One cogrouped pass per bucket: each task sees (its candidate
        rows, its one sketch blob) and flags in numpy — candidates flow
        straight through, so there is no flag-join-back or re-dedup
        shuffle.  New buckets (no sketch yet) probe as not-seen.
        NOTE: the hash column must be non-null (pandas would upcast to
        float64 and corrupt 64-bit hashes past the 52-bit mantissa).
        """
        k_default = self.k
        out_schema = T.StructType(
            list(candidates.schema.fields)
            + [T.StructField("maybe_seen", T.BooleanType(), True)]
        )

        def check(key, cand: pd.DataFrame, sk: pd.DataFrame):
            cand = cand.drop(columns="__bucket")
            if len(cand) == 0:
                cand["maybe_seen"] = pd.Series([], dtype=bool)
                return cand
            hs = cand[hash_col].to_numpy(dtype=np.int64)
            if len(sk):
                bits = np.frombuffer(sk["bits"].iloc[0], dtype=np.uint8)
                m = int(sk["m_bits"].iloc[0])
                k = int(sk["k"].iloc[0]) or k_default
                pos = _positions(hs, k, m)
                b = (bits[pos // 8] >> (pos % 8).astype(np.uint8)) & 1
                cand["maybe_seen"] = b.all(axis=1)
            else:
                cand["maybe_seen"] = np.zeros(len(hs), dtype=bool)
            return cand

        cand = candidates.withColumn("__bucket", self.bucket_col(F.col(hash_col)))
        return (
            cand.groupBy("__bucket")
            .cogroup(sketch.groupBy(F.col("bucket").alias("__bucket")))
            .applyInPandas(check, schema=out_schema)
        )


def filter_unseen(
    candidates: DataFrame,
    exact_seen: DataFrame,
    sketch: DataFrame | None,
    bloom: "BloomSeenSet",
    hash_col: str = "url_hash",
    url_col: str = "url",
    caches: list | None = None,
) -> DataFrame:
    """The full unseen-filter: bloom pre-filter, exact backstop.

    definitely-new (bloom negative) rows PASS with no join; maybe-seen
    rows go through the exact anti-join, which removes true positives
    and re-admits bloom false positives.  Result is exactly the unseen
    candidates, at a fraction of the anti-join input.

    ``flagged`` is persisted (lifecycle handed to ``caches`` when
    given): the fresh/maybe split and the downstream union would
    otherwise re-run the entire candidate subtree (extraction UDFs,
    dedup window, probe) once per consumer.
    """
    if sketch is None:
        return candidates.join(exact_seen.select(url_col), url_col, "left_anti")
    flagged = bloom.probe(candidates, sketch, hash_col).persist()
    if caches is not None:
        caches.append(flagged)
    fresh = flagged.filter(~F.coalesce(F.col("maybe_seen"), F.lit(False))).drop("maybe_seen")
    maybe = flagged.filter(F.coalesce(F.col("maybe_seen"), F.lit(False))).drop("maybe_seen")
    readmitted = maybe.join(exact_seen.select(url_col), url_col, "left_anti")
    return fresh.unionByName(readmitted)


class SeenState:
    """Bucket-sharded URL-seen *state service* with **delta segments**:
    rows keyed (bucket, seg), each holding (bloom bits of the segment's
    hashes, sorted int64 hash array of the segment).

    ``admit()`` performs the entire per-round seen-set interaction —
    in-round dedup, membership test, state update — as ONE cogrouped
    ``applyInPandas`` pass: candidates shuffle once (by bucket), the
    state side is a handful of blob rows per bucket, and the output
    carries the admitted (fresh) candidates plus ONE NEW delta segment
    per touched bucket.  This replaces a dedup window + bloom probe +
    exact anti-join + sketch merge (4+ shuffles, 2 driver actions) with
    a single shuffle round-trip — the difference between a ~35-stage
    and a ~10-stage crawl round, which is what dominates wall-clock on
    a real cluster's scheduler as much as in local mode.

    Per-round cost is **O(new), not O(total)**, on both axes the old
    design got wrong:

    - **state written per round = O(new urls)**: admit emits only a
      delta segment (this round's fresh hashes + their bloom bits);
      prior segments are never re-emitted through the shuffle or the
      snapshot commit (Iceberg append, not rewrite).  Segment sprawl is
      bounded by lazy ``compact()`` (merge all segments of a bucket
      into one) every K rounds — amortized O(total/K) per round,
      tunable.
    - **state read per round = touched buckets only**: the state input
      is semi-joined against the candidates' distinct bucket set
      (broadcast — at most n_buckets ints), so buckets receiving no
      candidates this round never enter the cogroup shuffle at all and
      their stored blobs pass to the next snapshot byte-identical
      (asserted in tests/test_seen.py).  With uniform hashing a large
      round touches every bucket — then the read is the bloom+hash
      working set, which membership fundamentally requires — but
      sparse rounds (crawl tail, targeted re-crawls) read only their
      slice.

    Scale math: n_buckets is the sharding knob.  At 10^10 urls with
    n_buckets=4096, each bucket's COMPACTED state is ~20 MB of hashes +
    ~3 MB of bloom bits — one comfortable Arrow blob per task; a
    round's delta segments are KBs.  The per-segment bloom bits ride
    along for the spill regime (state too big to load → bloom prefilter
    + exact backstop, see ``filter_unseen``; segment blooms OR together
    at compaction); in the in-core regime the sorted-array
    ``searchsorted`` per segment IS the exact check.  Membership is
    hash-exact (xxhash64): P[any collision] ≈ n²/2^65 ≈ 0.003 even at
    10^10 urls, and the fixture tests compare url SETS, where no
    collisions occur at test scale.

    Reference parity: the seen set is the already-queued check of
    queue_sites (runners/queue_sites:117-127) keyed on the canonical
    url (schema.sql:902-907 norm_url), per SURVEY.md §2.7 D7/F2.
    """

    STATE_SCHEMA = (
        "bucket int, seg int, bloom binary, hashes binary, n_items long, m_bits long, k int"
    )

    def __init__(self, n_buckets: int = 64, bits_per_key: int = 10, capacity: int = 1_000_000) -> None:
        self.n_buckets = n_buckets
        self.bits_per_key = bits_per_key
        self.k = max(1, round(bits_per_key * math.log(2)))
        self.m_bits = max(64, (capacity * bits_per_key) // n_buckets)

    def bucket_col(self, hash_col):
        return F.pmod(hash_col, F.lit(self.n_buckets)).cast("int")

    def init(self, urls: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """Seed state from an initial url-hash set (e.g. the seeded
        frontier): one seg=0 row per bucket."""
        k, m = self.k, self.m_bits

        def make(key, pdf: pd.DataFrame):
            hs = np.unique(pdf["h"].to_numpy(dtype=np.int64))
            return pd.DataFrame(
                {
                    "bucket": [int(key[0])],
                    "seg": [0],
                    "bloom": [_bloom_bits(hs, k, m)],
                    "hashes": [hs.tobytes()],
                    "n_items": [len(hs)],
                    "m_bits": [m],
                    "k": [k],
                }
            )

        prepared = urls.select(self.bucket_col(F.col(hash_col)).alias("bucket"), F.col(hash_col).alias("h"))
        return prepared.groupBy("bucket").applyInPandas(make, schema=self.STATE_SCHEMA)

    def admit(
        self,
        candidates: DataFrame,
        state: DataFrame,
        hash_col: str,
        order_cols: list[str],
        next_seg: int,
        delta_side: DataFrame | None = None,
    ) -> DataFrame:
        """(candidates, state) -> mixed rows: kind=0 fresh candidates,
        kind=1 the NEW delta segment per touched bucket (one row, only
        this round's fresh hashes, numbered ``next_seg`` — prior segments
        are NOT re-emitted).  Compose the next state with
        ``advance(state, delta)`` (in memory) or an append-commit of the
        delta (snapshot table).  Pass the round number as ``next_seg``
        from a crawl loop: monotonic ids are all advance/compact need.

        One cogroup by bucket.  The state side is pruned to TOUCHED
        buckets first (broadcast semi-join on the candidates' distinct
        bucket set): buckets with no candidates this round contribute
        zero bytes to the shuffle and their stored rows flow to the next
        snapshot untouched.  Each bucket task dedups its candidates,
        checks them against every segment by ``searchsorted`` and builds
        the delta segment plus its bloom, all in numpy.

        ``delta_side``: delta SEGMENTS that ride the candidate-side
        exchange instead of the state side.  Persist the compacted state
        **bucketed on** ``bucket`` (snapshot tables with
        ``bucket_key="bucket"``) and pass it as ``state`` — a bucketed
        table scan satisfies the cogroup's clustering requirement, so
        the base state's bytes never enter an Exchange (plan-asserted
        in tests/test_seen.py) — then pass the (small, O(new x rounds-
        since-compaction)) un-bucketed delta segments here; they are
        padded to the candidate shape and shuffled WITH the candidates.
        Exchange bytes per round: O(candidates) + O(deltas since
        compaction); state bytes moved: zero.

        Dedup within the batch keeps the first row per ``hash_col`` in
        ``order_cols`` ascending order (pass a total order for
        determinism).  ``hash_col`` must be non-null (pandas float64
        upcast would corrupt 64-bit hashes).
        """
        k_d, m_d = self.k, self.m_bits
        cand_fields = [
            T.StructField(f.name, f.dataType, True) for f in candidates.schema.fields
        ]
        out_schema = T.StructType(
            [T.StructField("kind", T.IntegerType(), False),
             T.StructField("bucket", T.IntegerType(), False),
             T.StructField("seg", T.IntegerType(), True)]
            + cand_fields
            + [
                T.StructField("bloom", T.BinaryType(), True),
                T.StructField("hashes", T.BinaryType(), True),
                T.StructField("n_items", T.LongType(), True),
                T.StructField("m_bits", T.LongType(), True),
                T.StructField("k", T.IntegerType(), True),
            ]
        )
        cand_cols = [f.name for f in cand_fields]
        seg_cols = ["seg", "bloom", "hashes", "n_items", "m_bits", "k"]
        out_cols = ["kind", "bucket", "seg", *cand_cols, *seg_cols[1:]]
        next_seg = int(next_seg)
        with_deltas = delta_side is not None

        cand = candidates.withColumn("__bucket", self.bucket_col(F.col(hash_col)))
        # Touched-bucket pruning: at most n_buckets distinct ints,
        # broadcast; untouched state rows never enter the shuffle.
        touched = cand.select(F.col("__bucket").alias("bucket")).distinct()
        state_in = state.join(F.broadcast(touched), "bucket", "left_semi")
        left = cand
        if with_deltas:
            null_seg = [
                F.lit(None).cast(t).alias(c)
                for c, t in zip(seg_cols, ("int", "binary", "binary", "long", "long", "int"))
            ]
            # EVERY integral candidate column is zero-filled (not NULL) on
            # segment rows: one null in an int64 Arrow column makes pandas
            # deliver the whole column as float64, corrupting the CANDIDATE
            # values sharing it past the 52-bit mantissa — and candidate
            # frames carry 64-bit hashes beyond hash_col (parent qids, D2
            # ck hashes).  Segment rows' candidate fields are never read,
            # so the fill value is free; non-integral types stay NULL.
            _integral = ("long", "int", "integer", "short", "byte", "bigint", "smallint", "tinyint")
            null_cand = [
                F.lit(0).cast(f.dataType).alias(f.name)
                if f.dataType.simpleString() in _integral
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in candidates.schema.fields
            ]
            left = cand.select(
                "__bucket", F.lit(0).alias("__seg_tag"), *cand_cols, *null_seg
            ).unionByName(
                delta_side.select(
                    F.col("bucket").alias("__bucket"), F.lit(1).alias("__seg_tag"),
                    *null_cand, *seg_cols,
                )
            )

        def step(key, lf: pd.DataFrame, st: pd.DataFrame):
            bucket = int(key[0])
            segs = [np.frombuffer(b, dtype=np.int64) for b in st["hashes"]]
            geom = st  # bloom geometry comes from the stored segments
            if with_deltas:
                is_seg = lf["__seg_tag"].to_numpy() == 1
                dsegs = lf[is_seg]
                segs += [np.frombuffer(b, dtype=np.int64) for b in dsegs["hashes"]]
                if not len(st):
                    geom = dsegs
                lf = lf[~is_seg]
            cand = lf.drop(columns=[c for c in lf.columns if c not in cand_cols])
            if len(geom):
                m, kk = int(geom["m_bits"].iloc[0]), int(geom["k"].iloc[0])
            else:
                m, kk = m_d, k_d
            if len(cand):
                if order_cols:
                    cand = cand.sort_values([hash_col, *order_cols], kind="mergesort")
                cand = cand.drop_duplicates(subset=[hash_col], keep="first")
                hs = cand[hash_col].to_numpy(dtype=np.int64)
                seen = np.zeros(len(hs), dtype=bool)
                for old in segs:  # each segment is sorted
                    if len(old):
                        idx = np.clip(np.searchsorted(old, hs), 0, len(old) - 1)
                        seen |= old[idx] == hs
                fresh = cand[~seen].copy()
                fhs = np.sort(hs[~seen])
            else:
                fresh = cand
                fhs = np.empty(0, dtype=np.int64)
            fresh.insert(0, "kind", 0)
            fresh.insert(1, "bucket", bucket)
            for c in seg_cols:
                fresh[c] = None
            if len(fhs) == 0:
                return fresh[out_cols]
            # delta bloom covers ONLY this segment's hashes; segment
            # blooms OR together at compact() time (same m, same k).
            st_row = {c: [None] for c in cand_cols}
            st_row.update(
                kind=[1], bucket=[bucket], seg=[next_seg],
                bloom=[_bloom_bits(fhs, kk, m)], hashes=[fhs.tobytes()],
                n_items=[len(fhs)], m_bits=[m], k=[kk],
            )
            with warnings.catch_warnings():
                # all-NA padding columns are intentional (union schema)
                warnings.simplefilter("ignore", FutureWarning)
                out = pd.concat([fresh, pd.DataFrame(st_row)], ignore_index=True)
            return out[out_cols]

        return (
            left.groupBy("__bucket")
            .cogroup(state_in.groupBy(F.col("bucket").alias("__bucket")))
            .applyInPandas(step, schema=out_schema)
        )

    @staticmethod
    def split(admitted: DataFrame, cand_cols: list[str]) -> tuple[DataFrame, DataFrame]:
        """(fresh candidates, NEW delta segments) from a cached admit()
        result.  The delta is O(new urls); union it onto the prior state
        (``advance``) or append-commit it to the state's snapshot table."""
        fresh = admitted.filter(F.col("kind") == 0).select(*cand_cols)
        delta = admitted.filter(F.col("kind") == 1).select(
            "bucket", "seg", "bloom", "hashes", "n_items", "m_bits", "k"
        )
        return fresh, delta

    @staticmethod
    def advance(state: DataFrame, delta: DataFrame) -> DataFrame:
        """Next-round state = prior segments (byte-untouched) + the new
        delta segments."""
        cols = ["bucket", "seg", "bloom", "hashes", "n_items", "m_bits", "k"]
        return state.select(*cols).unionByName(delta.select(*cols))

    def compact(self, state: DataFrame) -> DataFrame:
        """Merge every bucket's segments into one seg=0 row (sorted-hash
        union, bloom OR).  Lazy maintenance: run every K rounds, so the
        per-round amortized rewrite is O(total/K) while admit() itself
        stays O(new)."""

        def merge(key, pdf: pd.DataFrame):
            hs = (
                np.unique(np.concatenate([np.frombuffer(b, dtype=np.int64) for b in pdf["hashes"]]))
                if len(pdf)
                else np.empty(0, dtype=np.int64)
            )
            blooms = [np.frombuffer(b, dtype=np.uint8) for b in pdf["bloom"]]
            if len({len(b) for b in blooms}) > 1 or pdf["m_bits"].nunique() > 1:
                # mixed-geometry segments (state written under different
                # capacity/bits_per_key services) cannot OR together;
                # fail with the cause instead of a shape error deep in
                # numpy.  Exact membership was never at risk (it uses
                # the hash arrays), only the bloom merge is.
                raise ValueError(
                    f"seen-state bucket {int(key[0])}: segments carry mixed bloom "
                    f"geometry (m_bits={sorted(pdf['m_bits'].unique().tolist())}) — "
                    "resume the crawl with the SeenState capacity/bits_per_key the "
                    "checkpoint was written under"
                )
            bloom = np.bitwise_or.reduce(blooms) if blooms else np.empty(0, dtype=np.uint8)
            return pd.DataFrame(
                {
                    "bucket": [int(key[0])],
                    "seg": [0],
                    "bloom": [bloom.tobytes()],
                    "hashes": [hs.tobytes()],
                    "n_items": [len(hs)],
                    "m_bits": [int(pdf["m_bits"].iloc[0])],
                    "k": [int(pdf["k"].iloc[0])],
                }
            )

        return state.groupBy("bucket").applyInPandas(merge, schema=self.STATE_SCHEMA)


class CuckooSeenSet:
    """Bucket-sharded cuckoo filter — the deletable seen-set variant
    (SURVEY.md §4 custom work 1: "cuckoo variant for deletions").

    Where the bloom sketch can only grow, a cuckoo filter supports
    DELETE — needed when frontier rows are retired (e.g. a disabled
    host's urls are dropped so they may be re-queued later) without
    rebuilding the whole seen structure.  Design mirrors SeenState:
    the key space is sharded by ``url_hash % n_buckets``; each shard
    owns an independent cuckoo table stored as one binary row
    (uint16 fingerprints, ``slots_per_entry``-way entries), so probe /
    insert / delete are cogrouped per-shard numpy passes, never a
    driver-side structure.

    Per-shard layout: ``table[n_entries, slots]`` of uint16; 0 = empty
    (fingerprints are mapped to 1..65535).  Entry choice i1 = h mod n,
    i2 = i1 XOR (fp * 0x5bd1e995) mod n — partial-key cuckoo hashing as
    in Fan et al., CoNEXT'14 ("Cuckoo Filter: Practically Better Than
    Bloom"); eviction random-walk is made deterministic by seeding the
    kick choice from the item hash.

    Scale math: at 10^10 urls / 4096 shards x 16-bit fingerprints at
    95% load, each shard blob is ~5 MB — same order as the SeenState
    hash arrays, one Arrow blob per task.  FP rate ~= 2*slots/2^16
    ~= 1.2e-4 at 4 slots.
    """

    SCHEMA = "bucket int, table binary, n_entries long, slots int, n_items long"
    KICK_MAX = 500

    def __init__(self, n_buckets: int = 64, capacity: int = 1_000_000, slots: int = 4) -> None:
        self.n_buckets = n_buckets
        self.slots = slots
        per = max(64, int(capacity / n_buckets / 0.95))
        # power-of-two entries so XOR relocation stays in range
        self.n_entries = 1 << max(4, (per // slots).bit_length())

    def bucket_col(self, hash_col):
        return F.pmod(hash_col, F.lit(self.n_buckets)).cast("int")

    # -- shard-local numpy kernels ---------------------------------------
    @staticmethod
    def _fp(hs: np.ndarray) -> np.ndarray:
        f = ((hs >> np.int64(40)) & np.int64(0xFFFF)).astype(np.uint16)
        return np.where(f == 0, np.uint16(1), f)

    @staticmethod
    def _alt(idx: np.ndarray, fp: np.ndarray, n: int) -> np.ndarray:
        return (idx ^ (fp.astype(np.int64) * np.int64(0x5BD1E995))) % np.int64(n)

    @staticmethod
    def _i1(hs: np.ndarray, n: int) -> np.ndarray:
        # splitmix64 finalizer BEFORE the mod: the shard key is
        # hs % n_buckets (low bits), and n is also a power of two, so a
        # bare hs % n would collapse every shard's primary index to
        # n / n_buckets distinct entries (losing items as false
        # negatives at moderate load).  Mixing decorrelates the entry
        # choice from the shard key.
        with np.errstate(over="ignore"):
            x = hs.astype(np.uint64)
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            x = x ^ (x >> np.uint64(31))
            return (x % np.uint64(n)).astype(np.int64)

    def _insert_many(self, table: np.ndarray, hs: np.ndarray) -> int:
        """Sequential per-item insert with deterministic kick walk.
        Returns number inserted.  A failed kick walk (table effectively
        full) is UNDONE slot-by-slot so previously-stored fingerprints
        are never lost — only the new item is dropped, and the caller
        surfaces the count via n_items."""
        n, slots = table.shape
        fps = self._fp(hs)
        i1s = self._i1(hs, n)
        inserted = 0
        for fp, i1 in zip(fps, i1s):
            i2 = int(self._alt(np.int64(i1), np.uint16(fp), n))
            done = False
            for idx in (int(i1), i2):
                row = table[idx]
                free = np.where(row == 0)[0]
                if len(free):
                    row[free[0]] = fp
                    done = True
                    break
            if done:
                inserted += 1
                continue
            # deterministic eviction walk seeded by the fingerprint
            cur_idx, cur_fp = int(i1), int(fp)
            state = (cur_fp * 2654435761 + cur_idx) & 0x7FFFFFFF
            ok = False
            path: list[tuple[int, int]] = []  # (entry, slot) swaps, in order
            for _ in range(self.KICK_MAX):
                state = (state * 1103515245 + 12345) & 0x7FFFFFFF
                slot = state % slots
                path.append((cur_idx, slot))
                cur_fp, table[cur_idx, slot] = int(table[cur_idx, slot]), cur_fp
                cur_idx = int(self._alt(np.int64(cur_idx), np.uint16(cur_fp), n))
                row = table[cur_idx]
                free = np.where(row == 0)[0]
                if len(free):
                    row[free[0]] = cur_fp
                    ok = True
                    break
            if ok:
                inserted += 1
            else:
                # roll the walk back: every displaced fingerprint returns
                # to its slot; the table is exactly as before this item
                for idx, slot in reversed(path):
                    cur_fp, table[idx, slot] = int(table[idx, slot]), cur_fp
        return inserted

    def _contains(self, table: np.ndarray, hs: np.ndarray) -> np.ndarray:
        n, _ = table.shape
        fps = self._fp(hs)
        i1 = self._i1(hs, n)
        i2 = self._alt(i1, fps, n)
        return ((table[i1] == fps[:, None]).any(axis=1)) | (
            (table[i2] == fps[:, None]).any(axis=1)
        )

    def _delete_many(self, table: np.ndarray, hs: np.ndarray) -> int:
        n, _ = table.shape
        fps = self._fp(hs)
        i1s = self._i1(hs, n)
        removed = 0
        for fp, i1 in zip(fps, i1s):
            for idx in (int(i1), int(self._alt(np.int64(i1), np.uint16(fp), n))):
                hit = np.where(table[idx] == fp)[0]
                if len(hit):
                    table[idx, hit[0]] = 0
                    removed += 1
                    break
        return removed

    # -- distributed API ---------------------------------------------------
    def build(self, urls: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        ne, slots = self.n_entries, self.slots

        def make(key, pdf: pd.DataFrame):
            table = np.zeros((ne, slots), dtype=np.uint16)
            hs = np.unique(pdf["h"].to_numpy(dtype=np.int64))
            n_in = self._insert_many(table, hs)
            return pd.DataFrame(
                {
                    "bucket": [int(key[0])],
                    "table": [table.tobytes()],
                    "n_entries": [ne],
                    "slots": [slots],
                    "n_items": [n_in],
                }
            )

        prep = urls.select(self.bucket_col(F.col(hash_col)).alias("bucket"), F.col(hash_col).alias("h"))
        return prep.groupBy("bucket").applyInPandas(make, schema=self.SCHEMA)

    def _apply(self, state: DataFrame, items: DataFrame, hash_col: str, op: str) -> DataFrame:
        ne, slots = self.n_entries, self.slots

        def step(key, new_pdf: pd.DataFrame, st_pdf: pd.DataFrame):
            if len(st_pdf):
                table = (
                    np.frombuffer(st_pdf["table"].iloc[0], dtype=np.uint16)
                    .reshape(int(st_pdf["n_entries"].iloc[0]), int(st_pdf["slots"].iloc[0]))
                    .copy()
                )
                n = int(st_pdf["n_items"].iloc[0])
            else:
                table = np.zeros((ne, slots), dtype=np.uint16)
                n = 0
            hs = np.unique(new_pdf["h"].to_numpy(dtype=np.int64))
            if op == "insert":
                # membership check first: re-inserting an already-present
                # hash would store a duplicate fingerprint (consuming
                # capacity and breaking one-delete-one-copy semantics).
                # Residual caveat: a genuinely-new hash aliasing an
                # existing (fp, entry) pair is skipped — indistinguishable
                # from a filter false positive, same ~1.2e-4 rate.
                hs = hs[~self._contains(table, hs)]
                n += self._insert_many(table, hs)
            else:
                n -= self._delete_many(table, hs)
            return pd.DataFrame(
                {
                    "bucket": [int(key[0])],
                    "table": [table.tobytes()],
                    "n_entries": [table.shape[0]],
                    "slots": [table.shape[1]],
                    "n_items": [n],
                }
            )

        new = items.select(self.bucket_col(F.col(hash_col)).alias("bucket"), F.col(hash_col).alias("h"))
        return (
            new.groupBy("bucket")
            .cogroup(state.groupBy("bucket"))
            .applyInPandas(step, schema=self.SCHEMA)
        )

    def insert(self, state: DataFrame, items: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        return self._apply(state, items, hash_col, "insert")

    def delete(self, state: DataFrame, items: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """Remove items so their urls may be re-admitted later — the
        operation a bloom sketch cannot do."""
        return self._apply(state, items, hash_col, "delete")

    def probe(self, candidates: DataFrame, state: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """Adds ``maybe_seen``; cogrouped per shard like SeenState."""
        out_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in candidates.schema.fields]
            + [T.StructField("maybe_seen", T.BooleanType(), True)]
        )

        def check(key, cand: pd.DataFrame, st: pd.DataFrame):
            cand = cand.drop(columns="__bucket")
            if len(cand) == 0:
                cand["maybe_seen"] = pd.Series([], dtype=bool)
                return cand
            hs = cand[hash_col].to_numpy(dtype=np.int64)
            if len(st):
                table = np.frombuffer(st["table"].iloc[0], dtype=np.uint16).reshape(
                    int(st["n_entries"].iloc[0]), int(st["slots"].iloc[0])
                )
                cand["maybe_seen"] = self._contains(table, hs)
            else:
                cand["maybe_seen"] = np.zeros(len(hs), dtype=bool)
            return cand

        cand = candidates.withColumn("__bucket", self.bucket_col(F.col(hash_col)))
        return (
            cand.groupBy("__bucket")
            .cogroup(state.groupBy(F.col("bucket").alias("__bucket")))
            .applyInPandas(check, schema=out_schema)
        )
