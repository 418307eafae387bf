"""Bloom seen-set properties: zero false negatives, FP rate within
bound, filter_unseen exactness (SURVEY.md §5.4)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F


def _urls(spark, start, n):
    return spark.range(start, start + n).select(
        F.format_string("http://h%d.test/p%d", F.pmod("id", F.lit(97)), F.col("id")).alias("url"),
        F.xxhash64(F.format_string("http://h%d.test/p%d", F.pmod("id", F.lit(97)), F.col("id"))).alias(
            "url_hash"
        ),
    )


def test_bloom_no_false_negatives(spark):
    from tripwire_spark.operators.seen import BloomSeenSet

    bloom = BloomSeenSet(n_buckets=8, bits_per_key=10)
    seen = _urls(spark, 0, 5000)
    sketch = bloom.build(seen).persist()
    flagged = bloom.probe(seen, sketch).persist()
    assert flagged.filter(F.col("maybe_seen").isNull()).count() == 0  # every row flagged
    assert flagged.filter(~F.col("maybe_seen")).count() == 0  # NEVER miss a seen url


def test_bloom_fp_rate(spark):
    from tripwire_spark.operators.seen import BloomSeenSet

    bloom = BloomSeenSet(n_buckets=8, bits_per_key=10)
    sketch = bloom.build(_urls(spark, 0, 5000)).persist()
    unseen = _urls(spark, 1_000_000, 5000)
    fp = bloom.probe(unseen, sketch).filter(F.col("maybe_seen")).count()
    assert fp / 5000 < 0.03  # theoretical ~1% at 10 bits/key; 3x slack


def test_filter_unseen_exact(spark):
    from tripwire_spark.operators.seen import BloomSeenSet, filter_unseen

    bloom = BloomSeenSet(n_buckets=8, bits_per_key=10)
    seen = _urls(spark, 0, 3000).persist()
    sketch = bloom.build(seen).persist()
    # candidates: half overlap the seen set, half are new
    cands = _urls(spark, 1500, 3000)
    out = filter_unseen(cands, seen, sketch, bloom)
    got = sorted(r.url for r in out.collect())
    want = sorted(r.url for r in _urls(spark, 3000, 1500).collect())
    assert got == want  # bloom+backstop == exact anti-join result


def test_incremental_merge_equals_full_build(spark):
    from tripwire_spark.operators.seen import BloomSeenSet

    bloom = BloomSeenSet(n_buckets=8, bits_per_key=10, capacity=100_000)
    a, b = _urls(spark, 0, 2000), _urls(spark, 2000, 2000)
    merged = bloom.merge(bloom.build(a), b).persist()
    # merged sketch must contain every url from both halves
    flagged = bloom.probe(_urls(spark, 0, 4000), merged)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0
    assert flagged.filter(F.col("maybe_seen").isNull()).count() == 0
    # and byte-identical to a one-shot build over the union
    full = {r.bucket: r.bits for r in bloom.build(a.unionByName(b)).collect()}
    inc = {r.bucket: r.bits for r in merged.collect()}
    assert full == inc


def test_sketch_snapshot_roundtrip(spark, tmp_path):
    from tripwire_spark.operators.seen import BloomSeenSet
    from tripwire_spark.sources.snapshots import SnapshotTable

    bloom = BloomSeenSet(n_buckets=4, bits_per_key=10)
    sk = bloom.build(_urls(spark, 0, 1000))
    t = SnapshotTable(spark, str(tmp_path), "seen_sketch")
    t.commit(sk, {"round": 1})
    restored = t.read()
    flagged = bloom.probe(_urls(spark, 0, 1000), restored).persist()
    assert flagged.filter(F.col("maybe_seen").isNull()).count() == 0
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_no_false_negatives_and_fp(spark):
    from tripwire_spark.operators.seen import CuckooSeenSet

    ck = CuckooSeenSet(n_buckets=8, capacity=50_000)
    seen = _urls(spark, 0, 5000)
    state = ck.build(seen).persist()
    flagged = ck.probe(seen, state).persist()
    assert flagged.filter(~F.col("maybe_seen")).count() == 0  # no false negatives
    unseen = _urls(spark, 1_000_000, 5000)
    fp = ck.probe(unseen, state).filter(F.col("maybe_seen")).count()
    assert fp / 5000 < 0.01  # 16-bit fingerprints: ~1.2e-4 expected


def test_cuckoo_delete_readmits(spark):
    from tripwire_spark.operators.seen import CuckooSeenSet

    ck = CuckooSeenSet(n_buckets=8, capacity=50_000)
    a, b = _urls(spark, 0, 2000).persist(), _urls(spark, 2000, 2000).persist()
    state = ck.build(a.unionByName(b)).persist()
    # delete half -> those urls probe as unseen again, the rest stay seen
    state2 = ck.delete(state, b).persist()
    still = ck.probe(a, state2).filter(~F.col("maybe_seen")).count()
    gone = ck.probe(b, state2).filter(F.col("maybe_seen")).count()
    assert still == 0  # a fully present (fp collisions with b possible but 0 expected)
    assert gone == 0   # b fully removed
    # and re-insert works
    state3 = ck.insert(state2, b).persist()
    assert ck.probe(b, state3).filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_high_load_no_false_negatives(spark):
    """Regression: the primary index must not be derived from the same
    low bits as the shard key (both mod powers of two), or each shard
    collapses to n_entries/n_buckets usable entries and silently drops
    items well below nominal load."""
    from tripwire_spark.operators.seen import CuckooSeenSet

    ck = CuckooSeenSet(n_buckets=64, capacity=60_000)  # ~76% shard load below
    seen = _urls(spark, 0, 50_000)
    state = ck.build(seen).persist()
    # every inserted item must be reported stored...
    assert sum(r.n_items for r in state.collect()) == seen.select("url_hash").distinct().count()
    # ...and must probe as seen
    assert ck.probe(seen, state).filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_reinsert_is_idempotent(spark):
    """Insert of already-present hashes must not store duplicate
    fingerprints: one delete then removes the item completely."""
    from tripwire_spark.operators.seen import CuckooSeenSet

    ck = CuckooSeenSet(n_buckets=8, capacity=50_000)
    b = _urls(spark, 0, 1000).persist()
    state = ck.insert(ck.build(b), b).persist()  # second insert is a no-op
    assert sum(r.n_items for r in state.collect()) == 1000
    gone = ck.delete(state, b)
    assert ck.probe(b, gone).filter(F.col("maybe_seen")).count() == 0


def test_cuckoo_incremental_matches_full_build(spark):
    from tripwire_spark.operators.seen import CuckooSeenSet

    ck = CuckooSeenSet(n_buckets=8, capacity=50_000)
    a, b = _urls(spark, 0, 2000), _urls(spark, 2000, 2000)
    merged = ck.insert(ck.build(a), b).persist()
    assert ck.probe(_urls(spark, 0, 4000), merged).filter(~F.col("maybe_seen")).count() == 0


# -- SeenState delta segments (O(new) per-round state) -------------------


def _admit(svc, cands, state, next_seg=1, order_cols=()):
    from tripwire_spark.operators.seen import SeenState

    out = svc.admit(cands, state, "url_hash", list(order_cols), next_seg=next_seg).persist()
    fresh, delta = SeenState.split(out, cands.columns)
    return fresh, delta


def _oracle_fresh(cands, admitted, order_cols=()):
    """First-principles admit: the first candidate row per hash in
    ``order_cols`` order, minus every hash in ``admitted``."""
    first = {}
    for r in sorted(cands.collect(), key=lambda r: tuple(r[c] for c in order_cols)):
        first.setdefault(r["url_hash"], r)
    return sorted(tuple(r) for h, r in first.items() if h not in admitted)


def test_seen_state_admit_emits_only_delta_segments(spark):
    """admit() writes O(new) state: the kind=1 output is ONE new segment
    per touched bucket holding only this round's fresh hashes — prior
    segments are never re-emitted through the shuffle."""
    from tripwire_spark.operators.seen import SeenState

    svc = SeenState(n_buckets=8)
    state = svc.init(_urls(spark, 0, 4000), "url_hash").persist()
    # candidates confined to buckets {0, 1}: half already seen, half new
    cands = (
        _urls(spark, 2000, 4000)
        .filter(svc.bucket_col(F.col("url_hash")).isin(0, 1))
        .persist()
    )
    n_new = cands.filter(F.col("url_hash").isin(
        [r.url_hash for r in _urls(spark, 4000, 2000).collect()]
    )).count()
    fresh, delta = _admit(svc, cands, state)
    drows = delta.collect()
    # delta rows exist only for touched buckets, one segment each
    assert {r.bucket for r in drows} <= {0, 1}
    assert len(drows) == len({r.bucket for r in drows})
    # delta carries exactly the fresh hashes, nothing from prior state
    assert sum(r.n_items for r in drows) == fresh.count() == n_new
    assert all(r.seg == 1 for r in drows)  # seeded seg=0 + one new


def test_seen_state_untouched_buckets_byte_identical(spark):
    """Buckets receiving no candidates contribute zero bytes to the admit
    shuffle (LeftSemi-pruned) and their stored blobs flow to the next
    state byte-identical."""
    from tripwire_spark.operators.seen import SeenState

    svc = SeenState(n_buckets=8)
    state = svc.init(_urls(spark, 0, 4000), "url_hash").persist()
    before = {
        (r.bucket, r.seg): (r.bloom, r.hashes, r.n_items) for r in state.collect()
    }
    cands = (
        _urls(spark, 4000, 1000)
        .filter(svc.bucket_col(F.col("url_hash")).isin(0, 1))
        .persist()
    )
    out = svc.admit(cands, state, "url_hash", [], next_seg=1).persist()
    # the state side of the cogroup is pruned to touched buckets only
    assert "LeftSemi" in out._jdf.queryExecution().executedPlan().toString()
    _, delta = SeenState.split(out, ["url", "url_hash"])
    nxt = SeenState.advance(state, delta).persist()
    after = {(r.bucket, r.seg): (r.bloom, r.hashes, r.n_items) for r in nxt.collect()}
    for key, blob in before.items():
        assert after[key] == blob  # prior segments byte-identical
    # and every new segment belongs to a touched bucket
    assert all(b in (0, 1) for (b, s) in set(after) - set(before))


def test_seen_state_segmented_membership_and_compact(spark):
    """Multi-round segmented state is membership-exact against the
    first-principles oracle (first candidate per hash by the order
    columns, minus everything admitted before), re-admitting seen urls
    yields zero fresh, and compact() folds all segments into one per
    bucket while preserving the exact hash set."""
    from tripwire_spark.operators.seen import SeenState

    svc = SeenState(n_buckets=4)
    state = svc.init(_urls(spark, 0, 1000), "url_hash").persist()
    admitted = {r.url_hash for r in _urls(spark, 0, 1000).collect()}
    for rnd, start in enumerate((500, 1200, 1800), start=1):  # overlapping rounds
        # in-batch duplicates: the overlap's second copy sorts first by ord
        cands = (
            _urls(spark, start, 1000).withColumn("ord", F.lit(2))
            .unionByName(_urls(spark, start + 600, 400).withColumn("ord", F.lit(1)))
            .persist()
        )
        want = _oracle_fresh(cands, admitted, ["ord"])
        fresh, delta = _admit(svc, cands, state, next_seg=rnd, order_cols=["ord"])
        assert sorted(tuple(r) for r in fresh.collect()) == want
        assert all(r.seg == rnd for r in delta.collect())
        admitted |= {r.url_hash for r in cands.collect()}
        state = SeenState.advance(state, delta).persist()
    # after all rounds: total distinct = 0..2800
    total = sum(r.n_items for r in state.collect())
    assert total == len(admitted) == 2800
    # re-admitting anything in range yields zero fresh
    again, delta2 = _admit(svc, _urls(spark, 0, 2800), state, next_seg=4)
    assert again.count() == 0
    assert delta2.count() == 0  # no fresh -> no delta segment at all
    # compact: one seg=0 row per bucket, same membership
    compacted = svc.compact(state).persist()
    rows = compacted.collect()
    assert len(rows) == len({r.bucket for r in rows}) and all(r.seg == 0 for r in rows)
    assert sum(r.n_items for r in rows) == 2800
    again2, _ = _admit(svc, _urls(spark, 0, 2800), compacted, next_seg=5)
    assert again2.count() == 0


def test_seen_admit_bucketed_base_with_delta_side(spark, tmp_path):
    """VERDICT r4 ask #2 (the huge-state ∧ huge-delta corner): with the
    state persisted BUCKETED on ``bucket`` (snapshot tables with
    ``bucket_key='bucket'``) and the post-compaction delta segments
    passed via ``delta_side``, cogroup admit must (a) return exactly the
    plain-union answer, and (b) keep the BASE state's bytes out of every
    Exchange — only candidates + the small deltas ride the shuffle."""
    from tripwire_spark.operators.seen import SeenState
    from tripwire_spark.sources.snapshots import SnapshotTable

    svc = SeenState(n_buckets=8)
    base_mem = svc.init(_urls(spark, 0, 3000), "url_hash")
    tbl = SnapshotTable(
        spark, str(tmp_path), "seen_sketch", bucket_key="bucket", bucket_count=8
    )
    tbl.commit(base_mem, {"round": 0})
    base = tbl.read_base()
    # one delta segment batch on top of the base (urls 3000..3999)
    d_out = svc.admit(_urls(spark, 3000, 1000), base, "url_hash", [], next_seg=1).persist()
    _, delta = SeenState.split(d_out, ["url", "url_hash"])
    tbl.commit_append(delta, {"round": 1})
    base, deltas = tbl.read_base(), tbl.read_deltas()
    assert deltas is not None

    # overlaps base AND delta AND fresh; __ck is a SECOND full-range
    # 64-bit hash column riding along (like discover's D2 ck) — its
    # byte-exact survival pins the no-float64-upcast contract (one null
    # in an int64 Arrow column silently rounds every value past 2^53)
    cands = _urls(spark, 2500, 2500).withColumn(
        "__ck", F.xxhash64("url", F.lit("salt"))
    )
    out = svc.admit(cands, base, "url_hash", [], next_seg=2, delta_side=deltas).persist()
    fresh, delta2 = SeenState.split(out, ["url", "url_hash", "__ck"])
    # (a) answer == the plain cogroup over the unioned state
    ref_out = svc.admit(
        cands, SeenState.advance(base, deltas), "url_hash", [], next_seg=2
    ).persist()
    ref_fresh, ref_delta = SeenState.split(ref_out, ["url", "url_hash", "__ck"])
    assert sorted((r["url"], r["__ck"]) for r in fresh.collect()) == sorted(
        (r["url"], r["__ck"]) for r in ref_fresh.collect()
    )
    assert sorted((r.bucket, r.n_items) for r in delta2.collect()) == sorted(
        (r.bucket, r.n_items) for r in ref_delta.collect()
    )
    # and both equal first-principles: fresh = ids 4000..4999
    admitted = {r.url_hash for r in _urls(spark, 0, 4000).collect()}
    assert sorted(tuple(r) for r in fresh.collect()) == _oracle_fresh(cands, admitted)
    assert fresh.count() == 1000
    # (b) plan: the state IS read bucketed, and any Exchange carrying
    # segment blobs is the tagged candidate-side union (__seg_tag rides
    # along) — a state-side exchange would carry hashes WITHOUT the tag
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Bucketed: true" in plan
    blocks, cur = {}, None
    for line in plan.splitlines():
        if line.startswith("(") and ")" in line:
            name = line.split(")", 1)[1].strip()
            cur = line if name.startswith("Exchange") else None
        elif cur and line.strip().startswith("Input"):
            blocks[cur] = line
    for node, inputs in blocks.items():
        if "hashes" in inputs:
            assert "__seg_tag" in inputs, (
                f"state blobs in a non-delta exchange: {node} {inputs}"
            )


def test_seen_compact_rejects_mixed_geometry(spark):
    """ADVICE r4 #2: segments written under different bloom geometry
    must fail compaction with a clear error, not a numpy shape error."""
    from tripwire_spark.operators.seen import SeenState

    a = SeenState(n_buckets=4, capacity=1_000_000)
    b = SeenState(n_buckets=4, capacity=4_000_000)  # different m_bits
    sa = a.init(_urls(spark, 0, 500), "url_hash")
    sb = b.init(_urls(spark, 500, 500), "url_hash").withColumn(
        "seg", F.lit(1)
    )
    mixed = SeenState.advance(sa, sb)
    with pytest.raises(Exception, match="mixed bloom geometry"):
        a.compact(mixed).collect()


def test_admit_delta_side_preserves_full_range_int64_columns(spark):
    """Regression: null-padded segment rows in the candidate-side
    exchange float64-upcast the candidates' OTHER int64 columns,
    silently rounding 64-bit hashes (D2 ck, discovery parent qids) past
    the 52-bit mantissa — 1491 of 1500 companion hashes corrupted in
    the repro.  Zero-filled now;
    this pins byte-exact survival through the delta-side path, where
    every touched bucket's batch mixes segment and candidate rows."""
    from tripwire_spark.operators.seen import SeenState

    svc = SeenState(n_buckets=8)
    with_ck = lambda df: df.withColumn("ck64", F.xxhash64("url", F.lit("ck")))  # noqa: E731
    state = svc.init(_urls(spark, 0, 1500), "url_hash").persist()
    deltas = svc.init(_urls(spark, 1500, 1500), "url_hash").withColumn("seg", F.lit(1)).persist()
    cands = with_ck(_urls(spark, 2500, 2000))  # 500 hits (all in deltas), 1500 fresh
    out = svc.admit(cands, state, "url_hash", [], next_seg=2, delta_side=deltas)
    fresh, _ = SeenState.split(out, ["url", "url_hash", "ck64"])
    bad = fresh.filter(F.col("ck64") != F.xxhash64("url", F.lit("ck"))).count()
    assert bad == 0, f"{bad} corrupted 64-bit companion values"
    admitted = {r.url_hash for r in _urls(spark, 0, 3000).collect()}
    got = sorted(tuple(r) for r in fresh.collect())
    assert got == _oracle_fresh(cands, admitted)
    assert len(got) == 1500
