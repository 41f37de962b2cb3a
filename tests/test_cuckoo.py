"""Partitioned cuckoo-filter seen-set: no false negatives, bounded
false positives, deletion support (the capability bloom lacks), loud
shard-count mismatch and resize-on-overflow."""

from __future__ import annotations

import hashlib

import pytest

from ai4orgwebscraper_spark.frontier import cuckoo as C


def _keys(prefix: str, n: int) -> list[str]:
    return [hashlib.md5(f"{prefix}|{i}".encode()).hexdigest() for i in range(n)]


def _flags(spark, shards, keys, n_shards):
    cands = spark.createDataFrame([(k,) for k in keys], "url_hash string")
    return {
        r["url_hash"]: r["__maybe_seen"]
        for r in C.prefilter_new(cands, shards, n_shards=n_shards).collect()
    }


def test_no_false_negatives_and_bounded_fpp(spark):
    present = _keys("in", 3000)
    absent = _keys("out", 3000)
    seen = spark.createDataFrame([(k,) for k in present], "url_hash string")
    shards = C.build_cuckoo_shards(seen, n_shards=16)
    flagged = _flags(spark, shards, present + absent, n_shards=16)
    assert all(flagged[k] for k in present)  # NEVER a false negative
    fp = sum(1 for k in absent if flagged[k])
    # 16-bit fingerprints, 4-way buckets: fpp ~ 2*4/2^16 ≈ 0.00012
    assert fp / len(absent) < 0.01


def test_incremental_parts_or_semantics(spark):
    a, b = _keys("a", 400), _keys("b", 400)
    absent = _keys("c", 400)
    part_a = C.build_cuckoo_shards(
        spark.createDataFrame([(k,) for k in a], "url_hash string"), n_shards=8
    )
    part_b = C.build_cuckoo_shards(
        spark.createDataFrame([(k,) for k in b], "url_hash string"), n_shards=8
    )
    flagged = _flags(spark, [part_a, part_b], a + b + absent, n_shards=8)
    assert all(flagged[k] for k in a + b)
    assert sum(1 for k in absent if flagged[k]) < 8


def test_deletion_removes_only_deleted_keys(spark):
    """The bloom-can't-do-this operation: deleting inserted keys makes
    them absent while every other key stays present."""
    present = _keys("in", 1000)
    to_delete = present[:200]
    kept = present[200:]
    seen = spark.createDataFrame([(k,) for k in present], "url_hash string")
    shards = C.build_cuckoo_shards(seen, n_shards=8)
    del_df = spark.createDataFrame([(k,) for k in to_delete], "url_hash string")
    shards2 = C.delete_keys(shards, del_df, n_shards=8)
    flagged = _flags(spark, shards2, present, n_shards=8)
    assert all(flagged[k] for k in kept)  # survivors still present
    # deleted keys gone (identical-fingerprint collisions inside the
    # same bucket pair are ~2^-16-rare; allow a couple)
    still = sum(1 for k in to_delete if flagged[k])
    assert still <= 2, f"{still} deleted keys still reported present"


def test_delete_preserves_all_round_delta_rows(spark):
    """A shard can hold several table rows (incremental round deltas).
    delete_keys must keep EVERY row — review r03 caught an iloc[0]
    that silently dropped all later deltas — and membership for both
    deltas' keys must survive a delete against the union."""
    a, b = _keys("ra", 300), _keys("rb", 300)
    part_a = C.build_cuckoo_shards(
        spark.createDataFrame([(k,) for k in a], "url_hash string"), n_shards=8
    )
    part_b = C.build_cuckoo_shards(
        spark.createDataFrame([(k,) for k in b], "url_hash string"), n_shards=8
    )
    union = part_a.unionByName(part_b)
    n_rows_before = union.count()
    doomed = a[:50]
    out = C.delete_keys(
        union, spark.createDataFrame([(k,) for k in doomed], "url_hash string"),
        n_shards=8,
    )
    assert out.count() == n_rows_before  # every delta row survives
    flagged = _flags(spark, out, a + b, n_shards=8)
    assert all(flagged[k] for k in a[50:] + b)  # both deltas' survivors
    assert sum(1 for k in doomed if flagged[k]) <= 2  # deleted gone


def test_shard_count_mismatch_fails_loudly(spark):
    present = _keys("in", 200)
    seen = spark.createDataFrame([(k,) for k in present], "url_hash string")
    shards = C.build_cuckoo_shards(seen, n_shards=8)
    with pytest.raises(Exception) as exc:
        _flags(spark, shards, present, n_shards=16)
    assert "CuckooShardMismatch" in str(exc.value) or "n_shards" in str(exc.value)


def test_overflow_resizes_not_drops(spark):
    """An undersized table must never silently drop keys (a dropped key
    is a false negative = duplicate admitted). r6 (VERDICT r05 #1): the
    build RESIZES the shard (m <- 2m, deterministic rebuild) instead of
    raising — the undersized build succeeds at a larger m_buckets and
    every key still tests present."""
    present = _keys("in", 2000)
    seen = spark.createDataFrame([(k,) for k in present], "url_hash string")
    shards = C.build_cuckoo_shards(seen, n_shards=1, expected_per_shard=64)
    row = shards.collect()[0]
    assert row["m_buckets"] > C._pow2_buckets(64)  # it grew
    cands = spark.createDataFrame([(k,) for k in present], "url_hash string")
    flagged = C.prefilter_new(cands, shards, n_shards=1).collect()
    assert all(r["__maybe_seen"] for r in flagged)  # zero false negatives
