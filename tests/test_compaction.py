"""compact_blobs: fragmented groups merge to one blob, singletons pass
through byte-identical, duplicate buckets fail loudly, reads unchanged."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from sen2rts_spark.operators.compaction import compact_blobs
from sen2rts_spark.operators.gorilla_sink import decode_blobs, encode_blobs


def _tier(spark, n_ids=40, days=60, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    t0 = 1_704_067_200  # 2024-01-01
    for i in range(n_ids):
        for d in range(days):
            rows.append((str(i), (t0 + d * 86400) * 1_000_000,
                         float(np.round(rng.normal(10, 3), 6))))
    df = spark.createDataFrame(rows, "id string, us long, value double")
    return df.select(
        "id", (F.col("us") / 1e6).cast("timestamp").alias("bucket_start"),
        "value")


def _split_encode(spark, tier_df, cut_day, chunk_days=45):
    """Encode the tier in two time-disjoint commits → fragmented store."""
    cut = F.lit(f"2024-01-01").cast("timestamp") + F.expr(
        f"INTERVAL {cut_day} DAYS")
    a = encode_blobs(tier_df.filter(F.col("bucket_start") < cut),
                     "daily", chunk_days=chunk_days)
    b = encode_blobs(tier_df.filter(F.col("bucket_start") >= cut),
                     "daily", chunk_days=chunk_days)
    return a.unionByName(b)


def test_compaction_merges_and_preserves_values(spark):
    tier = _tier(spark)
    whole = encode_blobs(tier, "daily", chunk_days=45)
    fragged = _split_encode(spark, tier, cut_day=20, chunk_days=45)

    n_whole = whole.count()
    n_frag = fragged.count()
    assert n_frag > n_whole, "fixture must actually fragment"

    compacted = compact_blobs(fragged)
    # exactly one blob per group again
    assert compacted.count() == n_whole
    assert (compacted.groupBy("id", "tier", "chunk_start").count()
            .filter("count > 1").count() == 0)

    # reads are value-identical to the unfragmented store
    a = decode_blobs(compacted).orderBy("id", "bucket_start").collect()
    b = decode_blobs(whole).orderBy("id", "bucket_start").collect()
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert (ra["id"], ra["bucket_start"]) == (rb["id"], rb["bucket_start"])
        assert ra["value"] == rb["value"]  # bit-exact double round-trip

    # envelope columns recomputed from merged points (prune stays exact)
    env = (compacted.join(whole.select("id", "chunk_start",
                                       F.col("count").alias("c2"),
                                       F.col("min_ts").alias("lo2"),
                                       F.col("max_ts").alias("hi2")),
                          ["id", "chunk_start"])
           .filter((F.col("count") != F.col("c2"))
                   | (F.col("min_ts") != F.col("lo2"))
                   | (F.col("max_ts") != F.col("hi2"))))
    assert env.count() == 0


def test_singletons_pass_through_byte_identical(spark):
    tier = _tier(spark, n_ids=10, days=30)
    whole = encode_blobs(tier, "daily", chunk_days=45)
    out = compact_blobs(whole)
    orig = {(r["id"], r["chunk_start"]): bytes(r["blob"])
            for r in whole.collect()}
    got = {(r["id"], r["chunk_start"]): bytes(r["blob"])
           for r in out.collect()}
    assert got == orig  # no decode/re-encode on already-compact groups


def test_three_way_fragmentation(spark):
    tier = _tier(spark, n_ids=6, days=45)
    parts = []
    for lo, hi in ((0, 15), (15, 30), (30, 45)):
        cut_lo = F.lit("2024-01-01").cast("timestamp") + F.expr(
            f"INTERVAL {lo} DAYS")
        cut_hi = F.lit("2024-01-01").cast("timestamp") + F.expr(
            f"INTERVAL {hi} DAYS")
        parts.append(encode_blobs(
            tier.filter((F.col("bucket_start") >= cut_lo)
                        & (F.col("bucket_start") < cut_hi)),
            "daily", chunk_days=45))
    fragged = parts[0].unionByName(parts[1]).unionByName(parts[2])
    # epoch-aligned 45-day chunks cut the window at 2024-02-02: chunk 1
    # holds fragments from all 3 commits + chunk 2 from the last → 4/id
    assert fragged.count() == 24
    compacted = compact_blobs(fragged)
    assert compacted.count() == 12  # one blob per (id, chunk)
    pts = decode_blobs(compacted)
    assert pts.count() == 6 * 45
    # merged points sorted and contiguous per id
    from pyspark.sql import Window
    gaps = pts.withColumn(
        "d", F.col("bucket_start").cast("long")
        - F.lag(F.col("bucket_start").cast("long")).over(
            Window.partitionBy("id").orderBy("bucket_start")))
    assert gaps.filter((F.col("d").isNotNull())
                       & (F.col("d") != 86400)).count() == 0


def test_duplicate_bucket_raises(spark):
    tier = _tier(spark, n_ids=3, days=10)
    a = encode_blobs(tier, "daily", chunk_days=45)
    dup = a.unionByName(a)  # same buckets appended twice
    with pytest.raises(Exception, match="duplicate bucket"):
        compact_blobs(dup).collect()


def test_no_second_exchange_before_merge(spark):
    """The fragment branch reuses the window's hash exchange: between the
    merge MapInArrow and the Window node below it the plan holds only
    narrow ops (Sort/Filter/Project), never another Exchange."""
    tier = _tier(spark, n_ids=4, days=20)
    fragged = _split_encode(spark, tier, cut_day=10, chunk_days=45)
    plan = (compact_blobs(fragged)._jdf.queryExecution()
            .executedPlan().toString())
    lines = plan.splitlines()
    # the merge MapInArrow is the one whose child Sort orders by min_ts
    # (the encode stage's MapInArrow sorts by bucket_start only)
    mi = next(i for i, ln in enumerate(lines)
              if "MapInArrow" in ln
              and any("Sort" in nxt and "min_ts" in nxt
                      for nxt in lines[i + 1:i + 3]))
    wi = next(i for i, ln in enumerate(lines)
              if i > mi and "Window" in ln)
    between = "\n".join(lines[mi + 1:wi])
    assert "Exchange" not in between, between


def test_group_straddles_arrow_batches(spark):
    """The merge pass carries a group across Arrow batch boundaries: with
    maxRecordsPerBatch=2, a 3-fragment group spans two batches and the
    carried parts must merge exactly once."""
    tier = _tier(spark, n_ids=2, days=45)
    parts = []
    for lo, hi in ((0, 15), (15, 30), (30, 45)):
        cut_lo = F.lit("2024-01-01").cast("timestamp") + F.expr(
            f"INTERVAL {lo} DAYS")
        cut_hi = F.lit("2024-01-01").cast("timestamp") + F.expr(
            f"INTERVAL {hi} DAYS")
        parts.append(encode_blobs(
            tier.filter((F.col("bucket_start") >= cut_lo)
                        & (F.col("bucket_start") < cut_hi)),
            "daily", chunk_days=45))
    fragged = parts[0].unionByName(parts[1]).unionByName(parts[2]) \
        .coalesce(1)  # every group in ONE partition -> batch split matters
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "2")
        compacted = compact_blobs(fragged)
        rows = compacted.collect()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    per_group = {}
    for r in rows:
        per_group.setdefault((r["id"], r["chunk_start"]), []).append(r)
    assert all(len(v) == 1 for v in per_group.values()), per_group
    pts = decode_blobs(spark.createDataFrame(rows, compacted.schema))
    assert pts.count() == 2 * 45


def test_sink_group_straddles_arrow_batches(spark):
    """The sink's run walker carries a group across Arrow batch
    boundaries: with maxRecordsPerBatch=2 every (id, chunk) group spans
    several batches, and the blobs must equal the default batch size's
    byte for byte."""
    tier = _tier(spark, n_ids=5, days=50).unionByName(
        _tier(spark, n_ids=2, days=1, seed=3).withColumn(
            "id", F.concat(F.lit("one-"), "id")))  # single-point groups
    default = sorted(encode_blobs(tier, "daily", chunk_days=45).collect())
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "2")
        small = sorted(encode_blobs(tier, "daily", chunk_days=45).collect())
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert len(default) == 5 * 2 + 2
    assert small == default
