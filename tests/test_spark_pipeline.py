"""Spark-surface tests: full pipeline on the reference fixture series, the
synthetic pages source invariants, rollup tier exactness, blob round-trip."""

import datetime
import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(__file__))
from rda_reader import rda_table  # noqa: E402

DATA = "/root/reference/data"
EPOCH = datetime.date(1970, 1, 1)


@pytest.fixture(scope="module")
def ts_raw_df(spark):
    t = rda_table(f"{DATA}/ts_raw.rda", "ts_raw")
    rows = list(zip(t["id"], t["date"], t["orbit"], t["sensor"],
                    [None if math.isnan(v) else v for v in t["value"]],
                    [None if math.isnan(v) else v for v in t["qa"]]))
    return spark.createDataFrame(
        rows, "id string, date date, orbit string, sensor string, "
              "value double, qa double")


def test_spark_smooth_fill_cycles_golden(spark, ts_raw_df):
    from sen2rts_spark.operators.timeseries import cut_cycles, fill, smooth

    smoothed = smooth(ts_raw_df)
    filled = fill(smoothed)
    gold = rda_table(f"{DATA}/ts_filled.rda", "ts_filled")
    got = {(r["id"], r["date"]): r for r in filled.collect()}
    assert len(got) == len(gold["id"]) == 602
    for i in range(len(gold["id"])):
        key = (gold["id"][i], gold["date"][i])
        assert key in got
        gv, ov = gold["value"][i], got[key]["value"]
        if math.isnan(gv):
            assert ov is None or math.isnan(ov), key
        else:
            assert abs(gv - ov) < 1e-9, (key, gv, ov)
        assert got[key]["interpolated"] == gold["interpolated"][i]

    cyc = cut_cycles(filled).orderBy("id", "begin").collect()
    gcyc = rda_table(f"{DATA}/dt_cycles.rda", "dt_cycles")
    assert len(cyc) == 3
    for i, r in enumerate(cyc):
        assert (r["id"], r["year"], r["cycle"], r["begin"], r["end"],
                r["maxval"]) == (gcyc["id"][i], gcyc["year"][i],
                                 gcyc["cycle"][i], gcyc["begin"][i],
                                 gcyc["end"][i], gcyc["maxval"][i])
        assert abs(r["weight"] - gcyc["weight"][i]) < 1e-9


def test_spark_pheno_golden(spark, ts_raw_df):
    from sen2rts_spark.operators.timeseries import (cut_cycles, extract_pheno,
                                                    fill, smooth)
    filled = fill(smooth(ts_raw_df))
    filled.cache()
    cycles = cut_cycles(filled)
    pheno = extract_pheno(filled, cycles).orderBy("id", "begin").collect()
    gold = rda_table(f"{DATA}/dt_pheno.rda", "dt_pheno")
    assert len(pheno) == 3
    for i, r in enumerate(pheno):
        assert r["begin"] == gold["begin"][i]
        assert r["end"] == gold["end"][i]
        assert r["sos"] == gold["sos"][i]
        assert r["eos"] == gold["eos"][i]
        assert r["los"] == gold["los"][i]
        assert abs((r["pop"] - gold["pop"][i]).days) <= 1
        for k in ("mgs", "peak"):
            assert abs(r[k] - gold[k][i]) < 5e-3, (i, k, r[k], gold[k][i])


def test_pages_text_invariant_and_extract(spark):
    from sen2rts_spark.operators.extract import extract_obs, extract_text
    from sen2rts_spark.sources.pages import synth_pages
    import pyspark.sql.functions as F

    pages = synth_pages(spark, n_urls=24, n_slots=40)
    # per-row invariant: extracted text byte-identical
    bad = pages.withColumn("xt", extract_text(F.col("html"))) \
        .filter(F.col("xt") != F.col("text")).count()
    assert bad == 0

    obs = extract_obs(pages)
    rows = obs.collect()
    assert len(rows) > 0
    # (id, date) unique after aggregation (the reference's PK invariant)
    keys = [(r["id"], r["date"]) for r in rows]
    assert len(keys) == len(set(keys))
    # parsed values are plausible metrics, qa in [0, 1]
    for r in rows[:50]:
        assert r["value"] is not None and -1.5 < r["value"] < 1.5
        assert 0.0 <= r["qa"] <= 1.0


def test_rollup_tiers_exact(spark):
    from sen2rts_spark.operators.extract import extract_obs
    from sen2rts_spark.operators.rollup import rollup_raw, rollup_tier
    from sen2rts_spark.sources.pages import synth_pages
    import pyspark.sql.functions as F

    pages = synth_pages(spark, n_urls=12, n_slots=30, dup_pct=20)
    obs = extract_obs(pages).select(
        "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa")
    hourly = rollup_raw(obs, "hourly")
    daily = rollup_tier(hourly, "daily")
    weekly = rollup_tier(daily, "weekly")
    daily_direct = rollup_raw(obs, "daily")

    a = {(r["id"], r["bucket_start"]): r for r in daily.collect()}
    b = {(r["id"], r["bucket_start"]): r for r in daily_direct.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k]["count"] == b[k]["count"]
        assert abs(a[k]["value"] - b[k]["value"]) < 1e-12
        assert a[k]["vmin"] == b[k]["vmin"] and a[k]["vmax"] == b[k]["vmax"]
        assert a[k]["last_value"] == b[k]["last_value"]
    assert weekly.count() > 0


def test_rollup_sketch_tier_merge(spark):
    """HLL sketch tiers: weekly(daily(raw)) estimate == weekly(raw) estimate,
    and both exact at this cardinality (sparse-mode range)."""
    from sen2rts_spark.operators.extract import extract_obs
    from sen2rts_spark.operators.rollup import rollup_sketch, rollup_sketch_tier
    from sen2rts_spark.sources.pages import synth_pages
    import pyspark.sql.functions as F

    pages = synth_pages(spark, n_urls=12, n_slots=30, dup_pct=20)
    obs = extract_obs(pages).select(
        "id", F.col("date").cast("timestamp").alias("ts"),
        F.floor(F.col("value") * 50).cast("long").alias("key"))
    daily = rollup_sketch(obs, "daily", key_col="key")
    via_tiers = rollup_sketch_tier(daily, "weekly")
    direct = rollup_sketch(obs, "weekly", key_col="key")

    def est_map(df):
        return {(r["id"], r["bucket_start"]): (r["est"], r["count"])
                for r in df.select(
                    "id", "bucket_start", "count",
                    F.hll_sketch_estimate("key_sketch").alias("est")).collect()}

    a, b = est_map(via_tiers), est_map(direct)
    assert set(a) == set(b) and len(a) > 0
    assert a == b  # union of daily sketches is lossless at fixed lg_k
    exact = {(r["id"], r["bucket_start"]): r["n"]
             for r in obs.groupBy(
                 "id", F.window("ts", "604800 seconds").alias("win"))
             .agg(F.countDistinct("key").alias("n"))
             .select("id", F.col("win.start").alias("bucket_start"), "n")
             .collect()}
    for k, (est, _cnt) in a.items():
        assert est == exact[k]  # sparse range -> exact


def test_gorilla_blob_roundtrip_spark(spark):
    from sen2rts_spark.operators.extract import extract_obs
    from sen2rts_spark.operators.gorilla_sink import decode_blobs, encode_blobs
    from sen2rts_spark.operators.rollup import rollup_raw
    from sen2rts_spark.sources.pages import synth_pages
    import pyspark.sql.functions as F

    pages = synth_pages(spark, n_urls=8, n_slots=30)
    obs = extract_obs(pages).select(
        "id", F.col("date").cast("timestamp").alias("ts"), "value", "qa")
    daily = rollup_raw(obs, "daily")
    blobs = encode_blobs(daily, "daily")
    back = decode_blobs(blobs)

    a = {(r["id"], r["bucket_start"]): r["value"] for r in daily.collect()}
    b = {(r["id"], r["bucket_start"]): r["value"] for r in back.collect()}
    assert a == b  # bit-exact (dict equality on float values)


def test_unparseable_pages_are_dropped(spark):
    """A page whose metric does not parse (``ndvi=n/a``) and a page with no
    ``class=`` field must not fail the ingest job under ANSI casts: the
    unparseable page is dropped, every other page is stored."""
    from sen2rts_spark.operators.gorilla_sink import decode_blobs
    from sen2rts_spark.operators.pipeline import rollup_gorilla_pipeline

    t0 = datetime.datetime(2024, 3, 1, 10, 0)
    rows, expect = [], {}
    for u in range(3):
        for d in range(4):
            ndvi = round(0.1 * u + 0.05 * d, 4)
            fields = f"source=R{u} sensor=S2A class=4 cld=10 ndvi={ndvi}"
            if (u, d) == (1, 2):
                fields = "source=R1 sensor=S2A class=4 cld=10 ndvi=n/a"
            elif (u, d) == (2, 3):
                fields = f"source=R2 sensor=S2A cld=10 ndvi={ndvi}"
            if "n/a" not in fields:
                expect[(f"u{u}", d)] = ndvi
            html = f"<html><body><p>{fields}</p></body></html>"
            rows.append((f"u{u}", t0 + datetime.timedelta(days=d),
                         bytearray(html.encode())))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary")
    got = {(r["id"], (r["bucket_start"] - t0.replace(hour=0)).days):
           r["value"]
           for r in decode_blobs(
               rollup_gorilla_pipeline(pages, "daily")).collect()}
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert got[k] == pytest.approx(v, abs=1e-9), k
