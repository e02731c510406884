"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: numpy's PCG64 stream is
the only source of randomness, and each workload writes its files once per
``(workload, seed, size)`` under the cache directory. The program under test
only ever receives the generated parquet files; the traffic dimensions each
generator sets are written beside them in ``meta.json``.

Nothing here imports Spark, so generation stays out of the session and is
excluded from ``setup_s``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY = 86400
WEEK = 7 * DAY
# 2020-01-02 in epoch days: the crawl calendar starts here
_START_DAY = 18263
# 2020-01-02 00:00 UTC is a Thursday, i.e. an epoch-aligned week boundary
# (Spark's 7-day tumbling windows start on 1970-01-01, also a Thursday)
_YEAR_START_S = _START_DAY * DAY

# SCL-like quality classes and their draw probabilities (mostly clear sky)
_QCLASSES = np.array([4, 5, 6, 7, 8, 9, 10, 3, 2, 0])
_QPROBS = np.array([45, 15, 8, 8, 8, 6, 4, 3, 2, 1]) / 100.0
_LANGS = np.array(["en", "it", "de", "fr"])
_FIELDS_SEED = 20200102


def _double_logistic(doy, t1, t2, amp, base):
    return (base + amp / (1.0 + np.exp(-(doy - t1) / 12.0))
            - amp / (1.0 + np.exp(-(doy - t2) / 18.0)))


def _write(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files: scan parallelism of a
    parquet source is capped by its file/row-group count."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def gen_pages(rng, out, n_urls, n_slots, n_files=16, hot_share=0.5,
              dup_share=0.03, missing_share=0.2, probe_rows=2000,
              probe_unparseable_share=0.01):
    """Common-Crawl-style pages: one row per fetch of a url on its source's
    5-day crawl calendar; the page text carries the metric the extract stage
    parses (``ndvi=``), an SCL-like quality class and a cloud percentage.

    ``hot_share`` of urls sit on one domain; ``missing_share`` of crawl
    slots are never fetched; ``dup_share`` of fetches are re-crawled one
    hour later with a fresh reading. Every page of the timed table carries
    a parseable metric. ``pages_unparseable`` holds the first
    ``probe_rows`` pages again, ``probe_unparseable_share`` of them with a
    metric that does not parse (``ndvi=n/a``); the traced run feeds it to
    the pipeline as a probe.
    """
    u = np.repeat(np.arange(n_urls), n_slots)
    slot = np.tile(np.arange(n_slots), n_urls)
    keep = rng.random(len(u)) >= missing_share
    u, slot = u[keep], slot[keep]
    src = u % 5
    day = _START_DAY + (src - _START_DAY) % 5 + 5 * slot
    sensor = np.where(day % 10 == src, "2A", "2B")
    orbit = np.char.zfill((src * 11).astype(str), 3)

    hot = rng.random(n_urls) < hot_share
    dom = np.where(hot, 0, rng.integers(1, 10, n_urls))
    url_of = np.char.add(np.char.add(np.char.add(
        "https://d", dom.astype(str)), ".example.org/page/"),
        np.arange(n_urls).astype(str))
    lang_of = _LANGS[rng.integers(0, 4, n_urls)]
    phase = rng.uniform(-30, 30, n_urls)
    amp = rng.uniform(0.55, 0.8, n_urls)

    # re-crawls: the same slot fetched again an hour later, read afresh
    dup = rng.random(len(u)) < dup_share
    u = np.concatenate([u, u[dup]])
    day = np.concatenate([day, day[dup]])
    sensor = np.concatenate([sensor, sensor[dup]])
    orbit = np.concatenate([orbit, orbit[dup]])
    n = len(u)
    sec = rng.integers(0, DAY - 3600, n)
    sec[n - dup.sum():] = sec[:len(dup)][dup] + 3600

    doy = (day % 365).astype(np.float64)
    metric = _double_logistic(doy, 110 + phase[u], 250 + phase[u],
                              amp[u], 0.08) + rng.normal(0, 0.02, n)
    qclass = rng.choice(_QCLASSES, n, p=_QPROBS)
    cld = rng.integers(0, 101, n)
    metric_s = np.round(metric, 6).astype(str)
    filler = pc.binary_repeat(" lorem ipsum dolor sit amet",
                              pa.array(rng.integers(1, 5, n)))

    def s(x):
        return pa.array(x).cast(pa.string())
    text = pc.binary_join_element_wise(
        "lang=", s(lang_of[u]), " source=", s(orbit), " sensor=", s(sensor),
        " class=", s(qclass), " cld=", s(cld), " ndvi=", s(metric_s), filler,
        "")
    html = pc.binary_join_element_wise(
        "<html><head><title>", s(url_of[u]), "</title></head><body><p>",
        text, "</p></body></html>", "")
    warc_us = (day.astype(np.int64) * DAY + sec) * 1_000_000
    order = rng.permutation(n)  # fetch log order, not url order
    table = pa.table({
        "url": pa.array(url_of[u][order]),
        "warc_ts": pa.array(warc_us[order], pa.timestamp("us", tz="UTC")),
        "html": html.take(order).cast(pa.binary()),
        "text": text.take(order),
        "lang": pa.array(lang_of[u][order]),
    })
    _write(table, os.path.join(out, "pages"), n_files)

    probe = table.slice(0, probe_rows)
    bad = pa.array(rng.random(probe.num_rows) < probe_unparseable_share)

    def unparseable(col):
        return pc.if_else(bad, pc.replace_substring_regex(
            col, r"ndvi=[-0-9.eE]+", "ndvi=n/a"), col)
    probe = probe.set_column(2, "html", unparseable(
        probe.column("html").cast(pa.string())).cast(pa.binary()))
    probe = probe.set_column(3, "text", unparseable(probe.column("text")))
    _write(probe, os.path.join(out, "pages_unparseable"), 1)
    return {"pages": n, "urls": n_urls, "slots": n_slots,
            "hot_domain_share": hot_share, "dup_share": dup_share,
            "missing_slot_share": missing_share,
            "unparseable_metric_share": 0.0, "dup_pages": int(dup.sum()),
            "probe_pages": probe.num_rows,
            "probe_unparseable_share": probe_unparseable_share,
            "probe_unparseable_pages": int(pc.sum(bad.cast(pa.int64())).as_py())}


def gen_s2ts(rng, out, n_series, n_years=2, n_files=8, gap_share=0.1,
             spike_share=0.05, low_qa_share=0.1):
    """Sentinel-2-style long table ``(id, date, orbit, sensor, value, qa)``.

    Each series has one relative orbit (5-day revisit, sensors 2A/2B
    alternating) and one double-logistic season per year; the season
    shapes do not depend on the seed, so every seed fits cycles of the
    same lengths. ``gap_share`` of
    acquisitions are missing, ``spike_share`` are cloud-like downward
    spikes, ``low_qa_share`` carry a quality weight below the smoother's
    0.2 threshold.
    """
    from sen2rts_spark.kernels.series import ORBIT_DOYBASE
    orbits = np.array(["022", "065", "108", "151", "194"])
    # the documented passage calendar: sensor 2A when day % 10 == doybase,
    # 2B five days later
    base = np.array([ORBIT_DOYBASE.get(o, int(o) % 10) for o in orbits])
    n_slots = n_years * 73
    sid = np.repeat(np.arange(n_series), n_slots)
    slot = np.tile(np.arange(n_slots), n_series)
    keep = rng.random(len(sid)) >= gap_share
    sid, slot = sid[keep], slot[keep]
    src = sid % len(orbits)
    day = _START_DAY + (base[src] - _START_DAY) % 5 + 5 * slot
    n = len(sid)
    # the fields' seasons are the same under every seed (a fixed stream,
    # drawn in series order); the seed sets the acquisitions and noise
    fields = np.random.default_rng(_FIELDS_SEED)
    t1 = fields.uniform(100, 130, n_series)
    t2 = fields.uniform(240, 270, n_series)
    amp = fields.uniform(0.5, 0.8, n_series)
    doy = ((day - _START_DAY) % 365).astype(np.float64)
    value = _double_logistic(doy, t1[sid], t2[sid], amp[sid], 0.1) \
        + rng.normal(0, 0.015, n)
    spike = rng.random(n) < spike_share
    value[spike] -= rng.uniform(0.2, 0.4, spike.sum())
    qa = rng.uniform(0.6, 1.0, n)
    low = rng.random(n) < low_qa_share
    qa[low] = rng.uniform(0.0, 0.19, low.sum())
    table = pa.table({
        # fixed names: the same series ids (and so the same hash placement)
        # under every seed; only their values vary
        "id": pa.array(np.char.add("s", np.char.zfill(sid.astype(str), 6))),
        "date": pa.array(day.astype(np.int32), pa.date32()),
        "orbit": pa.array(orbits[src]),
        "sensor": pa.array(np.where(day % 10 == base[src], "2A", "2B")),
        "value": pa.array(np.round(value, 6)),
        "qa": pa.array(np.round(qa, 4)),
    })
    _write(table, os.path.join(out, "s2ts"), n_files)
    # the seasons' windows (epoch days: begin, end, peak), one per year;
    # 30 days clear of the series' ends, where fill may leave NaN
    seasons = [[_START_DAY + 365 * y + (30 if y == 0 else 0),
                _START_DAY + 365 * (y + 1) - (30 if y == n_years - 1 else 0),
                _START_DAY + 365 * y + 185] for y in range(n_years)]
    return {"series": n_series, "rows": n, "series_length_days": n_years * 365,
            "season_windows": seasons,
            "acquisitions_per_series": n_slots, "gap_share": gap_share,
            "spike_share": spike_share, "low_qa_share": low_qa_share,
            "seasons_per_series": n_years}


def _blob_table(ids, ts, vals, starts, chunk_s, tier):
    """Gorilla-encode the point groups that begin at ``starts`` into a
    table of the sink's blob schema."""
    from sen2rts_spark.kernels.gorilla import gorilla_encode_multi
    dat, offs = gorilla_encode_multi(ts, vals, starts)
    ends = np.append(starts[1:], len(ts))
    us = pa.timestamp("us", tz="UTC")
    return pa.table({
        "id": pa.array(ids[starts]),
        "tier": pa.array(np.full(len(starts), tier)),
        "chunk_start": pa.array(chunk_s * 1_000_000, us),
        "blob": pa.Array.from_buffers(pa.binary(), len(starts), [
            None, pa.py_buffer(offs.astype(np.int32)), pa.py_buffer(dat)]),
        "count": pa.array((ends - starts).astype(np.int32)),
        "min_ts": pa.array(ts[starts] * 1_000_000, us),
        "max_ts": pa.array(ts[ends - 1] * 1_000_000, us),
    })


def gen_store(rng, out, n_ids, weeks=52, n_files=12, frag_days=1):
    """An hourly-tier year store: one Gorilla blob per (id, week), plus a
    copy of the same points fragmented into ``frag_days``-day blobs under
    the same weekly ``chunk_start`` (what per-ingest-cycle appends leave
    behind). The raw points are written too, for the output checks."""
    hours = weeks * 7 * 24
    ids = np.char.add("url-", np.char.zfill(np.arange(n_ids).astype(str), 5))
    id_rep = np.repeat(ids, hours)
    ts = _YEAR_START_S + np.tile(np.arange(hours, dtype=np.int64) * 3600,
                                 n_ids)
    h = np.tile(np.arange(hours, dtype=np.float64), n_ids)
    phase = np.repeat(rng.uniform(0, 24, n_ids), hours)
    level = np.repeat(rng.uniform(10, 100, n_ids), hours)
    vals = np.round(level * (1 + 0.3 * np.sin((h + phase) * 2 * np.pi / 24))
                    + rng.normal(0, 1, len(h)), 2)
    week_of = (ts - _YEAR_START_S) // WEEK
    chunk = _YEAR_START_S + week_of * WEEK
    id_idx = np.repeat(np.arange(n_ids), hours)

    def starts_of(key):
        change = np.ones(len(key), dtype=bool)
        change[1:] = (key[1:] != key[:-1]) | (id_idx[1:] != id_idx[:-1])
        return np.flatnonzero(change)

    weekly = _blob_table(id_rep, ts, vals, starts_of(week_of), chunk[
        starts_of(week_of)], "hourly")
    frag_key = (ts - _YEAR_START_S) // (frag_days * DAY)
    fs = starts_of(frag_key)
    frag = _blob_table(id_rep, ts, vals, fs, chunk[fs], "hourly")
    frag = frag.take(rng.permutation(frag.num_rows))  # appends interleave
    _write(weekly, os.path.join(out, "store"), n_files)
    _write(frag, os.path.join(out, "fragmented"), n_files)
    us = pa.timestamp("us", tz="UTC")
    _write(pa.table({"id": pa.array(id_rep),
                     "ts": pa.array(ts * 1_000_000, us),
                     "value": pa.array(vals)}),
           os.path.join(out, "points"), 4)
    return {"ids": n_ids, "store_points": int(len(ts)),
            "store_blobs": weekly.num_rows, "blob_points": 7 * 24,
            "fragment_blobs": frag.num_rows,
            "fragments_per_chunk": 7 // frag_days,
            "store_bytes": int(weekly.column("blob").combine_chunks()
                               .buffers()[2].size),
            "year_start_s": _YEAR_START_S, "weeks": weeks}


GENERATORS = {"ingest": gen_pages, "phenology": gen_s2ts,
              "retention": gen_store}


def ensure_inputs(cache_dir: str, workload: str, seed: int,
                  size: dict) -> tuple[str, dict]:
    """Generate (once per seed and size) and return ``(dir, meta)``."""
    tag = "_".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = os.path.join(cache_dir, f"{workload}_seed{seed}_{tag}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    meta = GENERATORS[workload](rng, tmp, **size)
    meta.update(workload=workload, seed=seed, size=size)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.rename(tmp, out)
    return out, meta
