"""Independent output checks: DuckDB over the same generated files.

Each ``check_*`` returns a list of problems (empty when the output is
right). The expected answers are computed from the generated inputs with
SQL written here, not with the package's code; blob outputs are decoded
with the package's batch decoder and compared point by point or per id
against those answers.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sen2rts_spark.kernels.gorilla import gorilla_decode_multi

REL = 1e-9


def _db():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _pq(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def _close(a, b) -> bool:
    return bool(np.all(np.abs(np.asarray(a) - np.asarray(b))
                       <= REL * np.maximum(1.0, np.abs(np.asarray(b)))))


# --- ingest ---------------------------------------------------------------

_SCL = ("CASE q WHEN 0 THEN 0.0 WHEN 1 THEN 0.0 WHEN 2 THEN 0.33 "
        "WHEN 3 THEN 0.17 WHEN 4 THEN 1.0 WHEN 5 THEN 1.0 WHEN 6 THEN 1.0 "
        "WHEN 7 THEN 0.33 WHEN 8 THEN 0.0 WHEN 9 THEN 0.0 WHEN 10 THEN 0.33 "
        "WHEN 11 THEN 1.0 END")
_CLD = ("CASE WHEN c <= 20 THEN 1.0 + c / 20.0 * (0.165 - 1.0) "
        "WHEN c <= 80 THEN 0.165 + (c - 20.0) / 60.0 * (0.0 - 0.165) "
        "ELSE 0.0 + (c - 80.0) / 20.0 * (0.0 - 0.0) END")


def expected_daily(pages_dir: str, table: str = "pages"
                   ) -> dict[str, tuple]:
    """Per url: (daily points, sum of daily values, first day, last day)
    of the qa-weighted daily tier the ingest path must store; a page whose
    metric does not parse contributes no value."""
    sql = f"""
    WITH p AS (
      SELECT url AS id,
             CAST(epoch_us(warc_ts) // 86400000000 AS BIGINT) AS d,
             regexp_extract(decode(html), '<p>(.*?)</p>', 1) AS t
      FROM {_pq(os.path.join(pages_dir, table))}),
    f AS (
      SELECT id, d,
        regexp_extract(t, 'source=(\\S+)', 1) AS orbit,
        regexp_extract(t, 'sensor=(\\S+)', 1) AS sensor,
        TRY_CAST(replace(regexp_extract(t, 'ndvi=([-0-9.,eE]+)', 1), ',', '')
                 AS DOUBLE) AS v,
        TRY_CAST(regexp_extract(t, 'class=(\\d+)', 1) AS INT) AS q,
        TRY_CAST(regexp_extract(t, 'cld=(\\d+)', 1) AS INT) AS c
      FROM p),
    w AS (SELECT *, least({_SCL}, {_CLD}) AS w FROM f),
    g AS (
      SELECT id, d, orbit, sensor,
             sum(v * (w + 1e-9))
               / sum(CASE WHEN v IS NOT NULL THEN w + 1e-9 END) AS value,
             avg(w) AS qa
      FROM w GROUP BY id, d, orbit, sensor),
    day AS (
      SELECT id, d,
             sum(value * (coalesce(qa, 0) + 1e-9))
               / sum(coalesce(qa, 0) + 1e-9) AS value
      FROM g WHERE value IS NOT NULL GROUP BY id, d)
    SELECT id, count(*), sum(value), min(d), max(d) FROM day GROUP BY id
    """
    with _db() as con:
        return {r[0]: r[1:] for r in con.execute(sql).fetchall()}


def decode_dir(path: str):
    """Decode every blob of a written blob table: returns (id per point,
    ts seconds, values, points per blob)."""
    t = pq.read_table(path, columns=["id", "blob"])
    blob = t.column("blob").combine_chunks()
    offs = np.frombuffer(blob.buffers()[1], dtype=np.int32)[
        blob.offset:blob.offset + len(blob) + 1].astype(np.int64)
    dat = np.frombuffer(blob.buffers()[2], dtype=np.uint8)[offs[0]:offs[-1]]
    counts, ts, vals = gorilla_decode_multi(dat, offs - offs[0])
    rep = pa.array(np.repeat(np.arange(t.num_rows), counts))
    return t.column("id").combine_chunks().take(rep), ts, vals, counts


def check_blobs(out_dir: str, expected: dict) -> tuple[list[str], int, int]:
    """Ingest output vs :func:`expected_daily`. Returns (problems, points,
    stored blob bytes)."""
    ids, ts, vals, _ = decode_dir(out_dir)
    got = pa.table({"id": ids, "d": pa.array(ts // 86400),
                    "v": pa.array(vals)})
    with _db() as con:
        con.register("got", got)
        rows = con.execute("SELECT id, count(*), sum(v), min(d), max(d) "
                           "FROM got GROUP BY id").fetchall()
    got_map = {r[0]: r[1:] for r in rows}
    problems = []
    if set(got_map) != set(expected):
        problems.append(f"ids differ: {len(got_map)} stored vs "
                        f"{len(expected)} expected")
    for k in set(got_map) & set(expected):
        g, e = got_map[k], expected[k]
        if g[0] != e[0] or g[2:] != e[2:] or not _close(g[1], e[1]):
            problems.append(f"id {k}: stored {g} expected {e}")
            break
    if np.any(ts % 86400):
        problems.append("stored timestamps are not day-aligned")
    return problems, int(len(ts)), blob_stats(out_dir)[1]


# --- phenology ------------------------------------------------------------

def check_series(s2ts_dir: str, filled_dir: str, cycles_dir: str) -> list:
    """Row-restore and cycle invariants of smooth → fill → cut_cycles."""
    src = _pq(os.path.join(s2ts_dir, "s2ts"))
    fil, cyc = _pq(filled_dir), _pq(cycles_dir)
    q = {
        # every input acquisition is restored in the filled table with its
        # raw value
        "input rows lost by fill":
            f"SELECT count(*) FROM {src} i ANTI JOIN {fil} f "
            f"USING (id, date, orbit, sensor)",
        "raw values changed":
            f"SELECT count(*) FROM {src} i JOIN {fil} f "
            f"USING (id, date, orbit, sensor) "
            f"WHERE f.rawval IS DISTINCT FROM i.value",
        # the filled table is a gap-free daily grid per series
        "series not on a gap-free daily grid":
            f"SELECT count(*) FROM (SELECT id, count(DISTINCT date) n, "
            f"max(date) - min(date) + 1 span FROM {fil} GROUP BY id) "
            f"WHERE n <> span",
        "series lost":
            f"SELECT (SELECT count(DISTINCT id) FROM {src}) - "
            f"(SELECT count(DISTINCT id) FROM {fil})",
        # cycles: one row per key, ordered dates inside the series span,
        # no overlap between an id's cycles, at least one per series
        "duplicate cycle keys":
            f"SELECT count(*) - count(DISTINCT (id, year, cycle)) FROM {cyc}",
        "cycles with unordered dates":
            f"SELECT count(*) FROM {cyc} WHERE NOT (begin < \"end\" "
            f"AND begin <= maxval AND maxval <= \"end\")",
        "cycles outside their series":
            f"SELECT count(*) FROM {cyc} c JOIN (SELECT id, min(date) lo, "
            f"max(date) hi FROM {fil} GROUP BY id) s USING (id) "
            f"WHERE c.begin < s.lo OR c.\"end\" > s.hi",
        "overlapping cycles":
            f"SELECT count(*) FROM (SELECT begin, lag(\"end\") OVER "
            f"(PARTITION BY id ORDER BY begin) prev FROM {cyc}) "
            f"WHERE begin < prev",
        "series without a cycle":
            f"SELECT count(*) FROM (SELECT DISTINCT id FROM {src}) "
            f"ANTI JOIN {cyc} USING (id)",
    }
    problems = []
    with _db() as con:
        for what, sql in q.items():
            n = con.execute(sql).fetchone()[0]
            if n:
                problems.append(f"{what}: {n}")
    return problems


def check_pheno(rows: list, cycles: list) -> list[str]:
    """extract_pheno returns exactly one row per input cycle."""
    want = sorted((c["id"], c["year"], c["cycle"]) for c in cycles)
    got = sorted((r["id"], r["year"], r["cycle"]) for r in rows)
    return [] if got == want else [
        f"pheno rows {len(got)} for {len(want)} cycles"]


# --- retention ------------------------------------------------------------

def expected_windows(store_dir: str, windows: list) -> list[dict]:
    """Per window ``[lo, hi)`` (epoch seconds): id -> (n, sum, min, max)."""
    out = []
    with _db() as con:
        for lo, hi in windows:
            rows = con.execute(
                f"SELECT id, count(*), sum(value), min(value), max(value) "
                f"FROM {_pq(os.path.join(store_dir, 'points'))} "
                f"WHERE epoch(ts) >= {lo} AND epoch(ts) < {hi} "
                f"GROUP BY id").fetchall()
            out.append({r[0]: r[1:] for r in rows})
    return out


def check_window(rows: list, expected: dict) -> list[str]:
    got = {r[0]: tuple(r[1:]) for r in rows}
    if set(got) != set(expected):
        return [f"window ids: {len(got)} vs {len(expected)} expected"]
    for k, e in expected.items():
        g = got[k]
        if g[0] != e[0] or g[2] != e[2] or g[3] != e[3] \
                or not _close(g[1], e[1]):
            return [f"window id {k}: {g} expected {e}"]
    return []


def check_daily(store_dir: str, daily_dir: str) -> tuple[list[str], int]:
    """Full-store daily re-aggregate vs the raw points."""
    pts = _pq(os.path.join(store_dir, "points"))
    with _db() as con:
        bad, n_rows, n_pts = con.execute(f"""
          WITH e AS (SELECT id, epoch_us(ts) // 86400000000 d,
                            count(*) n, sum(value) s, min(value) lo,
                            max(value) hi FROM {pts} GROUP BY ALL),
               g AS (SELECT id, epoch_us(bucket_start) // 86400000000
                            d, n, s, lo, hi FROM {_pq(daily_dir)})
          SELECT count(*) FILTER (WHERE g.n IS DISTINCT FROM e.n
                   OR g.lo IS DISTINCT FROM e.lo OR g.hi IS DISTINCT FROM e.hi
                   OR abs(g.s - e.s) > {REL} * greatest(1, abs(e.s))),
                 (SELECT count(*) FROM g), (SELECT sum(n) FROM g)
          FROM e FULL JOIN g USING (id, d)""").fetchone()
    problems = [f"{bad} daily buckets differ"] if bad else []
    return problems, int(n_pts or 0)


def expected_points(store_dir: str):
    """The raw points as (ids, ts seconds, values), sorted by (id, ts)."""
    with _db() as con:
        t = con.execute(
            f"SELECT id, epoch_us(ts) // 1000000 s, value FROM "
            f"{_pq(os.path.join(store_dir, 'points'))} ORDER BY id, s").arrow()
    return (t.column("id").to_numpy(), t.column("s").to_numpy(),
            t.column("value").to_numpy())


def check_points(blob_dir: str, expected) -> tuple[list[str], int]:
    """Decoded points of a blob table equal the raw points exactly
    (values bit for bit)."""
    ids, ts, vals, _ = decode_dir(blob_dir)
    ids = ids.to_numpy(zero_copy_only=False)
    order = np.lexsort((ts, ids))
    e_ids, e_ts, e_vals = expected
    same = (len(ts) == len(e_ts) and np.array_equal(ids[order], e_ids)
            and np.array_equal(ts[order], e_ts)
            and np.array_equal(vals[order].view(np.uint64),
                               e_vals.view(np.uint64)))
    problems = [] if same else [
        f"decoded points differ from the raw points ({len(ts)} decoded, "
        f"{len(e_ts)} raw)"]
    return problems, int(len(ts))


def blob_stats(blob_dir: str) -> tuple[int, int]:
    """(blob rows, blob payload bytes) of a written blob table."""
    col = pq.read_table(blob_dir, columns=["blob"]).column("blob")
    return len(col), _blob_bytes(col)


def _blob_bytes(col) -> int:
    n = 0
    for c in col.chunks:
        offs = np.frombuffer(c.buffers()[1], dtype=np.int32)
        n += int(offs[c.offset + len(c)] - offs[c.offset])
    return n
