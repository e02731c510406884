"""The three workloads, each a closed loop with one client.

A workload is a class with ``warm_up``, ``measure`` and ``traced_pass``.
``measure`` runs timed ops until its share of ``--seconds`` of op time is
spent; every op's output is checked (outside the timed region) and an op
that raises or fails its check counts as failed and is not retried.
``traced_pass`` runs the same calls one layer at a time, each boundary
materialized inside a span, for the per-layer table.
"""

from __future__ import annotations

import datetime
import os
import statistics
import time
import traceback

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F

import oracle


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
               if f.endswith(".parquet"))


def rate(fn, n_items: int, min_s: float = 1.0) -> float:
    """Items per second of ``fn`` (one thread, repeated for >= ``min_s``)."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return reps * n_items / dt


class Workload:
    """Shared loop, op accounting and output paths."""

    #: share of ``--seconds`` given to each timed phase
    phases: dict[str, float] = {}
    #: ops each phase runs at least, so its median sits at the same place
    #: of the session's warm-up curve in every run
    min_ops: dict[str, int] = {}

    def __init__(self, inputs: str, meta: dict, work: str, size: dict):
        self.spark = None   # set once the session is up
        self.tracer = None
        self.inputs = inputs
        self.meta = meta
        self.work = work
        self.size = size
        self.attempted = 0
        self.failed = 0
        #: seconds spent in output checks (kept out of ``setup_s``)
        self.check_s = 0.0
        self.errors: list[str] = []
        self.times: dict[str, list[float]] = {p: [] for p in self.phases}
        self.items: dict[str, list[float]] = {p: [] for p in self.phases}

    def out(self, name: str) -> str:
        return os.path.join(self.work, name)

    def _op(self, phase: str, run, check, timed: bool = True) -> None:
        """One op: ``run()`` timed, then ``check(result)`` returning
        ``(problems, items)``. Failures are counted, never retried."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            res = run()
            t1 = time.perf_counter()
            dt = t1 - t0
            try:
                problems, items = check(res)
            finally:
                self.check_s += time.perf_counter() - t1
        except Exception:  # noqa: BLE001 — a failed op is a counted result
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return
        if problems:
            self.failed += 1
            self.errors.extend(problems)
            return
        if timed:
            self.times[phase].append(dt)
            self.items[phase].append(items)

    def measure(self, seconds: float) -> None:
        """Run each phase's ops until its share of ``seconds`` is spent
        (op time only: checks run outside the budget) and at least its
        ``min_ops`` ran; a phase stops when half an average op more would
        overrun. The phases are interleaved, the least advanced first, so
        that each phase's ops are spread over the whole run and a slow
        spell of the host does not fall on one phase alone."""
        spent = {p: 0.0 for p in self.phases}
        n = {p: 0 for p in self.phases}

        def progress(p: str) -> float:
            return max(n[p] / self.min_ops[p],
                       spent[p] / (seconds * self.phases[p]))

        def wants_more(p: str) -> bool:
            return n[p] < self.min_ops[p] \
                or spent[p] + 0.5 * spent[p] / n[p] < seconds * self.phases[p]

        while True:
            open_phases = [p for p in self.phases if wants_more(p)]
            if not open_phases:
                return
            phase = min(open_phases, key=progress)
            done = len(self.times[phase])
            t0 = time.perf_counter()
            self.op(phase)
            spent[phase] += self.times[phase][-1] \
                if len(self.times[phase]) > done \
                else time.perf_counter() - t0
            n[phase] += 1

    def finish(self) -> None:
        """Checks deferred until every op has run (none by default)."""

    def per_s(self, phase: str) -> float:
        return statistics.median(i / t for i, t in
                                 zip(self.items[phase], self.times[phase]))


# --- ingest ---------------------------------------------------------------

class Ingest(Workload):
    """pages parquet → fused extract/rollup/Gorilla pipeline → blob parquet."""

    phases = {"pass": 0.75}
    min_ops = {"pass": 2}

    def prepare(self) -> None:
        self.pages = os.path.join(self.inputs, "pages")
        self.expected = oracle.expected_daily(self.inputs)
        self.bytes_per_point = None

    def _check(self, out):
        problems, points, nbytes = oracle.check_blobs(out, self.expected)
        self.bytes_per_point = nbytes / max(points, 1)
        return problems, points

    def run_pass(self) -> str:
        from sen2rts_spark.operators.pipeline import rollup_gorilla_pipeline
        out = self.out("blobs")
        pages = self.spark.read.parquet(self.pages)
        rollup_gorilla_pipeline(pages, "daily", fused=True) \
            .write.mode("overwrite").parquet(out)
        return out

    def op(self, phase: str = "pass", timed: bool = True) -> None:
        self._op(phase, self.run_pass, self._check, timed)

    def warm_up(self) -> None:
        self.op(timed=False)

    def metrics(self) -> dict:
        t = self.times["pass"]
        return {
            "items_per_s": self.per_s("pass"),
            "aux_items_per_s": statistics.median(
                self.meta["pages"] / x for x in t),
            "op_p50_s": statistics.median(t),
            "bytes_per_item": self.bytes_per_point,
        }

    def untraced_pass(self) -> float:
        t0 = time.perf_counter()
        self.run_pass()
        return time.perf_counter() - t0

    def traced_pass(self, m: dict) -> None:
        from sen2rts_spark.operators.extract import extract_obs
        from sen2rts_spark.operators.gorilla_sink import encode_blobs
        from sen2rts_spark.operators.rollup import rollup_raw
        tr, spark = self.tracer, self.spark
        out = self.out("blobs")
        parts = 3 * spark.sparkContext.defaultParallelism
        with tr.span("ingest.pass"):
            with tr.span("sources:scan"):
                pages = spark.read.parquet(self.pages)
                pages.write.format("noop").mode("overwrite").save()
            with tr.span("operators.extract") as c:
                obs = extract_obs(pages, partition_by_id=parts).select(
                    "id", F.col("date").cast("timestamp").alias("ts"),
                    "value", "qa").persist()
                c["rows_out"] = obs.count()
            with tr.span("operators.rollup") as c:
                tier = rollup_raw(obs, "daily").persist()
                c["rows_out"] = tier.count()
            with tr.span("operators.gorilla_sink:encode"):
                encode_blobs(tier, "daily", clustered=True) \
                    .write.mode("overwrite").parquet(out)
        problems, points = self._check(out)
        if problems:
            raise RuntimeError(f"traced ingest output wrong: {problems}")
        blobs, nbytes = oracle.blob_stats(out)
        m["operators.gorilla_sink.blobs_out"] = blobs
        m["operators.gorilla_sink.bytes_out"] = nbytes
        obs.unpersist()
        tier.unpersist()
        codec_rates(m, out)
        m["operators.extract.unparseable_probe_failed"] = self.probe()

    def probe(self) -> float:
        """Run the pipeline on the probe pages, some of which carry a
        metric that does not parse: 1.0 if it raises or stores values that
        differ from the oracle's (which drops those pages), else 0.0."""
        from sen2rts_spark.operators.pipeline import rollup_gorilla_pipeline
        name = "pages_unparseable"
        out = self.out("blobs_probe")
        try:
            pages = self.spark.read.parquet(os.path.join(self.inputs, name))
            rollup_gorilla_pipeline(pages, "daily", fused=True) \
                .write.mode("overwrite").parquet(out)
            problems, _, _ = oracle.check_blobs(
                out, oracle.expected_daily(self.inputs, name))
        except Exception as e:  # noqa: BLE001 — the probe's result
            problems = [f"{type(e).__name__}: {str(e).splitlines()[0]}"]
        for p in problems[:1]:
            print(f"unparseable-metric probe failed: {p}")
        return float(bool(problems))

    def layer_metrics(self, m: dict) -> None:
        tr = self.tracer
        src = tr.by_layer("sources")
        m["sources.scan_s"] = sum(map(tr.duration, src))
        m["sources.rows"] = sum(s["records_read"] for s in src)
        m["sources.bytes_read"] = sum(s["bytes_read"] for s in src)
        m["operators.extract.rows_in"] = m["sources.rows"]
        enc = tr.by_layer("operators.gorilla_sink")
        m["operators.gorilla_sink.encode_wall_s"] = \
            sum(map(tr.duration, enc))


def codec_rates(m: dict, blob_dir: str) -> None:
    """One-thread Gorilla encode and decode rates on the points of a
    written blob table, re-encoded with its own blob boundaries."""
    from sen2rts_spark.kernels.gorilla import (gorilla_decode_multi,
                                               gorilla_encode_multi)
    _, ts, vals, counts = oracle.decode_dir(blob_dir)
    starts = np.cumsum(counts) - counts
    n = len(ts)
    m["kernels.gorilla.encode_points_per_s"] = rate(
        lambda: gorilla_encode_multi(ts, vals, starts), n)
    dat, offs = gorilla_encode_multi(ts, vals, starts)
    m["kernels.gorilla.decode_points_per_s"] = rate(
        lambda: gorilla_decode_multi(dat, offs), n)


# --- phenology ------------------------------------------------------------

S2TS_SCHEMA = ("id string, date date, orbit string, sensor string, "
               "value double, qa double")


class Phenology(Workload):
    """s2ts long table → smooth → fill → cut_cycles (many series), then
    extract_pheno over the seasons of a fixed subset of series."""

    phases = {"series": 0.4, "pheno": 0.6}
    min_ops = {"series": 1, "pheno": 1}

    def prepare(self) -> None:
        self.s2ts = os.path.join(self.inputs, "s2ts")
        self.filled = self.out("filled")
        self.cycles = self.out("cycles")
        self.n_series = self.meta["series"]
        self.bytes_per_series = None

    def _check_series(self, _):
        problems = oracle.check_series(self.inputs, self.filled, self.cycles)
        self.bytes_per_series = (dir_bytes(self.filled)
                                 + dir_bytes(self.cycles)) / self.n_series
        return problems, self.n_series

    def run_series(self) -> None:
        from sen2rts_spark.operators.timeseries import cut_cycles, fill, smooth
        obs = self.spark.read.parquet(self.s2ts)
        fill(smooth(obs)).write.mode("overwrite").parquet(self.filled)
        cut_cycles(self.spark.read.parquet(self.filled)) \
            .write.mode("overwrite").parquet(self.cycles)

    def pheno_inputs(self, n_cycles: int):
        """The first ``n_cycles`` seasons (by series, then year) as cycles,
        with the filled rows of their series. The seasons' windows are the
        generator's, the same under every seed, so every run fits the same
        cycle keys and lengths; cut_cycles is timed in the series phase."""
        from sen2rts_spark.operators.timeseries import CYCLES_SCHEMA
        day = datetime.date(1970, 1, 1).toordinal()
        date = datetime.date.fromordinal
        first = [{"id": f"s{i:06d}", "year": 2020 + y, "cycle": 1,
                  "begin": date(day + b), "end": date(day + e),
                  "maxval": date(day + pk), "weight": 1.0}
                 for i in range(n_cycles)
                 for y, (b, e, pk) in enumerate(self.meta["season_windows"])
                 ][:n_cycles]
        cycles = self.spark.createDataFrame(
            [tuple(r.values()) for r in first], CYCLES_SCHEMA)
        filled = self.spark.read.parquet(self.filled).filter(
            F.col("id").isin(sorted({r["id"] for r in first})))
        return filled, cycles, first

    def run_pheno(self, filled, cycles):
        from sen2rts_spark.operators.timeseries import extract_pheno
        return extract_pheno(filled, cycles, fit=("gu", "klosterman"),
                             method="trs").collect()

    def op(self, phase: str, timed: bool = True) -> None:
        if phase == "series":
            self._op(phase, self.run_series, self._check_series, timed)
            return
        n = self.size["fit_cycles"] if timed else 1
        filled, cycles, cyc_rows = self.pheno_inputs(n)
        self._op(phase, lambda: self.run_pheno(filled, cycles),
                 lambda rows: (oracle.check_pheno(rows, cyc_rows),
                               len(cyc_rows)), timed)

    def warm_up(self) -> None:
        self.op("series", timed=False)
        self.op("pheno", timed=False)

    def metrics(self) -> dict:
        t = self.times["series"]
        return {
            "items_per_s": self.per_s("series"),
            "aux_items_per_s": self.per_s("pheno"),
            "op_p50_s": statistics.median(t),
            "bytes_per_item": self.bytes_per_series,
        }

    def untraced_pass(self) -> float:
        t0 = time.perf_counter()
        self.run_series()
        filled, cycles, _ = self.pheno_inputs(self.size["fit_cycles"])
        self.run_pheno(filled, cycles)
        return time.perf_counter() - t0

    def traced_pass(self, m: dict) -> None:
        from sen2rts_spark.operators.grouped import grouped_apply
        from sen2rts_spark.operators.timeseries import (cut_cycles,
                                                        extract_pheno, fill,
                                                        smooth)
        tr, spark = self.tracer, self.spark
        obs = spark.read.parquet(self.s2ts)
        with tr.span("operators.grouped:dispatch"):
            grouped_apply(obs, ["id"], lambda pdf: pdf, S2TS_SCHEMA) \
                .write.format("noop").mode("overwrite").save()
        d = tr.duration(tr.spans[-1])
        m["operators.grouped.dispatch_groups_per_s"] = self.n_series / d
        with tr.span("phenology.pass"):
            with tr.span("operators.timeseries:smooth") as c:
                sm = smooth(obs).persist()
                c["rows_out"] = sm.count()
            with tr.span("operators.timeseries:fill"):
                fill(sm).write.mode("overwrite").parquet(self.filled)
            with tr.span("operators.timeseries:cut_cycles"):
                cut_cycles(spark.read.parquet(self.filled)) \
                    .write.mode("overwrite").parquet(self.cycles)
            filled, cycles, cyc_rows = self.pheno_inputs(self.size["fit_cycles"])
            with tr.span("operators.timeseries:extract_pheno"):
                rows = extract_pheno(filled, cycles, fit=("gu", "klosterman"),
                                     method="trs").collect()
        sm.unpersist()
        problems = oracle.check_series(self.inputs, self.filled, self.cycles)
        problems += oracle.check_pheno(rows, cyc_rows)
        if problems:
            raise RuntimeError(f"traced phenology output wrong: {problems}")
        m["operators.timeseries.smooth_rows_out"] = \
            tr.by_layer("operators.timeseries")[0]["counts"]["rows_out"]
        m["operators.timeseries.fill_rows_out"] = pq.read_table(
            self.filled, columns=["id"]).num_rows
        m["operators.timeseries.cycles_out"] = pq.read_table(
            self.cycles, columns=["id"]).num_rows
        m["operators.timeseries.cycles_in"] = len(cyc_rows)
        kernel_rates(m, self.inputs, self.filled, cyc_rows)

    def layer_metrics(self, m: dict) -> None:
        ts = {s["name"].split(":")[1]: self.tracer.duration(s)
              for s in self.tracer.by_layer("operators.timeseries")}
        for step in ("smooth", "fill", "cut_cycles", "extract_pheno"):
            m[f"operators.timeseries.{step}_wall_s"] = ts[step]


def kernel_rates(m: dict, inputs: str, filled_dir: str, cyc_rows) -> None:
    """One-thread costs of the per-series and per-cycle numpy kernels on
    this workload's own series and cycles."""
    from sen2rts_spark.kernels.cycles import cut_cycles_series
    from sen2rts_spark.kernels.dlog import fit_with_fallback
    from sen2rts_spark.kernels.pheno import pheno_trs
    from sen2rts_spark.kernels.series import fill_series, smooth_series
    raw = pq.read_table(os.path.join(inputs, "s2ts")).to_pandas()
    raw["d"] = raw["date"].map(lambda d: d.toordinal() - 719163)
    series = [g for _, g in raw.groupby("id", sort=True)][:20]
    smoothed = []

    def run_smooth():
        smoothed.clear()
        for g in series:
            smoothed.append((g, smooth_series(
                g["d"].to_numpy(), g["value"].to_numpy(),
                g["qa"].to_numpy(), g["sensor"].to_numpy(object),
                g["orbit"].to_numpy(object))))
    m["kernels.series.smooth_ms_per_series"] = \
        1000.0 / rate(run_smooth, len(series))
    filled = []

    def run_fill():
        filled.clear()
        for _, o in smoothed:
            filled.append(fill_series(o["days"], o["value"], o["sensor"],
                                      o["orbit"]))
    m["kernels.series.fill_ms_per_series"] = \
        1000.0 / rate(run_fill, len(series))
    m["kernels.cycles.cut_ms_per_series"] = 1000.0 / rate(
        lambda: [cut_cycles_series(f["days"], f["value"]) for f in filled],
        len(series))
    # the fit: one cycle of the fixed subset, on the global rescale
    fl = pq.read_table(filled_dir, columns=["id", "date", "value"]) \
        .to_pandas()
    ids = {c["id"] for c in cyc_rows}
    fl = fl[fl["id"].isin(ids)]
    g0 = fl["value"].min()
    gr = fl["value"].max() - g0
    c = sorted(cyc_rows, key=lambda r: (r["id"], r["begin"]))[0]
    x = fl[(fl["id"] == c["id"]) & (fl["date"] >= c["begin"])
           & (fl["date"] < c["end"])].sort_values("date")["value"] \
        .to_numpy(np.float64)
    x = (x - g0) / gr
    fitted = []

    def run_fit():
        fitted[:] = [fit_with_fallback(x, ("gu", "klosterman"))]
    m["kernels.dlog.fit_s_per_cycle"] = 1.0 / rate(run_fit, 1)
    pred = fitted[0]["predicted"]
    m["kernels.pheno.trs_ms_per_cycle"] = 1000.0 / rate(
        lambda: pheno_trs(pred, 0.5), 1)


# --- retention ------------------------------------------------------------

class Retention(Workload):
    """Hourly year store: week-window reads, a full-store daily
    re-aggregate, and compaction of a daily-fragmented copy."""

    phases = {"read": 0.6, "scan": 0.2, "compact": 0.2}
    min_ops = {"read": 5, "scan": 2, "compact": 2}

    def prepare(self) -> None:
        self.store = os.path.join(self.inputs, "store")
        self.frag = os.path.join(self.inputs, "fragmented")
        rng = np.random.default_rng(self.meta["seed"] + 1)
        y0, weeks = self.meta["year_start_s"], self.meta["weeks"]
        starts = y0 + 3600 * rng.integers(0, (weeks - 1) * 168, 10_000)
        self.windows = [(int(s), int(s) + 7 * 86400) for s in starts]
        self.next_window = 0
        self.read_results: list[tuple[int, list]] = []
        # the fragmented copy must decode to the raw points before any op
        self.points = oracle.expected_points(self.inputs)
        problems, _ = oracle.check_points(self.frag, self.points)
        if problems:
            raise RuntimeError(f"fragmented input inconsistent: {problems}")
        self.bytes_per_point = None

    def envelope_hits(self, k: int):
        """(blobs whose [min_ts, max_ts] meets window ``k``, lo, hi)."""
        lo_s, hi_s = self.windows[k]
        lo, hi = F.timestamp_seconds(F.lit(lo_s)), F.timestamp_seconds(
            F.lit(hi_s))
        blobs = self.spark.read.parquet(self.store)
        return blobs.filter((F.col("max_ts") >= lo)
                            & (F.col("min_ts") < hi)), lo, hi

    def read(self, k: int) -> list:
        from sen2rts_spark.operators.gorilla_sink import decode_blobs
        hit, lo, hi = self.envelope_hits(k)
        return decode_blobs(hit) \
            .filter((F.col("bucket_start") >= lo)
                    & (F.col("bucket_start") < hi)) \
            .groupBy("id").agg(F.count(F.lit(1)), F.sum("value"),
                               F.min("value"), F.max("value")).collect()

    def scan(self) -> str:
        from sen2rts_spark.operators.gorilla_sink import decode_blobs_agg
        out = self.out("daily")
        decode_blobs_agg(self.spark.read.parquet(self.store), 86400) \
            .groupBy("id", "bucket_start") \
            .agg(F.sum("n_points").alias("n"), F.sum("vsum").alias("s"),
                 F.min("vmin").alias("lo"), F.max("vmax").alias("hi")) \
            .write.mode("overwrite").parquet(out)
        return out

    def compact(self) -> str:
        from sen2rts_spark.operators.compaction import compact_blobs
        out = self.out("compacted")
        compact_blobs(self.spark.read.parquet(self.frag)) \
            .write.mode("overwrite").parquet(out)
        return out

    def _check_compact(self, out):
        problems, n = oracle.check_points(out, self.points)
        blobs, nbytes = oracle.blob_stats(out)
        if blobs != self.meta["store_blobs"]:
            problems.append(f"compacted to {blobs} blobs, expected "
                            f"{self.meta['store_blobs']}")
        self.bytes_per_point = nbytes / max(n, 1)
        return problems, n

    def op(self, phase: str, timed: bool = True) -> None:
        if phase == "read":
            k = self.next_window
            self.next_window += 1

            def check(rows):
                # checked in one batch after the loop (see finish)
                self.read_results.append((k, rows))
                return [], sum(r[1] for r in rows)
            self._op(phase, lambda: self.read(k), check, timed)
        elif phase == "scan":
            self._op(phase, self.scan, lambda out: oracle.check_daily(
                self.inputs, out), timed)
        else:
            self._op(phase, self.compact, self._check_compact, timed)

    def finish(self) -> None:
        """Check every window read against DuckDB."""
        ks = [k for k, _ in self.read_results]
        expected = oracle.expected_windows(self.inputs,
                                           [self.windows[k] for k in ks])
        for (k, rows), exp in zip(self.read_results, expected):
            problems = oracle.check_window(rows, exp)
            if problems:
                self.failed += 1
                self.errors.extend(problems)

    def warm_up(self) -> None:
        # reads are the shortest ops and the slowest to settle: two
        self.op("read", timed=False)
        for phase in self.phases:
            self.op(phase, timed=False)

    def metrics(self) -> dict:
        t = self.times["read"]
        return {
            "items_per_s": self.per_s("scan"),
            "aux_items_per_s": self.per_s("compact"),
            "op_p50_s": statistics.median(t),
            "bytes_per_item": self.bytes_per_point,
        }

    def untraced_pass(self) -> float:
        t0 = time.perf_counter()
        self.read(0)
        self.scan()
        self.compact()
        return time.perf_counter() - t0

    def traced_pass(self, m: dict) -> None:
        tr = self.tracer
        hit, _, _ = self.envelope_hits(0)
        env = hit.agg(F.count(F.lit(1)), F.sum("count")).first()
        m["read_path.blobs_decoded"] = env[0]
        m["read_path.points_decoded"] = env[1]
        with tr.span("retention.pass"):
            with tr.span("operators.gorilla_sink:decode"):
                rows = self.read(0)
            with tr.span("operators.gorilla_sink:decode_agg"):
                out = self.scan()
            with tr.span("operators.compaction"):
                cout = self.compact()
        problems = oracle.check_window(
            rows, oracle.expected_windows(self.inputs, [self.windows[0]])[0])
        p2, n_daily = oracle.check_daily(self.inputs, out)
        p3, _ = self._check_compact(cout)
        if problems + p2 + p3:
            raise RuntimeError(f"traced retention output wrong: "
                               f"{problems + p2 + p3}")
        m["read_path.points_returned"] = sum(r[1] for r in rows)
        m["read_path.useful_ratio"] = \
            m["read_path.points_returned"] / max(env[1], 1)
        m["operators.gorilla_sink.points_decoded"] = n_daily
        m["operators.compaction.blobs_in"], m["operators.compaction.bytes_in"] \
            = oracle.blob_stats(self.frag)
        m["operators.compaction.blobs_out"], \
            m["operators.compaction.bytes_out"] = oracle.blob_stats(cout)
        codec_rates(m, self.store)

    def layer_metrics(self, m: dict) -> None:
        tr = self.tracer
        for s in tr.by_layer("operators.gorilla_sink"):
            kind = s["name"].split(":")[1]
            m[f"operators.gorilla_sink.{kind}_wall_s"] = tr.duration(s)


WORKLOADS = {"ingest": Ingest, "phenology": Phenology,
             "retention": Retention}
