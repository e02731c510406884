"""Blob-store compaction: merge fragmented Gorilla blobs per (id, chunk).

Incremental ingestion fragments the tier store: every commit that APPENDS
newly-arrived buckets for an existing (id, tier, chunk_start) window
writes another small blob, so a year-old hot series accumulates dozens of
fragments per chunk and every read pays per-blob fixed cost (envelope
row, decode dispatch, Arrow cell) dozens of times over. ``compact_blobs``
is the Iceberg ``rewrite_data_files`` analogue for this store — a
maintenance pass that rewrites each fragmented (id, tier, chunk_start)
group into ONE blob while leaving already-compact groups untouched
byte-for-byte (so re-running it is idempotent and a planned-but-skipped
group costs nothing).

Scale shape: one hash shuffle on the group key (the window count that
splits fragmented groups from singletons), then singletons flow through
unchanged — no decode, no re-encode — and only fragments enter the
vectorized decode→merge→re-encode mapInArrow pass. At 100 TB the pass is
bounded by the fragmented fraction of the store, not the store size, and
each group's output blob is chunk-bounded exactly like the sink's
(operators/gorilla_sink.py).

Merge policy: fragments of a group must hold DISJOINT bucket_starts — the
append path only ever adds new buckets. A duplicate bucket across
fragments means someone appended an upsert, which this store expresses as
an idempotent bucket overwrite through the catalog
(sources/catalog.py:write_stage), never as a blob append — compaction
fails loudly rather than guessing which value wins.

Reference parity note: sen2rts has no storage layer (its s2ts cube lives
in memory, R/load_s2paths.R + R/extract_s2ts.R scan rasters per call);
compaction is part of the graft's retention-service surface.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..kernels.gorilla import gorilla_decode_multi
from .gorilla_sink import BLOB_SCHEMA, _blob_batch, _blob_buffers, _whole_groups

__all__ = ["compact_blobs"]

_GROUP = ["id", "tier", "chunk_start"]


def compact_blobs(blobs: DataFrame) -> DataFrame:
    """Rewrite multi-blob (id, tier, chunk_start) groups into one blob each.

    Input/output schema: ``BLOB_SCHEMA``. Groups that already hold a single
    blob pass through byte-identical (tested). Fragmented groups go through
    the sink's batch machinery: ``_whole_groups`` hands over batches of
    whole groups, every fragment of a batch decodes in one
    ``gorilla_decode_multi`` call, one sort orders the points by
    (group, ts), and ``_blob_batch`` re-encodes every group in one
    ``gorilla_encode_multi`` call — no per-group Python. ``count``/
    ``min_ts``/``max_ts`` of a merged blob are recomputed from the merged
    points, so the envelope prune (tier_read_window_prune) stays exact.

    Writing the result: repartition to the standard per-core task count
    (session.task_partitions, or your store's target file size) before
    ``.write`` — the output of the union is small enough post-merge that
    AQE otherwise coalesces it into few large files and READ parallelism
    collapses (measured 2.2× slower reads; BENCH/BASELINE.md compaction).
    The wall-clock read win is largest for micro-fragments (daily appends:
    1.4× + 26× fewer index rows); weekly-sized fragments already decode at
    amortized cost via the lockstep kernel, so there the payoff is the
    blob-index reduction (envelope scan/filter/shuffle rows), not decode.
    """
    tagged = blobs.withColumn(
        "_nfrag", F.count(F.lit(1)).over(Window.partitionBy(*_GROUP)))
    single = tagged.filter(F.col("_nfrag") == 1).drop("_nfrag")
    # the window's hash partitioning already collocates each group; only a
    # within-partition sort is needed to make groups contiguous for the
    # streaming merge (same no-second-exchange shape as the sink's
    # clustered=True path)
    frag = (tagged.filter(F.col("_nfrag") > 1).drop("_nfrag")
            .sortWithinPartitions(*_GROUP, "min_ts"))
    merged = frag.mapInArrow(_merge, BLOB_SCHEMA)
    return single.unionByName(merged)


def _merge(batches):
    import pyarrow as pa
    for batch, starts in _whole_groups(batches, _GROUP):
        dat, offs = _blob_buffers(batch)
        counts, ts, vals = gorilla_decode_multi(dat, offs)
        # group of every decoded point (non-decreasing: groups are runs)
        rows = np.diff(np.append(starts, batch.num_rows))
        gid = np.repeat(np.repeat(np.arange(len(starts)), rows), counts)
        order = np.lexsort((ts, gid))
        ts, vals = ts[order], vals[order]
        dup = np.flatnonzero((ts[1:] == ts[:-1]) & (gid[1:] == gid[:-1]))
        if len(dup):
            row = starts[gid[dup[0]]]
            key = [batch.column(batch.schema.get_field_index(k))[row].as_py()
                   for k in _GROUP]
            raise ValueError(
                f"duplicate bucket across fragments of (id={key[0]}, "
                f"tier={key[1]}, chunk={key[2]}): upserts go through "
                f"the catalog's idempotent bucket overwrite, not blob "
                f"appends — refusing to pick a winner")
        npts = np.add.reduceat(counts, starts)
        first = pa.array(starts)
        id_, tier, chunk = (batch.column(batch.schema.get_field_index(k))
                            .take(first) for k in _GROUP)
        yield _blob_batch(id_, tier, chunk, ts * 1_000_000, vals,
                          np.cumsum(npts) - npts)
