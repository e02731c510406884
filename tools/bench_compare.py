"""Diff two bench artifacts per query, with host-phase context.

    python tools/bench_compare.py BENCH/BENCH_r7_preview.json BENCH/BENCH_r8_preview.json [pct]

Prints every query (suite + extras + tier_read) side by side with the
relative delta, flagging rows beyond ``pct`` (default 10 %), and the host
telemetry that decides whether a delta is attributable to code or to the
box's bandwidth phase (accepted-probe cal/steal, stream_bw at acceptance
and at suite end). Wall-clock rows under ~0.7 s sit on the sf0.1
scan+dispatch floor (BENCH/BASELINE.md) — deltas there are phase noise
unless they reproduce across runs.
"""

from __future__ import annotations

import json
import sys


def _queries(d: dict) -> dict:
    q = dict(d.get("queries", {}))
    q.update(d.get("extra_queries", {}))
    for k, v in d.get("tier_read", {}).items():
        # counters (blobs_decoded etc.) are not wall-clock rows
        if isinstance(v, float):
            q[k] = v
    return q


def _host(d: dict) -> str:
    h = d.get("host", {})
    bits = []
    rep = h.get("rollup_best_rep")
    if rep:
        bits.append(f"best-rep cal {rep.get('cal_sec')} steal {rep.get('steal_pct')}%")
    for sec in h.get("quiet_gate", []):
        acc = sec.get("accepted")
        if isinstance(acc, dict) and acc.get("stream_bw_gbs") is not None:
            bits.append(f"{sec.get('label')}@{acc['stream_bw_gbs']}GB/s")
    if h.get("suite_stream_bw_gbs") is not None:
        bits.append(f"suite-end {h['suite_stream_bw_gbs']}GB/s "
                    f"steal {h.get('suite_steal_pct')}%")
    return "; ".join(bits) or "no host block"


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    a = json.load(open(sys.argv[1]))
    b = json.load(open(sys.argv[2]))
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    qa, qb = _queries(a), _queries(b)
    la, lb = sys.argv[1].rsplit("/", 1)[-1], sys.argv[2].rsplit("/", 1)[-1]
    print(f"A = {la}: total {a.get('value')} s, "
          f"{a.get('points_per_sec')} pts/s | {_host(a)}")
    print(f"B = {lb}: total {b.get('value')} s, "
          f"{b.get('points_per_sec')} pts/s | {_host(b)}")
    print(f"\n{'query':34s} {'A':>8} {'B':>8} {'delta':>7}")
    flagged = []
    for k in sorted(set(qa) | set(qb), key=lambda k: -(qb.get(k) or qa.get(k) or 0)):
        va, vb = qa.get(k), qb.get(k)
        if va is not None and vb is not None:
            if va:
                pct = (vb / va - 1) * 100
            else:
                pct = 0.0 if vb == va else float("inf")
            mark = " <<" if abs(pct) >= thresh else ""
            if mark:
                flagged.append((k, pct))
            print(f"{k:34s} {va:8.3f} {vb:8.3f} {pct:+6.0f}%{mark}")
        else:
            print(f"{k:34s} {'-' if va is None else va:>8} "
                  f"{'-' if vb is None else vb:>8} "
                  f"{'only in ' + (la if va is not None else lb):>7}")
    if flagged:
        print(f"\n{len(flagged)} row(s) beyond ±{thresh:.0f}% — check the "
              "host lines above before attributing to code; sub-0.7 s rows "
              "ride the scan floor.")


if __name__ == "__main__":
    main()
