"""Compare two bench result files (BENCH_DETAIL.json / BENCH_r{N}.json
shape: {"value": total, "loadavg_1m": ..., "queries": {name: sec}})
and print the per-query delta story the round verdicts reconstruct by
hand: added/removed entries, one-time `shared_*` build accounting, and
regressions beyond a noise ratio — with both runs' loadavg so ambient
contention is separable from real change.

Usage:
    python tools/bench_diff.py OLD.json NEW.json [--ratio 1.3]
"""

from __future__ import annotations

import argparse
import json


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("old")
    p.add_argument("new")
    p.add_argument("--ratio", type=float, default=1.3)
    p.add_argument("--min-abs", type=float, default=0.2,
                   help="ignore regressions below this absolute seconds delta")
    args = p.parse_args()

    def load(path: str) -> dict:
        d = json.load(open(path))
        # driver BENCH_r{N}.json wraps the bench line under "parsed";
        # its short summary has only the slowest-3 queries, so prefer
        # a sibling full-detail map when the caller passes one directly
        if "parsed" in d and isinstance(d.get("parsed"), dict):
            d = d["parsed"]
        return d

    a, b = load(args.old), load(args.new)
    qa, qb = a.get("queries") or {}, b.get("queries") or {}

    print(
        f"total: {a.get('value')} s / {len(qa)} -> {b.get('value')} s / {len(qb)}"
        f"   loadavg_1m: {a.get('loadavg_1m')} -> {b.get('loadavg_1m')}"
    )
    # canary normalization (r10): when BOTH snapshots carry the fixed
    # boot-calibration job, the machine-context drift between them is a
    # measured number — per-entry ratios below are divided by it, so a
    # "regression" that is just a slower boot normalizes back to ~1x
    cal = 1.0

    def _canary(doc: dict) -> float | None:
        c = doc.get("canary_s") or {}
        vals = [v for v in (c.get("start"), c.get("end")) if v]
        return min(vals) if vals else None

    ca, cb = _canary(a), _canary(b)
    if ca and cb:
        cal = cb / ca
        print(
            f"canary: {ca} -> {cb} s (machine-context factor {cal:.3f}x; "
            f"per-entry ratios below are canary-normalized)"
        )

    # Intra-battery canary stability (r12): a battery whose OWN start
    # and end canaries disagree spanned a machine-context transition
    # (box settling, competing load arriving/leaving), so ONE factor
    # cannot normalize all its entries — both r12 sf1 runs produced
    # phantom "normalized regressions" this way (factors 0.826x and
    # 0.645x while raw totals improved). Warn and point at the raw
    # column rather than silently over- or under-correcting.
    for label, doc in (("OLD", a), ("NEW", b)):
        c = doc.get("canary_s") or {}
        s, e = c.get("start"), c.get("end")
        if s and e and max(s, e) / min(s, e) > 1.3:
            print(
                f"WARNING: {label} battery's own canary pair is unstable "
                f"(start {s} vs end {e} s, {max(s, e) / min(s, e):.2f}x) — "
                "it spanned a machine-context transition; read the RAW "
                "ratio column for per-entry verdicts, not the normalized one"
            )

    # data-canary pair (r12): the CPU canary is blind to page-cache
    # state on data files. When both snapshots carry canary_data_s,
    # print the warm-scan I/O factor and each battery's start
    # cold-ratio (first pass / warm min on a fixed parquet shard) —
    # a data-bound "regression" whose side shows a much higher
    # cold-ratio is cache state, not code (the r11
    # dataset_interleave_shards adjudication, now a printed number).
    def _dcanary(doc: dict):
        c = doc.get("canary_data_s") or {}
        s, e = c.get("start") or {}, c.get("end") or {}
        warm = [v for v in (s.get("min"), e.get("min")) if v]
        cold = (
            round(s["first"] / s["min"], 2)
            if s.get("first") and s.get("min")
            else None
        )
        return (min(warm) if warm else None), cold

    (wa, colda), (wb, coldb) = _dcanary(a), _dcanary(b)
    if wa and wb:
        note = ""
        if colda and coldb and max(colda, coldb) / min(colda, coldb) > 1.5:
            side = "NEW" if coldb > colda else "OLD"
            note = (
                f"  <- {side} battery started page-cache-cold; data-bound "
                "deltas on that side may be cache state, not code"
            )
        print(
            f"data canary: warm scan {wa} -> {wb} s (I/O factor {wb / wa:.3f}x); "
            f"start cold-ratio {colda}x -> {coldb}x{note}"
        )
    added = sorted(set(qb) - set(qa))
    removed = sorted(set(qa) - set(qb))
    if added:
        tot = sum(qb[k] for k in added)
        print(f"added ({len(added)}, {tot:.2f} s): "
              + ", ".join(f"{k}={qb[k]}" for k in added))
    if removed:
        tot = sum(qa[k] for k in removed)
        print(f"removed ({len(removed)}, {tot:.2f} s): "
              + ", ".join(f"{k}={qa[k]}" for k in removed))

    builds = [k for k in qb if k.startswith("shared_")]
    if builds:
        print("one-time builds (explicit entries): "
              + ", ".join(f"{k}={qb[k]}" for k in sorted(builds))
              + f"  (sum {sum(qb[k] for k in builds):.2f} s)")

    common = sorted(set(qa) & set(qb))
    # min_abs is canary-normalized like the ratio gate: qb/cal is the
    # "what B would have cost on A's boot" estimate, so both gates see
    # the same normalized delta (raw-second deltas on a boot with cal
    # far from 1 would let the two gates disagree on the same entry).
    reg = [
        (k, qa[k], qb[k])
        for k in common
        if qa[k] > 0
        and qb[k] / qa[k] / cal > args.ratio
        and qb[k] / cal - qa[k] >= args.min_abs
    ]
    imp = [
        (k, qa[k], qb[k])
        for k in common
        if qb[k] > 0
        and qa[k] * cal / qb[k] > args.ratio
        and qa[k] - qb[k] / cal >= args.min_abs
    ]
    for title, rows in (("regressed", reg), ("improved", imp)):
        if rows:
            print(f"{title} (> {args.ratio}x canary-normalized and >= {args.min_abs}s):")
            for k, x, y in sorted(rows, key=lambda r: r[2] - r[1], reverse=True):
                print(f"  {k}: {x} -> {y} s ({y / x:.2f}x raw, {y / x / cal:.2f}x normalized)")
    if not reg:
        print("no per-query regressions beyond the noise ratio")
    carried_a = sum(qa[k] for k in common)
    carried_b = sum(qb[k] for k in common)
    print(f"carried battery ({len(common)} common entries): "
          f"{carried_a:.2f} -> {carried_b:.2f} s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
