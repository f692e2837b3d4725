#!/usr/bin/env python3
"""Interleaved median-of-N scaling pairs — the burstable-host protocol.

On a host whose sustained CPU capacity swings +-2x over single minutes
(BENCH/BASELINE.md, host-replacement forensics), a single 1x4-vs-4x4
wall pair measures the hypervisor's throttle schedule, not the engine.
This driver de-noises the ratio structurally instead of statistically:

  * SHORT legs (sf1, ~1-3 min) so one leg fits inside one throttle
    window instead of averaging across several;
  * strict A/B INTERLEAVING (1x4, 4x4, 1x4, 4x4, ...) so both legs
    sample the same sequence of windows — a slow window penalizes both
    sides of the ratio instead of one;
  * MEDIAN over n pairs, reported with per-leg spreads, so one
    throttled leg cannot set the headline number;
  * every leg carries its tools/membw.py window fingerprint.

Usage: python tools/bench_interleaved.py <sf> <op> <n_pairs> [iters]
Writes BENCH/interleaved_<op>_sf<sf>.json and prints the medians.
"""
from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from tools.bench_scaling import run_scale

sf = sys.argv[1]
op = sys.argv[2]
n_pairs = int(sys.argv[3])
iters = int(sys.argv[4]) if len(sys.argv) > 4 else 12

legs: dict[str, list[dict]] = {"1": [], "4": []}
for i in range(n_pairs):
    for nexec in ("1", "4"):
        print(f"[pair {i + 1}/{n_pairs}] {op} sf{sf} {nexec}x4 ...", flush=True)
        try:
            cell = run_scale(float(sf), int(nexec), iters, op)
        except Exception as exc:  # noqa: BLE001 - record and keep interleaving
            print(f"  LEG FAILED: {exc}", flush=True)
            continue
        legs[nexec].append(cell)
        print(
            f"  wall={cell.get('wall_sec')}s sec/iter={cell.get('sec_per_iter')}"
            f" membw={cell.get('membw_gbps')}",
            flush=True,
        )


def med(xs):
    return round(statistics.median(xs), 3) if xs else None


out = {"sf": float(sf), "op": op, "n_pairs": n_pairs, "legs": legs}
for k in ("wall_sec", "sec_per_iter"):
    v1 = [c[k] for c in legs["1"] if c.get(k) is not None]
    v4 = [c[k] for c in legs["4"] if c.get(k) is not None]
    out[f"median_{k}_1x4"] = med(v1)
    out[f"median_{k}_4x4"] = med(v4)
    out[f"spread_{k}_1x4"] = [min(v1), max(v1)] if v1 else None
    out[f"spread_{k}_4x4"] = [min(v4), max(v4)] if v4 else None
    if v1 and v4:
        # efficiency of medians: T1 / (4 * T4) for a 4x core ratio
        out[f"eff_{k}"] = round(med(v1) / (4 * med(v4)), 3)

path = f"BENCH/interleaved_{op}_sf{sf}.json"
with open(os.path.join(REPO, path), "w") as f:
    json.dump(out, f, indent=2)
print(json.dumps({k: v for k, v in out.items() if k != "legs"}))
print(f"wrote {path}")
