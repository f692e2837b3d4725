"""DRAM-bandwidth probe: validate a scaling-measurement window.

The sandbox is a shared VM: aggregate memory bandwidth fluctuates by
>5x between quiet and noisy-neighbor windows (measured 2026-08-20:
8-way 29.6 GB/s in one minute, 97.6 GB/s at 16-way the next). Every
memory-bound Spark phase (the LPA symmetric-cache stream, CC window
sorts, late label-stable supersteps) tracks that ceiling, so N-vs-4N
walls from different windows are NOT comparable — a 1x4-vs-4x4 pair
measured across a bandwidth dip reads as a scaling regression that
does not exist.

tools/bench_scaling.py runs this probe before every leg and stores the
numbers in the leg's scaling.json row (`membw_gbps`); a pair is
trusted only when both legs' probes agree within ~25%. Run standalone:

    python tools/membw.py            # one JSON line

The probe fills, then streams, a 200 MB float64 array per worker (far
over L3, so it measures DRAM, not cache) at 1/4/16-way and reports
aggregate GB/s.
~20 s total.
"""
from __future__ import annotations

import json
import multiprocessing as mp
import time


def _stream(_):
    import numpy as np

    # fill before timing: an untouched np.zeros array maps every page to the
    # kernel's shared zero page, so summing it reads cache, not DRAM
    a = np.ones(200_000_000 // 8, dtype=np.float64)  # 200 MB >> L3
    t0 = time.time()
    s = 0.0
    for _ in range(8):
        s += float(a.sum())
    return 8 * a.nbytes / (time.time() - t0) / 1e9


def probe(ways=(1, 4, 16)) -> dict:
    out = {}
    for n in ways:
        if n == 1:
            out["1"] = round(_stream(0), 1)
            continue
        with mp.Pool(n) as p:
            out[str(n)] = round(sum(p.map(_stream, range(n))), 1)
    return out


if __name__ == "__main__":
    print(json.dumps({"membw_gbps": probe()}))
