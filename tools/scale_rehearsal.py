"""Scale rehearsal: time named corpus queries at TWO scale factors with
the isolation methodology (fresh session per query, warmup +
median-of-3 — tools/bench_isolate.py) and report each query's scaling
exponent

    alpha = log(t_hi / t_lo) / log(size_ratio)

so alpha ~= 1 is linear, ~2 quadratic, < 1 sublinear (fixed overheads
still dominating). This converts SCALE.md's design claims ("LSH cost
follows collision volume, not n^2") into measurements at 10x the
largest driver-shipped scale (sf1 via tools/gen_sf.py).

Usage:
    python tools/scale_rehearsal.py /root/testdata/sf0.1 /tmp/sf1 10 name...

Prints per-query lines as they finish, then a markdown table + one JSON
line for the record.
"""

from __future__ import annotations

import json
import math
import os
import sys

from bench_isolate import isolate


def main() -> None:
    lo_dir, hi_dir, ratio = sys.argv[1], sys.argv[2], float(sys.argv[3])
    names = sys.argv[4:]
    rows = []
    for name in names:
        lo = isolate(name, lo_dir)
        hi = isolate(name, hi_dir)
        alpha = math.log(hi["median"] / lo["median"]) / math.log(ratio)
        rows.append({"query": name, "lo": lo, "hi": hi,
                     "alpha": round(alpha, 2)})
        print(
            f"{name}: {lo['median']:.2f}s -> {hi['median']:.2f}s  "
            f"alpha={alpha:.2f}  (spreads {lo['spread']:.2f}/"
            f"{hi['spread']:.2f})",
            flush=True,
        )
    print("\n| query | t(lo) s | t(hi) s | exponent |")
    print("| --- | --- | --- | --- |")
    for r in rows:
        print(f"| {r['query']} | {r['lo']['median']:.2f} | "
              f"{r['hi']['median']:.2f} | {r['alpha']:.2f} |")
    print(json.dumps({
        "lo_dir": lo_dir, "hi_dir": hi_dir, "ratio": ratio,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "rows": rows,
    }))


if __name__ == "__main__":
    main()
