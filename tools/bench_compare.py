"""Compare two BENCH_r{N}.json files with variance context.

Usage: python tools/bench_compare.py OLD.json NEW.json [ratio]

Flags per-query regressions where new/old reaches `ratio` (default 1.5)
AND the delta is at least 0.25 s — the r5/r6 lesson: shared-box
per-query variance produced 1.5-2x phantom regressions on sub-second
queries. It only compares: a mover is re-measured by bench.py's own
in-run readjudication, or by hand with tools/bench_isolate.py.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    """Accept either a raw bench result line or the driver's
    BENCH_r{N}.json wrapper ({n, rc, tail, parsed: {...}})."""
    with open(path) as fh:
        d = json.load(fh)
    if "queries" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    return d


def main() -> None:
    old, new = load(sys.argv[1]), load(sys.argv[2])
    ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    oq, nq = old.get("queries", {}), new.get("queries", {})
    shared = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    flags = []
    for name in shared:
        a, b = oq[name], nq[name]
        if a > 0 and b / a >= ratio and (b - a) >= 0.25:
            flags.append((name, a, b, b / a))
    print(
        json.dumps(
            {
                "old_total": old.get("value"),
                "new_total": new.get("value"),
                "shared_total_old": round(sum(oq[n] for n in shared), 3),
                "shared_total_new": round(sum(nq[n] for n in shared), 3),
                "n_shared": len(shared),
                "added": added,
                "removed": removed,
                "regressions": [
                    {
                        "query": n,
                        "old": a,
                        "new": b,
                        "ratio": round(r, 2),
                    }
                    for n, a, b, r in sorted(
                        flags, key=lambda x: -x[3]
                    )
                ],
            },
            indent=2,
        )
    )


if __name__ == "__main__":
    main()
