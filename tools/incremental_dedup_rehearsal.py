"""Measure the incremental-dedup claim (SCALE.md §19): dedup a 1-in-10
incoming batch against the other 9/10ths three ways and time each —

  full        capped MinHash-LSH re-dedup of the WHOLE corpus
              (what a pipeline without delta support must run nightly)
  incremental incremental_minhash_pairs recomputing the base side's
              shingles/signatures (no stored index)
  indexed     incremental_minhash_pairs reading the base index from
              parquet (minhash_index written once beforehand — the
              production posture; index build time reported separately)

All three are warm median-of-3 (measure.timed) in one fresh session,
forced with a noop sink.
The incremental outputs equal the full output filtered to pairs touching
the batch (pinned by pytest), so the comparison is work-for-work.

Usage: python tools/incremental_dedup_rehearsal.py [sf_dir] [out_dir]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from financial_data_lakehouse_pipeline__spark import measure  # noqa: E402
from financial_data_lakehouse_pipeline__spark.operators import dedup, sampling  # noqa: E402
from financial_data_lakehouse_pipeline__spark.session import build_session  # noqa: E402
from financial_data_lakehouse_pipeline__spark.sources import read_table  # noqa: E402

PARAMS = dict(num_hashes=16, bands=4, threshold=0.5, max_bucket_size=50)


def timed_noop(make_df) -> dict[str, float]:
    """Median and spread of executing ``make_df()`` with the noop sink."""
    t = measure.timed(lambda: measure.noop(make_df()))
    return {"median": t["median"], "spread": t["spread"]}


def build_index(base, out_dir: str) -> float:
    """Write ``base``'s shingle and signature index to ``out_dir``/sh and
    ``out_dir``/sig (once per corpus life, amortized over every batch);
    return the seconds it took."""
    t0 = time.monotonic()
    sh_b, sig_b = dedup.minhash_index(base)
    sh_b.write.mode("overwrite").parquet(f"{out_dir}/sh")
    sig_b.write.mode("overwrite").parquet(f"{out_dir}/sig")
    return round(time.monotonic() - t0, 3)


def indexed(spark, inc, out_dir: str, **index):
    """Pairs of the ``inc`` batch against the base index in ``out_dir``,
    read from parquet; ``index`` passes further stored index tables."""
    return dedup.incremental_minhash_pairs(
        None, inc,
        base_shingles=spark.read.parquet(f"{out_dir}/sh"),
        base_signatures=spark.read.parquet(f"{out_dir}/sig"),
        **index, **PARAMS,
    )


def main() -> None:
    from pyspark.sql import functions as F

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/incr_dedup_idx"
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    results: dict[str, dict] = {}
    spark = build_session("incr-dedup-rehearsal")
    d = read_table(spark, sf_dir, "documents")
    is_new = sampling.hash_bucket(F.col("doc_id"), salt="incr") < 1000
    base, inc = d.filter(~is_new), d.filter(is_new)
    n_base, n_inc = base.count(), inc.count()
    index_build_s = build_index(base, out_dir)

    results["full"] = timed_noop(lambda: dedup.minhash_lsh_pairs(d, **PARAMS))
    results["incremental"] = timed_noop(
        lambda: dedup.incremental_minhash_pairs(base, inc, **PARAMS)
    )
    results["indexed"] = timed_noop(lambda: indexed(spark, inc, out_dir))
    print(json.dumps({
        "sf_dir": sf_dir, "n_base": n_base, "n_incoming": n_inc,
        "index_build_s": index_build_s,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "variants": results,
    }))


if __name__ == "__main__":
    main()
