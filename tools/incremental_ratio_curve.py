"""Measure the incremental-dedup claim at PRODUCTION corpus:batch
ratios (VERDICT r11 item #2): SCALE.md §19b's 2.2x indexed win was
measured at a 10:1 base:batch split; the actual 100 TB argument is
"per-batch work stays near-flat as the indexed base grows", which was
extrapolated. This tool measures it: hold the incoming batch FIXED at
~500 docs and grow the indexed base one decade per sf_dir — per-batch
wall for the indexed path (stored shingle/signature index read from
parquet, base x base candidates never derived) should track the batch's
collision volume, not the base size.

Per sf_dir, in a FRESH session (no cross-scale cache bleed):
  * base/batch split by deterministic hash bucket sized for ~500 batch
    docs regardless of corpus size, and at most a tenth of the corpus;
  * index build time (once per corpus life, amortized over every batch
    — reported, not charged to the per-batch number);
  * warm median-of-3 wall (measure.timed) for incremental_minhash_pairs
    reading the stored index, noop sink — the index build and the
    `indexed` variant are tools/incremental_dedup_rehearsal.py's.

Usage: python tools/incremental_ratio_curve.py sf_dir [sf_dir ...]
Prints one JSON line per sf_dir, then a summary line with the curve.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from incremental_dedup_rehearsal import PARAMS, build_index, indexed, timed_noop  # noqa: E402

from financial_data_lakehouse_pipeline__spark.operators import dedup, sampling  # noqa: E402
from financial_data_lakehouse_pipeline__spark.session import build_session  # noqa: E402
from financial_data_lakehouse_pipeline__spark.sources import read_table  # noqa: E402

TARGET_BATCH = 500


def measure(sf_dir: str, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    spark = build_session("incr-ratio-curve")
    try:
        d = read_table(spark, sf_dir, "documents")
        n_docs = d.count()
        # bucket threshold sized for ~TARGET_BATCH docs at ANY corpus
        # size (hash_bucket is uniform over [0, BUCKETS)), capped at a
        # tenth of the corpus so a small corpus keeps a base to index
        k = max(1, min(round(sampling.BUCKETS * TARGET_BATCH / n_docs),
                       sampling.BUCKETS // 10))
        is_new = sampling.hash_bucket(F.col("doc_id"), salt="incr") < k
        base, inc = d.filter(~is_new), d.filter(is_new)
        n_base, n_inc = base.count(), inc.count()
        index_build_s = build_index(base, out_dir)
        # optional third index table (round 13): precomputed band
        # buckets amortize the per-batch bands*N md5 recompute
        t0 = time.monotonic()
        dedup.minhash_band_buckets(
            spark.read.parquet(f"{out_dir}/sig"),
            num_hashes=PARAMS["num_hashes"], bands=PARAMS["bands"],
        ).write.mode("overwrite").parquet(f"{out_dir}/bk")
        bucket_index_build_s = round(time.monotonic() - t0, 3)

        row = {
            "sf_dir": sf_dir, "n_base": n_base, "n_batch": n_inc,
            "ratio": round(n_base / max(n_inc, 1), 1),
            "index_build_s": index_build_s,
            "bucket_index_build_s": bucket_index_build_s,
            "per_batch": timed_noop(lambda: indexed(spark, inc, out_dir)),
            "per_batch_bucketed": timed_noop(lambda: indexed(
                spark, inc, out_dir,
                base_buckets=spark.read.parquet(f"{out_dir}/bk"),
            )),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
        }
        print(json.dumps(row), flush=True)
        return row
    finally:
        spark.stop()
        shutil.rmtree(out_dir, ignore_errors=True)


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1"]
    rows = [measure(d, "/tmp/incr_curve_idx") for d in sf_dirs]
    print(json.dumps({
        "curve": [
            {"n_base": r["n_base"], "n_batch": r["n_batch"],
             "per_batch_s": r["per_batch"]["median"],
             "per_batch_bucketed_s": r["per_batch_bucketed"]["median"],
             "index_build_s": r["index_build_s"]}
            for r in rows
        ],
    }))


if __name__ == "__main__":
    main()
