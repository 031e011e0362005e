"""SparkSession factory with scale-oriented defaults.

Mirrors the essentials of the reference's config/spark-defaults.conf
(AQE + coalescePartitions + skewJoin, snappy parquet, dynamic partition
overwrite — see SURVEY.md §4) re-tuned for Spark 4 and for both local
testing and large-cluster deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs that the engine depends on. These are applied
# both by build_session() and by tune_runtime() so the engine also behaves
# correctly on an externally-provided session (e.g. the verify driver's).
_RUNTIME_CONF = {
    # The testdata `events` table stores TIMESTAMP(NANOS) which Spark's
    # parquet reader rejects by default; read as long and convert
    # explicitly (sources.readers.read_table normalizes the column).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics for cross-engine comparison.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime partition coalescing, skew-join
    # splitting, local shuffle reader (reference: spark-defaults.conf:27-30).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Idempotent re-runs of partitioned sinks (reference: spark-defaults.conf:99).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Arrow for any pandas-UDF path (similarity / multimodal operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime row-level join pruning: inject a bloom filter built from the
    # small join side into the big side's scan — at 100 TB this skips
    # reading most of a fact table joined against a selective dimension.
    # (semiJoinReduction is deliberately NOT enabled: measured on this
    # corpus it sends the multi-branch LSH plans into runaway re-planning
    # — minutes instead of seconds at sf0.01.)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Cap plan strings (explain output and the AQE plan updates the SQL
    # listener keeps per execution) at 1M characters. Under
    # SPARK_GRAFT_PIN_MODE=off no pin cuts the plan, and
    # incremental_lsh_dedup_docs prints 8.3M characters at sf0.001; the
    # longest plan in any pinning mode is 0.27M.
    "spark.sql.maxPlanStringLength": "1m",
}


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime SQL confs to an existing session.

    Safe to call repeatedly; only touches dynamic (non-static) confs.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be static on some builds — never fail the query for it.
            pass
    return spark


def shuffle_partition_count(spark: SparkSession, default: int = 200) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``default`` when the conf is unset OR non-numeric ('auto' on some
    managed platforms) — the range-partitioned prefix-sum operators
    (equal-frequency bins, zipf rank) only need a reasonable task
    count, never a parse failure (ADVICE r12)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (ValueError, TypeError):
        return default


def build_session(
    app_name: str = "financial_data_lakehouse_pipeline__spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass None and let spark-submit supply it. ``shuffle_partitions``
    defaults to the local core count (small data) — on a 1000-executor
    cluster you would size this at 2-3x total cores or rely on AQE
    coalescing from a higher initial value.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        # no live stage progress bar on stderr (on by default in a script)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.maxResultSize", "4g")
    )
    # Heap sizing (local mode runs everything in the driver JVM): the
    # 1g Spark default OOM-killed the full sf0.1 corpus run once the
    # persist-heavy queries landed (32 concurrent tasks sharing 1g =
    # ~30 MB each; java.lang.OutOfMemoryError in the sort-spill reader
    # of a persisted-edges pagerank, round 5). Default
    # container-aware: ~1/8 of available RAM clamped to [2g, 8g],
    # where "available" is min(host physical RAM, cgroup memory limit)
    # — sysconf reports HOST RAM, so without the cgroup read a
    # 4 GB-limited container on a 128 GB box would get the full 8g
    # heap and risk an OOM-kill. SPARK_GRAFT_DRIVER_MEM still
    # overrides. Static conf — applies only to the first session of
    # the process.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not driver_mem:
        try:
            total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (ValueError, OSError, AttributeError):
            total = 0
        # Resolve the process's OWN cgroup path first: a container
        # limited in a CHILD cgroup (K8s/systemd without a private
        # cgroup namespace) has no limit at the root files, so reading
        # only those would still size the heap off host RAM.
        own_paths: list[str] = []
        try:
            with open("/proc/self/cgroup") as fh:
                for ln in fh:
                    parts = ln.strip().split(":", 2)
                    if len(parts) == 3:
                        hier, ctrl, cpath = parts
                        if hier == "0":  # cgroup v2 unified
                            own_paths.append(
                                f"/sys/fs/cgroup{cpath}/memory.max"
                            )
                        elif "memory" in ctrl.split(","):
                            own_paths.append(
                                f"/sys/fs/cgroup/memory{cpath}"
                                "/memory.limit_in_bytes"
                            )
        except OSError:
            pass
        for path in own_paths + [
            "/sys/fs/cgroup/memory.max",  # cgroup v2 root
            "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1 root
        ]:
            try:
                with open(path) as fh:
                    raw = fh.read().strip()
                if raw != "max":  # v2 spells "no limit" as the literal max
                    limit = int(raw)
                    # v1 reports ~2^63 when unlimited; ignore absurd values
                    if 0 < limit < 1 << 50:
                        total = min(total, limit) if total else limit
                break
            except (OSError, ValueError):
                continue
        driver_mem = f"{max(2, min(8, (total >> 30) // 8))}g"
    b = b.config("spark.driver.memory", driver_mem)
    for k, v in _RUNTIME_CONF.items():
        b = b.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_runtime(spark)
