"""Spark's event log, attached to a running session for a span of work
and folded into per-job-group totals.

The listener is Spark's own ``EventLoggingListener``, added to the live
listener bus and removed again, so one session can alternate traced and
untraced work. It writes uncompressed, non-rolling JSON lines. The fold
needs nothing but the file; it knows no caller, so any profiler can
reuse it.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

FOLDED = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
)


def drain_listeners(spark) -> None:
    """Block until every posted scheduler event reached its listeners, so
    the status tracker and the event log have seen each finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class EventLog:
    """One event-log file covering the work between ``start`` and ``stop``."""

    def __init__(self, spark, log_dir: str, name: str):
        self._spark = spark
        self.path = os.path.join(log_dir, name)
        os.makedirs(log_dir, exist_ok=True)
        jsc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        conf = (
            jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.overwrite", "true")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name,
            jvm.scala.Option.apply(None),
            jvm.java.io.File(log_dir).toURI(),
            conf,
            jsc.hadoopConfiguration(),
        )

    def start(self) -> EventLog:
        self._listener.start()
        self._spark.sparkContext._jsc.sc().addSparkListener(self._listener)
        return self

    def stop(self) -> str:
        drain_listeners(self._spark)
        self._spark.sparkContext._jsc.sc().removeSparkListener(self._listener)
        self._listener.stop()
        return self.path


def fold(path: str) -> dict[str | None, dict[str, float]]:
    """Totals of every ``FOLDED`` metric per job group (``None`` for jobs
    run outside any group). A stage counts toward the first job that
    lists it; a task toward its stage's group."""
    totals: dict[str | None, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(FOLDED, 0.0)
    )
    stage_group: dict[int, str | None] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                totals[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                totals[stage_group.get(sid)]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = totals[stage_group.get(ev["Stage ID"])]
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                t["tasks"] += 1
                t["task_s"] += m.get("Executor Run Time", 0) / 1e3
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / 2**20
                t["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
                t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                t["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20
    return dict(totals)


def total(folded: dict[str | None, dict[str, float]]) -> dict[str, float]:
    """Sum of the per-group totals."""
    out = dict.fromkeys(FOLDED, 0.0)
    for per in folded.values():
        for k, v in per.items():
            out[k] += v
    return out
