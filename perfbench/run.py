"""Benchmark of the engine on two workloads: a day of the lake (the
paper's pipeline chain, its lake write and ACID upserts) and a mix of
corpus queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 25 --trace 0

One run is one process and one closed loop on ``local[$SPARK_GRAFT_CPUS]``
(default: every CPU the process may use). It generates fresh inputs from
the seed, builds the session, runs one cold pass untimed, then timed
passes for ``--seconds`` (at least one), and checks the outputs of the
last one against DuckDB.
``--trace 1`` alternates untraced and traced timed passes and reports
per-layer metrics instead of end-to-end ones.
The last line of stdout is the JSON result; lines before it starting
with ``#`` show each pass and the run's steadiness.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO, os.path.join(REPO, "tools")]


def _process_age_s() -> float:
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def metric_units(section: str) -> dict[str, str]:
    """Name -> unit of every metric ``BENCHMARK.json`` lists under
    ``section`` (``end_to_end`` or ``per_layer``)."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Everything the run writes stays under the checkout.
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        # every JVM, the spark-submit launcher too: no /tmp files
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    time.tzset()
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only once no other run uses it


def _run(args, work: str) -> int:
    from financial_data_lakehouse_pipeline__spark import sources
    from financial_data_lakehouse_pipeline__spark.session import build_session

    import eventlog
    import gen_sf
    import probes
    import refdomains
    import trace
    import workloads

    wl_cls = workloads.WORKLOADS[args.workload]

    t0 = time.perf_counter()
    spark = build_session(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # C1 only: a fresh JVM's C2 compiles for many passes, and that
            # compile work is the largest source of run-to-run noise.
            "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    session_build_s = time.perf_counter() - t0
    setup_s = _process_age_s()
    try:
        jvm = probes.Jvm(spark)
        setup_jit_s = jvm.jit_s()
        proc = probes.Process(jvm.pid)

        data = os.path.join(work, "data")
        with contextlib.redirect_stdout(sys.stderr):
            gen_sf.generate(wl_cls.sf, data, seed=args.seed, ref=refdomains.write(os.path.join(work, "ref")))
        wl_cls.make_inputs(data, args.seed)
        spans = trace.Spans()
        wl = wl_cls(spark, data, work, args.seed, spans)

        orig_read, orig_write = sources.read_table, sources.write_partitioned_parquet

        def read_table(*a, **kw):
            spans.add("sources.read_table.calls")
            with spans("sources.read_table_s"):
                return orig_read(*a, **kw)

        def write_partitioned_parquet(df, path, *a, **kw):
            with spans("pipeline.lake_write_s"):
                orig_write(df, path, *a, **kw)
            files, nbytes = workloads.dir_usage(path)
            spans.add("sources.write.files", files)
            spans.add("sources.write.bytes", nbytes)

        wrappers = [(orig_read, read_table), (orig_write, write_partitioned_parquet)]
        package = sources.__name__.rsplit(".", 1)[0]

        def one_pass(i: int, phase: str, traced: bool) -> dict:
            wl.before_pass(i)
            jvm.reset_heap_peak()
            proc.reset_peak_rss()
            cpu0, jit0, gc0 = proc.cpu_s(), jvm.jit_s(), jvm.gc_s()
            if traced:
                log = eventlog.EventLog(spark, os.path.join(work, "eventlog"), f"pass{i}").start()
                patched = [(f, trace.patch_calls(package, f, w)) for f, w in wrappers]
            t = time.perf_counter()
            wl.run_pass(i)
            wall = time.perf_counter() - t
            cpu = proc.cpu_s() - cpu0
            rec = {"pass": i, "phase": phase, "traced": traced, "wall_s": wall, "cpu_s": cpu}
            if traced:
                for f, p in patched:
                    trace.unpatch(p, f)
                rec["spark"] = eventlog.total(eventlog.fold(log.stop()))
            rec["jit_s"] = jvm.jit_s() - jit0
            rec["gc_s"] = jvm.gc_s() - gc0
            rec["heap_peak_mb"] = jvm.heap_peak_mb()
            rec["rss_peak_mb"] = proc.peak_rss_mb()
            wl.after_pass(i)
            rec["jobs"] = sum(probes.jobs_in_group(spark, g) for g in wl.groups(i))
            rec["pins"] = probes.live_pins(spark)
            # last, as its full collection also sets the next pass's start
            rec["retained_mb"] = jvm.retained_mb() + proc.rss_mb()
            rec["spans"] = spans.take()
            print(
                f"# pass {i:2d} {phase:5s}{' traced' if traced else '       '}"
                f" wall {wall:7.3f}s cpu {cpu:7.3f}s jit {rec['jit_s']:6.3f}s"
                f" gc {rec['gc_s']:5.3f}s rss {rec['rss_peak_mb']:6.0f}MB"
                f" retained {rec['retained_mb']:5.0f}MB"
                f" jobs {rec['jobs']:4d} pins {rec['pins']:3d}",
                flush=True,
            )
            return rec

        passes = [one_pass(0, "cold", False)]
        # Timed passes: start another only while it is expected to end
        # within --seconds. At least one; a traced run alternates untraced
        # and traced passes, at least two untraced (for session.drift)
        # and one traced.
        timed: list[dict] = []
        t_start = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(timed) % 2 == 1
            timed.append(one_pass(len(passes) + len(timed), "timed", traced))
            plain_n = sum(not r["traced"] for r in timed)
            enough = plain_n >= 1 + args.trace and len(timed) - plain_n >= args.trace
            expected_end = time.perf_counter() - t_start + timed[-1]["wall_s"]
            if enough and expected_end > args.seconds:
                break

        t = time.perf_counter()
        try:
            wl.check(timed[-1]["pass"])
        except Exception as e:  # noqa: BLE001 - a crashed check is a failure
            wl.attempted += 1
            wl.failed += 1
            wl.errors.append(f"check raised {type(e).__name__}: {e}"[:300])
        print(f"# check {time.perf_counter() - t:.3f}s")

        plain = [r for r in timed if not r["traced"]]
        traced_recs = [r for r in timed if r["traced"]]
        walls = [r["wall_s"] for r in plain]
        _report(passes + timed, walls, wl)

        if not args.trace:
            values = {
                "setup_s": setup_s,
                "pass_s": _median(walls),
                "pass_cpu_s": _median([r["cpu_s"] for r in plain]),
                "retained_mb": _median([r["retained_mb"] for r in plain]),
            }
            units = metric_units("end_to_end")
        else:
            values = _per_layer(traced_recs, plain, session_build_s, setup_jit_s)
            units = metric_units("per_layer")
            missing = set(units) - set(values)
            values.update(dict.fromkeys(missing, 0.0))
            print(
                f"# end-to-end from the untraced passes: setup_s {setup_s:.3f}"
                f" pass_s {_median(walls):.3f}"
            )
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
    finally:
        _stop(spark)
    print(json.dumps(result))
    return 0


def _per_layer(traced: list[dict], plain: list[dict], session_build_s: float, setup_jit_s: float) -> dict:
    """Medians over the traced passes of every span, count and folded
    event-log total, plus the run-level figures."""
    keys = {k for r in traced for k in r["spans"]}
    out = {k: _median([r["spans"].get(k, 0.0) for r in traced]) for k in keys}
    for prefix, suffix in (("q.", ".build_s"), ("q.", ".exec_s")):
        out[f"corpus{suffix}"] = sum(
            v for k, v in out.items() if k.startswith(prefix) and k.endswith(suffix)
        )
    for k in traced[0]["spark"]:
        out[f"spark.{k}"] = _median([r["spark"][k] for r in traced])
    out["spark.jobs"] = _median([r["jobs"] for r in traced])
    out["jvm.jit_s"] = _median([r["jit_s"] for r in traced])
    out["jvm.gc_s"] = _median([r["gc_s"] for r in traced])
    out["jvm.heap_used_peak_mb"] = max(r["heap_peak_mb"] for r in traced)
    out["peak_rss_mb"] = _median([r["rss_peak_mb"] for r in traced])
    out["pins.live"] = traced[-1]["pins"]
    out["session.build_s"] = session_build_s
    out["jvm.setup_jit_s"] = setup_jit_s
    walls = [r["wall_s"] for r in plain]
    third = max(1, len(walls) // 3)
    out["session.drift"] = _median(walls[-third:]) / _median(walls[:third])
    out["trace.overhead_s"] = _median([r["wall_s"] for r in traced]) - _median(walls)
    return out


def _report(passes: list[dict], walls: list[float], wl) -> None:
    """Steadiness evidence: the JIT curve, the spread of the timed
    passes, and the failed operations."""
    curve = " ".join(f"{r['jit_s']:.2f}" for r in passes)
    print(f"# jit_s per pass (cold, timed...): {curve}")
    print(
        f"# timed pass_s: n {len(walls)} min {min(walls):.3f} median {_median(walls):.3f}"
        f" max {max(walls):.3f} range/median {(max(walls) - min(walls)) / _median(walls):.3f}"
    )
    print(
        f"# operations: attempted {wl.attempted} failed {wl.failed}"
        f" failed_frac {wl.failed / max(1, wl.attempted):.4f}"
    )
    for e in wl.errors:
        print(f"# failed: {e}")


def _stop(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    jvm_proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if jvm_proc is not None:
        jvm_proc.stdin.close()
        try:
            jvm_proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            jvm_proc.kill()
            jvm_proc.wait()


if __name__ == "__main__":
    sys.exit(main())
