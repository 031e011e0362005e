"""The two workloads. Each has its inputs, one timed pass, the untimed
work around a pass, and a correctness check against DuckDB.

A pass is one closed loop on the Spark driver: every call waits for the one
before it. Every call into the engine is an operation; an operation that
raises counts as failed, and so does every mismatch the check finds.
"""

from __future__ import annotations

import os
import random
import shutil
from functools import reduce

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark import corpus, pipeline, sources
from financial_data_lakehouse_pipeline__spark.sources import TABLES, acid

from check_oracle import normalize, type_mismatches

from probes import jobs_in_group

PIPELINE_OUTPUTS = ("master", "correlation", "forward_returns", "events", "summary")

QUERY_MIX = (
    # relational
    "grouped_stats_q1",
    "regional_revenue_q5",
    # windows
    "sessionize_users",
    # dedup and text
    "minhash_lsh_pairs_docs",
    # graph
    "pagerank_copurchase",
    # sketches
    "bloom_anti_join_customers",
)

LAKE_BATCHES = 1
LAKE_BATCH_KEYS = 1500
LAKE_NEW_KEY_SHARE = 0.2
LAKE_DELETE = "o_orderstatus = 'P' AND o_totalprice < 100000"
LAKE_SCAN = [("o_year", "==", 1998)]

MASTER_ROWS_SQL = """
WITH li AS (
  SELECT * FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL AND l_shipdate IS NOT NULL
    AND l_quantity > 0 AND l_extendedprice >= 0 AND l_discount BETWEEN 0 AND 1
  QUALIFY row_number() OVER (
    PARTITION BY l_orderkey, l_linenumber ORDER BY l_shipdate DESC, l_suppkey) = 1)
SELECT count(*) FROM (SELECT DISTINCT l_suppkey, CAST(l_shipdate AS DATE) FROM li)
"""


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_usage(path: str) -> tuple[int, int]:
    """(parquet files, bytes of every file) under ``path``."""
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            nbytes += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, nbytes


def content_hashes(frames: dict[str, DataFrame]) -> dict[str, tuple[int, int]]:
    """Row count and an order-insensitive sum of per-row hashes of each
    frame, computed in one job."""
    parts = [
        df.select(
            F.lit(k).alias("frame"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        )
        for k, df in frames.items()
    ]
    rows = reduce(DataFrame.unionAll, parts).collect()
    return {r.frame: (int(r.n), int(r.h or 0)) for r in rows}


def duck(data_dir: str, work_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(work_dir, 'duckdb')}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


class Workload:
    name = ""
    sf = 0.0

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, spans):
        self.spark = spark
        self.data = data_dir
        self.work = work_dir
        self.seed = seed
        self.spans = spans
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @staticmethod
    def make_inputs(data_dir: str, seed: int) -> None:
        """Inputs beyond ``gen_sf``'s tables, drawn from ``seed``."""

    def op(self, name: str, fn):
        """Run one engine operation, timed under ``name``."""
        self.attempted += 1
        try:
            with self.spans(name):
                return fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is data
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None

    def mismatch(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {what}")

    def groups(self, i: int) -> list[str]:
        """Spark job groups the pass ran its jobs in."""
        return [f"perfbench:{i}"]

    def pass_dir(self, i: int) -> str:
        return os.path.join(self.work, f"pass{i}")

    def before_pass(self, i: int) -> None:
        """Untimed: drop older passes' files, keep the previous one's."""
        shutil.rmtree(self.pass_dir(i - 2), ignore_errors=True)
        self.spark.sparkContext.setJobGroup(f"perfbench:{i}", f"perfbench pass {i}")

    def run_pass(self, i: int) -> None:
        raise NotImplementedError

    def after_pass(self, i: int) -> None:
        """Untimed: counts that read the pass's output."""
        self.spark.sparkContext.setJobGroup(None, None)

    def check(self, last: int) -> None:
        raise NotImplementedError


class PipelineDaily(Workload):
    """One day of the lake: the paper's clean -> indicators -> master ->
    analysis chain with its partitioned lake write, then the ACID cycle
    on the orders table (create, merges, delete, compaction, pruned scan)
    into a fresh table root."""

    name = "pipeline_daily"
    sf = 0.01

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        tables = ["lineitem", "supplier", "nation", "orders"]
        tables += [f"orders_batch{b}" for b in range(LAKE_BATCHES)]
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data, f"{t}.parquet")) for t in tables
        )

    @staticmethod
    def make_inputs(data_dir, seed):
        """Upsert batches: mostly existing order keys with new prices and
        statuses, the rest new keys."""
        orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
        n = orders.num_rows
        rng = np.random.default_rng([seed, 1])
        n_new = int(LAKE_BATCH_KEYS * LAKE_NEW_KEY_SHARE)
        statuses = np.array(["F", "O", "P"])
        for b in range(LAKE_BATCHES):
            old = orders.take(rng.choice(n, LAKE_BATCH_KEYS - n_new, replace=False))
            old = old.set_column(
                old.schema.get_field_index("o_totalprice"),
                "o_totalprice",
                pa.array(np.round(rng.uniform(1000, 500000, old.num_rows), 2)),
            ).set_column(
                old.schema.get_field_index("o_orderstatus"),
                "o_orderstatus",
                pa.array(statuses[rng.integers(0, 3, old.num_rows)]),
            )
            new = pa.table(
                {
                    "o_orderkey": pa.array(n + b * n_new + np.arange(n_new), pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n_new), pa.int64()),
                    "o_orderstatus": pa.array(statuses[rng.integers(0, 3, n_new)]),
                    "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_new), 2)),
                    "o_orderdate": orders.column("o_orderdate").take(rng.integers(0, n, n_new)),
                    "o_orderpriority": old.column("o_orderpriority").slice(0, n_new),
                }
            ).cast(orders.schema)
            pq.write_table(
                pa.concat_tables([old, new]),
                os.path.join(data_dir, f"orders_batch{b}.parquet"),
            )

    def _orders(self, name):
        # through the package attribute, so the traced passes count it
        return sources.read_table(self.spark, self.data, name).withColumn(
            "o_year", F.year("o_orderdate")
        )

    def _acid_root(self, i):
        return os.path.join(self.pass_dir(i), "orders_acid")

    def run_pass(self, i):
        self._chain(i)
        self._upserts(i)

    def _chain(self, i):
        # The cold pass skips the lake write: the ACID create warms the
        # same partitioned parquet writer, and the run saves its cost.
        out_dir = self.pass_dir(i) if i else None
        res = self.op(
            "pipeline.build_s",
            lambda: pipeline.run_pipeline(self.spark, self.data, out_dir=out_dir),
        )
        self.last_res = res
        if res is None:
            return
        if i == 0:
            # the cold pass records output hashes for the check
            self.first_hashes = self.op(
                "pipeline.hashes_s", lambda: content_hashes({k: res[k] for k in PIPELINE_OUTPUTS})
            )
            return
        for k in PIPELINE_OUTPUTS:
            self.op(f"pipeline.{k}_s", lambda k=k: noop(res[k]))

    def _upserts(self, i):
        s, root = self.spark, self._acid_root(i)
        self.op(
            "acid.create_s",
            lambda: acid.create_table(self._orders("orders"), root, partition_by=["o_year"]),
        )
        for b in range(LAKE_BATCHES):
            self.op(
                "acid.merge_s",
                lambda b=b: acid.merge(s, root, self._orders(f"orders_batch{b}"), ["o_orderkey"]),
            )
        self.op("acid.delete_s", lambda: acid.delete_where(s, root, LAKE_DELETE))
        self.op("acid.optimize_s", lambda: acid.optimize(s, root))
        self.op("acid.scan_s", lambda: noop(acid.scan(s, root, LAKE_SCAN)))

    def after_pass(self, i):
        super().after_pass(i)
        root = self._acid_root(i)
        files, nbytes = dir_usage(root)
        self.spans.add("acid.files_written", files)
        self.spans.add("acid.bytes_written", nbytes)
        self.spans.add("acid.files_scanned", len(acid.pruned_files(root, LAKE_SCAN)))
        self.spans.add("write_amp", dir_usage(self.pass_dir(i))[1] / self.input_bytes)

    def check(self, last):
        con = duck(self.data, self.work)
        # the frames the last timed pass executed, run once more
        res = self.last_res
        lake = self.spark.read.parquet(os.path.join(self.pass_dir(last), "master"))
        hashes = content_hashes(
            {k: res[k] for k in PIPELINE_OUTPUTS} | {"lake": lake.select(*res["master"].columns)}
        )
        first = getattr(self, "first_hashes", None) or {}
        for k in PIPELINE_OUTPUTS:
            self.mismatch(f"{k} hash differs between passes", first.get(k) == hashes[k])
        self.mismatch("lake master differs from master", hashes["lake"] == hashes["master"])
        (n_master,) = con.execute(MASTER_ROWS_SQL).fetchone()
        self.mismatch("master rows vs DuckDB", hashes["master"][0] == n_master)

        root = self._acid_root(last)
        snap = acid.read_snapshot(self.spark, root)
        s_rows = [tuple(r) for r in snap.collect()]
        batches = " UNION ALL ".join(
            f"SELECT *, {b + 1} AS src FROM '{os.path.join(self.data, f'orders_batch{b}.parquet')}'"
            for b in range(LAKE_BATCHES)
        )
        cur = con.execute(
            f"""
            WITH u AS (SELECT *, 0 AS src FROM orders UNION ALL {batches}),
            latest AS (
              SELECT * EXCLUDE (src) FROM u
              QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) = 1)
            SELECT *, year(o_orderdate) AS o_year FROM latest WHERE NOT ({LAKE_DELETE})
            """
        )
        d_cols = [d[0] for d in cur.description]
        self.mismatch(
            "ACID snapshot vs DuckDB",
            normalize(s_rows, snap.columns) == normalize(cur.fetchall(), d_cols),
        )
        year = snap.columns.index("o_year")
        self.mismatch(
            "pruned ACID scan vs snapshot",
            acid.scan(self.spark, root, LAKE_SCAN).count()
            == sum(1 for r in s_rows if r[year] == LAKE_SCAN[0][2]),
        )


class QueryMix(Workload):
    """Corpus queries across five families, built and run in a seeded order."""

    name = "query_mix"
    sf = 0.001

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.queries = corpus.queries()
        self.build_jobs: dict[str, int] = {}
        self.frames: dict[str, DataFrame] = {}
        self.order = list(QUERY_MIX)
        random.Random(self.seed).shuffle(self.order)

    def groups(self, i):
        return [f"perfbench:{i}:{q}" for q in self.order]

    def run_pass(self, i):
        sc = self.spark.sparkContext
        self.frames.clear()
        for q in self.order:
            group = f"perfbench:{i}:{q}"
            sc.setJobGroup(group, group)
            df = self.op(f"q.{q}.build_s", lambda q=q: self.queries[q](self.spark, self.data))
            self.build_jobs[group] = jobs_in_group(self.spark, group)
            if df is not None:
                self.frames[q] = df
                self.op(f"q.{q}.exec_s", lambda df=df: noop(df))

    def after_pass(self, i):
        super().after_pass(i)
        for q in self.order:
            group = f"perfbench:{i}:{q}"
            total = jobs_in_group(self.spark, group)
            built = self.build_jobs.pop(group)
            self.spans.add(f"q.{q}.build_jobs", built)
            self.spans.add("corpus.build_jobs", built)
            self.spans.add("corpus.exec_jobs", total - built)

    def check(self, last):
        con = duck(self.data, self.work)
        oracles = corpus.oracle_sql()
        # the frames the last timed pass built; a failed build already counts
        for q, df in self.frames.items():
            s_rows = [tuple(r) for r in df.collect()]
            cur = con.execute(oracles[q])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
            problem = None
            if sorted(df.columns) != sorted(d_cols):
                problem = f"columns {sorted(df.columns)} vs {sorted(d_cols)}"
            elif types := type_mismatches(df, con, oracles[q]):
                problem = f"types {types}"
            elif len(s_rows) != len(d_rows):
                problem = f"rows {len(s_rows)} vs {len(d_rows)}"
            elif normalize(s_rows, df.columns) != normalize(d_rows, d_cols):
                problem = "values"
            self.mismatch(f"{q} vs DuckDB oracle: {problem}", problem is None)


WORKLOADS = {w.name: w for w in (PipelineDaily, QueryMix)}
