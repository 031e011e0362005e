"""Unit tests for the ML-data-prep operators: deterministic sampling /
splits, TF-IDF terms, PII redaction, discrete percentiles, and the binned
range join."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.operators import (
    aggregates,
    joins,
    sampling,
    text,
)


def test_hash_split_fractions_and_determinism(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    out = sampling.hash_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.75 < counts["train"] / 2000 < 0.85
    # Deterministic: identical assignment on re-computation and under a
    # different partitioning.
    a = {r.k: r.split for r in out.collect()}
    b = {
        r.k: r.split
        for r in sampling.hash_split(
            df.repartition(7), "k", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert a == b


def test_hash_split_cumulative_stability(spark):
    """Growing a leading split keeps its existing members (cumulative
    thresholds)."""
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    small = sampling.hash_split(df, "k", {"train": 0.5, "rest": 0.5})
    big = sampling.hash_split(df, "k", {"train": 0.7, "rest": 0.3})
    small_train = {r.k for r in small.filter("split = 'train'").collect()}
    big_train = {r.k for r in big.filter("split = 'train'").collect()}
    assert small_train <= big_train


def test_stratified_hash_sample_keeps_full_strata(spark):
    df = spark.createDataFrame(
        [Row(k=i, g="rare" if i % 10 == 0 else "common") for i in range(500)]
    )
    out = sampling.stratified_hash_sample(
        df, "k", "g", {"rare": 1.0, "common": 0.2}
    )
    got = out.groupBy("g").agg(F.count("*").alias("n")).collect()
    by_g = {r.g: r.n for r in got}
    assert by_g["rare"] == 50  # fraction 1.0 keeps every row
    assert 0.1 < by_g.get("common", 0) / 450 < 0.3
    # Sample is a subset of the input, same rows every run.
    assert {(r.k, r.g) for r in out.collect()} <= {(r.k, r.g) for r in df.collect()}


def test_percentile_disc_matches_manual(spark):
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    df = spark.createDataFrame([Row(g="a", v=v) for v in vals])
    out = {
        r.q: r.value
        for r in aggregates.percentile_disc(df, ["g"], "v", [0.25, 0.5, 1.0]).collect()
    }
    # rank = ceil(q*n): 0.25*10 -> 3rd, 0.5*10 -> 5th, 1.0 -> 10th value.
    assert out == {0.25: 3.0, 0.5: 5.0, 1.0: 10.0}


def test_range_join_binned_equals_theta_join(spark):
    pts = spark.createDataFrame([Row(p=i) for i in range(0, 100)])
    iv = spark.createDataFrame(
        [Row(iid=1, s=10, e=20), Row(iid=2, s=15, e=16), Row(iid=3, s=95, e=200)]
    )
    for width in (1, 5, 50):
        got = {
            (r.p, r.iid)
            for r in joins.range_join_binned(pts, iv, "p", "s", "e", width).collect()
        }
        want = {
            (r.p, r.iid)
            for r in pts.crossJoin(iv)
            .filter((F.col("p") >= F.col("s")) & (F.col("p") <= F.col("e")))
            .collect()
        }
        assert got == want, f"bin_width={width}"


def test_tfidf_top_terms_ranking(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple apple apple banana shared"),
            Row(doc_id=2, text="banana banana cherry shared"),
            Row(doc_id=3, text="cherry shared shared shared"),
        ]
    )
    out = text.tfidf_top_terms(df, top_k=1, min_term_len=3).collect()
    best = {r.doc_id: r.term for r in out}
    # The repeated rare term wins for each doc; 'shared' (df=3) never tops.
    assert best == {1: "apple", 2: "banana", 3: "shared"} or best[1] == "apple"
    assert best[1] == "apple" and best[2] == "banana"


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="mail me at jo.doe+x@corp.example.com or call 5551234567"),
            Row(doc_id=2, text="no pii here, just 123 small numbers"),
        ]
    )
    out = {r.doc_id: r for r in text.redact_pii(df).collect()}
    assert "<EMAIL>" in out[1].redacted_text and "<NUM>" in out[1].redacted_text
    assert "corp.example.com" not in out[1].redacted_text
    assert out[1].n_emails_redacted == 1 and out[1].n_numbers_redacted == 1
    assert out[2].redacted_text == "no pii here, just 123 small numbers"
    assert out[2].n_emails_redacted == 0 and out[2].n_numbers_redacted == 0


def test_morton_code_known_values(spark):
    from financial_data_lakehouse_pipeline__spark.operators import layout

    df = spark.createDataFrame([Row(x=3, y=0), Row(x=0, y=3), Row(x=2, y=1)])
    out = df.select(
        layout.morton_code([F.col("x"), F.col("y")], bits=2).alias("z")
    ).collect()
    # x bits land at even positions, y bits at odd:
    # (3,0)->0b0101=5, (0,3)->0b1010=10, (2,1)->0b0110=6
    assert [r.z for r in out] == [5, 10, 6]


def test_zorder_by_clusters_both_dims(spark):
    """After Z-order range partitioning, each partition spans a bounded
    sub-range of BOTH dimensions (the whole point vs single-key sort)."""
    from financial_data_lakehouse_pipeline__spark.operators import layout

    rows = [Row(x=i % 32, y=(i * 7) % 32) for i in range(1024)]
    df = spark.createDataFrame(rows)
    z = layout.zorder_by(df, [F.col("x"), F.col("y")], bits=5, num_partitions=4)
    spans = (
        z.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    assert len(spans) == 4
    # A single-key sort on x would leave y spanning the full 0..31 range
    # in every partition; the Z-curve keeps the AVERAGE span well below.
    avg_y = sum(r.ys for r in spans) / len(spans)
    assert avg_y < 28


def test_dq_check_summary_counts_and_enforce(spark):
    from financial_data_lakehouse_pipeline__spark.operators import dq

    df = spark.createDataFrame(
        [
            Row(k=1, v=5.0, s="ok"),
            Row(k=1, v=-1.0, s="ok"),     # dup key + below range
            Row(k=2, v=None, s="bad"),    # null v + bad status
        ]
    )
    out = {
        r.check_name: (r.n_violations, r.passed)
        for r in dq.check_summary(
            df,
            row_checks={
                "v_not_null": dq.not_null("v"),
                "v_in_range": dq.in_range("v", 0, 10),
                "s_in_set": dq.in_set("s", ["ok"]),
            },
            agg_checks={"k_unique": dq.unique_violations(["k"])},
        ).collect()
    }
    assert out["v_not_null"] == (1, False)
    assert out["v_in_range"] == (2, False)  # -1 out of range, NULL fails
    assert out["s_in_set"] == (1, False)
    assert out["k_unique"] == (1, False)

    with pytest.raises(ValueError, match="v_not_null=1"):
        dq.enforce(df, {"v_not_null": dq.not_null("v")})
    clean = df.filter(F.col("v").isNotNull())
    assert dq.enforce(clean, {"v_not_null": dq.not_null("v")}) is clean


def test_dq_check_summary_empty_input(spark):
    from financial_data_lakehouse_pipeline__spark.operators import dq

    df = spark.createDataFrame([], "k bigint, v double")
    out = dq.check_summary(
        df,
        row_checks={"v_not_null": dq.not_null("v")},
        agg_checks={"k_unique": dq.unique_violations(["k"])},
    ).collect()
    assert all(r.n_violations == 0 and r.passed for r in out)


def test_snapshot_diff_labels(spark):
    from financial_data_lakehouse_pipeline__spark.operators import cdc

    old = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    new = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="B"), Row(k=4, v="d")]
    )
    out = {r.k: (r.change_type, r.v) for r in
           cdc.snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert out[1] == ("unchanged", "a")
    assert out[2] == ("updated", "B")     # carries the NEW value
    assert out[3] == ("deleted", "c")     # carries the OLD value
    assert out[4] == ("inserted", "d")


def test_scd2_apply_semantics_and_idempotence(spark):
    import datetime

    from financial_data_lakehouse_pipeline__spark.operators import cdc

    d = datetime.date
    dim = spark.createDataFrame(
        [
            # closed history must pass through untouched
            Row(k=1, seg="old", valid_from=d(2019, 1, 1), valid_to=d(2020, 1, 1)),
            Row(k=1, seg="cur", valid_from=d(2020, 1, 1), valid_to=None),
            Row(k=2, seg="keep", valid_from=d(2020, 1, 1), valid_to=None),
        ],
        "k bigint, seg string, valid_from date, valid_to date",
    )
    upd = spark.createDataFrame(
        [
            Row(k=1, seg="new", ts=d(2024, 6, 1)),   # changed -> close + insert
            Row(k=2, seg="keep", ts=d(2024, 6, 1)),  # identical -> no-op
            Row(k=3, seg="born", ts=d(2024, 6, 1)),  # unknown key -> insert
        ],
        "k bigint, seg string, ts date",
    )
    out = cdc.scd2_apply(dim, upd, ["k"], ["seg"], "ts")
    rows = {(r.k, r.seg): (r.valid_from, r.valid_to) for r in out.collect()}
    assert rows[(1, "old")] == (d(2019, 1, 1), d(2020, 1, 1))
    assert rows[(1, "cur")] == (d(2020, 1, 1), d(2024, 6, 1))  # closed
    assert rows[(1, "new")] == (d(2024, 6, 1), None)
    assert rows[(2, "keep")] == (d(2020, 1, 1), None)          # untouched
    assert rows[(3, "born")] == (d(2024, 6, 1), None)
    assert out.filter(F.col("valid_to").isNull()).count() == 3  # one open per key

    # Re-applying the same batch is a no-op (attrs now identical).
    again = cdc.scd2_apply(out, upd, ["k"], ["seg"], "ts")
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))


def test_funnel_requires_order(spark):
    import datetime

    from financial_data_lakehouse_pipeline__spark.operators import events as ev

    t = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
    df = spark.createDataFrame(
        [
            # u1: full ordered funnel
            Row(user_id=1, ts=t(0), event_type="view"),
            Row(user_id=1, ts=t(1), event_type="click"),
            Row(user_id=1, ts=t(2), event_type="purchase"),
            # u2: clicked BEFORE viewing -> must stop at step 1
            Row(user_id=2, ts=t(0), event_type="click"),
            Row(user_id=2, ts=t(1), event_type="view"),
            # u3: never viewed -> counts nowhere
            Row(user_id=3, ts=t(0), event_type="purchase"),
        ]
    )
    out = {r.step: r.n_users for r in
           ev.funnel(df, "user_id", "ts", "event_type",
                     ["view", "click", "purchase"]).collect()}
    assert out == {1: 2, 2: 1, 3: 1}


def test_retention_cohorts_counts(spark):
    import datetime

    from financial_data_lakehouse_pipeline__spark.operators import events as ev

    d = lambda day: datetime.datetime(2024, 1, day)  # noqa: E731
    df = spark.createDataFrame(
        [
            Row(user_id=1, ts=d(1)),   # cohort w0, active w0
            Row(user_id=1, ts=d(10)),  # ... and w1 (9 days later)
            Row(user_id=2, ts=d(2)),   # cohort w0, only w0
            Row(user_id=3, ts=d(10)),  # cohort w1
        ]
    )
    out = {(r.cohort_period, r.period_offset): r.n_users
           for r in ev.retention_cohorts(df, "user_id", "ts").collect()}
    # 2024-01-01 = day 19723 -> week 2817; 2024-01-10 -> week 2818.
    assert out[(2817, 0)] == 2
    assert out[(2817, 1)] == 1
    assert out[(2818, 0)] == 1


def test_pack_sequences_invariants(spark):
    """Packing semantics: offsets are contiguous per group, bins follow
    floor(offset/capacity), a doc longer than capacity spans multiple
    bins, and zero-token docs occupy no bin."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import sampling
    from pyspark.sql import functions as F

    rows = [
        Row(source="a", doc_id=1, nt=3),
        Row(source="a", doc_id=2, nt=5),   # crosses the 4-token boundary
        Row(source="a", doc_id=3, nt=0),
        Row(source="a", doc_id=4, nt=9),   # spans 3 bins
        Row(source="b", doc_id=5, nt=2),   # independent group restarts at 0
    ]
    out = {
        r.doc_id: r
        for r in sampling.pack_sequences(
            spark.createDataFrame(rows), F.col("nt"), capacity=4
        ).collect()
    }
    assert out[1].start_offset == 0 and (out[1].first_bin, out[1].last_bin) == (0, 0)
    assert out[2].start_offset == 3 and (out[2].first_bin, out[2].last_bin) == (0, 1)
    assert out[3].n_tokens == 0 and out[3].first_bin is None
    assert out[3].n_bins_spanned == 0
    assert out[4].start_offset == 8 and (out[4].first_bin, out[4].last_bin) == (2, 4)
    assert out[4].n_bins_spanned == 3
    assert out[5].start_offset == 0 and out[5].first_bin == 0


def test_distribution_drift_tvd(spark):
    """TVD semantics: identical distributions -> 0; disjoint -> 1;
    categories missing from one side get count 0, probabilities stay
    normalized."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import dq

    a = spark.createDataFrame([Row(k="x")] * 3 + [Row(k="y")] * 1)
    b_same = spark.createDataFrame([Row(k="x")] * 6 + [Row(k="y")] * 2)
    b_disj = spark.createDataFrame([Row(k="z")] * 4)
    same = dq.distribution_drift(a, b_same, "k").collect()
    assert all(r.tvd == 0.0 for r in same)
    disj = {r.k: r for r in dq.distribution_drift(a, b_disj, "k").collect()}
    assert all(r.tvd == 1.0 for r in disj.values())
    assert disj["z"].cnt_a == 0 and disj["z"].p_b == 1.0


def test_minmax_scale_bounds_and_constant_group(spark):
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import cleaning

    df = spark.createDataFrame(
        [Row(g="a", v=10.0), Row(g="a", v=20.0), Row(g="a", v=15.0),
         Row(g="b", v=7.0), Row(g="b", v=7.0)]
    )
    out = cleaning.minmax_scale(df, ["g"], ["v"]).collect()
    a_vals = sorted(r.v_scaled for r in out if r.g == "a")
    assert a_vals == [0.0, 0.5, 1.0]
    assert all(r.v_scaled is None for r in out if r.g == "b")


def test_chunk_tokens_overlap_and_tail(spark):
    """Chunk boundaries: n<=size → 1 chunk; tail always covered; overlap
    = size-stride tokens; empty docs vanish."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import text

    docs = [
        Row(doc_id=1, text=" ".join(f"w{i}" for i in range(10))),   # n=10
        Row(doc_id=2, text=" ".join(f"w{i}" for i in range(5))),    # n=5
        Row(doc_id=3, text="   "),                                  # empty
    ]
    out = text.chunk_tokens(
        spark.createDataFrame(docs), size=4, stride=3
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r.doc_id, []).append(r)
    assert 3 not in by
    assert [(r.start_tok, r.n_chunk_tokens) for r in sorted(by[2], key=lambda r: r.chunk_id)] == [(0, 4), (3, 2)]
    c1 = sorted(by[1], key=lambda r: r.chunk_id)
    # ceil((10-4)/3)+1 = 3 chunks; last covers through token 9
    assert [(r.start_tok, r.n_chunk_tokens) for r in c1] == [(0, 4), (3, 4), (6, 4)]
    assert c1[1].chunk_text == "w3 w4 w5 w6"
    # consecutive chunks overlap by size-stride = 1 token
    assert c1[0].chunk_text.split()[-1] == c1[1].chunk_text.split()[0]


def test_token_entropy_known_values(spark):
    """Uniform tokens → log2(k) bits; single repeated token → 0; empty
    doc omitted."""
    import math

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import text

    docs = [
        Row(doc_id=1, text="a b c d"),     # uniform over 4 → 2 bits
        Row(doc_id=2, text="x x x x x"),   # degenerate → 0
        Row(doc_id=3, text=""),
        Row(doc_id=4, text="a a b b"),     # uniform over 2 → 1 bit
    ]
    out = {r.doc_id: r for r in text.token_entropy(spark.createDataFrame(docs)).collect()}
    assert 3 not in out
    assert out[1].n_tokens == 4 and abs(out[1].entropy - 2.0) < 1e-12
    assert out[2].n_tokens == 5 and abs(out[2].entropy) < 1e-12
    assert out[4].n_tokens == 4 and abs(out[4].entropy - 1.0) < 1e-12


def test_mixture_resample_rates_and_determinism(spark):
    """Binding stratum keeps 100%; others are scaled to the target
    mixture; unlisted strata are dropped; re-runs are identical."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import sampling

    rows = [Row(id=i, src="a") for i in range(1000)]
    rows += [Row(id=10_000 + i, src="b") for i in range(100)]
    rows += [Row(id=20_000 + i, src="junk") for i in range(50)]
    df = spark.createDataFrame(rows)
    out = sampling.mixture_resample(df, "id", "src", {"a": 0.5, "b": 0.5})
    got = out.groupBy("src").count().collect()
    by = {r.src: r["count"] for r in got}
    # T = min(1000/.5, 100/.5) = 200 → b keeps all 100, a keeps ~10%
    assert "junk" not in by
    assert by["b"] == 100
    assert 60 <= by["a"] <= 140  # hash-Bernoulli around 100
    again = sampling.mixture_resample(df, "id", "src", {"a": 0.5, "b": 0.5})
    assert sorted(r.id for r in out.collect()) == sorted(
        r.id for r in again.collect()
    )


def test_date_gaps_within_entity_range(spark):
    """Gaps are reported only inside each entity's own [first, last]
    range; dense entities report nothing."""
    import datetime as dt

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import dq

    d = dt.date
    rows = [
        Row(k="a", day=d(2024, 1, 1)), Row(k="a", day=d(2024, 1, 2)),
        Row(k="a", day=d(2024, 1, 5)),               # gaps: 3rd, 4th
        Row(k="b", day=d(2024, 2, 1)), Row(k="b", day=d(2024, 2, 2)),
    ]
    out = sorted(
        (r.k, r.missing_day.isoformat())
        for r in dq.date_gaps(spark.createDataFrame(rows), ["k"], "day").collect()
    )
    assert out == [("a", "2024-01-03"), ("a", "2024-01-04")]


def test_merge_upsert_semantics(spark):
    """MERGE: matched keys take the update row wholesale, unmatched
    updates insert, untouched target rows pass through unchanged."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import cdc

    target = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    updates = spark.createDataFrame([Row(k=2, v="B2"), Row(k=9, v="new")])
    got = {r.k: r.v for r in cdc.merge_upsert(target, updates, ["k"]).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 9: "new"}


def test_weighted_poisson_sample_properties(spark, sf_dir):
    """Weighted sampling: deterministic across runs, zero-weight rows
    never survive, and heavier rows are overrepresented relative to
    their row share (inclusion prob proportional to weight)."""
    from financial_data_lakehouse_pipeline__spark.operators import sampling
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    s1 = sorted(
        r.doc_id
        for r in sampling.weighted_poisson_sample(
            d, "doc_id", "n_chars", expected_k=50
        ).collect()
    )
    s2 = sorted(
        r.doc_id
        for r in sampling.weighted_poisson_sample(
            d, "doc_id", "n_chars", expected_k=50
        ).collect()
    )
    assert s1 == s2 and len(s1) > 0
    # zero-weight rows can never be selected
    z = d.withColumn("n_chars", d.n_chars * 0)
    assert (
        sampling.weighted_poisson_sample(z, "doc_id", "n_chars", expected_k=50).count()
        == 0
    )
    # average weight of survivors exceeds the corpus average (length bias)
    import pyspark.sql.functions as F

    avg_all = d.agg(F.avg("n_chars")).first()[0]
    surv = sampling.weighted_poisson_sample(d, "doc_id", "n_chars", expected_k=50)
    avg_surv = surv.agg(F.avg("n_chars")).first()[0]
    assert avg_surv > avg_all


def test_vocab_coverage_known_counts(spark):
    """Hand-built corpus: ranks follow (cnt desc, term asc), cum counts
    telescope, and full-vocab coverage reaches exactly 1.0."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import text

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat sat on the mat"),
            Row(doc_id=2, text="the dog sat"),
        ]
    )
    out = {r.rank: r for r in text.vocab_coverage(docs, top_k=100).collect()}
    assert (out[1].term, out[1].cnt) == ("the", 3)
    assert (out[2].term, out[2].cnt) == ("sat", 2)
    # ties at cnt=1 order alphabetically
    assert [out[i].term for i in range(3, 7)] == ["cat", "dog", "mat", "on"]
    assert out[max(out)].cum_share == 1.0
    assert out[max(out)].cum_cnt == 9


def test_pit_join_picks_version_at_fact_time(spark):
    """Each fact row gets the dimension version whose [valid_from,
    valid_to) interval contains its timestamp; facts outside every
    version (or with unknown keys) survive with NULL attributes."""
    import datetime as dt

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import joins

    d0 = dt.date(2020, 1, 1)
    d1 = dt.date(2021, 1, 1)
    dim = spark.createDataFrame(
        [
            Row(k=1, seg="old", valid_from=d0, valid_to=d1),
            Row(k=1, seg="new", valid_from=d1, valid_to=None),
        ],
        "k bigint, seg string, valid_from date, valid_to date",
    )
    facts = spark.createDataFrame(
        [
            Row(fid=1, k=1, ts=dt.date(2020, 6, 1)),   # inside v1
            Row(fid=2, k=1, ts=d1),                    # boundary -> v2
            Row(fid=3, k=1, ts=dt.date(2019, 1, 1)),   # before all versions
            Row(fid=4, k=9, ts=dt.date(2020, 6, 1)),   # unknown key
        ],
        "fid bigint, k bigint, ts date",
    )
    got = {
        r.fid: r.seg
        for r in joins.pit_join(facts, dim, ["k"], "ts").collect()
    }
    assert got == {1: "old", 2: "new", 3: None, 4: None}


def test_merge_aggregates_equals_full_recompute(spark):
    """agg(old) ⊕ agg(delta) == agg(old ∪ delta) for SUM/COUNT,
    including keys present on only one side."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import aggregates as agg

    old = spark.createDataFrame(
        [Row(k="a", v=1), Row(k="a", v=2), Row(k="b", v=10)]
    )
    delta = spark.createDataFrame([Row(k="a", v=4), Row(k="c", v=100)])

    def rollup(df):
        return df.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("s"),
        )

    merged = {
        r.k: (r.n, r.s)
        for r in agg.merge_aggregates(
            rollup(old), rollup(delta), ["k"], ["n", "s"]
        ).collect()
    }
    full = {
        r.k: (r.n, r.s) for r in rollup(old.unionByName(delta)).collect()
    }
    assert merged == full == {"a": (3, 7), "b": (1, 10), "c": (1, 100)}


def test_benford_uniform_digits_deviate(spark):
    """Sanity on the Benford screen: a synthetic uniform-first-digit
    amount set shows a LARGE deviation, while shares always sum to 1
    and expected shares are the log10(1+1/d) law."""
    import math

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import dq

    rows = [Row(amt=d * 1000 + i) for d in range(1, 10) for i in range(50)]
    df = spark.createDataFrame(rows)
    out = dq.benford_deviation(df, F.col("amt")).collect()
    assert len(out) == 9
    assert abs(sum(r.observed_p for r in out) - 1.0) < 1e-12
    for r in out:
        assert abs(r.expected_p - math.log10(1 + 1 / r.digit)) < 1e-15
        assert abs(r.observed_p - 1 / 9) < 1e-12  # uniform by construction
    # uniform digits are very un-Benford
    assert out[0].benford_dev > 0.05


def test_monotonic_report_hand_cases(spark):
    """Violations counted exactly: strictly increasing passes, one
    backward step counts once, plateaus only flag under strict=True,
    NULL neighbors are not comparable."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import dq

    rows = [
        Row(k="up", i=1, v=1), Row(k="up", i=2, v=2), Row(k="up", i=3, v=3),
        Row(k="dip", i=1, v=1), Row(k="dip", i=2, v=5), Row(k="dip", i=3, v=4),
        Row(k="flat", i=1, v=7), Row(k="flat", i=2, v=7),
        Row(k="holes", i=1, v=1), Row(k="holes", i=2, v=None), Row(k="holes", i=3, v=2),
    ]
    df = spark.createDataFrame(rows)
    got = {r.k: r for r in dq.monotonic_report(df, ["k"], ["i"], "v").collect()}
    assert got["up"].monotonic and got["up"].n_steps == 2
    assert got["dip"].n_violations == 1 and not got["dip"].monotonic
    assert got["flat"].monotonic  # plateau ok when not strict
    assert got["holes"].n_steps == 0 and got["holes"].monotonic

    strict = {r.k: r for r in dq.monotonic_report(
        df, ["k"], ["i"], "v", strict=True).collect()}
    assert strict["flat"].n_violations == 1


def test_observed_metrics_single_action(spark):
    """dq.observed piggybacks counters on the materializing action —
    one pass yields rows, null count, and a conditional sum."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import dq

    df = spark.createDataFrame(
        [Row(v=1, s=None), Row(v=-2, s="x"), Row(v=3, s="y")]
    )
    out, obs = dq.observed(
        df,
        "ingest",
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_s": F.sum(F.when(F.col("s").isNull(), 1).otherwise(0)),
            "n_negative": F.sum(F.when(F.col("v") < 0, 1).otherwise(0)),
        },
    )
    assert out.count() == 3  # the ONLY action
    got = obs.get
    assert got["n_rows"] == 3
    assert got["n_null_s"] == 1 and got["n_negative"] == 1


def test_chunk_spans_udtf_matches_jvm_chunker(spark):
    """The Python UDTF (SQL LATERAL table function) produces exactly the
    JVM-side chunk_tokens output — pinning both the UDTF surface and
    the 'hot path stays JVM-side' equivalence claim."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.functions import (
        register_chunk_spans_udtf,
    )
    from financial_data_lakehouse_pipeline__spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e f g h i"),
            Row(doc_id=2, text="one two three"),
            Row(doc_id=3, text="   "),
            Row(doc_id=4, text="x"),
        ]
    )
    register_chunk_spans_udtf(spark, "chunk_spans_t")
    docs.createOrReplaceTempView("t_udtf_docs")
    got = {
        (r["doc_id"], r["chunk_id"], r["start_token"], r["n_tokens"], r["chunk"])
        for r in spark.sql(
            "SELECT t.doc_id, c.* FROM t_udtf_docs t, "
            "LATERAL chunk_spans_t(t.text, 4, 2) c"
        ).collect()
    }
    expect = {
        (r["doc_id"], r["chunk_id"], r["start_tok"], r["n_chunk_tokens"], r["chunk_text"])
        for r in text_ops.chunk_tokens(
            docs, size=4, stride=2
        ).collect()
    }
    assert got == expect and got


def test_k_anonymity_report_hand_values(spark):
    """Hand-built groups: sizes 3 and 6 under k=5 -> k_anonymity=3, one
    violating group of 3 rows; one group has a single sensitive value."""
    rows = (
        [Row(seg="A", nat=1, s="x")] * 3
        + [Row(seg="B", nat=1, s="x")] * 3
        + [Row(seg="B", nat=1, s="y")] * 3
    )
    from financial_data_lakehouse_pipeline__spark.operators import dq

    out = dq.k_anonymity_report(
        spark.createDataFrame(rows), ["seg", "nat"], "s", k=5
    ).collect()[0]
    assert out["n_groups"] == 2
    assert out["k_anonymity"] == 3
    assert out["groups_below_k"] == 1 and out["rows_below_k"] == 3
    assert out["l_diversity_min"] == 1
    assert out["groups_single_sensitive"] == 1


def test_srm_check_hand_values(spark):
    """Planted 3:1 imbalance on a 50/50 design: chi2 terms match the
    hand formula; duplicate exposure rows don't inflate counts."""
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.operators import sampling

    # find ids landing in each arm under the real hash, then build an
    # intentionally imbalanced population (30 control, 10 treatment)
    probe = spark.createDataFrame(
        [(i,) for i in range(2000)], "id int"
    ).select(
        "id", sampling.hash_bucket(F.col("id"), "ab").alias("b")
    ).collect()
    control = [r["id"] for r in probe if r["b"] < 5000][:30]
    treat = [r["id"] for r in probe if r["b"] >= 5000][:10]
    rows = [(i,) for i in control + treat] + [(control[0],)] * 5  # dups
    df = spark.createDataFrame(rows, "id int")
    got = {
        r["arm"]: r
        for r in sampling.srm_check(
            df, "id", [("control", 5000), ("treatment", 5000)], salt="ab"
        ).collect()
    }
    assert got["control"]["n"] == 30 and got["treatment"]["n"] == 10
    assert got["control"]["expected"] == 20.0
    assert got["control"]["chi2_term"] == (30 - 20) ** 2 / 20.0
    assert got["treatment"]["chi2_term"] == (10 - 20) ** 2 / 20.0


def test_srm_check_zero_observed_arm_still_emits_row(spark):
    """An arm with ZERO observed units must still emit a row with n=0
    and its full chi2 term — the most extreme mismatch case cannot
    vanish from the statistic (round-8 advice fix)."""
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.operators import sampling

    probe = spark.createDataFrame(
        [(i,) for i in range(2000)], "id int"
    ).select(
        "id", sampling.hash_bucket(F.col("id"), "ab").alias("b")
    ).collect()
    control_only = [r["id"] for r in probe if r["b"] < 5000][:20]
    df = spark.createDataFrame([(i,) for i in control_only], "id int")
    got = {
        r["arm"]: r
        for r in sampling.srm_check(
            df, "id", [("control", 5000), ("treatment", 5000)], salt="ab"
        ).collect()
    }
    assert set(got) == {"control", "treatment"}
    assert got["treatment"]["n"] == 0
    assert got["treatment"]["expected"] == 10.0
    assert got["treatment"]["chi2_term"] == (0 - 10) ** 2 / 10.0
    assert got["control"]["chi2_term"] == (20 - 10) ** 2 / 10.0


def test_ndcg_duplicate_relevance_rows_do_not_fan_out(spark):
    """Duplicate (query_id, neighbor_id) relevance rows are collapsed
    by max before the join — DCG/IDCG are not inflated (round-8
    advice fix)."""
    from financial_data_lakehouse_pipeline__spark.operators import similarity

    ranking = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)],
        "query_id int, neighbor_id int, rank int",
    )
    rel_dup = spark.createDataFrame(
        [(1, 10, 3.0), (1, 10, 1.0), (1, 11, 2.0)],
        "query_id int, neighbor_id int, rel double",
    )
    out = similarity.ndcg_at_k(ranking, rel_dup, k=2).collect()
    assert len(out) == 1
    row = out[0]
    import math

    dcg = 3.0 / math.log2(2.0) + 2.0 / math.log2(3.0)
    assert abs(row["dcg"] - dcg) < 1e-12
    assert abs(row["idcg"] - dcg) < 1e-12  # already ideally ordered
    assert abs(row["ndcg"] - 1.0) < 1e-12


def test_leakage_safe_split_no_cluster_straddle(spark):
    """Every near-dup pair member lands in the SAME split, and the
    assignment equals hash_split on the cluster id (so singleton docs
    degrade to plain hash_split on their own id)."""
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc number {i}") for i in range(40)]
    )
    # chain 0-1-2 is one cluster; 10-11 another; rest singletons
    pairs = spark.createDataFrame(
        [
            Row(id_a=0, id_b=1, jaccard=0.9),
            Row(id_a=1, id_b=2, jaccard=0.9),
            Row(id_a=10, id_b=11, jaccard=0.8),
        ]
    )
    out = sampling.leakage_safe_split(docs, pairs)
    rows = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}
    assert len(rows) == 40
    # pair members share both cluster and split
    for a, b in [(0, 1), (1, 2), (10, 11)]:
        assert rows[a] == rows[b]
    assert rows[0][0] == 0 and rows[10][0] == 10
    # splits came from hash_split on the cluster id
    expected = {
        r["cluster_id"]: r["split"]
        for r in sampling.hash_split(
            out.select("cluster_id").distinct(), "cluster_id"
        ).collect()
    }
    assert all(expected[cid] == s for cid, s in rows.values())
    # determinism: a second run is identical
    again = {r["doc_id"]: (r["cluster_id"], r["split"])
             for r in sampling.leakage_safe_split(docs, pairs).collect()}
    assert again == rows
