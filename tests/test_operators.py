"""Unit tests for individual operators on tiny hand-built DataFrames
(SURVEY.md §5.2) — the behaviors the corpus docstrings pin."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.functions import (
    clamp,
    guarded_div,
    safe_corr,
)
from financial_data_lakehouse_pipeline__spark.operators import (
    cleaning,
    dedup,
    joins,
    windows,
)


def test_guarded_div_zero_and_null(spark):
    df = spark.createDataFrame(
        [Row(n=10.0, d=2.0), Row(n=1.0, d=0.0), Row(n=1.0, d=None)]
    )
    out = df.select(
        guarded_div(F.col("n"), F.col("d")).alias("q"),
        guarded_div(F.col("n"), F.col("d"), default=-1.0).alias("qd"),
    ).collect()
    assert out[0].q == 5.0 and out[0].qd == 5.0
    assert out[1].q is None and out[1].qd == -1.0
    assert out[2].q is None and out[2].qd == -1.0


def test_clamp(spark):
    df = spark.createDataFrame([Row(x=-2.0), Row(x=0.5), Row(x=3.0)])
    vals = [r.c for r in df.select(clamp(F.col("x"), -1.0, 1.0).alias("c")).collect()]
    assert vals == [-1.0, 0.5, 1.0]


def test_safe_corr_constant_series_is_null(spark):
    """F.corr raises under ANSI on zero variance; safe_corr yields NULL
    (DuckDB semantics) — SURVEY.md §7.3 hazard."""
    df = spark.createDataFrame([Row(x=1.0, y=2.0), Row(x=1.0, y=3.0)])
    assert df.agg(safe_corr(F.col("x"), F.col("y")).alias("c")).collect()[0].c is None


def test_dedup_keep_latest_deterministic(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", ts=1, v="old"),
            Row(k="a", ts=2, v="new"),
            Row(k="b", ts=1, v="only"),
        ]
    )
    out = cleaning.dedup_keep_latest(df, ["k"], [F.col("ts").desc()])
    got = {r.k: r.v for r in out.collect()}
    assert got == {"a": "new", "b": "only"}


def test_coalescing_merge_self_derived(spark):
    """J1 regression: both sides derive from the SAME source plan — the
    ambiguous-self-join case fixed via alias-qualified references."""
    base = spark.createDataFrame(
        [Row(k=1, v=10.0), Row(k=2, v=None), Row(k=3, v=30.0)]
    )
    a = base.filter(F.col("k") < 3).select("k", F.col("v").alias("va"))
    b = base.filter(F.col("k") > 1).select("k", (F.col("v") * 2).alias("vb"))
    out = joins.coalescing_merge(
        a, b, ["k"], {"v": ("va", "vb")}, source_flag="src"
    )
    got = {r.k: (r.v, r.src) for r in out.collect()}
    assert got[1] == (10.0, "left")
    assert got[2] == (None, "right")  # both sides null-valued, right row exists
    assert got[3] == (60.0, "right")


def test_rolling_agg_partial_windows(spark):
    """Partial frames at series start aggregate fewer rows (reference
    dt:162-174 semantic, pinned)."""
    df = spark.createDataFrame(
        [Row(k="a", t=i, v=float(i)) for i in range(1, 6)]
    )
    out = windows.rolling_agg(df, ["k"], ["t"], {"sma3": (F.avg("v"), 3)})
    got = {r.t: r.sma3 for r in out.collect()}
    assert got[1] == 1.0  # frame = [1]
    assert got[2] == 1.5  # frame = [1,2]
    assert got[3] == 2.0  # frame = [1,2,3]
    assert got[5] == 4.0  # frame = [3,4,5]


def test_ema_matches_pandas_ewm(spark):
    """True recursive EMA (applyInPandas) == pandas ewm(adjust=False)."""
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 6 + ["b"] * 4,
            "t": list(range(6)) + list(range(4)),
            "v": [1.0, 2.0, 4.0, 3.0, 5.0, 8.0, 10.0, 9.0, 11.0, 12.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = windows.ema(df, ["k"], ["t"], "v", span=3, out="e").toPandas()
    for key, grp in pdf.groupby("k"):
        expect = grp.sort_values("t")["v"].ewm(span=3, adjust=False).mean().tolist()
        got = out[out.k == key].sort_values("t")["e"].tolist()
        assert got == pytest.approx(expect)


def test_ema_does_not_mutate_input_schema(spark):
    """Regression: ema() must not add a phantom column to the cached
    input schema (StructType.add mutates in place)."""
    df = spark.createDataFrame([Row(k="a", t=1, v=1.0)])
    before = [f.name for f in df.schema.fields]
    windows.ema(df, ["k"], ["t"], "v", span=3, out="e")
    after = [f.name for f in df.schema.fields]
    assert before == after == ["k", "t", "v"]


def _docs(spark):
    """Small corpus with one planted near-dup pair and distinct docs."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    rows = [Row(doc_id=0, text=base), Row(doc_id=1, text=near)]
    rows += [
        Row(doc_id=2, text="completely different words about spark engines"),
        Row(doc_id=3, text="yet another unrelated document mentioning ducks"),
        Row(doc_id=4, text=base),  # exact duplicate of 0
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark)).collect()
    by_id = {r.doc_id: r.dup_count for r in out}
    assert by_id[0] == 2  # doc 4 collapsed into doc 0 (min id survives)
    assert 4 not in by_id
    assert by_id[2] == 1


def test_minhash_lsh_subset_of_exact_and_finds_planted_pair(spark):
    docs = _docs(spark)
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert lsh <= exact  # LSH may lose recall, never precision
    assert (0, 4) in lsh  # exact duplicates always collide in every band
    assert (0, 1) in exact  # planted near-dup found by the ground truth


def test_minhash_verify_is_candidate_restricted(spark):
    """The verify stage must semi-join shingles to candidate members —
    i.e. the plan contains LeftSemi joins (scale fix from r1 review)."""
    docs = _docs(spark)
    plan = dedup.minhash_lsh_pairs(docs)._jdf.queryExecution().toString()
    assert "LeftSemi" in plan


def test_stop_shingle_cap_drops_boilerplate_keeps_signal(spark):
    """drop_stop_shingles removes only shingles above the doc-frequency
    cap: with a footer shared by every doc, capped Jaccard still finds
    the planted near-dup pair but no footer-only pairings."""
    footer = " all rights reserved contact us for details"
    docs = _docs(spark).withColumn("text", F.concat(F.col("text"), F.lit(footer)))
    sh = dedup.word_shingles(docs, "doc_id", "text", 3)
    capped = dedup.drop_stop_shingles(sh, max_doc_freq=4)
    left = {r.shingle for r in capped.collect()}
    assert "rights reserved contact" not in left  # df=5 > 4 → dropped
    assert "quick brown fox" in left  # df=3 ≤ 4 → kept

    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_doc_freq=4
        ).collect()
    }
    assert (0, 4) in pairs and (0, 1) in pairs  # real dups survive the cap
    # unrelated docs share ONLY the footer — capped Jaccard must not pair them
    assert (2, 3) not in pairs


def test_minhash_bucket_cap_skips_degenerate_group(spark):
    """max_bucket_size skips LSH buckets bigger than the cap: a planted
    group of identical boilerplate docs (which shares every band key)
    produces no candidate pairs, while organic near-dups still match."""
    boiler = "page not found please try again later with different words"
    extra = [Row(doc_id=100 + i, text=boiler) for i in range(6)]
    docs = _docs(spark).unionByName(spark.createDataFrame(extra))
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, max_bucket_size=5
        ).collect()
    }
    assert (0, 4) in capped  # organic exact-dup pair unaffected
    assert not any(a >= 100 and b >= 100 for a, b in capped)  # group skipped
    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (100, 101) in uncapped  # without the cap the blowup is real


def test_duplicate_clusters_chain_and_singletons(spark):
    """Min-label propagation converges on a chain graph (diameter > 1
    forces multiple iterations) and leaves singletons self-representative."""
    ids = spark.createDataFrame([Row(doc_id=i) for i in range(6)])
    # chain 0-1-2-3 plus isolated 4, 5
    pairs = spark.createDataFrame(
        [Row(id_a=0, id_b=1), Row(id_a=1, id_b=2), Row(id_a=2, id_b=3)]
    )
    out = {r.doc_id: (r.cluster_id, r.is_representative)
           for r in dedup.duplicate_clusters(ids, pairs).collect()}
    assert out == {
        0: (0, True), 1: (0, False), 2: (0, False), 3: (0, False),
        4: (4, True), 5: (5, True),
    }


def test_simhash_identical_docs_distance_zero(spark):
    docs = _docs(spark)
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_pairs(docs).collect()}
    assert pairs.get((0, 4)) == 0  # identical text → identical fingerprint


def test_approx_distinct_accuracy(spark, sf_dir):
    """A9 scale variant: HLL estimate within its documented ~5% standard
    error of the exact distinct count (pinned per the corpus docstring)."""
    from financial_data_lakehouse_pipeline__spark.operators import aggregates as agg
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    li = read_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in agg.distinct_count(
            li, ["l_returnflag"], "l_partkey", "n", approx=False
        ).collect()
    }
    approx = {
        r.l_returnflag: r.n
        for r in agg.distinct_count(
            li, ["l_returnflag"], "l_partkey", "n", approx=True
        ).collect()
    }
    for flag, n in exact.items():
        assert abs(approx[flag] - n) / n <= 0.1


def test_weighted_mean(spark):
    from financial_data_lakehouse_pipeline__spark.operators import aggregates as agg

    df = spark.createDataFrame(
        [Row(k="a", v=10.0, w=1.0), Row(k="a", v=20.0, w=3.0)]
    )
    out = agg.weighted_mean(df, ["k"], "v", F.col("w")).collect()[0]
    assert out.weighted_avg == pytest.approx((10 + 60) / 4.0)


def test_asof_join_takes_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [Row(k="a", t=5, x="l1"), Row(k="a", t=10, x="l2"), Row(k="a", t=1, x="l0")]
    )
    right = spark.createDataFrame(
        [Row(k="a", rt=2, val=20.0), Row(k="a", rt=5, val=50.0), Row(k="a", rt=9, val=90.0)]
    )
    out = joins.asof_join(left, right, ["k"], "t", "rt", ["val"])
    got = {r.t: r.val_asof for r in out.collect()}
    assert got == {1: None, 5: 50.0, 10: 90.0}  # inclusive at-or-before


def test_asof_join_tolerance_skips_null_value_rows(spark):
    """A right row with a NULL value column supplies no value, so it must
    not advance the staleness clock either: the tolerance gap is measured
    against the row whose value was actually carried."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def ts(sec):
        return t0 + datetime.timedelta(seconds=sec)

    left = spark.createDataFrame(
        [Row(k="a", t=ts(120)), Row(k="a", t=ts(130))]
    )
    right = spark.createDataFrame(
        [Row(k="a", rt=ts(0), val=10.0), Row(k="a", rt=ts(100), val=None)]
    )
    out = joins.asof_join(
        left, right, ["k"], "t", "rt", ["val"], tolerance_seconds=50.0
    )
    got = {r.t: r.val_asof for r in out.collect()}
    # value 10.0 came from rt=0 (gap 120s/130s > 50s) — the NULL row at
    # rt=100 must not make it look fresh. Pre-fix this returned 10.0.
    assert got == {ts(120): None, ts(130): None}

    # and a non-null supplier inside tolerance still matches
    right2 = spark.createDataFrame(
        [Row(k="a", rt=ts(0), val=None), Row(k="a", rt=ts(100), val=7.0)]
    )
    out2 = joins.asof_join(
        left, right2, ["k"], "t", "rt", ["val"], tolerance_seconds=50.0
    )
    got2 = {r.t: r.val_asof for r in out2.collect()}
    assert got2 == {ts(120): 7.0, ts(130): 7.0}


def test_language_id_votes(spark):
    from financial_data_lakehouse_pipeline__spark.operators import text

    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="the cat and the dog is in a house"),
            Row(doc_id=1, text="der hund und die katze ist nicht da"),
            Row(doc_id=2, text="xyzzy plugh 12345"),
        ]
    )
    got = {r.doc_id: r.lang_pred for r in text.language_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "und"}


#: Labeled multilingual fixture for the char-trigram classifier — plain
#: public-domain-style sentences written for this test. The classifier
#: must get every one right (it only has to beat 3 siblings).
_LANG_FIXTURE = [
    (0, "en", "the quick brown fox is jumping over the lazy dog with joy"),
    (1, "en", "this is an example of a short english sentence about nothing"),
    (2, "en", "we are going to the market in the morning to buy some bread"),
    (3, "de", "der hund und die katze schlafen nicht in der kleinen wohnung"),
    (4, "de", "ich gehe morgen mit einem freund in die schule und lerne viel"),
    (5, "de", "das wetter ist heute schlecht und die kinder bleiben zu hause"),
    (6, "fr", "le chien et le chat dorment dans la petite maison pres du parc"),
    (7, "fr", "nous allons au marche pour acheter du pain et une bouteille de lait"),
    (8, "fr", "il fait beau aujourd'hui et les enfants jouent dans le jardin"),
    (9, "es", "el perro y el gato duermen en la casa pequena cerca del parque"),
    (10, "es", "vamos al mercado por la manana para comprar pan y un poco de leche"),
    (11, "es", "hace buen tiempo hoy y los ninos juegan en el jardin con pelotas"),
    (12, "und", "zzzz qqqq 12345 %%%%"),
]


def test_language_id_ngram_accuracy(spark):
    from financial_data_lakehouse_pipeline__spark.operators import text

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, _, t in _LANG_FIXTURE]
    )
    out = text.language_id_ngram(df, spark)
    got = {r.doc_id: (r.lang_pred, r.n_hits) for r in out.collect()}
    for i, expected, _ in _LANG_FIXTURE:
        assert got[i][0] == expected, (i, got[i])
    # real-language docs must land several profile hits, not squeak by
    assert all(got[i][1] >= 5 for i, lg, _ in _LANG_FIXTURE if lg != "und")
    assert got[12][1] == 0


def test_naive_bayes_train_and_classify(spark):
    """Train NB on the labeled fixture (en vs rest) and classify the
    SAME corpus: every en doc must score positive, every non-en doc
    negative (training-set separation — a weak but deterministic bar),
    and characteristic terms get the expected weight signs."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import text

    df = spark.createDataFrame(
        [Row(doc_id=i, lang=lg, text=t) for i, lg, t in _LANG_FIXTURE
         if lg != "und"]
    )
    label = df["lang"] == "en"
    w = text.naive_bayes_train(df, label)
    weights = {r.term: r.weight for r in w.collect()}
    assert weights["the"] > 0  # english function word
    assert weights["der"] < 0  # german function word
    bias = text.naive_bayes_bias(df, label)
    out = text.linear_text_classifier(
        df, w.select("term", "weight"), bias=bias, threshold=0.0
    )
    got = {r.doc_id: (r.score, r.label) for r in out.collect()}
    for i, lg, _t in _LANG_FIXTURE:
        if lg == "und":
            continue
        score, pred = got[i]
        assert pred == (lg == "en"), (i, lg, score)


def test_language_id_ngram_short_and_empty(spark):
    from financial_data_lakehouse_pipeline__spark.operators import text

    df = spark.createDataFrame(
        [Row(doc_id=0, text=""), Row(doc_id=1, text="a"),
         Row(doc_id=2, text="   ")]
    )
    got = {r.doc_id: r.lang_pred for r in
           text.language_id_ngram(df, spark).collect()}
    assert got == {0: "und", 1: "und", 2: "und"}


def test_winnowing_shares_fingerprints_on_near_dups(spark):
    """Near-duplicate docs share most winnowing fingerprints; unrelated
    docs share almost none — the MOSS selection property."""
    from financial_data_lakehouse_pipeline__spark.operators import text

    fps = text.winnowing_fingerprints(_docs(spark)).collect()
    by_doc: dict[int, set[int]] = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    def overlap(a, b):
        return len(by_doc[a] & by_doc[b]) / len(by_doc[a] | by_doc[b])
    assert by_doc[0] == by_doc[4]  # identical docs → identical sets
    assert overlap(0, 1) > 0.5  # one-word edit keeps most fingerprints
    assert overlap(0, 2) < 0.1  # unrelated docs share ~nothing


def test_sample_frames_fanout(spark):
    """1→N mapInPandas fan-out: every doc yields exactly n_frames rows
    and the chunk lengths sum back to the document length."""
    from financial_data_lakehouse_pipeline__spark.operators import multimodal

    docs = _docs(spark)
    out = multimodal.sample_frames(docs, n_frames=4).collect()
    lens = {r.doc_id: r for r in docs.collect()}
    per_doc: dict[int, list] = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in per_doc.items():
        assert len(rows) == 4
        assert sum(r.frame_chars for r in rows) == len(lens[doc_id].text)


def test_quality_score_range(spark):
    from financial_data_lakehouse_pipeline__spark.operators import text

    out = text.quality_score(_docs(spark)).collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in out)
    assert not any(math.isnan(r.quality_score) for r in out)


def test_rsi_hand_computed(spark):
    """RSI-14 semantics on a tiny series with n=3: gains/losses from
    consecutive deltas, 100*SG/(SG+SL); first row NULL (no delta); an
    all-flat window yields NULL, an all-gain window yields 100."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import windows as W

    rows = [Row(k=1, t=i, v=v) for i, v in enumerate([10, 12, 11, 11, 15])]
    rows += [Row(k=2, t=i, v=v) for i, v in enumerate([5, 5, 5])]
    rows += [Row(k=3, t=i, v=v) for i, v in enumerate([1, 2, 3])]
    df = spark.createDataFrame(rows, "k int, t int, v long")
    out = {
        (r.k, r.t): r.rsi
        for r in W.rsi(df, ["k"], ["t"], "v", n=3).collect()
    }
    assert out[(1, 0)] is None  # no delta yet
    assert out[(1, 1)] == 100.0  # single gain
    # t=3 window deltas: +2, -1, 0 -> 100*2/3
    assert abs(out[(1, 3)] - 100.0 * 2 / 3) < 1e-12
    # t=4 window deltas: -1, 0, +4 -> 100*4/5
    assert abs(out[(1, 4)] - 80.0) < 1e-12
    assert out[(2, 2)] is None  # flat series: SG+SL == 0
    assert out[(3, 2)] == 100.0  # monotone gains


def test_stochastic_obv_drawdown_hand_computed(spark):
    """Indicator semantics on a tiny series (n=3 windows):
    %K from rolling extremes with NULL on flat windows; OBV signs the
    volume by delta direction starting at 0; drawdown tracks the running
    peak and is 0 at new highs."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import windows as W

    rows = [
        Row(k=1, t=i, v=v, vol=q)
        for i, (v, q) in enumerate([(10, 5), (14, 2), (12, 3), (12, 7), (16, 1)])
    ]
    df = spark.createDataFrame(rows, "k int, t int, v long, vol long")

    st = {r.t: r for r in W.stochastic(df, ["k"], ["t"], "v", n=3, d=2).collect()}
    assert st[0].pct_k is None  # 1-row window is flat
    assert st[1].pct_k == 100.0  # new high of {10,14}
    assert st[2].pct_k == 50.0  # 12 within {10,14}
    assert st[3].pct_k == 0.0  # 12 is the low of {14,12,12}
    assert st[4].pct_k == 100.0  # new high of {12,12,16}
    assert st[2].pct_d == 75.0 and st[4].pct_d == 50.0
    assert st[1].pct_d == 100.0  # NULL %K at t=0 ignored by the mean

    ob = {r.t: r.obv for r in W.obv(df, ["k"], ["t"], "v", "vol").collect()}
    assert ob[0] == 0  # no delta yet
    assert ob[1] == 2 and ob[2] == -1  # +vol on gain, -vol on loss
    assert ob[3] == -1  # flat delta contributes 0
    assert ob[4] == 0

    dd = {r.t: r for r in W.drawdown(df, ["k"], ["t"], "v").collect()}
    assert [dd[t].peak for t in range(5)] == [10, 14, 14, 14, 16]
    assert dd[1].drawdown == 0.0 and dd[4].drawdown == 0.0  # at new highs
    assert dd[2].drawdown == (12 - 14) / 14


def test_repetition_stats_fractions(spark):
    """2-gram repetition fractions: 'a b a b a b' has 5 bigrams, top
    ('a b') x3 -> 0.6, all 5 occurrences duplicated -> 1.0; an all-unique
    doc scores top=1/n_grams, dup=0; a 1-word doc gets 0 grams / NULLs."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import text

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b a b"),
            Row(doc_id=2, text="one two three four"),
            Row(doc_id=3, text="word"),
        ]
    )
    out = {r.doc_id: r for r in text.repetition_stats(df).collect()}
    assert out[1].n_ngrams == 5
    assert abs(out[1].top_ngram_frac - 0.6) < 1e-12
    assert out[1].dup_ngram_frac == 1.0
    assert out[2].n_ngrams == 3
    assert abs(out[2].top_ngram_frac - 1 / 3) < 1e-12
    assert out[2].dup_ngram_frac == 0.0
    assert out[3].n_ngrams == 0
    assert out[3].top_ngram_frac is None and out[3].dup_ngram_frac is None


def test_macd_matches_pandas_ewm(spark):
    """MACD(12,26,9) matches the independent pandas ewm(adjust=False)
    recurrence (same math, different code path) to float tolerance."""
    import pandas as pd
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import windows as W

    vals = [100.0, 101.5, 99.75, 103.2, 102.0, 104.8, 101.1, 105.5, 106.0, 99.0]
    df = spark.createDataFrame(
        [Row(k=1, t=i, v=v) for i, v in enumerate(vals)]
    )
    out = (
        W.macd(df, ["k"], ["t"], "v")
        .orderBy("t")
        .select("macd", "macd_signal", "macd_hist")
        .toPandas()
    )
    s = pd.Series(vals)
    ef = s.ewm(span=12, adjust=False).mean()
    es = s.ewm(span=26, adjust=False).mean()
    m = ef - es
    sig = m.ewm(span=9, adjust=False).mean()
    assert (out["macd"] - m).abs().max() < 1e-9
    assert (out["macd_signal"] - sig).abs().max() < 1e-9
    assert (out["macd_hist"] - (m - sig)).abs().max() < 1e-9


def test_forward_fill_carries_last_observation(spark):
    """Leading NULLs stay NULL; each NULL takes the nearest prior
    non-NULL within its partition only."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import cleaning

    rows = [
        Row(k=1, t=1, v=None), Row(k=1, t=2, v=5.0), Row(k=1, t=3, v=None),
        Row(k=1, t=4, v=None), Row(k=1, t=5, v=8.0),
        Row(k=2, t=1, v=None),
    ]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    out = {
        (r.k, r.t): r.v_filled
        for r in cleaning.forward_fill(df, ["k"], ["t"], ["v"]).collect()
    }
    assert out[(1, 1)] is None
    assert out[(1, 3)] == 5.0 and out[(1, 4)] == 5.0
    assert out[(1, 5)] == 8.0
    assert out[(2, 1)] is None  # other partition's values never leak


def test_share_of_total_sums_to_one(spark):
    """Shares within each super-group sum to exactly 1 (exact integer
    group sums over a shared total)."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import aggregates
    from pyspark.sql import functions as F

    rows = [
        Row(region="r1", nation="a", v=30), Row(region="r1", nation="b", v=70),
        Row(region="r2", nation="c", v=5),
    ]
    out = aggregates.share_of_total(
        spark.createDataFrame(rows), ["region", "nation"], ["region"], F.col("v")
    ).collect()
    by_nation = {r.nation: r.share for r in out}
    assert by_nation["a"] == 0.3 and by_nation["b"] == 0.7
    assert by_nation["c"] == 1.0


def test_vwap_cumulative(spark):
    """Cumulative VWAP equals hand-computed Σ(p·v)/Σ(v) at each row."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import windows as W

    # prices in cents, volumes integral
    rows = [Row(k=1, t=1, p=1000, v=2), Row(k=1, t=2, p=2000, v=1),
            Row(k=1, t=3, p=1500, v=3), Row(k=2, t=1, p=500, v=4)]
    df = spark.createDataFrame(rows)
    out = {(r.k, r.t): r.vwap for r in W.vwap(df, ["k"], ["t"], "p", "v").collect()}
    assert out[(1, 1)] == 10.0                      # 2000/2/100
    assert out[(1, 2)] == (1000 * 2 + 2000) / 3 / 100
    assert out[(1, 3)] == (2000 + 2000 + 4500) / 6 / 100
    assert out[(2, 1)] == 5.0                       # partitions independent


def test_rolling_corr_matches_pandas(spark):
    """Closed-form rolling corr matches pandas.rolling().corr() to float
    tolerance; flat-x windows yield NULL."""
    import pandas as pd
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import windows as W

    xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    ys = [2, 7, 1, 8, 2, 8, 1, 8, 2, 8]
    df = spark.createDataFrame(
        [Row(k=1, t=i, x=x, y=y) for i, (x, y) in enumerate(zip(xs, ys))]
    )
    out = (
        W.rolling_corr(df, ["k"], ["t"], "x", "y", n=4, out="c")
        .orderBy("t").select("c").toPandas()["c"]
    )
    exp = pd.Series(xs, dtype=float).rolling(4, min_periods=2).corr(
        pd.Series(ys, dtype=float)
    )
    for got, want in zip(out, exp):
        if pd.isna(want):
            assert got is None or pd.isna(got)
        else:
            assert abs(got - want) < 1e-9

    flat = spark.createDataFrame([Row(k=1, t=i, x=7, y=i) for i in range(4)])
    got = W.rolling_corr(flat, ["k"], ["t"], "x", "y", n=3, out="c").collect()
    assert all(r.c is None for r in got)


def test_linear_fit_recovers_line(spark):
    """Exact line y = 3x + 5 is recovered exactly; zero-variance x
    yields NULL slope/intercept."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.operators import analysis

    pts = [Row(g="a", x=x, y=3 * x + 5) for x in (1, 2, 3, 4, 10)]
    pts += [Row(g="b", x=2, y=9), Row(g="b", x=2, y=11)]
    out = {
        r.g: (r.slope, r.intercept)
        for r in analysis.linear_fit(
            spark.createDataFrame(pts), ["g"], F.col("x"), F.col("y")
        ).collect()
    }
    assert out["a"] == (3.0, 5.0)
    assert out["b"] == (None, None)


def test_zscore_flags_thresholds(spark):
    """Only rows beyond the threshold survive; z matches the sample-stddev
    definition; n<2 groups produce no flags."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.operators import analysis

    rows = [Row(g="a", id=i, v=v) for i, v in enumerate([10, 10, 10, 10, 110])]
    rows += [Row(g="solo", id=0, v=999)]
    out = analysis.zscore_flags(
        spark.createDataFrame(rows), ["g"], F.col("v"), threshold=1.5
    ).collect()
    assert [(r.g, r.id) for r in out] == [("a", 4)]
    import statistics

    vals = [10, 10, 10, 10, 110]
    want = (110 - statistics.mean(vals)) / statistics.stdev(vals)
    assert abs(out[0].zscore - want) < 1e-12


def test_concurrency_sweep_counts_overlaps(spark):
    """Known intervals produce the hand-computed step curve; weights
    supported; curve rows are per-distinct-boundary."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.operators import events

    # [1,5) [3,7) [3,4) → concurrency: t1:1 t3:3 t4:2 t5:1 t7:0
    iv = spark.createDataFrame(
        [Row(s=1, e=5), Row(s=3, e=7), Row(s=3, e=4)]
    )
    out = {
        r.at: (r.delta, r.concurrent)
        for r in events.concurrency_sweep(iv, F.col("s"), F.col("e")).collect()
    }
    assert out == {1: (1, 1), 3: (2, 3), 4: (-1, 2), 5: (-1, 1), 7: (-1, 0)}


def test_ohlc_order_encoded_open_close(spark):
    """open/close follow the order key, not row order; high/low/volume
    exact; okey ties resolve to min(open)/max(close) value."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.operators import aggregates

    rows = [
        Row(g="a", k=3, p=500, v=1),
        Row(g="a", k=1, p=300, v=2),   # first by k → open
        Row(g="a", k=2, p=900, v=3),
        Row(g="a", k=3, p=400, v=1),   # k tie with 500 → close=max(400,500)
        Row(g="b", k=7, p=100, v=5),
    ]
    out = {
        r.g: r
        for r in aggregates.ohlc(
            spark.createDataFrame(rows), ["g"], F.col("k"), F.col("p"), F.col("v")
        ).collect()
    }
    a = out["a"]
    assert (a.open, a.high, a.low, a.close) == (300, 900, 300, 500)
    assert a.n_trades == 4 and a.volume == 7
    b = out["b"]
    assert (b.open, b.close, b.n_trades) == (100, 100, 1)


def test_atr_true_range_with_gaps(spark):
    """TR uses prev close on gap bars; first bar falls back to high-low;
    ATR is the running mean of TR."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import windows as W

    bars = [
        Row(g=1, t=1, high=110, low=90, close=100),   # TR = 20
        Row(g=1, t=2, high=130, low=125, close=128),  # gap up: TR = max(5, 30, 25) = 30
        Row(g=1, t=3, high=120, low=100, close=110),  # TR = max(20, 8, 28) = 28
    ]
    out = sorted(
        W.atr(spark.createDataFrame(bars), ["g"], ["t"], n=14).collect(),
        key=lambda r: r.t,
    )
    assert [r.atr for r in out] == [20.0, 25.0, 26.0]


def test_mad_outliers_robust_to_contamination(spark):
    """The single extreme point is flagged and the median/MAD anchor
    ignores it (mean/stddev would not); constant groups yield no flags."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.operators import analysis

    rows = [Row(g="a", id=i, v=v) for i, v in enumerate([10, 12, 11, 13, 9, 11, 1000])]
    rows += [Row(g="flat", id=i, v=5) for i in range(4)]
    out = analysis.mad_outliers(
        spark.createDataFrame(rows), ["g"], F.col("v"), threshold=3.0
    ).collect()
    assert [(r.g, r.id) for r in out] == [("a", 6)]
    # median=11, MAD=1 → z=(1000-11)/1 = 989
    assert out[0].mad_z == 989.0


def test_event_study_offsets(spark):
    """A single spike day yields one event; offsets align on the
    calendar; missing panel days drop out of n_obs."""
    import datetime as dt

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import analysis

    d0 = dt.date(2024, 1, 10)
    vals = {0: 10, 1: 10, 2: 10, 3: 10, 4: 1000, 5: 10, 6: 10}  # spike at +4
    rows = [
        Row(k="a", day=d0 + dt.timedelta(days=i), v=v) for i, v in vals.items()
    ]
    out = {
        r.offset: r
        for r in analysis.event_study(
            spark.createDataFrame(rows), ["k"], "day", "v", threshold=2.0, span=2
        ).collect()
    }
    # event at day+4; offsets -2..+2 exist in the panel
    assert sorted(out) == [-2, -1, 0, 1, 2]
    assert out[0].n_obs == 1 and out[0].avg_value == 1000.0
    assert out[-1].avg_value == 10.0 and out[1].avg_value == 10.0
    assert abs(out[2].avg_rel - 0.01) < 1e-12


def test_approx_percentile_accuracy(spark, sf_dir):
    """Sketch percentiles land within the documented rank-error bound of
    the exact answer at sf fixture scale."""
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.corpus import queries
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    approx = {
        r.l_returnflag: r
        for r in queries()["approx_percentile_prices"](spark, str(sf_dir)).collect()
    }
    li = read_table(spark, str(sf_dir), "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("bigint")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile(cents, 0.5).alias("p50"),
            F.percentile(cents, 0.95).alias("p95"),
        )
        .collect()
    }
    for flag, e in exact.items():
        # accuracy=10000 → within ~0.5% of the value range in practice
        assert abs(approx[flag].p50_approx - e.p50) / e.p50 < 0.05
        assert abs(approx[flag].p95_approx - e.p95) / e.p95 < 0.05


def test_autocorrelation_matches_numpy(spark):
    import numpy as np
    from financial_data_lakehouse_pipeline__spark.operators import analysis

    rng = np.random.default_rng(3)
    series = {"a": rng.integers(100, 10000, 50), "b": rng.integers(100, 10000, 30)}
    rows = [
        Row(k=k, t=int(i), v=int(x))
        for k, xs in series.items()
        for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.k: (r.n_pairs, r.autocorr)
        for r in analysis.autocorrelation(
            df, ["k"], ["t"], F.col("v"), lag=1
        ).collect()
    }
    for k, xs in series.items():
        expect = float(np.corrcoef(xs[:-1], xs[1:])[0, 1])
        assert out[k][0] == len(xs) - 1
        assert out[k][1] == pytest.approx(expect, rel=1e-9)


def test_autocorrelation_constant_series_null(spark):
    from financial_data_lakehouse_pipeline__spark.operators import analysis

    df = spark.createDataFrame([Row(k="c", t=i, v=5) for i in range(10)])
    out = analysis.autocorrelation(df, ["k"], ["t"], F.col("v"), lag=1).collect()
    assert out[0].autocorr is None


def test_pairwise_corr_matches_numpy(spark):
    import numpy as np
    from financial_data_lakehouse_pipeline__spark.operators import analysis

    rng = np.random.default_rng(5)
    panel = {e: rng.integers(100, 5000, 20) for e in ["x", "y", "z"]}
    rows = [
        Row(e=e, t=int(t), v=int(v))
        for e, xs in panel.items()
        for t, v in enumerate(xs)
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r.entity_a, r.entity_b): (r.n_obs, r.corr)
        for r in analysis.pairwise_corr(df, "e", "t", F.col("v")).collect()
    }
    assert set(out) == {("x", "y"), ("x", "z"), ("y", "z")}
    for (a, b), (n, c) in out.items():
        assert n == 20
        assert c == pytest.approx(
            float(np.corrcoef(panel[a], panel[b])[0, 1]), rel=1e-9
        )


def test_pairwise_corr_only_aligned_times(spark):
    """Entities with disjoint time ranges produce no pair row; partial
    overlap correlates only the shared observations."""
    from financial_data_lakehouse_pipeline__spark.operators import analysis

    rows = (
        [Row(e="a", t=i, v=i * 10) for i in range(10)]
        + [Row(e="b", t=i, v=i * 7 + 3) for i in range(5, 15)]
        + [Row(e="c", t=i, v=i) for i in range(100, 105)]
    )
    df = spark.createDataFrame(rows)
    out = {
        (r.entity_a, r.entity_b): r
        for r in analysis.pairwise_corr(df, "e", "t", F.col("v")).collect()
    }
    assert set(out) == {("a", "b")}
    assert out[("a", "b")].n_obs == 5  # t = 5..9
    assert out[("a", "b")].corr == pytest.approx(1.0, rel=1e-9)


def test_ohlc_resample_weekly_semantics(spark):
    """Weekly open = open of first day, close = close of last day,
    high/low/volume aggregate across the week's bars."""
    from financial_data_lakehouse_pipeline__spark.operators import aggregates as agg

    bars = spark.createDataFrame(
        [
            # week 0: days 0, 2, 4
            Row(k="s", day=0, open=10, high=20, low=5, close=12, n_trades=3, volume=100),
            Row(k="s", day=2, open=13, high=30, low=11, close=25, n_trades=2, volume=50),
            Row(k="s", day=4, open=24, high=26, low=2, close=7, n_trades=1, volume=10),
            # week 1: day 7 only
            Row(k="s", day=7, open=8, high=9, low=7, close=9, n_trades=4, volume=40),
        ]
    )
    week = F.floor(F.col("day") / F.lit(7.0))
    out = {
        r.week: r
        for r in agg.ohlc_resample(
            bars, ["k", week.alias("week")], F.col("day")
        ).collect()
    }
    w0, w1 = out[0], out[1]
    assert (w0.open, w0.high, w0.low, w0.close) == (10, 30, 2, 7)
    assert (w0.n_trades, w0.volume) == (6, 160)
    assert (w1.open, w1.high, w1.low, w1.close) == (8, 9, 7, 9)


def test_unigram_logprob_hand_computed(spark):
    from financial_data_lakehouse_pipeline__spark.operators import text as text_ops

    # corpus: "a a b" + "b c" -> counts a:2 b:2 c:1, N=5
    df = spark.createDataFrame(
        [Row(doc_id=0, text="a a b"), Row(doc_id=1, text="b c"), Row(doc_id=2, text="  ")]
    )
    out = {
        r.doc_id: r for r in text_ops.unigram_logprob(df).collect()
    }
    assert set(out) == {0, 1}  # blank doc omitted
    lp0 = (2 * math.log(2) + math.log(2)) / 3 - math.log(5)
    lp1 = (math.log(2) + math.log(1)) / 2 - math.log(5)
    assert out[0].n_tokens == 3
    assert out[0].avg_logprob == pytest.approx(lp0, rel=1e-12)
    assert out[1].n_tokens == 2
    assert out[1].avg_logprob == pytest.approx(lp1, rel=1e-12)


def test_donchian_channel_bounds_and_breakouts(spark):
    """Upper/lower track the n-bar extremes (partial frames at the
    start); breakout flags fire exactly when close touches a band."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import windows as W

    bars = [
        Row(g=1, t=1, high=110, low=90, close=100),
        Row(g=1, t=2, high=120, low=95, close=120),   # close == max high → new_high
        Row(g=1, t=3, high=115, low=80, close=80),    # close == min low → new_low
        Row(g=1, t=4, high=112, low=100, close=105),
    ]
    out = sorted(
        W.donchian(spark.createDataFrame(bars), ["g"], ["t"], n=3).collect(),
        key=lambda r: r.t,
    )
    assert [r.donchian_upper for r in out] == [110, 120, 120, 120]
    assert [r.donchian_lower for r in out] == [90, 90, 80, 80]
    assert [r.donchian_mid for r in out] == [100.0, 105.0, 100.0, 100.0]
    assert [r.new_high for r in out] == [False, True, False, False]
    assert [r.new_low for r in out] == [False, False, True, False]


def test_ichimoku_offsets_and_midpoints(spark):
    """Midpoints aggregate the right frames; senkou spans lag by
    kijun_n bars and chikou leads; offsets are NULL where undefined."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import windows as W

    bars = [Row(g=1, t=i, high=100 + 10 * i, low=10 * i, close=50 + 10 * i)
            for i in range(1, 7)]
    out = sorted(
        W.ichimoku(
            spark.createDataFrame(bars), ["g"], ["t"],
            tenkan_n=2, kijun_n=3, span_b_n=4,
        ).collect(),
        key=lambda r: r.t,
    )
    # tenkan at t=3: (max(high[2..3]) + min(low[2..3]))/2 = (130+20)/2
    assert out[2].tenkan == 75.0
    # kijun at t=3: (130+10)/2
    assert out[2].kijun == 70.0
    # senkou_a at t=6 was computed at t=3: (tenkan+kijun)/2
    assert out[5].senkou_a == (75.0 + 70.0) / 2
    # senkou_b at t=6 from t=3's 4-bar midpoint: (130+10)/2
    assert out[5].senkou_b == 70.0
    # chikou at t=1 is close at t=4; NULL once the lead runs out
    assert out[0].chikou == 90 and out[3].chikou is None
    assert out[0].senkou_a is None and out[2].senkou_a is None


def test_candlestick_flags_hand_built(spark):
    """Doji 10% body rule, engulfing orientation + strict containment,
    gaps vs previous extremes; first bar lag flags pinned FALSE."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import analysis

    bars = [
        # body 1 vs range 20 → doji
        Row(g=1, t=1, open=100, high=110, low=90, close=101),
        # bearish bar (o>c)
        Row(g=1, t=2, open=106, high=108, low=99, close=100),
        # bullish engulfing: o=99 <= pc=100, c=107 >= po=106, body 8 > 6
        Row(g=1, t=3, open=99, high=112, low=98, close=107),
        # gap up: low 115 > prev high 112; also bearish (o>c)
        Row(g=1, t=4, open=120, high=125, low=115, close=116),
        # gap down: high 110 < prev low 115
        Row(g=1, t=5, open=105, high=110, low=100, close=108),
    ]
    out = {
        r.t: r
        for r in analysis.candlestick_flags(
            spark.createDataFrame(bars), ["g"], ["t"]
        ).collect()
    }
    assert out[1].doji and not out[2].doji
    assert not out[1].bullish_engulf and not out[1].bearish_engulf  # first bar
    assert out[3].bullish_engulf and not out[3].bearish_engulf
    assert out[4].gap_up and not out[4].gap_down
    assert out[5].gap_down and not out[5].gap_up


def test_bm25_hand_computed(spark):
    """BM25 (Lucene idf) against a hand-computed value; docs missing
    every query term score 0 but keep their row."""
    import math

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import text as T

    docs = [
        Row(doc_id=0, text="spark spark join"),
        Row(doc_id=1, text="table scan"),
        Row(doc_id=2, text="nothing relevant here"),
    ]
    out = {
        r.doc_id: r
        for r in T.bm25_scores(
            spark.createDataFrame(docs), ["spark", "table"], k1=1.2, b=0.75
        ).collect()
    }
    n, avgdl = 3, (3 + 2 + 3) / 3.0
    def idf(df_t):
        return math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
    def term(tf, df_t, dl):
        return idf(df_t) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert out[0].score == pytest.approx(term(2, 1, 3), rel=1e-12)
    assert out[1].score == pytest.approx(term(1, 1, 2), rel=1e-12)
    assert out[2].score == 0.0 and out[2].dl == 3


def test_segment_dedup_drops_boilerplate(spark):
    """A segment shared by >max_docs documents is dropped everywhere;
    unique segments survive in order; empty docs keep an empty row."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import text as T

    boiler = "all rights reserved"
    docs = [
        Row(doc_id=0, text=f"{boiler} unique zero content"),
        Row(doc_id=1, text=f"{boiler} other one words"),
        Row(doc_id=2, text=f"{boiler} third body text"),
        Row(doc_id=3, text="totally original document"),
        Row(doc_id=4, text="   "),
    ]
    out = {
        r.doc_id: r
        for r in T.segment_dedup(
            spark.createDataFrame(docs), seg_tokens=3, max_docs=2
        ).collect()
    }
    for i in (0, 1, 2):
        assert out[i].n_dropped == 1
        assert boiler not in out[i].cleaned_text
    assert out[0].cleaned_text == "unique zero content"
    assert out[3].n_dropped == 0
    assert out[3].cleaned_text == "totally original document"
    assert out[4].n_segments == 0 and out[4].cleaned_text == ""


def _make_png(width: int, height: int) -> bytes:
    """Generate a real, valid grayscale PNG with pure stdlib (struct +
    zlib) — signature, IHDR, IDAT, IEND with correct CRCs."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_media_features_real_png_decoder(spark):
    """The pluggable decoder path with REAL decoding: tiny generated PNGs
    flow through the mapInPandas plumbing and the stdlib PNG header
    decoder reports their true dimensions (not digest-derived fakes)."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import multimodal

    pngs = {1: _make_png(7, 3), 2: _make_png(128, 64)}
    df = spark.createDataFrame(
        [
            Row(doc_id=k, payload=bytearray(v), media_type="image/png")
            for k, v in pngs.items()
        ],
        "doc_id bigint, payload binary, media_type string",
    )
    out = {
        r.doc_id: r
        for r in multimodal.extract_media_features(
            df, decoder=multimodal.png_header_decoder
        ).collect()
    }
    assert (out[1].width, out[1].height, out[1].feature_norm) == (7, 3, 21.0)
    assert (out[2].width, out[2].height, out[2].feature_norm) == (128, 64, 8192.0)
    assert out[1].n_bytes == len(pngs[1])
    # non-PNG bytes through the real decoder must error, not silently fake
    import pytest as _pytest

    bad = spark.createDataFrame(
        [Row(doc_id=9, payload=bytearray(b"not a png"), media_type="image/png")],
        "doc_id bigint, payload binary, media_type string",
    )
    with _pytest.raises(Exception):
        multimodal.extract_media_features(
            bad, decoder=multimodal.png_header_decoder
        ).collect()


def test_pagerank_path_graph_matches_reference(spark):
    """PageRank on the path graph 1-2-3 equals a reference power
    iteration with the operator's exact quantization semantics — at 2
    iterations and across the every-5-rounds rank-lineage cut (6, 12),
    where the cut keeps the plan no larger than the uncut 2-round one."""
    import math

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import graph

    rows = [Row(g=10, item=1), Row(g=10, item=2), Row(g=20, item=2), Row(g=20, item=3)]
    df = spark.createDataFrame(rows)
    edges = graph.cooccurrence_edges(df, "g", "item")
    # symmetric: (1,2),(2,1),(2,3),(3,2)
    assert sorted((r.src, r.dst) for r in edges.collect()) == [
        (1, 2), (2, 1), (2, 3), (3, 2),
    ]

    def ref(iters, d=0.85):
        adj = {1: [2], 2: [1, 3], 3: [2]}
        deg = {k: len(v) for k, v in adj.items()}
        r = {k: 1.0 / 3 for k in adj}
        for _ in range(iters):
            s = {k: 0 for k in adj}
            for u, outs in adj.items():
                q = math.floor(r[u] / float(deg[u]) * 1e12 + 0.5)
                for v in outs:
                    s[v] += q
            r = {k: (1.0 - d) / 3 + d * (s[k] / 1e12) for k in adj}
        return r

    def joins(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("Join")

    for iters in (2, 6, 12):
        pr = graph.pagerank(edges, iters=iters)
        got = {r.node: r for r in pr.collect()}
        expect = ref(iters)
        for node in (1, 2, 3):
            assert got[node].pagerank == expect[node], iters
        assert got[2].pagerank > got[1].pagerank  # hub outranks leaves
        assert got[1].pagerank == got[3].pagerank  # symmetry
        if iters == 2:
            uncut = joins(pr)
        assert joins(pr) <= uncut, iters


def test_pagerank_directed_keeps_sink_sources(spark):
    """A caller passing a DIRECTED edge list (documented as symmetric,
    but the parameter is just `edges`) must not see nodes silently
    vanish: a source node that receives no contributions keeps the
    damped baseline (1-d)/N instead of being inner-joined away."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import graph

    # 1 -> 2 only: node 1 never receives a contribution.
    edges = spark.createDataFrame([Row(src=1, dst=2), Row(src=2, dst=1)])
    directed = edges.filter("src = 1")
    got = {r.node: r for r in graph.pagerank(directed, iters=3).collect()}
    assert set(got) == {1}  # deg table only has out-degree nodes...
    assert got[1].pagerank == (1.0 - 0.85) / 1.0  # ...but 1 survives at baseline


def test_cms_overestimate_guarantee_and_mass(spark, sf_dir):
    """Count-min invariants on real data: every per-depth row of the
    sketch sums to the total row count (mass conservation), and the
    point estimate never undercounts any key (est >= exact, the
    guarantee that makes sketch-pruned heavy hitters lossless)."""
    from financial_data_lakehouse_pipeline__spark.operators import sketches
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    ev = read_table(spark, sf_dir, "events")
    n = ev.filter(F.col("user_id").isNotNull()).count()
    sk = sketches.count_min_sketch(ev, "user_id", depth=4, width=64)
    per_depth = {r.d: r.total for r in sk.groupBy("d").agg(
        F.sum("cnt").alias("total")).collect()}
    assert per_depth == {0: n, 1: n, 2: n, 3: n}

    exact = {r.user_id: r.cnt
             for r in sketches.heavy_hitters_exact(ev, "user_id", 0).collect()}
    keys = ev.select("user_id").distinct()
    est = {r.user_id: r.est_cnt
           for r in sketches.cms_estimate(sk, keys, "user_id", 4, 64).collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)


def test_cms_heavy_hitters_matches_exact_set(spark, sf_dir):
    """Sketch-pruned + exact-verified heavy hitters return EXACTLY the
    exact-groupBy heavy-hitter set (the sketch only prunes, never
    decides), with true counts."""
    from financial_data_lakehouse_pipeline__spark.operators import sketches
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    ev = read_table(spark, sf_dir, "events")
    want = {(r.user_id, r.cnt)
            for r in sketches.heavy_hitters_exact(ev, "user_id", 80).collect()}
    got = {(r.user_id, r.cnt)
           for r in sketches.cms_heavy_hitters(ev, "user_id", 80, width=32).collect()}
    assert got == want  # tight width → collisions → still exact output
    est_ge = all(
        r.est_cnt >= r.cnt
        for r in sketches.cms_heavy_hitters(ev, "user_id", 80, width=32).collect()
    )
    assert est_ge


def test_histogram_quantiles_within_one_binwidth(spark, sf_dir):
    """Histogram-sketch quantile estimates vs exact order statistics:
    the estimate is the crossing bin's upper edge, so it can exceed the
    exact quantile by at most one binwidth and never undershoot it."""
    from financial_data_lakehouse_pipeline__spark.operators import sketches
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    lo, hi, bins = 0.0, 500000.0, 64
    width = (hi - lo) / bins
    orders = read_table(spark, sf_dir, "orders")
    h = sketches.histogram_sketch(orders, "o_totalprice", lo, hi, bins)
    est = {r.q: r.est for r in
           sketches.quantiles_from_histogram(h, lo, hi, bins, [0.5, 0.9, 0.99]).collect()}

    import math

    vals = sorted(r.o_totalprice for r in orders.select("o_totalprice").collect())
    for q in (0.5, 0.9, 0.99):
        exact = vals[max(0, math.ceil(q * len(vals)) - 1)]
        assert exact <= est[q] <= exact + width, (q, exact, est[q])


def test_histogram_sketch_merges_linearly(spark, sf_dir):
    """Bin counts from two disjoint halves sum to the full sketch —
    the mergeability that makes the sketch partial-agg/rollup-safe."""
    from financial_data_lakehouse_pipeline__spark.operators import sketches
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    orders = read_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 1)

    def cells(df):
        return {r.bin: r.cnt for r in sketches.histogram_sketch(
            df, "o_totalprice", 0.0, 500000.0, 16).collect()}

    full, ca, cb = cells(orders), cells(a), cells(b)
    merged = {k: ca.get(k, 0) + cb.get(k, 0) for k in set(ca) | set(cb)}
    assert merged == full


def test_adx_bounds_and_monotone_trend(spark):
    """DI/ADX stay in [0,100]; a strictly trending series drives DI+ to
    dominate DI− (directional movement all upward)."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import windows as W

    bars = [
        Row(k=1, day=i, high=100 + 10 * i, low=90 + 10 * i, close=95 + 10 * i)
        for i in range(10)
    ]
    df = spark.createDataFrame(bars)
    out = W.adx(df, ["k"], ["day"], n=5).orderBy("day").collect()
    for r in out:
        if r.pdi is not None:
            assert 0.0 <= r.pdi <= 100.0 and 0.0 <= r.mdi <= 100.0
        if r.adx is not None:
            assert 0.0 <= r.adx <= 100.0
    last = out[-1]
    assert last.pdi > last.mdi  # uptrend: +DM dominates
    assert last.mdi == 0.0      # lows never fall -> -DM is all zeros


def test_media_features_real_wav_decoder(spark):
    """Audio modality through the same pluggable-decoder hook: a real
    generated WAV (stdlib wave module) flows through mapInPandas and the
    RIFF header decoder reports true sample rate / channels / duration
    via the (width=rate, height=channels, norm=duration) feature slots."""
    import io
    import wave

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import multimodal

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 2 * 4000)  # 0.5 s of silence
    wav = buf.getvalue()
    assert multimodal.wav_header_decoder(wav) == (8000, 2, 0.5)

    df = spark.createDataFrame(
        [Row(doc_id=1, payload=bytearray(wav), media_type="audio/wav")],
        "doc_id bigint, payload binary, media_type string",
    )
    r = multimodal.extract_media_features(
        df, decoder=multimodal.wav_header_decoder
    ).collect()[0]
    assert (r.width, r.height, r.feature_norm) == (8000, 2, 0.5)
    assert r.n_bytes == len(wav)


def test_cusum_detects_level_shift(spark):
    """CUSUM stays quiet on on-target data, alarms after a sustained
    upward shift, and the clamp keeps statistics non-negative."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import windows as W

    vals = [10.0] * 5 + [14.0] * 5  # target 10, shift of +4 > slack 1
    df = spark.createDataFrame(
        [Row(k=1, i=i, v=v) for i, v in enumerate(vals)]
    )
    out = (
        W.cusum(df, ["k"], ["i"], "v", target=10.0, slack=1.0, threshold=5.0)
        .orderBy("i")
        .collect()
    )
    assert all(r.cusum_pos >= 0 and r.cusum_neg >= 0 for r in out)
    assert all(r.alarm == 0 for r in out[:5])  # on-target: quiet
    assert out[-1].alarm == 1                  # sustained shift: alarm
    # statistic accumulates (14-10-1)=3 per shifted point
    assert out[-1].cusum_pos == pytest.approx(15.0)


def test_triangle_counts_hand_graph(spark):
    """K4 minus one edge: nodes on the chord sit in 2 triangles, the
    others in 1; a pendant node has 0."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import graph

    # edges: 1-2,1-3,1-4,2-3,2-4 (K4 minus 3-4), pendant 5 via 1-5
    pairs = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=1, dst=3), Row(src=1, dst=4),
         Row(src=2, dst=3), Row(src=2, dst=4), Row(src=1, dst=5)]
    )
    got = {r.node: r.n_triangles for r in graph.triangle_counts(pairs).collect()}
    # triangles: (1,2,3) and (1,2,4)
    assert got == {1: 2, 2: 2, 3: 1, 4: 1, 5: 0}


def test_link_prediction_hand_graph(spark):
    """Path 1-2-3 plus 1-4, 3-4: candidate (1,3) shares neighbors {2,4};
    existing edges are excluded; Jaccard = common / (da + db - common)."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import graph

    pairs = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=3), Row(src=1, dst=4), Row(src=3, dst=4)]
    )
    out = {(r.node_a, r.node_b): r for r in
           graph.link_prediction_jaccard(pairs, min_common=1).collect()}
    assert (1, 2) not in out and (3, 4) not in out  # existing edges excluded
    r13 = out[(1, 3)]
    assert r13.n_common == 2  # neighbors {2, 4}
    assert r13.jaccard == 2.0 / (2 + 2 - 2)  # deg(1)=deg(3)=2
    r24 = out[(2, 4)]
    assert r24.n_common == 2 and r24.jaccard == 1.0  # N(2)=N(4)={1,3}


def test_fuzzy_self_join_blocking_and_distance(spark):
    """Pairs come only from within a block; Levenshtein filters exactly;
    cross-block near-matches are (by design) not candidates."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import joins

    df = spark.createDataFrame(
        [Row(name="red bolt"), Row(name="blue bolt"), Row(name="rod bolt"),
         Row(name="red gear"), Row(name="red bol")]  # 'bol' != 'bolt' block
    )
    out = {(r.text_a, r.text_b): r.dist for r in joins.fuzzy_self_join(
        df, "name", F.element_at(F.split(F.col("name"), " "), -1), max_dist=2
    ).collect()}
    assert out[("red bolt", "rod bolt")] == 1
    assert ("blue bolt", "red bolt") not in out  # dist 3 > 2
    assert all("red gear" not in k and "red bol" not in k for k in out)


def test_debounce_greedy_chain(spark):
    """Debounce keeps the greedy chain, not the naive gap-from-previous:
    events at t=0,200,400 with a 300s gap keep {0, 400} — lag-based
    session logic would drop 400 (only 200s after the previous EVENT),
    but it is 400s after the last KEPT event."""
    import datetime as dt

    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import events as E

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(k=1, ts=t0 + dt.timedelta(seconds=s), eid=i)
        for i, s in enumerate([0, 200, 400, 450, 710])
    ]
    df = spark.createDataFrame(rows)
    kept = sorted(
        r.eid for r in E.debounce(df, ["k"], "ts", 300, tiebreak=["eid"]).collect()
    )
    # 0 kept; 200 dropped (<300 after 0); 400 kept (>=300 after 0);
    # 450 dropped (<300 after 400); 710 kept (310 after 400)
    assert kept == [0, 2, 4]


def test_hll_accuracy_and_merge(spark, sf_dir):
    """HLL estimate within the expected error band (sigma = 1.04/sqrt(m)
    ~ 6.5% at p=8 — allow 3 sigma), and registers merge by MAX: the
    sketch of a union equals the element-wise max of the halves'
    sketches."""
    from financial_data_lakehouse_pipeline__spark.operators import sketches
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    orders = read_table(spark, sf_dir, "orders")
    exact = orders.select("o_custkey").distinct().count()
    sk = sketches.hll_sketch(orders, "o_custkey", p=8)
    [est] = sketches.hll_estimate(sk, p=8).collect()
    assert abs(est.estimate - exact) / exact < 0.20
    assert est.est_bigint == int(est.estimate + 0.5)

    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 1)

    def regs(df):
        return {r.bucket: r.max_rank
                for r in sketches.hll_sketch(df, "o_custkey", p=8).collect()}

    full, ra, rb = regs(orders), regs(a), regs(b)
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    assert merged == full


def test_bloom_no_false_negatives_and_or_merge(spark, sf_dir):
    """Every member key probes maybe_present=True (no false negatives);
    the false-positive rate on non-members stays near the design bound;
    bit sets merge by OR (union of halves == filter of union)."""
    from pyspark.sql import Row

    from financial_data_lakehouse_pipeline__spark.operators import sketches
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    orders = read_table(spark, sf_dir, "orders")
    bits = sketches.bloom_bits(orders, "o_custkey", num_bits=4096, k=3)

    members = orders.select("o_custkey").distinct()
    got = sketches.bloom_maybe_contains(bits, members, "o_custkey", 4096, 3)
    assert got.filter(~F.col("maybe_present")).count() == 0

    far = spark.createDataFrame([Row(o_custkey=10_000_000 + i) for i in range(500)])
    fp = sketches.bloom_maybe_contains(bits, far, "o_custkey", 4096, 3)
    rate = fp.filter(F.col("maybe_present")).count() / 500
    # m=4096, k=3, n=|distinct custkeys| (~150 at sf0.001): design FP
    # well under 1%; allow generous slack for small-sample noise
    assert rate < 0.10, rate

    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 1)
    ba = {r.bit for r in sketches.bloom_bits(a, "o_custkey", 4096, 3).collect()}
    bb = {r.bit for r in sketches.bloom_bits(b, "o_custkey", 4096, 3).collect()}
    full = {r.bit for r in bits.collect()}
    assert (ba | bb) == full


def test_bloom_pruned_anti_join_exercises_both_paths(spark, sf_dir):
    """The bloom-pruned anti-join equals the plain anti-join, and on
    the urgent-orders corpus both branches actually run: some keys are
    certainly absent (fast path) and some are maybe-present."""
    from financial_data_lakehouse_pipeline__spark.operators import joins, sketches
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    got = {r.c_custkey for r in sketches.bloom_pruned_anti_join(
        c, o, "c_custkey", "o_custkey", num_bits=4096, k=3).collect()}
    want = {r.c_custkey for r in joins.anti_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), ["c_custkey"]
    ).collect()}
    assert got == want and len(want) > 0

    bits = sketches.bloom_bits(o, "o_custkey", 4096, 3)
    flags = sketches.bloom_maybe_contains(
        bits, c.select("c_custkey"), "c_custkey", 4096, 3)
    n_absent = flags.filter(~F.col("maybe_present")).count()
    n_maybe = flags.filter(F.col("maybe_present")).count()
    assert n_absent > 0 and n_maybe > 0


def test_rolling_median_hand_values(spark):
    """Exact rolling median on a hand series: odd frames pick the middle
    value, even (partial, at series start) frames interpolate, spikes
    are absorbed (the despiking property the mean lacks)."""
    from financial_data_lakehouse_pipeline__spark.operators import windows

    vals = [10.0, 20.0, 30.0, 1000.0, 40.0]
    df = spark.createDataFrame(
        [Row(k="a", i=i, v=v) for i, v in enumerate(vals)]
    )
    out = windows.rolling_median(
        df, ["k"], ["i"], F.col("v"), 3, out="med"
    )
    got = {r.i: r.med for r in out.collect()}
    assert got[0] == 10.0           # frame [10]
    assert got[1] == 15.0           # frame [10,20] -> (10+20)/2
    assert got[2] == 20.0           # [10,20,30]
    assert got[3] == 30.0           # [20,30,1000] — spike absorbed
    assert got[4] == 40.0           # [30,1000,40] -> middle 40


def test_winsorize_bounds_and_row_preservation(spark, sf_dir):
    """Winsorize keeps every row, clamps exactly into the group's
    [p05, p95] discrete band, and leaves interior values untouched."""
    from financial_data_lakehouse_pipeline__spark.operators import aggregates
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    o = read_table(spark, sf_dir, "orders")
    out = aggregates.winsorize(
        o, ["o_orderpriority"], "o_totalprice", 0.05, 0.95
    )
    assert out.count() == o.count()
    pcts = {
        (r.o_orderpriority, r.q): r.value
        for r in aggregates.percentile_disc(
            o, ["o_orderpriority"], "o_totalprice", [0.05, 0.95]
        ).collect()
    }
    for r in out.collect():
        lo, hi = pcts[(r.o_orderpriority, 0.05)], pcts[(r.o_orderpriority, 0.95)]
        assert lo <= r.o_totalprice_winsorized <= hi
        if lo <= r.o_totalprice <= hi:
            assert r.o_totalprice_winsorized == r.o_totalprice


def test_asof_join_nearest_picks_closer_side(spark):
    """direction='nearest': closer side wins, exact ties go backward
    (merge_asof convention), and the tolerance applies to the CHOSEN
    side's gap — a failing nearest match is NULL even if the other side
    would have passed."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def ts(sec):
        return t0 + datetime.timedelta(seconds=sec)

    left = spark.createDataFrame(
        [Row(k="a", eid=i, t=ts(s)) for i, s in enumerate([100, 150, 190, 240])]
    )
    right = spark.createDataFrame(
        [Row(k="a", rt=ts(90), val=1.0), Row(k="a", rt=ts(210), val=2.0)]
    )
    out = joins.asof_join(
        left, right, ["k"], "t", "rt", ["val"], direction="nearest"
    )
    got = {r.eid: r.val_asof for r in out.collect()}
    # t=100: gaps 10 vs 110 -> backward 1.0; t=150: 60 vs 60 tie -> backward
    # t=190: 100 vs 20 -> forward 2.0; t=240: 150 vs |210-240|=30 ... forward
    assert got == {0: 1.0, 1: 1.0, 2: 2.0, 3: 2.0}

    out_tol = joins.asof_join(
        left, right, ["k"], "t", "rt", ["val"],
        direction="nearest", tolerance_seconds=25.0,
    )
    got_tol = {r.eid: r.val_asof for r in out_tol.collect()}
    # chosen gaps: 10, 60(tie->b), 20, 30 -> only eid 0 and 2 within 25s
    assert got_tol == {0: 1.0, 1: None, 2: 2.0, 3: None}


def test_regularize_time_series_dense_grid(spark):
    """Resampling materializes EVERY bucket between an entity's first
    and last event — empty buckets get zero counts and carry the last
    mean forward; leading buckets before any value stay as they are."""
    import datetime

    from financial_data_lakehouse_pipeline__spark.operators import events as ev_ops

    t0 = datetime.datetime(2024, 1, 1)

    def ts(h, m=0):
        return t0 + datetime.timedelta(hours=h, minutes=m)

    df = spark.createDataFrame(
        [
            Row(user_id=1, ts=ts(0, 10), value=10.0),
            Row(user_id=1, ts=ts(0, 50), value=20.0),
            # hours 1 and 2 empty
            Row(user_id=1, ts=ts(3, 5), value=40.0),
        ]
    )
    out = ev_ops.regularize_time_series(
        df, ["user_id"], "ts", 3600,
        {"n_events": F.count(F.lit(1)).cast("bigint"),
         "hour_avg": F.avg("value")},
        fill_cols=["hour_avg"], zero_cols=["n_events"],
    )
    rows = {r.bucket_start.hour: r for r in out.collect()}
    assert sorted(rows) == [0, 1, 2, 3]  # dense, including empty hours
    assert rows[0].n_events == 2 and rows[0].hour_avg == 15.0
    assert rows[1].n_events == 0 and rows[1].hour_avg is None
    assert rows[1].hour_avg_filled == 15.0  # carried through the gap
    assert rows[2].hour_avg_filled == 15.0
    assert rows[3].n_events == 1 and rows[3].hour_avg_filled == 40.0


def test_encoding_quality_flags_mojibake_and_control(spark):
    """Clean text scores all-zero ratios; replacement chars, control
    bytes, and UTF-8-as-Latin-1 digraphs each trip their ratio and
    clear encoding_ok."""
    from financial_data_lakehouse_pipeline__spark.operators import text as t

    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="perfectly normal text here"),
            Row(doc_id=1, text="bad � decode � twice"),
            Row(doc_id=2, text="binary\x00junk\x07inside"),
            Row(doc_id=3, text="cafÃ© lattÃ©"),  # café mis-decoded
        ]
    )
    got = {r.doc_id: r for r in t.encoding_quality(df).collect()}
    assert got[0].encoding_ok
    assert not got[1].encoding_ok and got[1].replacement_ratio > 0
    assert not got[2].encoding_ok and got[2].control_ratio > 0
    assert not got[3].encoding_ok and got[3].mojibake_ratio > 0


def test_connected_components_matches_union_find(spark):
    """Alternating-star connected components agrees with a driver-side
    union-find on a random graph, labels every node with the component
    minimum, and keeps isolated nodes as singletons."""
    import random

    from financial_data_lakehouse_pipeline__spark.operators import graph

    rng = random.Random(11)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {}
    comps = {}
    for x in range(n):
        comps.setdefault(find(x), []).append(x)
    for members in comps.values():
        m = min(members)
        for x in members:
            expect[x] = m

    edf = spark.createDataFrame(edges, "src long, dst long")
    ndf = spark.createDataFrame([(i,) for i in range(n)], "node long")
    got = {
        r["node"]: r["component_id"]
        for r in graph.connected_components(edf, ndf).collect()
    }
    assert got == expect


def test_connected_components_chain_converges_in_log_rounds(spark):
    """A 300-node chain (diameter 299) must converge well inside 15
    rounds — the O(log n) guarantee that separates alternating-star from
    O(diameter) min-label propagation. RuntimeError on exhaustion makes
    this assertion real."""
    from financial_data_lakehouse_pipeline__spark.operators import graph

    edges = [(i, i + 1) for i in range(299)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    out = graph.connected_components(edf, max_iterations=15).collect()
    assert len(out) == 300
    assert all(r["component_id"] == 0 for r in out)


def test_connected_components_self_loops_and_empty(spark):
    """Self-loops are ignored; a graph of only self-loops yields
    singleton components for the provided node universe."""
    from financial_data_lakehouse_pipeline__spark.operators import graph

    edf = spark.createDataFrame([(5, 5), (7, 7)], "src long, dst long")
    ndf = spark.createDataFrame([(5,), (7,), (9,)], "node long")
    got = {
        r["node"]: r["component_id"]
        for r in graph.connected_components(edf, ndf).collect()
    }
    assert got == {5: 5, 7: 7, 9: 9}


def test_association_rules_hand_example(spark):
    """support/confidence/lift match hand-computed values on a tiny
    basket set."""
    from financial_data_lakehouse_pipeline__spark.operators.analysis import (
        association_rules,
    )

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "a"),
        (5, "b"), (5, "c"),
        (5, "c"),  # duplicate item in one basket must not double-count
    ]
    df = spark.createDataFrame(rows, "basket int, item string")
    got = {
        (r["item_a"], r["item_b"]): r
        for r in association_rules(df, "basket", "item", min_pair_count=1).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = got[("a", "b")]
    assert (ab["pair_count"], ab["count_a"], ab["count_b"]) == (2, 4, 3)
    assert ab["support"] == 2 / 5
    assert ab["conf_a_to_b"] == 2 / 4
    assert ab["conf_b_to_a"] == 2 / 3
    assert ab["lift"] == (2 * 5) / (4 * 3)
    bc = got[("b", "c")]
    assert bc["pair_count"] == 2
    assert bc["lift"] == (2 * 5) / (3 * 3)


def test_key_skew_report_values_and_hot_keys(spark):
    """One-row skew summary: exact counts, shares, and the hottest keys
    in deterministic order."""
    from financial_data_lakehouse_pipeline__spark.operators.dq import (
        key_skew_report,
    )

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("a",), ("b",), ("c",)]
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_report(df, ["k"], top_k=2).collect()[0]
    assert (r["n_keys"], r["n_rows"], r["max_count"]) == (5, 12, 6)
    assert r["top1_share"] == 6 / 12
    assert r["skew_ratio"] == 6 / (12 / 5)
    assert r["top_keys"] == ["hot", "warm"]


def test_weighted_percentile_disc_hand_example(spark):
    """Weighted percentiles: crossing value correct with uneven weights,
    zero-weight rows can never be picked, duplicate values safe."""
    from financial_data_lakehouse_pipeline__spark.operators import aggregates

    rows = [
        ("g", 10.0, 1),
        ("g", 20.0, 0),   # zero weight: never picked
        ("g", 20.0, 8),
        ("g", 30.0, 1),
        # second group: all weight on the last value
        ("h", 1.0, 1),
        ("h", 2.0, 99),
    ]
    df = spark.createDataFrame(rows, "k string, v double, w long")
    out = aggregates.weighted_percentile_disc(
        df, ["k"], "v", "w", [0.05, 0.5, 0.95]
    ).collect()
    got = {(r["k"], r["q"]): r["value"] for r in out}
    # g: total 10 -> thresholds 0.5, 5, 9.5; cum: 10->1, 20->9, 30->10
    assert got[("g", 0.05)] == 10.0
    assert got[("g", 0.5)] == 20.0
    assert got[("g", 0.95)] == 30.0
    # h: total 100 -> 5, 50, 95; cum: 1->1, 2->100
    assert got[("h", 0.05)] == 2.0
    assert got[("h", 0.5)] == 2.0
    assert got[("h", 0.95)] == 2.0
    assert len(out) == 6


def test_k_core_matches_python_reference(spark):
    """k-core survivors match an iterative Python peel on hand and
    random graphs; a chain has an empty 2-core, a cycle is its own
    2-core."""
    import random

    from financial_data_lakehouse_pipeline__spark.operators import graph

    def py_k_core(edge_list, k):
        from collections import defaultdict

        adj = defaultdict(set)
        for a, b in edge_list:
            if a != b:
                adj[a].add(b)
                adj[b].add(a)
        changed = True
        while changed:
            changed = False
            for n in list(adj):
                if len(adj[n]) < k:
                    for m in adj[n]:
                        adj[m].discard(n)
                    del adj[n]
                    changed = True
        return {n: len(v) for n, v in adj.items()}

    cases = [
        [(i, i + 1) for i in range(6)],                      # chain: empty 2-core
        [(0, 1), (1, 2), (2, 0), (2, 3)],                    # triangle + tail
        [(i, (i + 1) % 8) for i in range(8)],                # cycle: full 2-core
    ]
    rng = random.Random(3)
    cases.append([(rng.randrange(30), rng.randrange(30)) for _ in range(70)])
    for k in (2, 3):
        for edges in cases:
            expect = py_k_core(edges, k)
            edf = spark.createDataFrame(edges, "src long, dst long")
            got = {
                r["node"]: r["deg"] for r in graph.k_core(edf, k=k).collect()
            }
            assert got == expect, (k, edges[:5], got, expect)


def test_ewm_volatility_matches_reference_recursion(spark):
    """EWM variance/std vs an independent Python replay of the
    RiskMetrics recursion; seed row has var 0, std 0."""
    import math

    from financial_data_lakehouse_pipeline__spark.operators import windows

    vals = [100.0, 102.0, 99.0, 99.0, 107.5, 95.25]
    df = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate(vals)], "k string, i int, v double"
    )
    out = windows.ewm_volatility(df, ["k"], ["i"], "v", span=19)
    got = {r["i"]: (r["ewm_var"], r["ewm_std"]) for r in out.collect()}

    alpha = 2.0 / 20.0
    mu, s = vals[0], 0.0
    expect = [(0.0, 0.0)]
    for x in vals[1:]:
        d = x - mu
        mu = mu + alpha * d
        s = (1.0 - alpha) * (s + alpha * d * d)
        expect.append((s, math.sqrt(s)))
    for i, e in enumerate(expect):
        assert got[i] == e, (i, got[i], e)


def test_floored_running_sum_clamp_semantics(spark):
    """The clamp applies after every step (absorbed deficit is
    forgotten) — distinct from greatest(floor, running_sum)."""
    from financial_data_lakehouse_pipeline__spark.operators import windows

    deltas = [5, -8, 3, -1, 10]
    df = spark.createDataFrame(
        [("s", i, d) for i, d in enumerate(deltas)], "k string, i int, d long"
    )
    out = windows.floored_running_sum(df, ["k"], ["i"], "d")
    got = [r["balance"] for r in out.orderBy("i").collect()]
    # step-by-step: 5 -> max(0,-3)=0 -> 3 -> 2 -> 12
    assert got == [5, 0, 3, 2, 12]
    # plain cumsum clamped at the end would be [5, 0, 0, max(0,-1)=0, 9]:
    # the raw prefix sums are 5,-3,0,-1,9 — different from the 4th step on
    assert got != [5, 0, 0, 0, 9]


def test_floored_running_sum_nonzero_floor_seed(spark):
    """Seed is s_0 = max(floor, x_0), NOT max(floor, floor + x_0):
    with floor=2 and x_0=5 the first balance must be 5, not 7."""
    from financial_data_lakehouse_pipeline__spark.operators import windows

    deltas = [5, -8, 3, -1, 10]
    df = spark.createDataFrame(
        [("s", i, d) for i, d in enumerate(deltas)], "k string, i int, d long"
    )
    out = windows.floored_running_sum(df, ["k"], ["i"], "d", floor=2)
    got = [r["balance"] for r in out.orderBy("i").collect()]
    # 5 -> max(2,-3)=2 -> 5 -> 4 -> 14
    assert got == [5, 2, 5, 4, 14]


# ---------------------------------------------------------------- round 6


def test_holt_linear_recurrence(spark):
    """holt_linear == an independent numpy replay of the published
    recurrence (level/trend/one-step fit, seeds l0=v0 b0=0)."""
    vals = [10.0, 12.0, 15.0, 13.0, 18.0, 21.0]
    df = spark.createDataFrame(
        [Row(k="a", t=i, v=v) for i, v in enumerate(vals)]
    )
    out = (
        windows.holt_linear(df, ["k"], ["t"], "v", alpha=0.4, beta=0.2)
        .toPandas()
        .sort_values("t")
    )
    lev, tr = vals[0], 0.0
    exp_l, exp_t, exp_f = [lev], [tr], [vals[0]]
    for v in vals[1:]:
        exp_f.append(lev + tr)
        nl = 0.4 * v + 0.6 * (lev + tr)
        tr = 0.2 * (nl - lev) + 0.8 * tr
        lev = nl
        exp_l.append(lev)
        exp_t.append(tr)
    assert out["holt_level"].tolist() == pytest.approx(exp_l)
    assert out["holt_trend"].tolist() == pytest.approx(exp_t)
    assert out["holt_fit"].tolist() == pytest.approx(exp_f)


def test_theil_sen_known_median_and_robustness(spark):
    """Median of pairwise slopes on a hand-checked series; one wild
    outlier must not move the estimate the way it wrecks OLS."""
    from financial_data_lakehouse_pipeline__spark.operators import analysis

    # y = 2x exactly, except one corrupted point (x=4 -> 1000).
    rows = [Row(k="a", x=x, y=2 * x) for x in range(4)] + [
        Row(k="a", x=4, y=1000)
    ]
    out = analysis.theil_sen(
        spark.createDataFrame(rows), ["k"], "x", "y"
    ).collect()[0]
    # 10 pairs; 6 of them (those not touching the outlier) have slope
    # exactly 2.0 -> the median (avg of ranks 5 and 6) is 2.0.
    assert out["n_pairs"] == 10
    assert out["ts_slope"] == pytest.approx(2.0)


def test_theil_sen_even_pair_count_averages_middles(spark):
    """n=3 points -> 3 pairs (odd); n=4 -> 6 pairs, median = mean of the
    3rd and 4th slope — check the integer-DIV middle-rank arithmetic."""
    from financial_data_lakehouse_pipeline__spark.operators import analysis

    rows = [Row(k="a", x=0, y=0), Row(k="a", x=1, y=1),
            Row(k="a", x=2, y=4), Row(k="a", x=3, y=9)]
    out = analysis.theil_sen(
        spark.createDataFrame(rows), ["k"], "x", "y"
    ).collect()[0]
    # slopes: (0,1)=1 (0,2)=2 (0,3)=3 (1,2)=3 (1,3)=4 (2,3)=5
    # sorted: 1 2 3 3 4 5 -> median = (3+3)/2 = 3
    assert out["n_pairs"] == 6
    assert out["ts_slope"] == pytest.approx(3.0)


def test_skyline2d_min_matches_bruteforce(spark):
    """Two-phase bucketed frontier == brute-force dominance filter,
    including axis ties and duplicate points."""
    import itertools

    from financial_data_lakehouse_pipeline__spark.operators import analysis

    pts = [(5, 5), (5, 3), (3, 5), (3, 5), (4, 4), (2, 9), (9, 2),
           (2, 9), (6, 1), (1, 8), (7, 7), (4, 4), (8, 1)]
    df = spark.createDataFrame([Row(x=a, y=b) for a, b in pts])
    got = {
        (r["x"], r["y"])
        for r in analysis.skyline2d_min(df, "x", "y", bucket_width=3).collect()
    }
    uniq = set(pts)
    expect = {
        p for p in uniq
        if not any(
            q[0] <= p[0] and q[1] <= p[1] and q != p for q in uniq
        )
    }
    assert got == expect and got  # frontier non-empty


def test_prefix_filter_jaccard_equals_full_join(spark):
    """Prefix filtering is LOSSLESS: identical pairs + jaccard values to
    the unpruned posting-list join, at two thresholds."""
    docs = _docs(spark)
    for t in (0.3, 0.6):
        full = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 12))
            for r in dedup.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pruned = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 12))
            for r in dedup.prefix_filter_jaccard_pairs(
                docs, threshold=t
            ).collect()
        }
        assert pruned == full


def test_similar_pairs_auto_routes_by_vocabulary_regime(spark):
    """The collision-mass router flips paths between the two corpus
    regimes: an OPEN vocabulary (document frequencies O(1)) routes to
    the exact prefix join; a SATURATED vocabulary (every doc drawn from
    the same tiny token set → df ~ n_docs, collision mass quadratic)
    routes to capped LSH. On each regime the auto output is exactly the
    routed path's output."""
    import random

    rng = random.Random(7)
    # open vocab: per-doc disjoint token streams, df == 1 everywhere
    open_docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{i}_{j}" for j in range(30)))
         for i in range(40)]
    )
    route_o, stats_o = dedup.dedup_route(open_docs)
    assert route_o == "prefix"
    assert stats_o["candidates_per_doc"] <= 1
    # saturated vocab: every doc is 30 tokens from the same 4-token set
    # (≤ 64 possible 3-gram shingles, so df grows with n_docs and the
    # collision mass goes quadratic)
    vocab = [f"t{k}" for k in range(4)]
    sat_docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(rng.choice(vocab) for _ in range(30)))
         for i in range(200)]
    )
    route_s, stats_s = dedup.dedup_route(sat_docs)
    assert route_s == "lsh"
    assert stats_s["candidates_per_doc"] > dedup.AUTO_SWITCH_CANDIDATES_PER_DOC

    def pairs(df_out):
        return {
            (r["id_a"], r["id_b"], round(r["jaccard"], 12))
            for r in df_out.collect()
        }

    assert pairs(dedup.similar_pairs_auto(open_docs)) == pairs(
        dedup.prefix_filter_jaccard_pairs(open_docs)
    )
    assert pairs(
        dedup.similar_pairs_auto(sat_docs, max_bucket_size=50)
    ) == pairs(
        dedup.minhash_lsh_pairs(sat_docs, max_bucket_size=50)
    )


def test_consonant_signature_examples(spark):
    """Fixed-order class presence + uppercase initial; sound-alike
    variants (doubled letters, vowel swaps) share a key."""
    from financial_data_lakehouse_pipeline__spark.operators.text import (
        consonant_signature,
    )

    rows = spark.createDataFrame(
        [Row(w=w) for w in ["lavender", "lavendar", "aeiou", "Robert", "robbert"]]
    ).select("w", consonant_signature(F.col("w")).alias("sig")).collect()
    sigs = {r["w"]: r["sig"] for r in rows}
    assert sigs["lavender"] == "L13456"          # v, d, l, n, r classes
    assert sigs["lavendar"] == sigs["lavender"]  # vowel swap -> same key
    assert sigs["aeiou"] == "A"                  # no consonant classes
    assert sigs["Robert"] == sigs["robbert"] == "R136"


def test_label_propagation_hand_graph(spark):
    """Two triangles bridged by one edge, 2 synchronous iterations with
    min-label tie-break — labels hand-traced (pins the deterministic
    semantics the unrolled oracle replays)."""
    from financial_data_lakehouse_pipeline__spark.operators import graph

    pairs = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)]
    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs]
        + [Row(src=b, dst=a) for a, b in pairs]
    )
    got = {
        r["node"]: r["community"]
        for r in graph.label_propagation(edges, iters=2).collect()
    }
    # iter1: {1:2, 2:1, 3:1, 10:3, 11:10, 12:10}
    # iter2: {1:1, 2:1, 3:1, 10:10, 11:3, 12:3}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 3, 12: 3}


def test_exact_kth_element_all_paths(spark):
    """Histogram-descent path (tiny cutoff/buckets forces real rounds)
    and the small-sort path agree with Python sorted() for k = 1, n,
    median — including duplicates and negatives."""
    import random

    from financial_data_lakehouse_pipeline__spark.operators import (
        aggregates as agg_ops,
    )

    rng = random.Random(7)
    vals = [rng.randint(-500, 500) for _ in range(400)] + [0] * 20
    df = spark.createDataFrame([Row(v=v) for v in vals])
    ref = sorted(vals)
    for k in [1, len(vals), (len(vals) + 1) // 2, 17]:
        got_hist = agg_ops.exact_kth_element(
            df, F.col("v"), k, num_buckets=8, exact_cutoff=10
        )
        got_sort = agg_ops.exact_kth_element(
            df, F.col("v"), k, num_buckets=8, exact_cutoff=10_000
        )
        assert got_hist == got_sort == ref[k - 1], k


def test_exact_kth_element_rejects_bad_k(spark):
    from financial_data_lakehouse_pipeline__spark.operators import (
        aggregates as agg_ops,
    )

    df = spark.createDataFrame([Row(v=1), Row(v=2)])
    with pytest.raises(ValueError):
        agg_ops.exact_kth_element(df, F.col("v"), 3)


def test_hll_merge_equals_direct_sketch(spark):
    """MAX-merging finer-grained register sets must yield EXACTLY the
    registers of a sketch built directly at the coarser grain — the
    associativity that makes sketch rollup cubes sound."""
    from financial_data_lakehouse_pipeline__spark.operators import sketches

    rows = [
        Row(g="r1", sub=s, k=f"k{i % 37}")
        for s in ("a", "b", "c")
        for i in range(200)
    ] + [Row(g="r2", sub="z", k=f"q{i}") for i in range(50)]
    df = spark.createDataFrame(rows)
    fine = sketches.hll_sketch_grouped(df, ["g", "sub"], "k", p=6)
    merged = sketches.hll_merge(fine, ["g"])
    direct = sketches.hll_sketch_grouped(df, ["g"], "k", p=6)
    m = {(r["g"], r["bucket"]): r["max_rank"] for r in merged.collect()}
    d = {(r["g"], r["bucket"]): r["max_rank"] for r in direct.collect()}
    assert m == d and m


def test_containment_catches_embedded_subset_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: containment
    ~1.0 while Jaccard is far below any near-dup threshold — the
    asymmetric duplicate class the overlap coefficient exists for."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    rows = [
        Row(doc_id=1, text=short),
        Row(doc_id=2, text=filler + " " + short + " " + filler[::-1].lower()),
        Row(doc_id=3, text="unrelated content entirely different words here"),
    ]
    df = spark.createDataFrame(rows)
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, threshold=0.9).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] >= 0.9
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    assert jac[(1, 2)] < 0.2  # Jaccard would never flag this pair


def test_kmv_merge_equals_direct_sketch(spark):
    """KMV mergeability is EXACT: union of per-shard bottom-k register
    sets re-cut to k equals the bottom-k of the whole data,
    register-for-register."""
    from financial_data_lakehouse_pipeline__spark.operators import sketches

    rows = [(i, float((i * 37) % 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id int, v double").withColumn(
        "shard", F.col("id") % 3
    )
    whole = sketches.kmv_quantile_sketch(
        df, F.col("v"), F.col("id"), k=64
    )
    sharded = sketches.kmv_quantile_sketch(
        df, F.col("v"), F.col("id"), k=64, keys=["shard"]
    )
    merged = sketches.kmv_merge(
        sharded.withColumn("all", F.lit(0)), ["all"], k=64
    ).drop("all")
    a = sorted((r["h"], r["v"]) for r in whole.collect())
    b = sorted((r["h"], r["v"]) for r in merged.collect())
    assert a == b and len(a) == 64


def test_kmv_quantiles_accuracy_band_and_exact_small_group(spark):
    """Estimated quantile ranks stay within the O(1/sqrt(k)) band of
    the true ranks on 10k uniform values (k=512 -> band 0.05 used,
    ~1.1/sqrt(k)); a group smaller than k is sampled whole, so its
    median is EXACT."""
    from financial_data_lakehouse_pipeline__spark.operators import sketches

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10_000)], "id int, v double"
    )
    sk = sketches.kmv_quantile_sketch(df, F.col("v"), F.col("id"), k=512)
    est = {
        r["q"]: r["est"]
        for r in sketches.kmv_quantiles(
            sk, [], [(1, 4), (1, 2), (3, 4), (9, 10)]
        ).collect()
    }
    for q in (0.25, 0.5, 0.75, 0.9):
        true_rank = q * 10_000
        got_rank = est[q] + 1  # value i has true rank i+1
        assert abs(got_rank - true_rank) <= 0.05 * 10_000, (q, est[q])

    small = spark.createDataFrame(
        [(i, float(i)) for i in range(101)], "id int, v double"
    )
    ssk = sketches.kmv_quantile_sketch(
        small, F.col("v"), F.col("id"), k=512
    )
    med = sketches.kmv_quantiles(ssk, [], [(1, 2)]).collect()[0]
    assert med["n"] == 101
    # exact median of 0..100: ceil(101/2) = 51st smallest = 50.0
    assert med["est"] == 50.0


def test_exact_k_per_group_sizes_and_determinism(spark):
    """Each group yields exactly k rows (whole group if smaller), the
    selection is stable across runs, and matches the global bottom-k
    ranking restricted to the group."""
    from financial_data_lakehouse_pipeline__spark.operators import sampling

    rows = [(i, "g%d" % (i % 3)) for i in range(100)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "id int, g string")
    out = sampling.exact_k_per_group(df, ["g"], "id", k=10)
    got = out.groupBy("g").count().collect()
    sizes = {r["g"]: r["count"] for r in got}
    assert sizes == {"g0": 10, "g1": 10, "g2": 10, "tiny": 1}
    a = sorted((r["g"], r["id"]) for r in out.collect())
    b = sorted(
        (r["g"], r["id"])
        for r in sampling.exact_k_per_group(df, ["g"], "id", k=10).collect()
    )
    assert a == b


def _ref_bpe(texts, k):
    """Sequential reference BPE with the same contract as
    text.bpe_learn_merges: [a-z]+ word counts, all-adjacent-slot pair
    counts weighted by word freq, (cnt DESC, a, b) tie-break, greedy
    leftmost non-overlapping merge (str.replace on the double-pipe
    representation — identical scan semantics)."""
    import collections
    import re

    wc = collections.Counter(
        w for t in texts for w in re.findall("[a-z]+", t.lower())
    )
    state = {w: "".join(f"|{c}|" for c in w) for w in wc}
    merges = []
    for r in range(k):
        pc = collections.Counter()
        for w, f in wc.items():
            syms = [x for x in re.split(r"\|+", state[w]) if x]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r + 1, a, b, c))
        for w in wc:
            state[w] = state[w].replace(f"|{a}||{b}|", f"|{a}{b}|")
    return merges


def test_bpe_learn_merges_matches_python_reference(spark):
    """6 merges on a corpus engineered with ties, repeated-char runs
    ('aaaa' -> chained merges), and multi-char symbol growth — engine
    == sequential reference, merge for merge."""
    from financial_data_lakehouse_pipeline__spark.operators import text as T

    texts = [
        "the cat sat on the mat aaaa",
        "the cat ate the rat aaaa aa",
        "banana bandana aaaa",
        "low lower lowest newest newest",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in T.bpe_learn_merges(df, "text", n_merges=6)
        .orderBy("rank")
        .collect()
    ]
    assert got == _ref_bpe(texts, 6)


def test_bpe_learn_merges_stops_when_no_pairs(spark):
    """Single-char vocabulary exhausts after the only merge — the loop
    must stop early, not error."""
    from financial_data_lakehouse_pipeline__spark.operators import text as T

    df = spark.createDataFrame([("a b ab",)], "text string")
    out = T.bpe_learn_merges(df, "text", n_merges=5).orderBy("rank").collect()
    # 'ab' is the only multi-char word; merge 1 = (a, b); afterwards no
    # adjacent pairs remain anywhere.
    assert [(r["rank"], r["left_sym"], r["right_sym"]) for r in out] == [
        (1, "a", "b")
    ]


def test_rrf_fuse_hand_values(spark):
    """Two 2-item rankings with one shared doc: shared doc's score is
    the sum of both terms; singletons get one term; order by score."""
    from financial_data_lakehouse_pipeline__spark.operators import similarity

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id int, neighbor_id int, rank int"
    )
    b = spark.createDataFrame(
        [(1, 10, 2), (1, 12, 1)], "query_id int, neighbor_id int, rank int"
    )
    got = {
        r["neighbor_id"]: (r["rrf_score"], r["rank"])
        for r in similarity.rrf_fuse(a, b, k=3).collect()
    }
    assert got[10] == (1 / 61 + 1 / 62, 1)
    assert got[12] == (1 / 61, 2)
    assert got[11] == (1 / 62, 3)


def test_fk_orphan_audit_finds_planted_orphans(spark):
    """Child rows with missing or NULL parent keys count as orphans."""
    from financial_data_lakehouse_pipeline__spark.operators import dq

    child = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 999), (4, None)], "id int, fk int"
    )
    parent = spark.createDataFrame([(100,), (200,)], "pk int")
    r = dq.fk_orphan_audit([("c->p", child, "fk", parent, "pk")]).collect()[0]
    assert (r["edge"], r["total_rows"], r["orphan_rows"]) == ("c->p", 4, 2)


def test_compaction_plan_hand_values(spark):
    """Files a(3),b(3),c(5),d(1) at target 6: exclusive cumsum 0,3,6,11
    -> groups 0,0,1,1."""
    from financial_data_lakehouse_pipeline__spark.sources import inspect

    st = spark.createDataFrame(
        [("a", 3), ("b", 3), ("c", 5), ("d", 1)],
        "file_name string, compressed_bytes long",
    )
    got = {
        r["compaction_group"]: (r["n_files"], r["group_bytes"],
                                r["first_file"], r["last_file"])
        for r in inspect.compaction_plan(st, target_bytes=6).collect()
    }
    assert got == {0: (2, 6, "a", "b"), 1: (2, 6, "c", "d")}


def test_bpe_apply_consistent_with_learn(spark):
    """Applying the merges bpe_learn_merges learned reproduces the
    token counts implied by the learner's final state (computed by the
    sequential reference)."""
    import collections
    import re

    from financial_data_lakehouse_pipeline__spark.operators import text as T

    texts = ["the cat sat on the mat", "the cat ate the rat"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in T.bpe_learn_merges(df, "text", n_merges=3)
        .orderBy("rank")
        .collect()
    ]
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in T.bpe_apply_merges(df, merges).collect()
    }
    # reference: apply same merges sequentially per word
    def count(t):
        tot = 0
        for w in re.findall("[a-z]+", t.lower()):
            s = "".join(f"|{c}|" for c in w)
            for a, b in merges:
                s = s.replace(f"|{a}||{b}|", f"|{a}{b}|")
            tot += len([x for x in re.split(r"\|+", s) if x])
        return tot

    assert got == {i: count(t) for i, t in enumerate(texts)}


def test_roc_auc_hand_values(spark):
    """Perfect separation -> 1.0; anti-separation -> 0.0; all-tied
    scores -> 0.5; single-class group -> NULL."""
    from financial_data_lakehouse_pipeline__spark.operators import analysis

    rows = (
        [("sep", v, v >= 3) for v in [1, 2, 3, 4]]
        + [("anti", v, v < 3) for v in [1, 2, 3, 4]]
        + [("tied", 7, y) for y in [True, False, True, False]]
        + [("mono", v, True) for v in [1, 2]]
    )
    df = spark.createDataFrame(rows, "k string, v long, y boolean")
    got = {
        r["k"]: r["auc"]
        for r in analysis.roc_auc(df, ["k"], F.col("v"), F.col("y")).collect()
    }
    assert got["sep"] == 1.0
    assert got["anti"] == 0.0
    assert got["tied"] == 0.5
    assert got["mono"] is None


def test_roc_auc_matches_sklearn_style_reference(spark):
    """Midrank AUC equals the trapezoid/probabilistic definition on data
    with ties (computed by a direct O(n^2) pair count)."""
    from financial_data_lakehouse_pipeline__spark.operators import analysis

    vals = [(v, y) for v, y in [
        (1, False), (2, False), (2, True), (3, False),
        (3, True), (3, True), (5, False), (7, True),
    ]]
    df = spark.createDataFrame([("g", v, y) for v, y in vals],
                               "k string, v long, y boolean")
    pos = [v for v, y in vals if y]
    neg = [v for v, y in vals if not y]
    pairs = sum(1.0 if p > n else 0.5 if p == n else 0.0
                for p in pos for n in neg)
    expect = pairs / (len(pos) * len(neg))
    got = analysis.roc_auc(df, ["k"], F.col("v"), F.col("y")).collect()[0]
    assert abs(got["auc"] - expect) < 1e-15


def test_linkage_scores_hand_values(spark):
    """Two fields with known (m, u): all-agree pair sums both agree
    log-odds; NULL predicate counts as disagreement."""
    import math

    from financial_data_lakehouse_pipeline__spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2, "x", "x", 5, 5), (3, 4, "x", "y", 5, None)],
        "id_a int, id_b int, na string, nb string, sa int, sb int",
    )
    out = dedup.linkage_scores(
        pairs,
        [
            ("name", F.col("na") == F.col("nb"), 0.9, 0.1),
            ("size", F.col("sa") == F.col("sb"), 0.8, 0.2),
        ],
    ).collect()
    got = {r["id_a"]: r for r in out}
    w_name = (math.log(9.0), math.log((0.1) / (0.9)))
    w_size = (math.log(4.0), math.log(0.2 / 0.8))
    assert abs(got[1]["linkage_score"] - (w_name[0] + w_size[0])) < 1e-12
    assert got[1]["agree_name"] and got[1]["agree_size"]
    # pair 3: name disagrees, size predicate NULL -> disagreement weight
    assert abs(got[3]["linkage_score"] - (w_name[1] + w_size[1])) < 1e-12
    assert not got[3]["agree_size"]


def test_hbos_scores_hand_values(spark):
    """One feature, two bins with 3-vs-1 occupancy: dense-bin rows get
    ln(3/3)=0, the sparse-bin row gets ln(3/1); a constant second
    feature contributes 0."""
    import math

    from financial_data_lakehouse_pipeline__spark.operators import analysis

    rows = [(1, 0, 7), (2, 1, 7), (3, 2, 7), (4, 9, 7)]
    df = spark.createDataFrame(rows, "id int, x long, k long")
    got = {
        r["id"]: r["hbos"]
        for r in analysis.hbos_scores(df, ["x", "k"], n_bins=2).collect()
    }
    # x range [0,9], width 10, 2 bins: 0,1,2 -> bin 0; 9 -> bin 1
    assert got[1] == 0.0 and got[2] == 0.0 and got[3] == 0.0
    assert abs(got[4] - math.log(3.0)) < 1e-12


def test_prefix_filter_safe_fraction_thresholds(spark):
    """Thresholds whose closest bounded-denominator fraction rounds UP
    (0.7, 1/3 — limit_denominator returns 7/10 resp. 1/3, both above
    the float) must take the safe-side floor fallback and stay
    lossless vs the unpruned join."""
    docs = _docs(spark)
    for t in (0.7, 1.0 / 3.0):
        full = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 12))
            for r in dedup.ngram_jaccard_pairs(docs, threshold=t).collect()
        }
        pruned = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 12))
            for r in dedup.prefix_filter_jaccard_pairs(
                docs, threshold=t
            ).collect()
        }
        assert pruned == full


def test_diff_in_diff_hand_values(spark):
    """Planted effect: control goes 10 -> 12 (+2), treated goes
    20 -> 27 (+7): DiD = 5. An empty cell yields NULL did."""
    from financial_data_lakehouse_pipeline__spark.operators import analysis

    rows = [
        (False, False, 10), (False, True, 12),
        (True, False, 20), (True, True, 27),
    ]
    df = spark.createDataFrame(rows, "t boolean, p boolean, v long")
    r = analysis.diff_in_diff(
        df, F.col("t"), F.col("p"), F.col("v")
    ).collect()[0]
    assert (r["pre_c_mean"], r["post_c_mean"]) == (10.0, 12.0)
    assert (r["pre_t_mean"], r["post_t_mean"]) == (20.0, 27.0)
    assert r["did"] == 5.0

    partial = spark.createDataFrame(rows[:3], "t boolean, p boolean, v long")
    r2 = analysis.diff_in_diff(
        partial, F.col("t"), F.col("p"), F.col("v")
    ).collect()[0]
    assert r2["post_t_mean"] is None and r2["did"] is None


def test_tfidf_cosine_pairs_hand_values(spark):
    """Two identical docs have cosine 1; a disjoint-vocabulary doc
    never pairs above threshold; max_df drops a universal term from
    both weights and norms."""
    rows = [
        (1, "apple banana apple"),
        (2, "apple banana apple"),
        (3, "cherry durian cherry"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    from financial_data_lakehouse_pipeline__spark.operators import text as T

    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in T.tfidf_cosine_pairs(df, threshold=0.5).collect()
    }
    assert got == {(1, 2): 1.0}

    # universal term: 'apple' in all three docs; max_df=2 drops it,
    # leaving doc3 sharing nothing -> still only the (1,2) pair
    rows2 = rows[:2] + [(3, "apple cherry durian")]
    df2 = spark.createDataFrame(rows2, "doc_id int, text string")
    got2 = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in T.tfidf_cosine_pairs(df2, threshold=0.5, max_df=2).collect()
    }
    assert got2 == {(1, 2): 1.0}


def test_incremental_minhash_pairs_lossless_vs_full(spark):
    """The incremental path (base x base candidates dropped pre-verify)
    returns EXACTLY the full-corpus LSH pairs that touch the incoming
    batch — nothing lost, nothing extra — and never emits a base-only
    pair."""
    base_text = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        Row(doc_id=0, text=base_text),
        Row(doc_id=1, text=base_text.replace("today", "tonight")),
        Row(doc_id=2, text="completely different words about spark engines"),
        Row(doc_id=3, text=base_text.replace("today", "tomorrow")),
        Row(doc_id=4, text=base_text),
        Row(doc_id=5, text="yet another unrelated document mentioning ducks"),
    ]
    df = spark.createDataFrame(rows)
    incoming_ids = {3, 4}
    base = df.filter(~F.col("doc_id").isin(list(incoming_ids)))
    incoming = df.filter(F.col("doc_id").isin(list(incoming_ids)))

    full = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in dedup.minhash_lsh_pairs(df).collect()
    }
    expect = {
        p for p in full if p[0] in incoming_ids or p[1] in incoming_ids
    }
    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in dedup.incremental_minhash_pairs(base, incoming).collect()
    }
    assert got == expect and got  # planted dups make it non-empty
    assert all(a in incoming_ids or b in incoming_ids for a, b, _ in got)
    # base x base near-dup (0,1) exists in full but must not be re-derived
    assert any(p[0] == 0 and p[1] == 1 for p in full)
    assert not any(p[0] == 0 and p[1] == 1 for p in got)
    # the stored-index path (base never re-hashed) is result-identical
    sh_b, sig_b = dedup.minhash_index(base)
    via_index = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in dedup.incremental_minhash_pairs(
            None, incoming, base_shingles=sh_b, base_signatures=sig_b
        ).collect()
    }
    assert via_index == expect
    # half an index is a contract violation, not a silent recompute
    with pytest.raises(ValueError):
        dedup.incremental_minhash_pairs(base, incoming, base_shingles=sh_b)
    with pytest.raises(ValueError):
        dedup.incremental_minhash_pairs(None, incoming)
    # an incoming id that already exists in base is dropped, not
    # double-counted: re-sending base's docs alongside the batch leaves
    # the result identical (no self-pairs, no corrupted jaccards)
    spark_s = df.sparkSession
    resent = spark_s.createDataFrame(rows)  # all 6 docs, ids 0-5
    got_resent = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in dedup.incremental_minhash_pairs(base, resent).collect()
    }
    assert got_resent == expect


def test_dedup_keep_best_keeps_longest(spark):
    """Winner per cluster is the longest copy (order DESC, id ASC tie);
    singletons survive untouched."""
    long_text = (
        "the quick brown fox jumps over the lazy dog again and again today "
        "with an extra trailing clause"
    )
    short_text = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=short_text, n_chars=len(short_text)),
            Row(doc_id=1, text=long_text, n_chars=len(long_text)),
            Row(doc_id=2, text="unrelated tiny doc", n_chars=18),
        ]
    )
    pairs = spark.createDataFrame([Row(id_a=0, id_b=1, jaccard=0.9)])
    out = {r["doc_id"]: r["cluster_id"] for r in
           dedup.dedup_keep_best(df, pairs, order_cols=["n_chars"]).collect()}
    # doc 1 (longer) wins cluster {0,1}; singleton 2 survives
    assert out == {1: 0, 2: 2}
    # tie on n_chars -> min id wins
    df_tie = df.withColumn("n_chars", F.lit(10))
    out_tie = {r["doc_id"] for r in
               dedup.dedup_keep_best(df_tie, pairs, order_cols=["n_chars"]).collect()}
    assert out_tie == {0, 2}


def test_zipf_fit_distributed_rank_matches_hand_ols(spark):
    """zipf_fit's distributed rank (range repartition + per-range
    row_number + broadcast offsets — the equal_frequency_bins prefix-sum
    idiom) must reproduce the exact global (count desc, term) ranking:
    OLS moments match a hand computation, invariant to the shuffle
    partition count (1 range degenerates to the old global window; more
    ranges than distinct terms exercises empty ranges)."""
    import collections
    import math

    from financial_data_lakehouse_pipeline__spark.operators import text

    words = (["alpha"] * 8 + ["beta"] * 4 + ["gamma"] * 2 + ["delta"] * 2
             + ["epsilon"])
    # ties: gamma/delta both 2 -> rank order broken by term asc
    docs = [Row(doc_id=i, text=" ".join(words[i::3])) for i in range(3)]
    df = spark.createDataFrame(docs)

    cnt = collections.Counter(words)
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [math.log(r + 1) for r in range(len(ordered))]
    ys = [math.log(c) for _, c in ordered]
    n = float(len(ordered))
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n

    for n_parts in ("1", "7", "32"):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", n_parts)
        try:
            row = text.zipf_fit(df).collect()[0]
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert row["n_terms"] == len(ordered)
        assert row["total_tokens"] == sum(cnt.values())
        assert abs(row["slope"] - slope) < 1e-9, n_parts
        assert abs(row["intercept"] - intercept) < 1e-9, n_parts


def test_dedup_route_sampled_prepass_matches_full_statistic(spark):
    """At >= sample_min_docs the router computes its collision-mass
    statistic on a deterministic ~10% md5 doc sample (round-12: the
    full pre-pass measured ~40% of the routed wall at ov scales). The
    sampled decision must agree with the full-statistic decision on
    both regimes (they sit ~2x from the boundary), the stats must
    disclose the sampling, and the dfreq reuse handle must come back
    None (a sampled df table would inner-join away unsampled shingles
    inside the prefix ranking)."""
    import random

    rng = random.Random(11)
    n_docs = 2_000  # >= the lowered sample_min below -> sampling engages
    # open regime: disjoint per-doc vocab, mass ~ 0
    open_docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"w{i}_{j}" for j in range(12)))
         for i in range(n_docs)]
    )
    # saturated regime: tiny shared vocab, df ~ n_docs
    vocab = [f"t{k}" for k in range(4)]
    sat_docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(rng.choice(vocab) for _ in range(12)))
         for i in range(n_docs)]
    )
    for docs, expect in ((open_docs, "prefix"), (sat_docs, "lsh")):
        route_s, stats_s, dfreq_s = dedup.dedup_route(
            docs, sample_min_docs=1_000, return_dfreq=True
        )
        route_f, stats_f = dedup.dedup_route(
            docs, sample_min_docs=10**9
        )
        assert stats_s["sampled"] and not stats_f["sampled"]
        # ~10% deterministic sample, same every run
        assert 0.05 * n_docs < stats_s["n_sample"] < 0.15 * n_docs
        assert dfreq_s is None
        assert route_s == route_f == expect, (stats_s, stats_f)
        # the sampled estimate tracks the exact statistic (same side of
        # the boundary AND the right order of magnitude)
        exact = stats_f["candidates_per_doc"]
        est = stats_s["candidates_per_doc"]
        if exact > 0:
            assert est == 0 or 0.2 < est / max(exact, 1e-9) < 5.0
    # unsampled path still returns the reusable full dfreq
    _, stats_u, dfreq_u = dedup.dedup_route(
        open_docs, sample_min_docs=10**9, return_dfreq=True
    )
    assert dfreq_u is not None and not stats_u["sampled"]


def test_dedup_route_scales_stop_shingle_cap_when_sampled(spark):
    """ADVICE r12: with sampling engaged, document frequencies are ~10%
    of full-corpus values, so max_doc_freq must be SCALED to the sample
    rate — an unscaled cap is 10x looser for the routing statistic than
    for the routed paths. A boilerplate shingle shared by all 100 docs
    (full df 100 > cap 20 -> the routed paths drop it) must also be
    dropped from the SAMPLED statistic (sampled df ~10 > scaled cap 2),
    where the old code kept it (10 <= 20) and inflated the mass."""
    docs = spark.createDataFrame(
        [Row(doc_id=i,
             text="common boiler plate " + " ".join(f"u{i}x{j}" for j in range(8)))
         for i in range(100)]
    )
    route_s, stats_s = dedup.dedup_route(docs, max_doc_freq=20, sample_min_docs=1)
    assert stats_s["sampled"]
    # non-vacuous: enough sampled docs that an UNSCALED cap (20) would
    # have kept the boilerplate shingle and produced nonzero mass
    assert stats_s["n_sample"] > 2
    assert stats_s["collision_mass"] == 0
    # full statistic agrees (df 100 > 20 -> dropped): same route
    route_f, stats_f = dedup.dedup_route(
        docs, max_doc_freq=20, sample_min_docs=10**9
    )
    assert stats_f["collision_mass"] == 0
    assert route_s == route_f == "prefix"


def test_shuffle_partition_count_tolerates_non_numeric(spark):
    """ADVICE r12: managed platforms set spark.sql.shuffle.partitions
    to non-numeric values ('auto'); the shared helper must fall back to
    the default instead of raising ValueError inside zipf_fit /
    equal_frequency_bins."""
    from financial_data_lakehouse_pipeline__spark.session import (
        shuffle_partition_count,
    )

    assert shuffle_partition_count(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    class _Conf:
        def get(self, key, default=None):
            return "auto"

    class _Fake:
        conf = _Conf()

    assert shuffle_partition_count(_Fake()) == 200
    assert shuffle_partition_count(_Fake(), default=32) == 32


def test_bm25_zero_hit_query_terms_score_zero_not_null(spark):
    """Round-13 ov1 campaign finding: when NO document contains ANY
    query term (routine on an open Heaps-law vocabulary), the per-term
    df aggregate runs over an EMPTY tf table — a bare SUM returned NULL
    dfs and silently NULLed every score (surfacing as NaN after Arrow
    conversion), where the SQL twin scores 0.0. df must coalesce to 0:
    idf stays finite, absent terms contribute exactly 0."""
    from financial_data_lakehouse_pipeline__spark.operators import text as t

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta doc{i}") for i in range(6)]
    )
    rows = t.bm25_scores(docs, ["spark", "join"]).collect()
    assert len(rows) == 6
    assert all(r.score is not None for r in rows)
    assert all(r.score == 0.0 for r in rows)
    # mixed case: one term present, one absent — present term scores,
    # absent term contributes 0 (not NULL/NaN)
    docs2 = spark.createDataFrame(
        [Row(doc_id=1, text="alpha spark beta"),
         Row(doc_id=2, text="alpha beta gamma")]
    )
    rows2 = {r.doc_id: r.score for r in t.bm25_scores(docs2, ["spark", "join"]).collect()}
    assert rows2[1] is not None and rows2[1] > 0.0
    assert rows2[2] == 0.0


def test_incremental_pairs_stored_bucket_index_equals_recompute(spark, tmp_path):
    """The optional third stored-index table (minhash_band_buckets):
    passing precomputed base bucket rows must produce EXACTLY the pairs
    the recompute path produces (band keys embed the banding layout, so
    the stored table is a pure amortization, never a semantic change),
    and buckets without the rest of the index are rejected."""
    import pytest

    docs = spark.createDataFrame(
        [Row(doc_id=i,
             text="the quick brown fox jumps over the lazy dog "
                  + ("again today" if i % 2 else "again tonight"))
         for i in range(1, 9)]
        + [Row(doc_id=99, text="completely unrelated words about engines")]
    )
    base = docs.filter(F.col("doc_id") <= 6)
    inc = docs.filter(F.col("doc_id") > 6)
    sh_b, sig_b = dedup.minhash_index(base)
    bk_b = dedup.minhash_band_buckets(sig_b, num_hashes=16, bands=4)
    # round-trip through parquet like a real stored index
    for name, df in (("sh", sh_b), ("sig", sig_b), ("bk", bk_b)):
        df.write.mode("overwrite").parquet(str(tmp_path / name))
    sh_s = spark.read.parquet(str(tmp_path / "sh"))
    sig_s = spark.read.parquet(str(tmp_path / "sig"))
    bk_s = spark.read.parquet(str(tmp_path / "bk"))

    via_recompute = sorted(map(tuple, dedup.incremental_minhash_pairs(
        None, inc, base_shingles=sh_s, base_signatures=sig_s,
        max_bucket_size=50,
    ).collect()))
    via_stored = sorted(map(tuple, dedup.incremental_minhash_pairs(
        None, inc, base_shingles=sh_s, base_signatures=sig_s,
        base_buckets=bk_s, max_bucket_size=50,
    ).collect()))
    assert via_stored == via_recompute and len(via_stored) > 0

    with pytest.raises(ValueError, match="base_buckets"):
        dedup.incremental_minhash_pairs(base, inc, base_buckets=bk_s)
    with pytest.raises(ValueError, match="divide evenly"):
        dedup.minhash_band_buckets(sig_b, num_hashes=16, bands=5)


def test_floored_running_sum_identity_matches_explicit_loop(spark):
    """The Skorokhod reflection identity the operator now computes
    (b_i = S_i + f - min(f, runmin S)) must replay the step-by-step
    recursion exactly — random deltas, several entities, floors on both
    sides of zero, including long floor-pinned stretches."""
    import random as _random

    from financial_data_lakehouse_pipeline__spark.operators import windows

    rng = _random.Random(1317)
    for floor in (0, 2, -5):
        rows, expect = [], {}
        for k in ("a", "b", "c"):
            s = None
            for i in range(rng.randint(1, 40)):
                d = rng.randint(-12, 9)  # negative drift: floor bites often
                rows.append((k, i, d))
                s = max(floor, d if s is None else s + d)
                expect[(k, i)] = s
        df = spark.createDataFrame(rows, "k string, i int, d long")
        out = windows.floored_running_sum(df, ["k"], ["i"], "d", floor=floor)
        for r in out.collect():
            assert r["balance"] == expect[(r["k"], r["i"])], (floor, r)
