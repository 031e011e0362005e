"""Corpus: the end-to-end training-data curation funnel — the single
query a 100 TB LLM-data user actually runs, composing the engine's
curation operators in the canonical order:

    raw → encoding screen → language filter → quality filter
        → exact dedup → MinHash-LSH near-dedup → decontamination
        → mixture resample → sequence packing

emitting one row per stage with its survivor count, every stage
oracle-paired (the DuckDB twin re-derives each stage from scratch).

Shape at scale (see SCALE.md "Curation funnel"): the per-row screens
(encoding, quality, tokens, fingerprint) are computed in ONE scan as
flag columns — a document is in stage i iff it passes flags 1..i — so
stage membership never materializes intermediate tables. The only
sub-DAGs that genuinely need their own shuffles are the ones whose
semantics are set-dependent: language ID (gram explode + broadcast
profile join + doc-keyed argmax), exact dedup (one fingerprint-keyed
window), LSH near-dedup (banded signature join over stage-4 survivors
only), decontamination (broadcast anti-flag on fingerprints), and the
mixture thresholds (strata-sized aggregate broadcast back). The flag
table (ids + flags, no text) and its assembly with the LSH and benchmark
flags are reuse pins (``materialize.pin``), so the LSH branch, the count
aggregation, the mixture-threshold aggregate, and the packing branch
share one computation of the funnel DAG; ``SPARK_GRAFT_PIN_MODE=reliable``
keeps those pins on ``spark.checkpoint.dir`` (object storage at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.corpus import register
from financial_data_lakehouse_pipeline__spark.corpus.mlprep import _bucket_sql
from financial_data_lakehouse_pipeline__spark.corpus.textdocs import (
    _lang_hits_sql,
    _minhash_ctes,
)
from financial_data_lakehouse_pipeline__spark.materialize import pin
from financial_data_lakehouse_pipeline__spark.operators import sampling, text
from financial_data_lakehouse_pipeline__spark.operators.dedup import (
    canonical_text,
    minhash_lsh_pairs,
)
from financial_data_lakehouse_pipeline__spark.sources import read_table

#: Target training mixture over the document sources (the remaining 16
#: sources are dropped by design — mixture weights define the corpus).
_MIX = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
_PACK_CAPACITY = 512

_STAGES = [
    "raw", "encoding_ok", "lang_en", "quality", "exact_dedup",
    "near_dedup", "decontaminated", "mixture",
]
#: model-gated variant: stage 3 filters by the TRAINED quality
#: classifier's score instead of the raw heuristic
_STAGES_MODEL = [
    "raw", "encoding_ok", "lang_en", "quality_model", "exact_dedup",
    "near_dedup", "decontaminated", "mixture",
]
#: labeled-slice selector for the model variant: 1-in-10 docs get a
#: heuristic label, the trained model scores everything (the
#: weak-supervision distillation loop real curation teams run)
_TRAIN_MOD = 10

_CANON = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_NW = (
    r"CASE WHEN length(trim(text)) = 0 THEN 0 "
    r"ELSE len(regexp_split_to_array(trim(text), '\s+')) END"
)
_MIX_CASE = " ".join(
    f"WHEN '{s}' THEN {int(w * 10)}e-1" for s, w in sorted(_MIX.items())
)

#: stopword-vote 'en' predicate: en wins iff it has hits and no other
#: language beats it (en is first in the operator's tie-break order)
_LANG_EN = "(greatest(h_en, h_de, h_fr, h_es) > 0 AND h_en = greatest(h_en, h_de, h_fr, h_es))"

_Q0_SQL = f"""q0 AS (
  SELECT doc_id, text, source,
         md5({_CANON}) AS fp,
         CAST({_NW} AS BIGINT) AS n_tokens,
         (len(regexp_extract_all(text, '�'))
          + len(regexp_extract_all(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]'))
          + len(regexp_extract_all(text, '[ÃÂâÐÑ][^ ]'))) = 0 AS f1,
         {_lang_hits_sql('en')}, {_lang_hits_sql('de')},
         {_lang_hits_sql('fr')}, {_lang_hits_sql('es')},
         (CASE WHEN ({_NW}) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END
          + CASE WHEN ({_NW}) <> 0
                   AND length(regexp_replace(text, '\\s', '', 'g'))
                       / CAST({_NW} AS DOUBLE) BETWEEN 2.0 AND 12.0
                 THEN 1.0 ELSE 0.0 END
          + CASE WHEN COALESCE(len(regexp_extract_all(text, '[^\\w\\s]'))
                       / NULLIF(CAST(length(text) AS DOUBLE), 0), 0.0) <= 0.3
                 THEN 1.0 ELSE 0.0 END) / 3.0 > 5e-1 AS q_ok
  FROM main.documents
)"""

#: Naive Bayes train-on-slice + score-all CTE block for the model
#: variant (the same recipe nb_classify_docs verifies standalone):
#: labels = the heuristic q_ok on the 1-in-_TRAIN_MOD slice, Laplace
#: log-odds weights rounded to 6 decimals, DECIMAL-exact scoring, doc
#: label = prior + mean weight >= 0. Defined BEFORE the shadowing
#: `documents` CTE so references here still mean main.documents.
_NB_MODEL_CTES = f"""nbtr AS (
  SELECT doc_id, q_ok AS y FROM q0 WHERE doc_id % {_TRAIN_MOD} = 0
),
nbtoks AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_split_to_array({_CANON}, ' ')) AS term
  FROM main.documents WHERE length(trim(text)) > 0
),
nbcnt AS (
  SELECT term,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS c_pos,
         SUM(CASE WHEN y THEN 0 ELSE 1 END) AS c_neg
  FROM nbtoks t JOIN nbtr l USING (doc_id) GROUP BY term
),
nbtot AS (SELECT SUM(c_pos) AS tp, SUM(c_neg) AS tn,
                 COUNT(*) AS v FROM nbcnt),
nbwts AS (
  SELECT term,
         ROUND(ln(CAST(c_pos + 1 AS DOUBLE) / CAST(tp + v AS DOUBLE))
               - ln(CAST(c_neg + 1 AS DOUBLE) / CAST(tn + v AS DOUBLE)),
               6) + 0e0 AS weight
  FROM nbcnt, nbtot
),
nbprior AS (
  SELECT CASE WHEN SUM(CASE WHEN y THEN 1 ELSE 0 END) = 0
                OR SUM(CASE WHEN y THEN 0 ELSE 1 END) = 0
              THEN 0e0
              ELSE ROUND(ln(
                     CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS DOUBLE)),
                   6) + 0e0
         END AS bias
  FROM nbtr
),
nbscored AS (
  SELECT tk.doc_id, COUNT(tk.term) AS ntk,
         SUM(CAST(w.weight AS DECIMAL(30,6))) AS s
  FROM nbtoks tk LEFT JOIN nbwts w USING (term)
  GROUP BY tk.doc_id
),
mq AS (
  SELECT d.doc_id,
         (bias + CASE WHEN COALESCE(ntk, 0) > 0
                      THEN CAST(COALESCE(s, 0) AS DOUBLE) / ntk
                      ELSE CAST(COALESCE(s, 0) AS DOUBLE) END) >= 0e0
           AS mlabel
  FROM (SELECT doc_id FROM main.documents) d
  LEFT JOIN nbscored ON nbscored.doc_id = d.doc_id
  CROSS JOIN nbprior
)"""


def _funnel_sql(model_quality: bool) -> str:
    stages = _STAGES_MODEL if model_quality else _STAGES
    if model_quality:
        nb = _NB_MODEL_CTES + ",\n"
        q2 = f"""q2 AS (SELECT q0.*, f1 AND {_LANG_EN} AS f2,
              f1 AND {_LANG_EN} AND mq.mlabel AS f3
       FROM q0 JOIN mq USING (doc_id))"""
    else:
        nb = ""
        q2 = f"""q2 AS (SELECT *, f1 AND {_LANG_EN} AS f2,
              f1 AND {_LANG_EN} AND q_ok AS f3
       FROM q0)"""
    return f"""WITH {_Q0_SQL},
{nb}{q2},
q3 AS MATERIALIZED (SELECT *, f3 AND doc_id = MIN(CASE WHEN f3 THEN doc_id END)
                              OVER (PARTITION BY fp) AS f4
       FROM q2),
documents AS MATERIALIZED (SELECT doc_id, text FROM q3 WHERE f4),
{_minhash_ctes()},
dups AS (SELECT DISTINCT id_b AS doc_id FROM lsh_pairs),
benchq AS (SELECT DISTINCT md5({_CANON}) AS fp
           FROM main.documents WHERE doc_id % 97 = 0),
q4 AS (SELECT q3.*, q3.f4 AND dups.doc_id IS NULL AS f5
       FROM q3 LEFT JOIN dups USING (doc_id)),
q5 AS MATERIALIZED (SELECT q4.*, q4.f5 AND benchq.fp IS NULL AS f6
       FROM q4 LEFT JOIN benchq USING (fp)),
cnts AS (SELECT source, COUNT(*) FILTER (WHERE f6) AS n FROM q5 GROUP BY source),
wq AS (SELECT source, n, CASE source {_MIX_CASE} END AS w
       FROM cnts WHERE n > 0),
fq AS (SELECT * FROM wq WHERE w IS NOT NULL),
tq AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS tmin FROM fq),
thr AS (SELECT source,
               CAST(FLOOR(w * tmin / CAST(n AS DOUBLE) * 10000) AS BIGINT)
                 AS thr
        FROM fq, tq),
q6 AS (SELECT q5.*,
              COALESCE(q5.f6 AND {_bucket_sql("doc_id", "mixture")} < thr.thr,
                       FALSE) AS f7
       FROM q5 LEFT JOIN thr USING (source)),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               {", ".join(
                   f"CAST(COUNT(*) FILTER (WHERE f{i}) AS BIGINT) AS n{i}"
                   for i in range(1, 8)
               )}
        FROM q6),
pk AS (SELECT COALESCE(CAST(SUM((st + {_PACK_CAPACITY - 1}) // {_PACK_CAPACITY})
                            AS BIGINT), 0) AS n
       FROM (SELECT SUM(n_tokens) AS st FROM q6 WHERE f7 GROUP BY source)
       WHERE st > 0)
{" UNION ALL ".join(
    [f"SELECT CAST(0 AS INT) AS stage_idx, 'raw' AS stage, n0 AS n_docs FROM agg"]
    + [
        f"SELECT CAST({i} AS INT), '{name}', n{i} FROM agg"
        for i, name in enumerate(stages[1:], start=1)
    ]
    + [f"SELECT CAST(8 AS INT), 'packed_{_PACK_CAPACITY}', n FROM pk"]
)}"""


def _funnel(spark, sf_dir, model_quality: bool):
    """Shared funnel body for the heuristic- and model-gated variants;
    only stage 3 differs (q_ok heuristic vs the trained classifier's
    label) plus the stage name it reports."""
    # parallelism floor BEFORE the per-row screens/tokenizers: the
    # single-row-group doc file gives the scan one task, serializing
    # the regex screens, the fingerprint md5 and the NB tokenizers on
    # one core (sources.scan_parallelism_floor; no-op on well-split
    # inputs at scale)
    from financial_data_lakehouse_pipeline__spark.sources import (
        scan_parallelism_floor,
    )

    d = scan_parallelism_floor(
        read_table(spark, sf_dir, "documents")
    ).select("doc_id", "text", "source")
    q = text.language_id(text.quality_score(d))
    base = q.select(
        "doc_id",
        "text",
        "source",
        F.md5(canonical_text(F.col("text"))).alias("fp"),
        text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        text.encoding_ok_expr(F.col("text")).alias("f1"),
        (F.col("lang_pred") == "en").alias("__en"),
        (F.col("quality_score") > 0.5).alias("q_ok"),
    )
    if model_quality:
        # train on the labeled 1-in-_TRAIN_MOD slice (labels = the
        # heuristic — weak supervision), score EVERY doc with the
        # learned linear model; stage 3 gates on the model's label.
        # The slim (doc_id, q_ok) label table is pinned: the bias
        # collect and the NB weight training both consume the slice's
        # labels, and each re-derivation re-ran the whole per-row
        # screen pipeline (quality_score + language_id regexes) over
        # the slice (guide §2.4) — the heavy screens now run once; the
        # training tokenizer re-reads raw text with the slice predicate
        # pushed to the scan (its own read, filtered before any
        # parallelism floor rather than relying on the optimizer to
        # push the predicate through the floor's repartition;
        # naive_bayes_train floors the slice itself), exactly like the
        # LSH branch re-acquires survivor text.
        labels = pin(
            base.filter(F.col("doc_id") % _TRAIN_MOD == 0).select(
                "doc_id", "q_ok"
            )
        )
        bias = text.naive_bayes_bias(labels, F.col("q_ok"))
        train = (
            read_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % _TRAIN_MOD == 0)
            .select("doc_id", "text")
            .join(labels, "doc_id")
        )
        weights = text.naive_bayes_train(train, F.col("q_ok")).select(
            "term", "weight"
        )
        mq = text.linear_text_classifier(
            d, weights, bias=bias, threshold=0.0
        ).select("doc_id", F.col("label").alias("__mq"))
        base = base.join(mq, "doc_id")
        gate = F.col("__mq")
    else:
        gate = F.col("q_ok")
    b2 = base.withColumn("f2", F.col("f1") & F.col("__en")).withColumn(
        "f3", F.col("f2") & gate
    )

    from pyspark.sql import Window

    w_fp = Window.partitionBy("fp")
    b3 = b2.withColumn(
        "__min_id",
        F.min(F.when(F.col("f3"), F.col("doc_id"))).over(w_fp),
    ).withColumn("f4", F.col("f3") & (F.col("doc_id") == F.col("__min_id")))

    # Pin the slim flag table (ids + flags + fp, no text) BEFORE the LSH
    # branch: the expensive per-row pre-pass (language-ID gram explode,
    # quality screens, the fingerprint window — plus the NB train/score
    # sub-DAG in the model variant) runs exactly ONCE, where the
    # round-10 layout recomputed it twice (once under the LSH branch,
    # once under the final flag assembly — the regression VERDICT r10
    # flagged). The LSH branch re-acquires survivor text by semi-joining
    # the raw source to the pin (a doc_id+text projection-pushdown scan —
    # re-reading the lake is the at-scale idiom, recomputing a classifier
    # pipeline is not; a semi join can only build the id side, so the
    # text is never broadcast). Its tiny dup-id output has one consumer,
    # the flag assembly pinned below, so it gets no pin of its own: a pin
    # inside a pin stores the same rows twice, and under the replicated
    # mode every level of pin nesting multiplies the plan string.
    flags = pin(
        b3.select("doc_id", "source", "fp", "n_tokens", "f1", "f2", "f3", "f4")
    )
    lsh_in = d.select("doc_id", "text").join(
        flags.filter("f4").select("doc_id"), "doc_id", "left_semi"
    )
    dups_r = (
        minhash_lsh_pairs(lsh_in, num_hashes=16, bands=4, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    bench = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.md5(canonical_text(F.col("text"))).alias("fp"))
        .distinct()
        .withColumn("__contam", F.lit(True))
    )
    # pinned: three consumers re-derive this assembly (the mixture
    # thresholds aggregate, the stage-count aggregate, and the packing
    # branch), and each re-derivation re-scanned the raw documents for
    # the benchmark-fingerprint broadcast — one materialization of the
    # narrow flag table ends that (guide §2.4; the flag pin above keeps
    # the EXPENSIVE upstream out of all of them already)
    flagged = pin(
        flags.join(dups_r, "doc_id", "left")
        .withColumn(
            "f5", F.col("f4") & ~F.coalesce(F.col("__dup"), F.lit(False))
        )
        .join(F.broadcast(bench), "fp", "left")
        .withColumn(
            "f6", F.col("f5") & ~F.coalesce(F.col("__contam"), F.lit(False))
        )
        .select(
            "doc_id", "source", "n_tokens",
            "f1", "f2", "f3", "f4", "f5", "f6",
        )
    )

    thr = sampling.mixture_thresholds(flagged.filter("f6"), "source", _MIX)
    fin = flagged.join(F.broadcast(thr), "source", "left").withColumn(
        "f7",
        F.coalesce(
            F.col("f6")
            & (
                sampling.hash_bucket(F.col("doc_id"), "mixture").cast("bigint")
                < F.col("__thr")
            ),
            F.lit(False),
        ),
    )

    # ONE aggregation pass over the assembled flag table computes every
    # stage count AND the packed-sequence count (guide §2.4 — the
    # round-13 layout ran a second full pass: pack_sequences' per-source
    # window cumsum + two more aggregations, only to count bins). The
    # bin count per source is closed-form: concat-and-chunk packing of
    # st = Σ n_tokens tokens into capacity-C windows spans exactly
    # ceil(st / C) = (st + C - 1) DIV C bins (pack_sequences'
    # max(last_bin)+1 = floor((st-1)/C)+1 — same integer for st > 0;
    # sources with no positive-token survivors contribute nothing, the
    # WHEN st > 0 guard below, mirroring the oracle's WHERE st > 0).
    # Exact BIGINT arithmetic, no window, no second pass.
    per_src = fin.groupBy("source").agg(
        F.count(F.lit(1)).alias("c0"),
        *[F.sum(F.col(f"f{i}").cast("long")).alias(f"c{i}") for i in range(1, 8)],
        F.sum(F.when(F.col("f7"), F.col("n_tokens"))).alias("__st"),
    )
    agg = per_src.agg(
        # coalesce: an empty corpus must still report n0 = 0 (the old
        # layout's global COUNT(*)), not a NULL sum over zero groups
        F.coalesce(F.sum("c0"), F.lit(0)).cast("bigint").alias("n0"),
        *[F.sum(f"c{i}").cast("bigint").alias(f"n{i}") for i in range(1, 8)],
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__st") > 0,
                    F.expr(f"(__st + {_PACK_CAPACITY - 1}) DIV {_PACK_CAPACITY}"),
                )
            ),
            F.lit(0),
        ).cast("bigint").alias("n8"),
    )
    stages = _STAGES_MODEL if model_quality else _STAGES
    stack_args = ", ".join(
        [f"{i}, '{name}', n{i}" for i, name in enumerate(stages)]
        + [f"8, 'packed_{_PACK_CAPACITY}', n8"]
    )
    return agg.select(
        F.expr(
            f"stack(9, {stack_args}) AS (stage_idx, stage, n_docs)"
        )
    ).select(
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "stage",
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


@register("curation_funnel_docs", _funnel_sql(False))
def curation_funnel_docs(spark, sf_dir):
    """End-to-end curation funnel: per-stage survivor counts for the
    full screen → dedup → decontaminate → mix → pack pipeline (module
    docstring has the plan shape). Stage semantics:

    1 encoding_ok    text.encoding_ok_expr (replacement/control/mojibake
                     counts all zero)
    2 lang_en        text.language_id (stopword vote) predicts 'en' —
                     the cheap per-row pre-filter; the char-trigram
                     classifier (language_id_ngram_docs) is the
                     model-based upgrade when a broadcast join is
                     affordable
    3 quality        text.quality_score > 0.5 (≥ 2 of 3 heuristics)
    4 exact_dedup    keep min(doc_id) per md5(canonical_text)
    5 near_dedup     drop docs LSH-paired (jaccard ≥ 0.5) with a lower
                     surviving doc_id (dedup.minhash_lsh_pairs over
                     stage-4 survivors only)
    6 decontaminated drop fingerprints present in the benchmark set
                     (docs with doc_id % 97 == 0 — the eval holdout)
    7 mixture        sampling.mixture_thresholds keep-rates realizing
                     {src0:.4, src1:.3, src2:.2, src3:.1}
    8 packed_512     number of 512-token packed sequences
                     (sampling.pack_sequences per source shard)
    """
    return _funnel(spark, sf_dir, model_quality=False)


@register("curation_funnel_model_docs", _funnel_sql(True))
def curation_funnel_model_docs(spark, sf_dir):
    """The funnel with a TRAINED quality gate — the train→deploy loop a
    real curation team runs: the heuristic labels a 1-in-10 slice (weak
    supervision), naive_bayes_train fits Laplace log-odds weights on it,
    and linear_text_classifier scores EVERY document; stage 3
    (quality_model) keeps docs the model labels positive instead of
    docs the raw heuristic passes. All other stages are identical to
    curation_funnel_docs, so the two queries' stage counts diverge only
    at stage 3+ — the generalization gap of the distilled model made
    visible. The oracle retrains AND rescores the classifier in pure
    SQL (the nb_classify_docs recipe inlined into the funnel twin)."""
    return _funnel(spark, sf_dir, model_quality=True)
