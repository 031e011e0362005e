"""Text-analysis operators over a document table (LLM-data extension).

All pure Column expressions (JVM-side, codegen) — no Python in the hot
path. Designed for a `documents(doc_id, text, ...)` table at any scale:
every operator is embarrassingly parallel per row except where noted.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.functions import guarded_div, tokens
from financial_data_lakehouse_pipeline__spark.materialize import pin

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately small + ASCII so the same lists are trivially
# usable in oracle SQL.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "a", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "que"),
}


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Subword-ish token estimate: count of word/number/punct chunks via a
    BPE-flavored regex (letters runs, digit runs, single punct)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def word_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: char/word counts, average word
    length, punctuation & whitespace ratios."""
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    n_words = F.size(toks)
    word_chars = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), 0))
    return df.withColumns(
        {
            "n_chars": n_chars.cast("bigint"),
            "n_words": n_words.cast("bigint"),
            "avg_word_len": guarded_div(word_chars.cast("double"), n_words),
            "punct_ratio": guarded_div(n_punct.cast("double"), n_chars),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score from length / word-length / punct
    heuristics (Gopher/C4-style cheap filters)."""
    s = word_stats(df, text_col)
    len_ok = F.when((F.col("n_words") >= 10) & (F.col("n_words") <= 100000), 1.0).otherwise(0.0)
    wl_ok = F.when(
        (F.col("avg_word_len") >= 2.0) & (F.col("avg_word_len") <= 12.0), 1.0
    ).otherwise(0.0)
    punct_ok = F.when(F.coalesce(F.col("punct_ratio"), F.lit(0.0)) <= 0.3, 1.0).otherwise(0.0)
    return s.withColumn(
        "quality_score", (len_ok + wl_ok + punct_ok) / F.lit(3.0)
    )


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of stopword occurrences for one language (word-boundary regex)."""
    pattern = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pattern), 0))


def language_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Stopword-vote language heuristic over STOPWORDS languages.

    Predicts the language with the most stopword hits; 'und' (undetermined)
    when no list scores > 0. Deterministic tie-break: language order
    en > de > fr > es (strict greater-than comparisons).
    """
    t = F.col(text_col)
    hit_cols = {lang: stopword_hits(t, lang) for lang in STOPWORDS}
    df2 = df.withColumns({f"__hits_{lang}": c for lang, c in hit_cols.items()})
    langs = list(STOPWORDS)
    best = F.lit("und")
    best_hits = F.lit(0)
    for lang in langs:
        h = F.col(f"__hits_{lang}")
        take = h > best_hits
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_hits = F.when(take, h).otherwise(best_hits)
    return df2.withColumn(out, best).drop(*[f"__hits_{lang}" for lang in langs])


#: Characteristic char-trigram profiles per language (Cavnar & Trenkle
#: 1994 "N-Gram-Based Text Categorization" style: the high-frequency
#: grams of each language's function words, space-padded so word
#: boundaries count). Hand-curated from public frequency knowledge,
#: deliberately small + literal so the identical table is embeddable as
#: VALUES in oracle SQL. Grams may overlap between languages — argmax
#: over total hits resolves.
CHAR_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (
        " th", "the", "he ", " an", "and", "nd ", "ing", "ng ", " of",
        "of ", " to", "to ", " is", "is ", "ion", "ed ", " wi", "wit",
        "ith", " be", "are", " ar", "ent", " it", "it ",
    ),
    "de": (
        "der", " de", "die", " di", "ie ", "und", " un", "ich", "ch ",
        "ein", " ei", "sch", " sc", "cht", "ung", "gen", "den", " da",
        "das", "ten", "ber", "er ", "ht ", " ge", "eit",
    ),
    "fr": (
        " le", "le ", " la", " de", "de ", "es ", "ent", "nt ", "et ",
        " et", "une", " un", "que", " qu", "ue ", "ais", "eur", "aux",
        " pa", "par", "our", " po", "ous", "ait", " da",
    ),
    "es": (
        " de", "de ", " la", "la ", "el ", " el", "que", " qu", "ue ",
        "os ", "as ", "ión", "ció", " co", "con", " en", "en ", "ado",
        "los", " lo", " es", "es ", "ar ", " po", "por",
    ),
}


def char_trigrams(text: Column) -> Column:
    """Char 3-gram multiset of the canonicalized (lower, trim, collapsed
    whitespace), space-padded text — padded so word-boundary grams like
    ' th' / 'er ' exist. Empty/short text yields an empty array (never a
    descending sequence). Materialize the padded text in its OWN
    projection before calling (array-lambda re-evaluation trap)."""
    n = F.length(text)
    return F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(2)),
            lambda i: text.substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def language_id_ngram(
    df: DataFrame,
    spark=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "lang_pred",
) -> DataFrame:
    """Char-n-gram language classifier (the model-based upgrade of the
    stopword-vote ``language_id``): explode the document's char
    trigrams, broadcast-join the fixed CHAR_TRIGRAM_PROFILES table, sum
    hits per (doc, lang) with multiplicity, argmax with a total order
    (hits DESC, lang ASC). Documents matching no profile gram predict
    'und' with 0 hits.

    Scale shape: gram rows ≈ total characters — one explode, one
    broadcast inner join (profile table is O(languages × 25) rows), one
    (doc, lang) partial-aggregated groupBy, one doc-keyed window.
    All-integer scoring: bit-exact across engines, no floats anywhere.

    Output: (id_col, out, n_hits).
    """
    sess = spark if spark is not None else df.sparkSession
    profile_rows = [
        (g, lang)
        for lang, grams in sorted(CHAR_TRIGRAM_PROFILES.items())
        for g in sorted(set(grams))
    ]
    profiles = sess.createDataFrame(profile_rows, "gram string, lang string")
    canon = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
        F.lit(" "),
    )
    padded = df.select(F.col(id_col), canon.alias("__t"))
    grams = padded.select(
        id_col, F.explode(char_trigrams(F.col("__t"))).alias("gram")
    )
    hits = (
        grams.join(F.broadcast(profiles), "gram")
        .groupBy(id_col, "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("n_hits").desc(), F.col("lang").asc()
    )
    best = (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        df.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("lang"), F.lit("und")).alias(out),
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias(
                "n_hits"
            ),
        )
    )


def fingerprint(df: DataFrame, text_col: str = "text", out: str = "fingerprint") -> DataFrame:
    """Canonical document fingerprint: md5 of the whitespace-normalized,
    lowercased text — the exact-dedup key (content hash, not identity)."""
    canon = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out, F.md5(canon))


#: PII patterns (portable between Java regex and RE2): email addresses
#: and long digit runs (phone/account/ssn-ish). Kept deliberately simple
#: and ASCII — production filters would plug in richer pattern packs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "number": r"[0-9]{6,}",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", out: str = "redacted_text"
) -> DataFrame:
    """Mask PII-looking spans: emails -> <EMAIL>, 6+ digit runs -> <NUM>,
    with a per-pattern redaction count so a pipeline can audit/filter
    heavily-redacted documents. Pure regexp Column expressions; patterns
    chosen from the common subset of Java-regex and RE2 syntax so SQL
    oracles reproduce them exactly."""
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(PII_PATTERNS["email"]), 0))
    masked = F.regexp_replace(t, PII_PATTERNS["email"], "<EMAIL>")
    n_num = F.size(F.regexp_extract_all(masked, F.lit(PII_PATTERNS["number"]), 0))
    masked = F.regexp_replace(masked, PII_PATTERNS["number"], "<NUM>")
    return df.withColumns(
        {
            out: masked,
            "n_emails_redacted": n_email.cast("bigint"),
            "n_numbers_redacted": n_num.cast("bigint"),
        }
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Per-document n-gram repetition features — the Gopher/MassiveText
    repetition filters (machine-generated and boilerplate text shows up as
    a few n-grams dominating the document):

    - ``n_ngrams``: total (non-distinct) word n-gram occurrences
    - ``top_ngram_frac``: fraction of occurrences belonging to the single
      most frequent n-gram
    - ``dup_ngram_frac``: fraction of occurrences belonging to any n-gram
      that appears more than once

    Shape at scale: token array materialized in its own projection (the
    O(words²) trap word_shingles documents), one explode + (doc, gram)
    groupBy with map-side partial aggregation, one doc groupBy, then a
    left join back so gram-less documents (< n words) keep a row with
    n_ngrams=0 and NULL fractions. Keys are (doc, gram) — cardinality
    follows document length, no skew beyond the longest document.
    """
    from financial_data_lakehouse_pipeline__spark.operators.dedup import canonical_text

    toked = df.select(
        F.col(id_col), tokens(canonical_text(F.col(text_col))).alias("__toks")
    )
    toks = F.col("__toks")
    k = F.size(toks)
    grams = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(0), k - F.lit(n)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = toked.select(F.col(id_col), F.explode(grams).alias("__gram"))
    c = g.groupBy(id_col, "__gram").agg(F.count(F.lit(1)).alias("__c"))
    s = c.groupBy(id_col).agg(
        F.sum("__c").alias("__total"),
        F.max("__c").alias("__top"),
        F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(0)).alias("__dup"),
    )
    return df.select(id_col).join(s, id_col, "left").select(
        id_col,
        F.coalesce(F.col("__total"), F.lit(0)).cast("bigint").alias("n_ngrams"),
        guarded_div(F.col("__top").cast("double"), F.col("__total")).alias(
            "top_ngram_frac"
        ),
        guarded_div(F.col("__dup").cast("double"), F.col("__total")).alias(
            "dup_ngram_frac"
        ),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
    min_term_len: int = 3,
) -> DataFrame:
    """Top-k most characteristic terms per document by tf x idf.

    idf uses the RATIONAL form (N+1)/(df+1) rather than its log: the
    ranking it induces per document is identical (log is monotone), and
    pure double division is IEEE-identical across engines, so the score
    itself stays oracle-exact (ln differs in the last ulp between libm
    implementations).

    Shape at scale: one explode + (doc,term) groupBy for tf, one term
    groupBy for df (broadcast — vocabulary is tiny relative to the
    corpus), one window top-k. Ties broken by (tf desc, term asc) —
    fully deterministic.
    """
    from financial_data_lakehouse_pipeline__spark.functions import tokens as _tokens
    from pyspark.sql import Window

    canon = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    from financial_data_lakehouse_pipeline__spark.sources.readers import (
        scan_parallelism_floor,
    )

    terms = (
        scan_parallelism_floor(df)
        .select(F.col(id_col), F.explode(_tokens(canon)).alias("term"))
        .filter(F.length("term") >= min_term_len)
    )
    # pinned: the df aggregation and the scoring join both consume the
    # tf table — without materialization the tokenize/explode/groupBy
    # shuffle runs twice (guide §2.4)
    tf = pin(terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("__n"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("tf").desc(), F.col("term")
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * ((F.col("__n") + F.lit(1)).cast("double") / (F.col("df") + F.lit(1)).cast("double")),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", F.col("tf").cast("bigint").alias("tf"), "tfidf", "rank")
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (MOSS-style rolling-hash selection):
    hash every character k-gram, then keep the MINIMUM hash of each window
    of ``window`` consecutive k-grams; the distinct selected hashes are the
    document's fingerprint set — robust to local edits, and two documents
    sharing any sufficiently long run share fingerprints.

    All JVM-side array expressions; each intermediate array (grams,
    hashes) is materialized in its own projection so the per-element
    lambdas never re-evaluate an expensive upstream expression (the
    O(n²) trap word_shingles documents). Hashes are md5-prefix ints, so
    plain SQL reproduces the selection bit-for-bit.

    Output: (id, fingerprint bigint), distinct.
    """
    canon = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    step0 = df.select(F.col(id_col), canon.alias("__t"))
    n = F.length(F.col("__t"))
    gram_idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    grams = F.transform(gram_idx, lambda i: F.col("__t").substr(i + 1, F.lit(k)))
    step1 = step0.select(F.col(id_col), grams.alias("__grams"))
    hashes = F.transform(
        F.col("__grams"),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
    )
    step2 = step1.select(F.col(id_col), hashes.alias("__h"))
    m = F.size(F.col("__h"))
    win_idx = F.sequence(F.lit(0), F.greatest(m - F.lit(window), F.lit(0)))
    mins = F.transform(
        win_idx, lambda j: F.array_min(F.slice(F.col("__h"), j + 1, window))
    )
    return (
        step2.select(
            F.col(id_col),
            F.explode(F.array_distinct(mins)).alias("fingerprint"),
        )
        .filter(F.col("fingerprint").isNotNull())
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Sliding-window token chunking — the standard LLM training-data
    prep step (fixed context windows with overlap, cf. pack_sequences
    for the no-overlap concat-and-chunk variant).

    Chunk i covers tokens [i·stride, i·stride+size); the number of
    chunks is ceil(max(n−size,0)/stride)+1 so the tail is always
    covered and a doc with n ≤ size yields exactly one chunk. Empty
    docs yield none. All integer arithmetic (the ceil-div is exact in
    doubles below 2^53), token slicing is a JVM array op — no Python,
    no shuffle: embarrassingly parallel per document, output fan-out
    ~n/stride rows per doc.

    Output: (id, chunk_id, start_tok, n_chunk_tokens, chunk_text).
    """
    toks_c, n_c = "__toks", "__n"
    d = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias(toks_c)
    ).withColumn(n_c, F.size(toks_c))
    n = F.col(n_c)
    overflow = F.greatest(n - F.lit(size), F.lit(0))
    n_chunks = F.floor((overflow + F.lit(stride - 1)) / F.lit(stride)) + 1
    ids = F.when(n > 0, F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
    d = d.withColumn("chunk_id", F.explode(ids))
    start = F.col("chunk_id") * stride
    chunk = F.slice(F.col(toks_c), start + 1, size)
    return d.select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        start.cast("bigint").alias("start_tok"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits) —
    the gibberish/boilerplate quality signal complementing
    repetition_stats' top-fraction metrics: low entropy = repetitive or
    templated text, high = diverse vocabulary.

    entropy = log2(N) − Σ c·log2(c) / N over exact integer token counts
    c. The Σ is a float aggregate (engine-defined order), so
    cross-engine comparisons must round it — same contract as
    stddev/corr. Two doc-keyed shuffles (token counts, then the doc
    rollup); both combine map-side. Docs with no tokens are omitted.

    Output: (id, n_tokens bigint, entropy double).
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    counts = tok.groupBy(id_col, "__tok").agg(
        F.count(F.lit(1)).alias("__c")
    )
    c = F.col("__c")
    return counts.groupBy(id_col).agg(
        F.sum(c).alias("n_tokens"),
        (
            F.log2(F.sum(c).cast("double"))
            - F.sum(c.cast("double") * F.log2(c.cast("double")))
            / F.sum(c).cast("double")
        ).alias("entropy"),
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "avg_logprob",
) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    unigram language model — the KenLM-style perplexity surrogate used
    as an LLM-data quality filter (low avg logprob = rare-token noise /
    gibberish, suspiciously high = boilerplate).

    avg_logprob = (Σ_t tf_t·ln(c_t)) / n − ln(N): c_t = corpus count of
    term t, N = total corpus tokens, n = doc tokens. Terms are
    lowercase whitespace tokens (canonical text), so every doc term
    exists in the vocabulary — no smoothing branch needed.

    Shape at scale: one (doc, term) aggregation for tf, one term
    aggregation for the model (vocabulary-bounded → broadcast, same as
    tfidf_top_terms' df table), one doc rollup. The ln-sum is a float
    aggregate (engine-defined order) — cross-engine comparisons must
    round it (stddev/corr contract). Empty docs are omitted.

    Output: (id, n_tokens bigint, avg_logprob double).
    """
    canon = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = df.select(F.col(id_col), F.explode(tokens(canon)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("__tf"))
    model = tf.groupBy("term").agg(F.sum("__tf").alias("__c"))
    total = model.agg(F.sum("__c").alias("__N"))
    scored = tf.join(F.broadcast(model), "term").crossJoin(F.broadcast(total))
    n = F.sum("__tf")
    return scored.groupBy(id_col).agg(
        n.cast("bigint").alias("n_tokens"),
        (
            F.sum(F.col("__tf").cast("double") * F.log(F.col("__c").cast("double")))
            / n.cast("double")
            - F.log(F.max("__N").cast("double"))
        ).alias(out),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a fixed query term set —
    the retrieval scorer a RAG / dedup-by-retrieval pipeline runs over
    the corpus (Robertson/Okapi form, Lucene's idf variant so scores
    stay positive):

        idf(t)   = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))

    Cross-engine determinism: the per-term contributions are combined in
    the FIXED order of ``query_terms`` (a left-to-right row expression,
    not a float aggregate), so the only engine-sensitive atom is ln()
    (last-ulp libm variance) — callers comparing cross-engine round to
    6 (unigram_logprob contract).

    Shape at scale: tf for the query terms only (explode + filter on a
    broadcast literal set, one (doc, term) aggregation), df/avgdl as
    one-row / |query| aggregates broadcast back, final score one
    row-wise projection pivoted via conditional sums — never a per-doc
    float aggregation. Docs containing no query term score 0 and are
    kept (a retrieval pipeline ranks them last, it doesn't lose them).

    Output: (id, dl bigint, score double).
    """
    from financial_data_lakehouse_pipeline__spark.operators.dedup import canonical_text

    terms = [t.lower() for t in query_terms]
    toked = df.select(
        F.col(id_col), tokens(canonical_text(F.col(text_col))).alias("__toks")
    )
    dl = toked.select(F.col(id_col), F.size("__toks").cast("bigint").alias("dl"))
    # corpus stats: N and average document length (one tiny aggregate)
    stats = dl.agg(
        F.count(F.lit(1)).alias("__N"),
        F.avg(F.col("dl").cast("double")).alias("__avgdl"),
    )
    tok = toked.select(F.col(id_col), F.explode("__toks").alias("__t")).filter(
        F.col("__t").isin(terms)
    )
    tf = tok.groupBy(id_col).pivot("__t", terms).count().na.fill(0)
    # document frequency per query term, as columns of one small row.
    # COALESCE matters: when NO document contains ANY query term (open
    # vocabularies make this a real case, not an edge case), tf has
    # zero rows and a bare SUM over it is NULL — which would silently
    # NULL every score; df must be 0 so idf stays finite and absent
    # terms contribute 0 (round-13 ov1 oracle campaign finding).
    dfreq = tf.agg(
        *[
            F.coalesce(
                F.sum((F.col(t) > 0).cast("bigint")), F.lit(0)
            ).alias(f"__df_{i}")
            for i, t in enumerate(terms)
        ]
    )
    scored = (
        dl.join(tf.withColumnsRenamed({t: f"__tf_{i}" for i, t in enumerate(terms)}),
                id_col, "left")
        .na.fill({f"__tf_{i}": 0 for i in range(len(terms))})
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfreq))
    )
    n = F.col("__N").cast("double")
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf_c = F.col(f"__tf_{i}").cast("double")
        df_c = F.col(f"__df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - df_c + 0.5) / (df_c + 0.5))
        denom = tf_c + k1 * (
            1.0 - b + b * F.col("dl").cast("double") / F.col("__avgdl")
        )
        score = score + idf * (tf_c * (k1 + 1.0)) / denom
    return scored.select(id_col, "dl", score.alias("score"))


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 10,
    max_docs: int = 2,
) -> DataFrame:
    """Boilerplate segment removal — the CCNet/RefinedWeb line-dedup
    step adapted to token segments: split each document into
    consecutive ``seg_tokens``-token segments, drop every segment whose
    exact content appears in more than ``max_docs`` DISTINCT documents
    (headers, footers, license blocks — text that repeats across the
    corpus is boilerplate, not signal), and reassemble the survivors in
    order.

    Shape at scale: one explode to (doc, seg_idx, segment), the
    frequency table is a (segment-hash → distinct-doc count) aggregate
    — grouping on the md5 keeps shuffle rows small and uniformly
    distributed regardless of segment length — and a broadcast-able
    semi-join back (the blocklist is the aggregate's heavy tail: tiny).
    Reassembly is an order-preserving collect over (doc, seg_idx) —
    one shuffle keyed by doc.

    Output: (id, n_segments, n_dropped bigint, cleaned_text) — one row
    per input document (empty docs keep a row with empty text).
    """
    from financial_data_lakehouse_pipeline__spark.operators.dedup import canonical_text

    toked = df.select(
        F.col(id_col), tokens(canonical_text(F.col(text_col))).alias("__toks")
    )
    nseg = F.ceil(F.size("__toks") / F.lit(seg_tokens)).cast("int")
    segs = toked.select(
        F.col(id_col),
        F.explode(
            F.when(
                nseg > 0,
                F.transform(
                    F.sequence(F.lit(0), nseg - 1),
                    lambda i: F.struct(
                        i.alias("seg_idx"),
                        F.concat_ws(
                            " ", F.slice(F.col("__toks"), i * seg_tokens + 1, seg_tokens)
                        ).alias("segment"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<seg_idx:int,segment:string>>"))
        ).alias("__s"),
    ).select(F.col(id_col), "__s.seg_idx", "__s.segment", F.md5("__s.segment").alias("__h"))
    freq = segs.groupBy("__h").agg(
        F.count_distinct(F.col(id_col)).alias("__docs")
    )
    marked = segs.join(freq, "__h").withColumn(
        "__keep", F.col("__docs") <= max_docs
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum((~F.col("__keep")).cast("bigint")).alias("n_dropped"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(F.col("seg_idx"), F.col("segment")),
                            )
                        )
                    ),
                    lambda s: s["segment"],
                ),
            ).alias("cleaned_text"),
        )
        .join(df.select(id_col), id_col, "right")
        .na.fill({"n_segments": 0, "n_dropped": 0, "cleaned_text": ""})
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 200,
    min_term_len: int = 1,
) -> DataFrame:
    """Global vocabulary frequency table with cumulative corpus coverage —
    the tokenizer-construction primitive: rank terms by frequency and
    report what share of all token occurrences the top-r terms cover
    (BPE/WordPiece vocab sizing reads the knee of this curve).

    Shape at scale: one explode + one term groupBy (map-side combined),
    then ordering/cumsum over only the top-k slice — the full vocabulary
    never sorts globally; the unpartitioned window runs on ≤ top_k rows.
    cum_share is a single double division of two exact integers, so it is
    bit-identical cross-engine.
    """
    from financial_data_lakehouse_pipeline__spark.functions import tokens as _tokens
    from pyspark.sql import Window

    canon = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    terms = df.select(F.explode(_tokens(canon)).alias("term")).filter(
        F.length("term") >= min_term_len
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = terms.agg(F.count(F.lit(1)).alias("__total"))
    # top-k via orderBy+limit → TakeOrderedAndProject (per-partition heaps,
    # no single-task sort of the full vocabulary); the row_number window
    # then runs on ≤ top_k rows only.
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("term"))
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w_rank))
    )
    w_cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.withColumn("cum_cnt", F.sum("cnt").over(w_cum))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("cum_cnt").cast("bigint").alias("cum_cnt"),
            (F.col("cum_cnt").cast("double") / F.col("__total").cast("double")).alias(
                "cum_share"
            ),
        )
    )


def encoding_ok_expr(text: Column) -> Column:
    """Boolean "no encoding damage" predicate — the filter form of
    :func:`encoding_quality` (same three regexp_count screens), exposed
    separately so pipeline compositions (curation_funnel_docs) can apply
    it inline without the projecting scan."""
    repl = F.regexp_count(text, F.lit("�"))
    ctrl = F.regexp_count(
        text, F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]")
    )
    moji = F.regexp_count(text, F.lit("[ÃÂâÐÑ][^ ]"))
    return (repl + ctrl + moji) == 0


def encoding_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding/mojibake screen per document — the bytes-level cousin of
    :func:`quality_score` that catches wrongly-decoded or binary-infected
    text BEFORE linguistic filters waste time on it:

      * ``replacement_ratio`` — U+FFFD replacement chars per char (the
        smoking gun of a wrong decode);
      * ``control_ratio`` — C0/C1 control chars per char, excluding
        tab/newline/carriage-return (binary contamination);
      * ``mojibake_ratio`` — the classic UTF-8-read-as-Latin-1 digraph
        openers (Ã, Â, â, Ð, Ñ followed by a non-space) per char;
      * ``encoding_ok`` — True when all three are zero.

    Pure single-pass regexp_count expressions (whole-stage codegen, no
    Python) over lengths as exact integers; ratios are single divisions
    guarded for empty docs.
    """
    n = F.length(F.col(text_col))
    repl = F.regexp_count(F.col(text_col), F.lit("�"))
    ctrl = F.regexp_count(
        F.col(text_col), F.lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]")
    )
    moji = F.regexp_count(
        F.col(text_col), F.lit("[ÃÂâÐÑ][^ ]")
    )
    nz = F.nullif(n.cast("double"), F.lit(0.0))
    return df.select(
        "doc_id",
        n.cast("bigint").alias("n_chars"),
        (repl.cast("double") / nz).alias("replacement_ratio"),
        (ctrl.cast("double") / nz).alias("control_ratio"),
        (moji.cast("double") / nz).alias("mojibake_ratio"),
        ((repl + ctrl + moji) == 0).alias("encoding_ok"),
    )


def linear_text_classifier(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bias: float = 0.0,
    threshold: float = 0.0,
    normalize: bool = True,
) -> DataFrame:
    """Linear bag-of-words classifier inference — the model-based quality
    filter of web-corpus pipelines (fastText/logistic quality scorers a
    la CCNet/FineWeb) reduced to its Spark-native essence: tokenize,
    join a broadcast (term, weight) table, sum.

    score = bias + Σ_t count(t)·w(t)  (divided by token count when
    ``normalize`` — the mean-of-weights form that keeps scores
    length-comparable), label = score >= threshold.

    Scale shape: explode → broadcast equi-join on the vocabulary (model
    vocabularies are ~1e5-1e6 terms — always broadcastable) → one keyed
    aggregation. No UDF anywhere — inference is pure codegen arithmetic,
    so it runs at scan speed and the oracle can reproduce it exactly.
    Determinism: counts are exact integers; with fixed-point weights
    (<= 6 decimals) the weighted sum accumulates as exact DECIMAL, so
    scores are bit-identical across engines and partitionings; documents
    with NO vocabulary hits score bias exactly.

    Output: (id_col, n_tokens, n_hits, score, label).
    """
    from financial_data_lakehouse_pipeline__spark.functions import tokens
    from financial_data_lakehouse_pipeline__spark.operators.dedup import (
        canonical_text,
    )

    from financial_data_lakehouse_pipeline__spark.sources.readers import (
        scan_parallelism_floor,
    )

    toks = scan_parallelism_floor(df).select(
        F.col(id_col),
        F.explode_outer(tokens(canonical_text(F.col(text_col)))).alias("tok"),
    )
    w = weights.select(
        F.col("term").alias("tok"), F.col("weight").cast("double").alias("__w")
    )
    scored = (
        toks.join(F.broadcast(w), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count("tok").cast("bigint").alias("n_tokens"),
            F.count("__w").cast("bigint").alias("n_hits"),
            F.sum(F.col("__w").cast("decimal(30,6)")).alias("__s"),
        )
    )
    raw = F.coalesce(F.col("__s").cast("double"), F.lit(0.0))
    score = (
        F.lit(bias)
        + F.when(
            F.lit(normalize) & (F.col("n_tokens") > 0),
            raw / F.col("n_tokens").cast("double"),
        ).otherwise(raw)
    )
    return scored.select(
        id_col,
        "n_tokens",
        "n_hits",
        score.alias("score"),
        (score >= F.lit(threshold)).alias("label"),
    )


def naive_bayes_train(
    df: DataFrame,
    label: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_decimals: int = 6,
) -> DataFrame:
    """TRAIN a binary Naive Bayes bag-of-words text classifier — the
    missing half of :func:`linear_text_classifier` (which only infers):
    the standard recipe behind fastText-style quality/language filters
    when the model must be reproducible. Multinomial NB with Laplace
    smoothing reduces to a LINEAR model over term counts:

        w(t) = ln((c_pos(t)+1)/(T_pos+V)) - ln((c_neg(t)+1)/(T_neg+V))

    where c_y(t) = occurrences of t in class y, T_y = total tokens in
    class y, V = vocabulary size. Everything is exact integer counting
    until the single ln per class, rounded to ``round_decimals`` — so
    the weight table is bit-reproducible across engines/partitionings
    and plugs straight into linear_text_classifier (whose DECIMAL
    accumulation of <=6-decimal weights is exact).

    Scale shape: one explode, one (term, class) partial-aggregated
    groupBy, three scalar aggregates broadcast back — the corpus never
    shuffles twice. Tokenization is the shared canonical_text+tokens
    pipeline, identical to inference.

    Output: (term, c_pos, c_neg, weight), one row per vocabulary term.
    """
    from financial_data_lakehouse_pipeline__spark.operators.dedup import (
        canonical_text,
    )

    from financial_data_lakehouse_pipeline__spark.sources.readers import (
        scan_parallelism_floor,
    )

    toks = scan_parallelism_floor(df).select(
        label.cast("boolean").alias("__y"),
        F.explode(tokens(canonical_text(F.col(text_col)))).alias("term"),
    )
    # pinned: the totals aggregate and the weight projection both
    # consume the count table — without materialization the tokenize/
    # explode/groupBy shuffle runs twice (vocabulary-sized, bounded)
    counts = pin(
        toks.groupBy("term").agg(
            F.sum(F.when(F.col("__y"), 1).otherwise(0)).cast("bigint").alias("c_pos"),
            F.sum(F.when(F.col("__y"), 0).otherwise(1)).cast("bigint").alias("c_neg"),
        )
    )
    totals = counts.agg(
        F.sum("c_pos").alias("__tp"),
        F.sum("c_neg").alias("__tn"),
        F.count(F.lit(1)).alias("__v"),
    )
    w = (
        F.log(
            (F.col("c_pos") + 1).cast("double")
            / (F.col("__tp") + F.col("__v")).cast("double")
        )
        - F.log(
            (F.col("c_neg") + 1).cast("double")
            / (F.col("__tn") + F.col("__v")).cast("double")
        )
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "term",
        "c_pos",
        "c_neg",
        (F.round(w, round_decimals) + F.lit(0.0)).alias("weight"),
    )


def naive_bayes_bias(df: DataFrame, label: Column, round_decimals: int = 6) -> float:
    """The NB class prior log-odds ln(n_pos/n_neg), rounded like the
    weights — a 2-scalar driver-side aggregate (metadata-scale collect),
    passed as linear_text_classifier's ``bias``."""
    import math

    r = df.select(
        F.coalesce(
            F.sum(F.when(label.cast("boolean"), 1).otherwise(0)), F.lit(0)
        ).alias("p"),
        F.coalesce(
            F.sum(F.when(label.cast("boolean"), 0).otherwise(1)), F.lit(0)
        ).alias("n"),
    ).collect()[0]
    if r["p"] == 0 or r["n"] == 0:
        return 0.0  # degenerate (empty or one-class input): neutral prior
    val = round(math.log(r["p"] / r["n"]), round_decimals)
    return val + 0.0


#: Soundex consonant classes (public phonetic-coding standard):
#: class digit -> member letters.
_CONSONANT_CLASSES = (
    ("1", "bfpv"),
    ("2", "cgjkqsxz"),
    ("3", "dt"),
    ("4", "l"),
    ("5", "mn"),
    ("6", "r"),
)


def consonant_signature(word: Column) -> Column:
    """Phonetic blocking key: uppercase initial + the soundex consonant
    CLASSES present in the word, in fixed class order (e.g. 'lavender'
    -> 'L1356').

    A deliberate cross-engine-portable variant of soundex: classic
    soundex collapses ADJACENT repeats, which needs regex backreferences
    — unsupported by RE2-based engines (DuckDB) — while class PRESENCE
    is six character-class tests any SQL dialect evaluates identically.
    As a blocking function it has the property that matters: words that
    sound alike (spelling variants, doubled letters, vowel swaps) map to
    the same key, so it widens entity-resolution candidate generation
    beyond exact-token blocking (joins.fuzzy_self_join) without the
    quadratic all-pairs. Verification stays with the exact edit-distance
    predicate downstream.
    """
    w = F.lower(word)
    parts = [F.upper(F.substring(w, 1, 1))]
    for digit, letters in _CONSONANT_CLASSES:
        parts.append(
            F.when(w.rlike(f"[{letters}]"), F.lit(digit)).otherwise(F.lit(""))
        )
    return F.concat(*parts)


def bpe_learn_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    checkpoint_every: int = 2,
) -> DataFrame:
    """BPE vocabulary learning: the canonical LLM-tokenizer-training
    loop — repeatedly find the corpus-wide most frequent adjacent
    symbol pair and merge it. Output: the learned merge table
    (rank, left_sym, right_sym, pair_count), rank 1 = first merge.

    Spark-first shape (the kmeans/pagerank driver-loop discipline):

    - The iterated state is the WORD-frequency table, not raw rows —
      one up-front tokenize + count shuffle reduces any corpus to its
      vocabulary (Heaps'-law bounded: sublinear in corpus size), and
      every later pass touches only (word-state, freq) pairs.
    - Symbol sequences live in ONE string column, each symbol wrapped
      in its own pipes ('abc' -> '|a||b||c|'). That makes the merge
      step a single builtin `replace(s, '|a||b|', '|ab|')`: leftmost
      non-overlapping scan == the greedy BPE merge pass, with the
      double-pipe boundaries guaranteeing a pair can never match
      inside a longer symbol ('|ab||c|' never matches '|b||c|') and
      chained repeats merge exactly like the sequential fold
      ('|a||a||a||a|' -> '|aa||aa|'). Pure JVM string ops, no UDF.
    - Per iteration: one pair-count aggregation + a 1-row top-1
      collect (cnt DESC, then lexicographic — deterministic under
      ties) — the only driver-side state is the k merge tuples,
      kmeans-centroid-legitimate. localCheckpoint every
      ``checkpoint_every`` merges truncates the replace-chain lineage.

    Tokens are [a-z]+ runs of the lowercased text (so '|' can never
    appear inside a symbol). Pair counts weight each word by its
    corpus frequency and count ALL adjacent slots (overlapping repeats
    included), matching the reference Python implementation pinned in
    tests/test_operators.py.
    """
    from financial_data_lakehouse_pipeline__spark.sources.readers import (
        scan_parallelism_floor,
    )

    spark = df.sparkSession
    words = (
        scan_parallelism_floor(df)
        .select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    # lazy: the first iteration's pair-count collect is the forcing
    # action (round 14 — an eager checkpoint here was one extra
    # materialization job, same class as the r13 loop-checkpoint fix)
    st = words.select(
        F.regexp_replace("w", r"(.)", r"|$1|").alias("s"), "freq"
    ).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    for r in range(int(n_merges)):
        pz = (
            st.select(
                "freq",
                F.expr(r"filter(split(s, '\\|+'), x -> x != '')").alias(
                    "l"
                ),
            )
            .select(
                "freq",
                "l",
                F.expr("slice(l, 2, size(l))").alias("l2"),
            )
            .select("freq", F.explode(F.arrays_zip("l", "l2")).alias("p"))
        )
        cnt = (
            pz.filter(F.col("p")["l2"].isNotNull())
            .groupBy(
                F.col("p")["l"].alias("a"), F.col("p")["l2"].alias("b")
            )
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        top = cnt.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], top[0]["cnt"]
        merges.append((r + 1, a, b, int(c)))
        st = st.select(
            F.replace(
                F.col("s"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")
            ).alias("s"),
            "freq",
        )
        if checkpoint_every and (r + 1) % checkpoint_every == 0:
            # lazy: the next iteration's collect forces it; a trailing
            # never-forced checkpoint on the last round costs nothing
            st = st.localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges,
        "rank int, left_sym string, right_sym string, pair_count bigint",
    )


def bpe_apply_merges(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize with a LEARNED/GIVEN BPE merge table — the application
    half of :func:`bpe_learn_merges`: per document, [a-z]+ words become
    double-pipe symbol strings, the merge list is applied IN ORDER as a
    chain of builtin replace() passes (identical greedy leftmost
    non-overlapping semantics — see bpe_learn_merges for why the
    boundary encoding makes that exact), and the BPE token count is the
    surviving symbol count summed over the document's words.

    The merge chain compiles into ONE nested column expression — k
    replaces per word, pure JVM string ops inside whole-stage codegen,
    no UDF, no shuffle at all (scan → project). Output:
    (id, n_words, n_bpe_tokens).
    """

    def _tok_count(w: Column) -> Column:
        s = F.regexp_replace(w, r"(.)", r"|$1|")
        for a, b in merges:
            s = F.replace(s, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
        return F.size(F.filter(F.split(s, r"\|+"), lambda x: x != F.lit("")))

    ws = df.select(
        F.col(id_col),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
        ).alias("__ws"),
    )
    return ws.select(
        F.col(id_col),
        F.size("__ws").cast("int").alias("n_words"),
        F.aggregate(
            F.transform(F.col("__ws"), _tok_count),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        .cast("int")
        .alias("n_bpe_tokens"),
    )


def positional_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional inverted index: (term, doc_id, pos) postings over the
    canonicalized token stream (0-based positions) — the search-engine
    layout phrase/proximity queries join against. One tokenize +
    posexplode; write it partitioned/bucketed by term for a reusable
    index at scale."""
    from financial_data_lakehouse_pipeline__spark.operators.dedup import (
        canonical_text,
    )

    toked = df.select(
        F.col(id_col), tokens(canonical_text(F.col(text_col))).alias("__toks")
    )
    return toked.select(
        F.col(id_col), F.posexplode("__toks").alias("pos", "term")
    ).filter(F.length("term") > 0).select("term", id_col, "pos")


def phrase_search(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase matching via positional-posting joins: documents
    containing the token sequence of ``phrase``, with occurrence
    counts. The classic k-term plan: the i-th term's postings shifted
    by -i equi-join the first term's on (doc, pos) — each term's
    equality filter pushes into the index scan, so join inputs are
    per-term posting lists, never the corpus; a stop-word first term
    is the only skew hazard (reorder rare-first in a production
    planner, the prefix-filter df-ranking trick).

    Output: (doc_id, n_matches), one row per matching document.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    idx = positional_index(df, id_col, text_col)
    base = idx.filter(F.col("term") == terms[0]).select(id_col, "pos")
    for i, t in enumerate(terms[1:], start=1):
        nxt = idx.filter(F.col("term") == t).select(
            F.col(id_col), (F.col("pos") - F.lit(i)).alias("pos")
        )
        base = base.join(nxt, [id_col, "pos"])
    return base.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches")
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out: str = "avg_logprob",
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    bigram LM — the next-order KenLM-style quality surrogate beside
    :func:`unigram_logprob` (bigrams catch shuffled/garbled word order
    that unigram frequencies cannot): avg over a doc's bigram slots of
    ln P(w₂|w₁) = ln c(w₁w₂) − ln c(w₁·), with c(w₁·) the count of w₁
    as a bigram LEFT (so probabilities normalize exactly and, because
    the model is trained on the scored corpus itself, every scored
    bigram exists — no smoothing branch, mirroring unigram_logprob).

    Shape at scale: one (doc, bigram) aggregation, one bigram-model
    aggregation and one left-marginal aggregation, then keyed joins
    back — the bigram model is vocabulary²-bounded, so unlike the
    unigram model it is NOT broadcast; both joins shuffle on the bigram
    /unigram key. The ln-sum is a float aggregate — corpus consumers
    ROUND it. Docs with < 2 tokens are omitted (no bigram slots).

    Output: (id, n_bigrams bigint, avg_logprob double).
    """
    from financial_data_lakehouse_pipeline__spark.operators.dedup import (
        canonical_text,
    )

    toked = df.select(
        F.col(id_col), tokens(canonical_text(F.col(text_col))).alias("__toks")
    )
    pairs = (
        toked.select(
            F.col(id_col),
            F.col("__toks").alias("l"),
            F.expr("slice(__toks, 2, size(__toks))").alias("l2"),
        )
        .select(F.col(id_col), F.explode(F.arrays_zip("l", "l2")).alias("p"))
        .filter(F.col("p")["l2"].isNotNull())
        .select(
            F.col(id_col),
            F.col("p")["l"].alias("w1"),
            F.col("p")["l2"].alias("w2"),
        )
        .filter((F.length("w1") > 0) & (F.length("w2") > 0))
    )
    tf = pairs.groupBy(id_col, "w1", "w2").agg(
        F.count(F.lit(1)).alias("__tf")
    )
    model = tf.groupBy("w1", "w2").agg(F.sum("__tf").alias("__c12"))
    marg = model.groupBy("w1").agg(F.sum("__c12").alias("__c1"))
    scored = tf.join(model, ["w1", "w2"]).join(marg, "w1")
    n = F.sum("__tf")
    return scored.groupBy(id_col).agg(
        n.cast("bigint").alias("n_bigrams"),
        (
            F.sum(
                F.col("__tf").cast("double")
                * (
                    F.log(F.col("__c12").cast("double"))
                    - F.log(F.col("__c1").cast("double"))
                )
            )
            / n.cast("double")
        ).alias(out),
    )


def zipf_fit(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Zipf rank-frequency fit of the corpus vocabulary: OLS slope of
    ln(freq) on ln(rank) (rank 1 = most frequent; ties broken by term
    so the ranking is deterministic) — natural text tracks slope ≈ −1,
    and large deviations flag template/machine-generated corpora, so
    this is a corpus-level quality screen beside the per-doc LM scores.

    One tokenize + vocabulary aggregation; the rank is a DISTRIBUTED
    exact row_number over the vocabulary — range repartition by
    (count desc, term), per-range local ranks (P parallel window
    tasks), plus a P-row cumulative offset table broadcast back — the
    same prefix-sum idiom equal_frequency_bins adopted after the sf1
    campaign (mlfeat.py; a Heaps-law vocabulary at 100 TB is orders of
    magnitude past any "vocabulary-bounded" single-partition window,
    the bottleneck class the campaign's 1.48M-distinct finding
    retired). The five OLS moments reduce the ranked table to one row.
    ln/OLS are floating — consumers ROUND.

    Output: one row (n_terms, total_tokens, slope, intercept).
    """
    from pyspark.sql import Window

    from financial_data_lakehouse_pipeline__spark.operators.dedup import (
        canonical_text,
    )

    toks = df.select(
        F.explode(tokens(canonical_text(F.col(text_col)))).alias("term")
    ).filter(F.length("term") > 0)
    vocab = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    from financial_data_lakehouse_pipeline__spark.session import (
        shuffle_partition_count,
    )

    n_ranges = shuffle_partition_count(df.sparkSession)
    # __pid is nondeterministic (sampled range boundaries) and feeds
    # BOTH the offsets aggregate and the local-rank window —
    # localCheckpoint pins one assignment for both consumers (the
    # equal_frequency_bins contract; exchange reuse is an optimizer
    # behavior, not a guarantee).
    vcr = (
        vocab.repartitionByRange(
            n_ranges, F.col("__c").desc(), F.col("term")
        )
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # per-range local rank: P parallel tasks over ~|vocab|/P rows each
    w_in = Window.partitionBy("__pid").orderBy(
        F.col("__c").desc(), F.col("term")
    )
    # cross-range offsets: one row per range — a metadata-scale (P-row)
    # single-partition window, never data-scale
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        vcr.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__pc"))
        .select(
            "__pid",
            F.coalesce(F.sum("__pc").over(w_off), F.lit(0)).alias("__off"),
        )
    )
    ranked = (
        vcr.withColumn("__lr", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "__pid")
        .withColumn("__r", F.col("__off") + F.col("__lr"))
    )
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("__c").cast("double"))
    g = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("__c").cast("bigint").alias("total_tokens"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
    )
    n = F.col("n_terms").cast("double")
    varx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.when(
        varx > 0,
        (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / varx,
    )
    return g.select(
        "n_terms",
        "total_tokens",
        slope.alias("slope"),
        ((F.col("__sy") - slope * F.col("__sx")) / n).alias("intercept"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_term_len: int = 3,
    max_df: int | None = None,
    threshold: float = 0.3,
) -> DataFrame:
    """Sparse tf-idf cosine similarity join — the TEXT-side sibling of
    the dense embedding cosine: document pairs whose bag-of-words
    tf-idf vectors have cosine >= threshold, computed entirely from
    posting lists (no vectors materialized). Catches topical/templated
    similarity that shingle Jaccard misses (word REUSE, not word-order
    overlap).

    Weights are tf x rational idf (N+1)/(df+1) — per-(doc, term) each
    weight is an exact tf times ONE IEEE division (tfidf_top_terms'
    portability trick), so weights are bit-identical cross-engine; the
    pair dot product and the norms are float SUMS (engine-defined
    order), so the cosine must be ROUNDed by corpus consumers.

    Shape at scale: the pair volume is the posting-list join —
    quadratic per term's df, like ngram_jaccard — so compose with
    ``max_df`` to drop corpus-wide stop terms before the self-join
    (the drop_stop_shingles discipline; also removes their near-zero
    idf contributions). Norms come from one per-doc aggregate over the
    SAME capped weights, broadcast back.

    Output: (id_a, id_b, cosine), id_a < id_b.
    """
    from financial_data_lakehouse_pipeline__spark.functions import (
        tokens as _tokens,
    )

    canon = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    terms = df.select(
        F.col(id_col), F.explode(_tokens(canon)).alias("term")
    ).filter(F.length("term") >= min_term_len)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= int(max_df))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("__n"))
    w = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            (
                F.col("tf").cast("double")
                * (
                    (F.col("__n") + F.lit(1)).cast("double")
                    / (F.col("df") + F.lit(1)).cast("double")
                )
            ).alias("__w"),
        )
    )
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__nrm")
    )
    a = w.select(F.col(id_col).alias("id_a"), "term", F.col("__w").alias("__wa"))
    b = w.select(F.col(id_col).alias("id_b"), "term", F.col("__w").alias("__wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    return (
        dots.join(
            F.broadcast(norms.select(F.col(id_col).alias("id_a"), F.col("__nrm").alias("__na"))),
            "id_a",
        )
        .join(
            F.broadcast(norms.select(F.col(id_col).alias("id_b"), F.col("__nrm").alias("__nb"))),
            "id_b",
        )
        .withColumn(
            "cosine",
            # the float-sum cosine is rounded BEFORE the threshold
            # filter so boundary pairs cannot flip between engines on
            # last-ulp sum-order differences (both engines compare the
            # identical 6-decimal value)
            F.round(
                guarded_div(F.col("__dot"), F.col("__na") * F.col("__nb")),
                6,
            )
            + F.lit(0.0),
        )
        .filter(F.col("cosine") >= float(threshold))
        .select("id_a", "id_b", "cosine")
    )
