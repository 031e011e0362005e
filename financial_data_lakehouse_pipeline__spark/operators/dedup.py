"""Deduplication operators (LLM-data extension): exact, n-gram Jaccard,
MinHash + LSH, SimHash.

Hashing is md5-based (portable across engines — oracle SQL can reproduce
it bit-for-bit) rather than murmur3. At 100 TB the shapes matter more than
the hash: every operator below reduces to shingle-explode → hash-groupBy →
(bucketed) self-join, all keyed shuffles with no driver-side state.

  exact_dedup          one groupBy on the content hash
  ngram_jaccard_pairs  exact pairwise Jaccard via shingle equi-join —
                       quadratic in bucket size; the ground-truth baseline
  minhash_lsh_pairs    the scale path: k minhashes → b bands → candidates
                       share a band bucket (equi-join on band hash) →
                       verify with exact Jaccard. Tunable (k, b) trades
                       recall vs candidate volume.
  simhash              64-bit near-dup fingerprint; pairs within hamming
                       distance d via bit-block banding.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.functions import guarded_div, tokens
from financial_data_lakehouse_pipeline__spark.materialize import pin, release
from financial_data_lakehouse_pipeline__spark.sources.readers import (
    scan_parallelism_floor,
)

#: Modulus for the universal-hash minhash family (Mersenne prime 2^31-1).
#: With 28-bit base hashes and coefficients < P, a*h+b*h2+c stays under
#: 2^61 — no bigint overflow in either Spark or the SQL oracle.
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (a, b, c) coefficients for the minhash family
    h_i = (a_i*h1 + b_i*h2 + c_i) mod P. Derived from md5 of the index so
    the exact same constants are reproducible anywhere (the DuckDB oracle
    embeds them as literals); a, b are nonzero."""
    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        c = int(hashlib.md5(f"c:{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b, c))
    return out


def canonical_text(text: Column) -> Column:
    """Whitespace-normalized lowercase text (shared canonicalization)."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by content hash: keeps min(id) per canonical text,
    reporting the duplicate count. One hash-groupBy; the md5 key keeps
    shuffle rows small even for megabyte documents."""
    return (
        scan_parallelism_floor(df)
        .withColumn("__fp", F.md5(canonical_text(F.col(text_col))))
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).cast("bigint").alias("dup_count"),
        )
        .select(F.col(id_col), F.col("__fp").alias("fingerprint"), "dup_count")
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Shingles are built JVM-side: tokenize, then join each n-window of
    words. Documents with < n words yield their full text as the shingle
    (so short docs still participate).

    The token array is materialized in its OWN projection before the
    n-window transform: referencing the tokenize expression inside the
    per-element lambda would re-run regex split once per window —
    O(words²) regex work per document (measured 8s → 0.5s at 5k docs).
    Catalyst keeps the projections separate because the array is expensive
    and referenced multiple times.
    """
    toked = df.select(
        F.col(id_col), tokens(canonical_text(F.col(text_col))).alias("__toks")
    )
    toks = F.col("__toks")
    k = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(k - F.lit(n), F.lit(0)))
    shingle = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return (
        toked.select(
            F.col(id_col), F.explode(F.array_distinct(shingle)).alias("shingle")
        )
        .filter(F.length("shingle") > 0)
    )


def _pairwise_jaccard(
    shingles: DataFrame,
    id_col: str,
    restrict_to: DataFrame | None = None,
    sizes: DataFrame | None = None,
    broadcast_members: bool = False,
) -> DataFrame:
    """Exact Jaccard for every pair sharing >= 1 shingle.

    |A∩B| from the shingle equi-join, |A| and |B| from per-doc shingle
    counts (broadcast — one row per doc id).

    ``restrict_to`` — optional (id_a, id_b) candidate pairs. When given,
    each side's posting lists are first semi-joined down to candidate pair
    MEMBERS and the result is inner-joined to the candidate pairs, so the
    quadratic shingle self-join runs only over candidate members — the
    property that keeps LSH verification sub-quadratic at scale.

    ``sizes`` — optional precomputed (id, __sz) shingle counts; callers
    that already aggregate per doc (MinHash signatures) pass theirs so the
    plan doesn't re-aggregate the shingle table a fourth time.

    ``broadcast_members`` — callers that KNOW the candidate member set
    is driver-broadcastable (the incremental path: members are bounded
    by the batch's collision volume, independent of corpus size) set
    this so the member semi-joins and the size lookups become
    map-side broadcast filters over the shingle/size scans instead of
    shuffling the full posting and size tables — the difference
    between per-batch cost tracking the batch vs the corpus.
    """
    if sizes is None:
        sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    sizes_a = sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sz_a"))
    sizes_b = sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__sz_b"))
    if restrict_to is not None:
        ids_a = restrict_to.select("id_a").distinct()
        ids_b = restrict_to.select("id_b").distinct()
        if broadcast_members:
            ids_a, ids_b = F.broadcast(ids_a), F.broadcast(ids_b)
        a = a.join(ids_a, "id_a", "left_semi")
        b = b.join(ids_b, "id_b", "left_semi")
        if broadcast_members:
            # sizes filtered to members are bounded too — broadcast the
            # lookup instead of shuffling all N size rows
            sizes_a = F.broadcast(sizes_a.join(ids_a, "id_a", "left_semi"))
            sizes_b = F.broadcast(sizes_b.join(ids_b, "id_b", "left_semi"))
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    if restrict_to is not None:
        pairs_filter = (
            F.broadcast(restrict_to) if broadcast_members else restrict_to
        )
        common = common.join(pairs_filter, ["id_a", "id_b"], "left_semi")
    return (
        common.join(sizes_a, "id_a")
        .join(sizes_b, "id_b")
        .withColumn(
            "jaccard",
            guarded_div(
                F.col("__common").cast("double"),
                (F.col("__sz_a") + F.col("__sz_b") - F.col("__common")).cast("double"),
            ),
        )
        .select("id_a", "id_b", "jaccard")
    )


def drop_stop_shingles(
    shingles: DataFrame, max_doc_freq: int
) -> DataFrame:
    """Stop-shingle cap: remove shingles whose posting list exceeds
    ``max_doc_freq`` documents BEFORE any quadratic self-join.

    A shingle shared by every document (boilerplate footers, license
    headers, navigation chrome) carries no near-dup signal but
    contributes O(df²) join output — one 100k-doc stop-shingle is 5e9
    pairs. The cap bounds per-shingle join fan-out at max_doc_freq²,
    turning worst-case skew into a constant. The hot list is tiny by
    construction (only pathological shingles qualify), so it broadcasts
    and the filter is a broadcast anti-join — no extra shuffle on the
    posting table. Jaccard downstream is computed on the reduced shingle
    universe (sizes post-cap), keeping it a proper similarity there.
    """
    hot = (
        shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("shingle")
    )
    return shingles.join(F.broadcast(hot), "shingle", "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard >= threshold.

    Exact but quadratic in the size of each shingle's posting list — the
    correctness baseline minhash_lsh_pairs is verified against. At scale,
    pass ``max_doc_freq`` to cap pathological posting lists
    (:func:`drop_stop_shingles`) before the self-join; Jaccard is then
    exact over the capped shingle universe.
    """
    sh = word_shingles(scan_parallelism_floor(df), id_col, text_col, n)
    if max_doc_freq is not None:
        sh = drop_stop_shingles(sh, max_doc_freq)
    return _pairwise_jaccard(sh, id_col).filter(F.col("jaccard") >= threshold)


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    dfreq: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard >= threshold via
    PREFIX FILTERING (the SSJoin/PPJoin candidate-pruning principle) —
    same answer as :func:`ngram_jaccard_pairs`, with the candidate join
    restricted to prefix postings. Measured regime (sf0.1, SCALE.md):
    ~10% slower than the plain posting join on unskewed thin posting
    lists (the ranking/dedup stages dominate), 4.1× faster under
    universal-boilerplate skew — prefix filtering is the EXACT
    alternative to the df-cap when fat posting lists appear: hot
    shingles never enter a prefix, yet Jaccard stays full-universe.

    Under any single global total order of shingles, if
    |A∩B| >= ceil(t·|A|) then the first |A| - ceil(t·|A|) + 1 shingles
    of A (in that order) must intersect B's prefix (pigeonhole) — and
    J(A,B) >= t implies |A∩B| >= t·max(|A|,|B|), so any qualifying pair
    shares at least one PREFIX shingle. Candidates therefore come from
    the self-join of per-doc prefixes only; verification is exact
    Jaccard restricted to candidates (the same semi-join-bounded path
    LSH verification uses, :func:`_pairwise_jaccard` ``restrict_to``).

    The global order is (document frequency ASC, shingle ASC) — the
    standard rare-first ordering, so prefixes hold each doc's RAREST
    shingles and the candidate join's per-shingle fan-out is minimal.
    The df ranking is one extra aggregation over the shingle table +
    a broadcast-friendly join; no global window is needed because the
    order is evaluated per-doc (window partitioned by doc id).
    Lossless by the theorem above — the corpus proves it by pairing
    this with the UNPRUNED all-pairs oracle. Prefix lengths use exact
    integer arithmetic: ceil(p·sz/q) = (p·sz + q - 1) DIV q with
    threshold = p/q (float ceil misrounds; same discipline as
    trimmed_mean). Compose with ``max_doc_freq``
    (:func:`drop_stop_shingles`) when boilerplate skew is possible —
    applied BEFORE ranking, so prefixes and Jaccard share the capped
    universe exactly like ngram_jaccard_capped. ``dfreq`` — optional
    precomputed per-shingle document frequencies (shingle, __df) over
    the SAME capped universe; the auto router passes its pre-pass
    aggregation so the plan doesn't aggregate the shingle table twice.
    ``shingles`` — optional precomputed shingle table over the SAME
    (df, n, cap) universe (the auto router pins and hands over its
    pre-pass shingles, saving a full tokenize pass).
    The shingle, prefix and candidate tables are pinned
    (``materialize.pin``) instead of re-evaluating their subtrees per
    consuming branch (shingles feed dfreq/ranked/sizes plus both verify
    posting sides; prefixes feed both candidate join sides) — guide
    §2.4.
    """
    from fractions import Fraction

    from pyspark.sql import Window

    # The fraction must sit on the SAFE side of the float threshold:
    # limit_denominator returns the CLOSEST bounded-denominator
    # fraction, which can round UP (e.g. float 0.2999... -> 3/10),
    # shortening prefixes and in principle dropping pairs whose Jaccard
    # falls in the [float(t), fr) gap. A fraction <= the float value
    # can only LENGTHEN prefixes (more candidates, never fewer), so
    # losslessness holds for every float threshold; the final
    # `jaccard >= threshold` filter restores the exact cut.
    exact = Fraction(threshold)  # exact binary value of the float
    fr = exact.limit_denominator(1_000_000)
    if fr > exact:
        fr = Fraction(math.floor(exact * 1_000_000), 1_000_000)
    if shingles is None:
        sh = word_shingles(scan_parallelism_floor(df), id_col, text_col, n)
        if max_doc_freq is not None:
            sh = drop_stop_shingles(sh, max_doc_freq)
        sh = pin(sh)
    else:
        sh = shingles
    if dfreq is None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    ranked = sh.join(dfreq, "shingle").withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy("__df", "shingle")
        ),
    )
    sizes = pin(sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz")))
    pref = pin(
        ranked.join(sizes, id_col)
        .filter(
            F.col("__rn")
            <= F.col("__sz")
            - F.expr(f"(__sz * {fr.numerator} + {fr.denominator} - 1) "
                     f"DIV {fr.denominator}")
            + F.lit(1)
        )
        .select(F.col(id_col), "shingle")
    )
    cands = pin(
        pref.select(F.col(id_col).alias("id_a"), "shingle")
        .join(pref.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _pairwise_jaccard(sh, id_col, restrict_to=cands, sizes=sizes).filter(
        F.col("jaccard") >= threshold
    )


def minhash_signatures(
    shingles: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per document via ONE md5 per shingle plus a
    universal-hash family: two 28-bit integers h1, h2 from the md5 hex,
    then mh_i = min((a_i*h1 + b_i*h2 + c_i) mod P) — the standard
    multiply-add permutation family. k times fewer md5 evaluations than
    hashing per seed (the md5 is the dominant per-row cost), and every
    step is integer arithmetic plain SQL reproduces bit-for-bit.

    Also emits the per-doc shingle count (``__sz``) — free in the same
    pass and reused by the verify stage's Jaccard denominators."""
    hashed = shingles.select(
        F.col(id_col), F.md5(F.col("shingle")).alias("__fp")
    ).select(
        F.col(id_col),
        F.conv(F.substring("__fp", 1, 7), 16, 10).cast("bigint").alias("__h1"),
        F.conv(F.substring("__fp", 8, 7), 16, 10).cast("bigint").alias("__h2"),
    )
    h1, h2 = F.col("__h1"), F.col("__h2")
    return hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * h1 + F.lit(b) * h2 + F.lit(c)) % MINHASH_P).alias(f"mh_{i}")
            for i, (a, b, c) in enumerate(minhash_coeffs(num_hashes))
        ],
        F.count(F.lit(1)).alias("__sz"),
    )


def _band_keys(
    sig: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Signatures → (id, band, key) LSH bucket rows: md5 band keys over
    each band's concatenated minhashes. Pure per-row projection — no
    shuffle — so callers can filter the result map-side (the
    incremental path broadcast-prunes the base index's rows to the
    batch's keys before anything wide happens)."""
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("key"))
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("b")
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.key").alias("key"))


def _cap_hot_buckets(buckets: DataFrame, max_bucket_size: int) -> DataFrame:
    """Hot-bucket skew guard: drop every (band, key) bucket with more
    members than the cap via a broadcast anti-join BEFORE pair
    expansion — a bucket of m docs emits m(m-1)/2 candidate pairs, so
    one degenerate band key is a quadratic blowup. Extra columns on
    ``buckets`` (e.g. the incremental path's batch tag) pass through."""
    hot = (
        buckets.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
        .select("band", "key")
    )
    return buckets.join(F.broadcast(hot), ["band", "key"], "left_anti")


def _band_buckets(
    sig: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Signatures → capped (id, band, key) LSH bucket rows
    (:func:`_band_keys` + :func:`_cap_hot_buckets`). Shared by the full
    and incremental pair finders so the banding/cap semantics — which
    the SQL oracles mirror — live in exactly one place."""
    buckets = _band_keys(sig, id_col, bands, rows_per_band)
    if max_bucket_size is not None:
        buckets = _cap_hot_buckets(buckets, max_bucket_size)
    return buckets


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    Pipeline: shingles → signatures → band keys (md5 of each band's
    concatenated minhashes) → self-join on (band_idx, band_key) →
    distinct candidate pairs → exact-Jaccard verify >= threshold.

    Scale: candidates are produced by an equi-join on band keys, so cost
    follows collision volume (controlled by rows-per-band = k/b), never
    all-pairs. The verify step restricts the shingle posting lists to
    candidate pair members (semi-join) before the pairwise intersection,
    so its cost also follows candidate volume (asserted in
    tests/test_operators.py).

    Skew guards: ``max_doc_freq`` drops stop-shingles before signatures
    (:func:`drop_stop_shingles` — boilerplate shared by every doc would
    otherwise dominate the minhashes AND the verify join);
    ``max_bucket_size`` skips LSH buckets with more members than the cap
    before pair expansion — a bucket of m docs emits m(m-1)/2 candidate
    pairs, so one degenerate band key (near-identical boilerplate corpus)
    is a quadratic blowup. Both hot lists are tiny → broadcast anti-join,
    no extra shuffle. Cost: recall loss only on groups larger than the
    cap, which at threshold-grade similarity are better handled by exact
    dedup first.

    The shingle, signature and candidate-pair tables are pinned
    (``materialize.pin``) instead of re-evaluating their subtrees per
    consuming branch (shingles feed the signature aggregation plus both
    verify posting sides; candidates feed both member semi-joins plus
    the pair restrict) — measured ~1.9x at sf0.1 with identical output.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    rows_per_band = num_hashes // bands
    sh = word_shingles(scan_parallelism_floor(df), id_col, text_col, n)
    if max_doc_freq is not None:
        sh = drop_stop_shingles(sh, max_doc_freq)
    sh = pin(sh)
    # one narrow row per doc, consumed by both bucket join sides and the
    # verify denominators — pin so the 16-min aggregation runs once
    sig = pin(minhash_signatures(sh, id_col, num_hashes))

    buckets = _band_buckets(sig, id_col, bands, rows_per_band, max_bucket_size)

    l = buckets.select(F.col(id_col).alias("id_a"), "band", "key")
    r = buckets.select(F.col(id_col).alias("id_b"), "band", "key")
    candidates = pin(
        l.join(r, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    exact = _pairwise_jaccard(
        sh,
        id_col,
        restrict_to=candidates,
        sizes=sig.select(id_col, "__sz"),
    )
    return exact.filter(F.col("jaccard") >= threshold)


#: Measured switch point for the auto near-dup router, in expected
#: candidate pairs per document (posting-list collision mass / n_docs).
#: Calibrated on the driver corpus (SCALE.md §17/§18): the exact
#: prefix-filtered SSJoin is the faster path through sf0.1
#: (253 cand/doc, 4.3 s vs capped LSH 3.1 s — comparable) but loses
#: decisively by sf1 on a saturated vocabulary (~1,000 cand/doc:
#: candidates 50.7M, wall alpha 1.11 rising to 1.68 at sf2, while
#: capped LSH holds alpha 0.62). 512 sits between the two measured
#: regimes.
AUTO_SWITCH_CANDIDATES_PER_DOC = 512


#: Sampled pre-pass engages at this corpus size: below it the full
#: statistic is cheap AND small samples would be noisy; above it the
#: ~10% deterministic sample cuts the pre-pass shuffle ~10x. The
#: measured round-12 overhead that motivated it: the full pre-pass cost
#: 7.4 s at ov-sf1 / 14.8 s at ov-sf2 — ~40% of the routed wall when
#: the route is lsh (whose path cannot reuse the df aggregation).
ROUTE_SAMPLE_MIN_DOCS = 20_000
ROUTE_SAMPLE_BUCKETS = 1_000  # of sampling.BUCKETS (10_000) -> 10%


def dedup_route(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_doc_freq: int | None = None,
    switch_candidates_per_doc: float = AUTO_SWITCH_CANDIDATES_PER_DOC,
    return_dfreq: bool = False,
    sample_min_docs: int = ROUTE_SAMPLE_MIN_DOCS,
    sample_buckets: int = ROUTE_SAMPLE_BUCKETS,
    return_shingles: bool = False,
) -> tuple:
    """One cheap pre-pass deciding exact-prefix-join vs capped-LSH.

    Statistic: posting-list collision mass Σ_shingle df·(df−1)/2 — the
    exact output size of the unpruned posting self-join and an upper
    bound on any exact SSJoin's candidate volume — normalized per
    document. On an OPEN vocabulary (real corpora: vocabulary grows
    with n, document frequencies stay O(1)) the mass grows ~linearly in
    n_docs and the per-doc statistic is flat, so the exact prefix join
    stays the winner at any scale; on a CLOSED/saturated vocabulary
    (boilerplate-heavy crawls, the driver corpus's 31-token generator)
    df grows with n_docs, the mass goes quadratic, and the per-doc
    statistic crosses the measured switch point — route to LSH, whose
    cost follows band-collision volume instead.

    Cost: one groupBy over the shingle table + a scalar aggregate —
    at small corpora the same df aggregation the prefix path must run
    anyway for its rare-first ordering. At ``sample_min_docs`` and
    above (default 20k) the statistic is computed on a DETERMINISTIC
    ~10% doc sample (md5 hash bucket, salt "route" — same corpus →
    same sample → same route, on any engine): round 12 measured the
    full pre-pass at ~40% of the routed wall once the route is lsh
    (whose path cannot reuse the df table), and the sampled statistic
    is UNBIASED for the collision mass — each unordered doc pair
    collides in the sample iff both docs are sampled, so
    E[mass_sample] ≈ (n_s/n)²·mass (hypergeometric; the (n_s−1)/(n−1)
    vs n_s/n slack is negligible at ≥20k docs), with low relative
    variance exactly on the fat-df head that dominates the mass. The
    boundary compare is EXACT integer arithmetic on the unified form

        mass_sample · n_docs · q  ≤  p · n_sample²
        (switch = p/q exact; n_sample = n_docs when unsampled,
        which reduces to the old mass ≤ switch·n_docs)

    evaluated driver-side in Python bigints (no 64-bit overflow at any
    scale); the SQL twin mirrors it in HUGEINT. Sampling can only flip
    the decision within estimator noise OF THE BOUNDARY — the measured
    regimes sit ~2x away on either side (253 vs 617 cand/doc). With
    ``max_doc_freq`` set and sampling engaged, the cap is SCALED to the
    sample rate (max(1, cap·sample_buckets//BUCKETS)) so the statistic
    sees the same effective stop-shingle cut as the routed paths (it
    gates only this statistic, never the routed paths' own caps). The
    only driver-side actions are two counts and a 1-row collect.

    Returns ``(route, stats)`` with route in {"prefix", "lsh"} and the
    stats dict carrying the measured quantities for logging/tests.

    With ``return_shingles`` the returned shingle table is a pin whose
    ownership passes to the caller, under the sole-owner rule of
    ``materialize.release``: once the caller releases it, neither that
    handle nor any frame built on it may be used again."""
    from fractions import Fraction

    from financial_data_lakehouse_pipeline__spark.operators import sampling

    n_docs = df.count()
    sampled = (
        n_docs >= sample_min_docs and sample_buckets < sampling.BUCKETS
    )
    src = df
    if sampled:
        src = df.filter(
            sampling.hash_bucket(F.col(id_col), salt="route")
            < sample_buckets
        )
    sh = word_shingles(scan_parallelism_floor(src), id_col, text_col, n)
    # Unsampled, the pre-pass shingle table IS the routed prefix path's
    # input — pin it once so the statistic's aggregation and the routed
    # path share one tokenize pass instead of two (returned via
    # ``return_shingles``; a SAMPLED table must never be reused — it
    # would silently drop unsampled postings from the routed path).
    reusable = return_shingles and not sampled
    if max_doc_freq is not None:
        # With sampling engaged, document frequencies are ~10% of the
        # full-corpus values — scale the stop-shingle cap accordingly so
        # the routing statistic sees the SAME effective cap as the
        # routed paths (an unscaled cap would be 10x looser here and
        # skew the statistic toward 'lsh'; ADVICE r12).
        cap = max_doc_freq
        if sampled:
            cap = max(1, max_doc_freq * sample_buckets // sampling.BUCKETS)
        sh = drop_stop_shingles(sh, cap)
    if reusable:
        sh = pin(sh)  # post-cap: both consumers need the capped universe
    dfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    # DECIMAL(38,0) mass, mirroring the oracle twin's HUGEINT: a
    # 64-bit SUM would silently wrap (ANSI off) at extreme saturated
    # vocabularies and flip the route to 'prefix' exactly where LSH is
    # required; df*(df-1) is even so DIV 2 is exact (ADVICE r12).
    row = dfreq.agg(
        F.coalesce(
            F.sum(F.expr("CAST(__df AS DECIMAL(38,0)) * (__df - 1) DIV 2")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("collision_mass"),
        F.count(F.lit(1)).alias("distinct_shingles"),
        F.coalesce(F.sum("__df"), F.lit(0)).alias("postings"),
    ).collect()[0]
    n_sample = src.count() if sampled else n_docs
    mass = int(row["collision_mass"])
    # exact binary value of the float switch -> exact integer compare
    fr = Fraction(float(switch_candidates_per_doc))
    at_or_below = (
        mass * max(n_docs, 1) * fr.denominator
        <= fr.numerator * max(n_sample, 1) ** 2
    )
    route = "prefix" if at_or_below else "lsh"
    cand_per_doc = (
        mass * max(n_docs, 1) / max(n_sample, 1) ** 2
    )  # estimate == exact value when unsampled
    stats = {
        "n_docs": n_docs,
        "sampled": sampled,
        "n_sample": n_sample,
        "distinct_shingles": row["distinct_shingles"],
        "postings": row["postings"],
        "collision_mass": mass,
        "candidates_per_doc": cand_per_doc,
        "switch": switch_candidates_per_doc,
    }
    out = [route, stats]
    if return_dfreq:
        # let the prefix path reuse the rare-first ranking's df table
        # instead of aggregating the shingle table a second time —
        # ONLY when it covers the full corpus: a sampled dfreq would
        # inner-join away unsampled shingles inside the prefix ranking
        # and silently break losslessness
        out.append(None if sampled else dfreq)
    if return_shingles:
        # same full-corpus-only rule as dfreq; the pinned table saves
        # the routed prefix path its whole tokenize pass
        out.append(None if sampled else sh)
    return tuple(out)


def similar_pairs_auto(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = 50,
    switch_candidates_per_doc: float = AUTO_SWITCH_CANDIDATES_PER_DOC,
) -> DataFrame:
    """Near-dup pairs with the execution path picked FROM THE DATA:
    :func:`dedup_route`'s collision-mass pre-pass routes to the exact
    prefix-filtered SSJoin (:func:`prefix_filter_jaccard_pairs` —
    lossless, the winner while candidate volume is bounded) or to
    capped MinHash-LSH (:func:`minhash_lsh_pairs` — collision-bounded,
    the only survivor once a saturated shingle vocabulary sends exact
    candidate volume quadratic). Same output schema either way
    (id_a, id_b, jaccard; jaccard ≥ threshold, exact-verified).

    This is the operational answer to SCALE.md §17's sf2 finding: the
    engine, not the caller, now picks the path at the measured switch
    point."""
    route, _stats, dfreq, shingles = dedup_route(
        df, id_col, text_col, n,
        max_doc_freq=max_doc_freq,
        switch_candidates_per_doc=switch_candidates_per_doc,
        return_dfreq=True,
        return_shingles=True,
    )
    # this call is the sole owner of the pinned ``shingles``: on the
    # prefix route they are handed on inside the returned plan (so never
    # released here), on the lsh route nothing else holds them
    if route == "prefix":
        return prefix_filter_jaccard_pairs(
            df, id_col, text_col, n, threshold, max_doc_freq=max_doc_freq,
            dfreq=dfreq, shingles=shingles,
        )
    if shingles is not None:
        # the routing collect force-materialized the pre-pass shingle
        # pin, but the LSH path never reads it (minhash_lsh_pairs
        # tokenizes and pins its own capped universe) — free the blocks
        # instead of leaking them until driver GC (ADVICE r13)
        release(shingles)
    return minhash_lsh_pairs(
        df, id_col, text_col, n,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
        max_doc_freq=max_doc_freq, max_bucket_size=max_bucket_size,
    )


def duplicate_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every document
    gets the MINIMUM reachable id as its cluster_id, plus an
    is_representative flag (the survivor a dedup pipeline keeps).

    Min-label propagation: each iteration joins labels across edges and
    takes the elementwise min, until a fixpoint — the standard Spark
    formulation (same shape GraphX/GraphFrames connected components use).
    Iterations needed = graph diameter; near-dup clusters are small and
    dense, so convergence is fast. Each iteration localCheckpoints the
    label table: without it the plan lineage doubles per iteration and
    the job dies on analysis time long before data size matters.

    Driver involvement is one convergence-count action per iteration —
    O(diameter) tiny actions, not per-row driver work.
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # pin: every iteration's neighbor join re-references the edge
    # lineage — without materialization the whole upstream pair-finding
    # DAG (LSH at minimum) re-executes once per iteration (guide §2.4);
    # the edge list is pair-volume-bounded at any scale
    edges = pin(
        edges.unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        ).distinct()
    )
    labels = df.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    # lazy: the per-iteration convergence count is the forcing action
    labels = labels.localCheckpoint(eager=False)
    for _ in range(max_iterations):
        nbr_min = (
            edges.join(labels, edges.dst == labels[id_col])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("__nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels[id_col] == nbr_min.src, "left")
            .select(
                F.col(id_col),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("__nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), id_col)
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        # the count above materialized new_labels' checkpoint, so the
        # PREVIOUS round's label blocks can never be referenced again —
        # free them now instead of waiting on driver GC (ADVICE r13;
        # unbounded residency across a long loop otherwise)
        release(labels)
        labels = new_labels
        if changed == 0:
            break
    # the surviving labels are materialized (the convergence count ran
    # over them), so the edge pin is fully consumed too
    release(edges)
    return labels.withColumn(
        "is_representative", F.col(id_col) == F.col("cluster_id")
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash fingerprint: bit j is set when the majority of token hashes
    have bit j set. Uses the first 15 hex chars of md5 (60 bits) so up to
    60-bit fingerprints stay portable. One explode + groupBy pass.

    Aggregates SUM of the raw bit plus one COUNT, testing ``2·c_j > n``
    — identical to the textbook sign-of-±1-sums (2c−n > 0) but ~2.7×
    faster (measured 3.4s → 1.25s at sf0.1): a plain integer sum stays in
    codegen's fast path where per-bit CASE branches do not.
    """
    if bits > 60:
        raise ValueError("bits must be <= 60 (md5 15-hex-digit prefix)")
    toks = scan_parallelism_floor(df).select(
        F.col(id_col),
        F.explode(tokens(canonical_text(F.col(text_col)))).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint"))
    bit_counts = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"__c{j}")
            for j in range(bits)
        ],
    )
    fp = F.lit(0).cast("bigint")
    for j in range(bits):
        fp = fp + F.when(
            F.col(f"__c{j}") * 2 > F.col("__n"), F.lit(2 ** j).cast("bigint")
        ).otherwise(0)
    return bit_counts.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Joins on bit-block bands (pigeonhole: distance <= d → some block of
    the fingerprint split into d+1 blocks matches exactly), then verifies
    with bit_count(xor) — equi-join + filter, never all-pairs.

    The per-doc fingerprint table is pinned so the token
    explode + per-bit popcount aggregation runs once instead of once per
    candidate join side (was 2 full scans+aggregations, guide §2.4).
    """
    s = pin(simhash(df, id_col, text_col, bits))
    blocks = max_hamming + 1
    width = bits // blocks or 1
    # Explode each fingerprint into (block_idx, block_value) rows and
    # self-join ONCE on both — equivalent to unioning a join per block
    # (a pair matches iff some block agrees) but one join instead of
    # ``blocks`` joins, so the plan has a single candidate shuffle and the
    # simhash aggregation is computed once per side, not per block.
    block_structs = [
        F.struct(
            F.lit(i).alias("bi"),
            F.shiftright(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("bv"),
        )
        for i in range(blocks)
    ]
    sb = s.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*block_structs)).alias("b")
    ).select(id_col, "simhash", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    l = sb.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "bi", "bv"
    )
    r = sb.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "bi", "bv"
    )
    return (
        l.join(r, ["bi", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    broadcast_eval: bool = True,
    bloom_prefilter: bool = False,
    bloom_num_bits: int = 1 << 16,
    bloom_k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    n-grams with an evaluation set (the GPT-3/PaLM-style n-gram overlap
    check run before any corpus ships).

    Output, one row per CONTAMINATED train doc: ``n_shared_shingles``
    (distinct overlapping n-grams), ``n_eval_docs_matched``, and
    ``contaminated_frac`` (shared / train doc's total distinct n-grams).

    Shape at scale: eval sets are tiny next to a 100 TB corpus, so the
    eval shingle table is broadcast — the train side never shuffles for
    the probe; the only shuffle is the per-train-doc aggregation. Set
    ``broadcast_eval=False`` if the eval set is itself huge (falls back
    to a shuffle equi-join on shingle). ``bloom_prefilter`` adds the
    sketch fast path for that regime: a Bloom filter over the eval
    shingles (num_bits/8 bytes however large the eval set is) drops
    certainly-absent train shingles BEFORE the join — no false
    negatives, so the report is bit-identical; only the maybe-present
    tail reaches the exact equi-join.
    """
    from financial_data_lakehouse_pipeline__spark.operators import sketches

    tr = word_shingles(scan_parallelism_floor(train), id_col, text_col, n)
    ev = (
        word_shingles(eval_df, id_col, text_col, n)
        .withColumnRenamed(id_col, "__eval_id")
    )
    tr_probe = tr
    if bloom_prefilter:
        bits = sketches.bloom_bits(ev, "shingle", bloom_num_bits, bloom_k)
        maybe = sketches.bloom_maybe_contains(
            bits, tr.select("shingle").distinct(), "shingle",
            bloom_num_bits, bloom_k,
        ).filter(F.col("maybe_present"))
        tr_probe = tr.join(
            F.broadcast(maybe.select("shingle")), "shingle", "left_semi"
        )
    if broadcast_eval:
        ev = F.broadcast(ev)
    matched = (
        tr_probe.join(ev, "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("__eval_id").alias("n_eval_docs_matched"),
        )
    )
    sizes = tr.groupBy(id_col).agg(F.count(F.lit(1)).alias("__total"))
    return matched.join(sizes, id_col).select(
        id_col,
        "n_shared_shingles",
        "n_eval_docs_matched",
        (F.col("n_shared_shingles").cast("double") / F.col("__total")).alias(
            "contaminated_frac"
        ),
    )


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """End-to-end near-dup REMOVAL: cluster the pair graph
    (duplicate_clusters) and keep only each cluster's representative
    (minimum id) — the final filter a training-corpus dedup pipeline
    applies after pair finding. Docs in no pair survive untouched.

    The survivor set joins back as a LEFT SEMI join on the id — the
    document payload (text, binaries) never enters the clustering
    shuffles; only ids and labels do.
    """
    clusters = duplicate_clusters(df, pairs, id_col, max_iterations)
    keep = clusters.filter(F.col("is_representative")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by shingle CONTAINMENT (overlap
    coefficient): |A∩B| / min(|A|, |B|) >= threshold — the asymmetric
    complement to Jaccard: a short document embedded verbatim in a much
    longer one has low Jaccard (the union is huge) but containment ~1,
    which is exactly the quote/excerpt/boilerplate-inclusion duplicate
    class LLM-corpus dedup needs to catch. Same inverted-index join
    cost shape as :func:`ngram_jaccard_pairs` (posting-list equi-join,
    optional df cap for skew); the only change is the denominator.
    Output: (id_a, id_b, containment), id_a < id_b.
    """
    sh = word_shingles(scan_parallelism_floor(df), id_col, text_col, n)
    if max_doc_freq is not None:
        sh = drop_stop_shingles(sh, max_doc_freq)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    return (
        common.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__sz_b")),
            "id_b",
        )
        .withColumn(
            "containment",
            guarded_div(
                F.col("__common").cast("double"),
                F.least(F.col("__sz_a"), F.col("__sz_b")).cast("double"),
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 6,
    min_docs: int = 2,
    k: int = 20,
) -> DataFrame:
    """Cross-document repeated n-gram spans — the substring-level dedup
    diagnostic (Lee et al., "Deduplicating Training Data Makes Language
    Models Better"): word n-grams occurring in at least ``min_docs``
    DISTINCT documents, top-k by document count. Surfaces boilerplate,
    licenses, templates and mirrored passages that document-level
    near-dup misses because the containing docs differ.

    Plan shape: :func:`word_shingles` (distinct per doc) → one
    span-keyed groupBy whose state is three bounded values per span
    (count + min/max example ids — never a per-span doc list, which a
    hot license span would grow unboundedly) → TakeOrderedAndProject
    heap for the top-k. Ties break (n_docs DESC, span ASC).

    Output: (span, n_docs, min_doc, max_doc).
    """
    sh = word_shingles(scan_parallelism_floor(df), id_col, text_col, n)
    agg = (
        sh.groupBy(F.col("shingle").alias("span"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(id_col).alias("min_doc"),
            F.max(id_col).alias("max_doc"),
        )
        .filter(F.col("n_docs") >= int(min_docs))
    )
    return agg.orderBy(F.col("n_docs").desc(), F.col("span")).limit(int(k))


def linkage_scores(
    pairs: DataFrame,
    fields: Sequence[tuple[str, Column, float, float]],
    out: str = "linkage_score",
) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring over candidate pairs —
    the probabilistic ER layer above blocking: each comparison field
    contributes ln(m/u) when its agreement predicate holds and
    ln((1−m)/(1−u)) when it does not (m = P(agree | match), u =
    P(agree | non-match)); the pair's score is the sum, and a
    threshold on it is the match decision.

    ``fields`` is a list of (name, agreement_predicate, m, u). The
    per-field log-odds are Python-computed constants embedded as
    literals, and the score is a FIXED left-to-right sum of a
    when-chain — bit-identical cross-engine (the oracle embeds the
    repr() of the same constants), so no rounding is needed. A
    NULL-valued predicate counts as disagreement (when/otherwise).

    Scale: pure projection over the (already blocked) candidate-pair
    table — the quadratic risk lives in the caller's blocking, not
    here. Also emits one boolean agreement column per field for audit.

    Output: pairs + (agree_<name>... , linkage_score).
    """
    if not fields:
        raise ValueError("linkage_scores needs at least one comparison field")
    score: Column | None = None
    withcols: dict[str, Column] = {}
    for name, pred, m, u in fields:
        agree_w = math.log(m / u)
        disagree_w = math.log((1.0 - m) / (1.0 - u))
        withcols[f"agree_{name}"] = F.coalesce(pred, F.lit(False))
        term = F.when(pred, F.lit(agree_w)).otherwise(F.lit(disagree_w))
        score = term if score is None else score + term
    return pairs.withColumns({**withcols, out: score})


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """The stored-index halves of the incremental-dedup contract:
    ``(shingles, signatures)`` for a corpus, meant to be WRITTEN ONCE
    (parquet, partitioned/bucketed by the id) and read back by every
    subsequent :func:`incremental_minhash_pairs` call — so nightly
    ingest never re-hashes the historical corpus. Append each batch's
    own index rows after it commits to keep the index current. For the
    optional third index table (precomputed LSH bucket rows, skipping
    the per-batch band-key recompute too) see
    :func:`minhash_band_buckets`."""
    sh = word_shingles(scan_parallelism_floor(df), id_col, text_col, n)
    return sh, minhash_signatures(sh, id_col, num_hashes)


def minhash_band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH bucket rows (id, band, key) for a signature table — the
    OPTIONAL third member of the stored incremental-dedup index: write
    it once next to the :func:`minhash_index` tables and pass it to
    :func:`incremental_minhash_pairs` as ``base_buckets`` so each batch
    reads precomputed band keys instead of re-hashing ``bands`` md5
    keys per base signature row per batch. Must be built with the SAME
    ``num_hashes``/``bands`` the pair finder is called with (band keys
    embed the banding layout; the pair finder cannot validate this)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    return _band_keys(signatures, id_col, bands, num_hashes // bands)


def incremental_minhash_pairs(
    base: DataFrame | None,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    base_shingles: DataFrame | None = None,
    base_signatures: DataFrame | None = None,
    base_buckets: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for a NEW batch against an EXISTING corpus — the
    nightly-ingest shape of dedup at 100 TB: the historical corpus was
    already deduplicated, so base x base pairs are known (empty) and
    must never be re-derived. Only pairs touching the incoming batch
    (incoming x base and incoming x incoming) are candidates.

    Pipeline: shingles/signatures for the incoming batch, the base
    side's either recomputed from ``base`` (raw documents) or — the
    production path — read from a STORED index built once with
    :func:`minhash_index` (pass ``base_shingles`` + ``base_signatures``;
    ``base`` may then be None, and the historical corpus is never
    re-hashed).

    The plan is BATCH-DRIVEN throughout (round 13; SCALE.md §19b
    measured the prior union-shaped plan at +92% per-batch wall over a
    22x base growth on open vocabularies — the slope was the base's
    linear terms, not the candidates): the batch's own (band, key) set
    (<= bands·|batch| rows) broadcasts, and the base index's bucket rows
    are PRUNED TO IT map-side before anything wide happens. Base rows in
    buckets the batch never touches — the overwhelming majority — never
    enter a shuffle; they could only have produced base x base pairs,
    which the old plan carried all the way to a post-join filter. The
    hot-bucket cap then counts members WITHIN the surviving buckets,
    which equals the full-union count on exactly those buckets, so the
    output is bit-identical to the old union-shaped plan (the SQL
    oracle twin needs no change) while no shuffle's width scales with
    the base. The pruned bucket table is pinned (``materialize.pin``)
    so its 4+ downstream consumers read one materialization instead of
    re-scanning the base index per branch; the verify stage broadcasts
    the candidate member ids (bounded by the batch's collision volume)
    so the base shingle/size index scans are map-side-filtered too.
    The batch-bounded tables are pinned too: the batch's own
    shingle/signature tables and the candidate-pair table, each
    otherwise re-derived once per consuming branch. Base-scale
    tables are NEVER pinned, on either path (round 14; ADVICE r13):
    pinning them wrote O(corpus) blocks per call — per micro-batch from
    the streaming sink — and the LogicalRDD barrier stopped the
    broadcast member filters from reaching the base scan. On the inline
    path the base signature aggregation streams once into the bucket
    pruning, and every other base reference is member-semi-join-pruned
    at the scan.

    Cost at scale: with |incoming| = d << |base| = N, per-batch work is
    O(d · collision volume) in every shuffle plus O(N) in pure columnar
    index SCANS (band-key projection + broadcast-filtered shingle/size
    lookups) — and nothing else; the old plan's O(N) SHUFFLES (bucket
    self-join, hot-bucket count, tag join, verify semi-joins) are gone.

    Output: (id_a, id_b, jaccard) with at least one side incoming.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    if (base_shingles is None) != (base_signatures is None):
        raise ValueError(
            "pass base_shingles and base_signatures together (one half "
            "of the stored index cannot substitute for the other)"
        )
    if base_shingles is None and base is None:
        raise ValueError("need either base documents or a stored index")
    if base_buckets is not None and base_signatures is None:
        raise ValueError(
            "base_buckets extends the stored index — it requires "
            "base_shingles/base_signatures (build all three with "
            "minhash_index + minhash_band_buckets)"
        )
    rows_per_band = num_hashes // bands
    # An incoming id that ALREADY EXISTS in base is not a new document —
    # without this guard its shingle/signature rows would double up
    # (corrupting every Jaccard involving it) and the id_a < id_b
    # candidate filter would hide the self-pair, so a re-sent exact
    # duplicate would slip through dedup entirely (at-least-once
    # upstreams re-emit docs; this is the operator's contract, not just
    # the sink's). The corpus copy wins; the re-sent row is dropped.
    base_ids = (
        base.select(id_col) if base is not None
        else base_signatures.select(id_col)
    )
    # Membership test without an O(N) shuffle: probing the base id
    # column with the BROADCAST batch id set turns the check into a
    # map-side filter over a single-column index scan, and the hit
    # list that comes back is batch-bounded, so the anti-join against
    # it broadcasts too (a plain left_anti would sort-merge all N base
    # ids per batch).
    inc_ids = incoming.select(id_col).distinct()
    existing = base_ids.join(F.broadcast(inc_ids), id_col, "left_semi")
    incoming = incoming.join(F.broadcast(existing), id_col, "left_anti")
    # Batch-side tables are batch-bounded at any scale and consumed by
    # 2-3 branches each (shingles: the union's verify sides; signatures:
    # band keys + the union's sizes) — pin so the batch tokenizes and
    # aggregates once.
    sh_inc = word_shingles(
        scan_parallelism_floor(incoming.select(id_col, text_col)),
        id_col, text_col, n,
    )
    sh_inc = pin(sh_inc)
    sig_inc = pin(minhash_signatures(sh_inc, id_col, num_hashes))
    if base_shingles is not None:
        # stored-index path: base tables come straight off parquet —
        # NEVER pin base-scale data (the scans are the cheap part; a
        # second copy in executor storage is not). The stored signature
        # table carries __sz, so the verify denominators are a
        # broadcast-member-filtered column read, no aggregation.
        sh_base, sig_base = base_shingles, base_signatures
        sizes = sig_base.unionByName(sig_inc).select(id_col, "__sz")
    else:
        # inline path (no stored index): round 13 pinned the base
        # shingle/signature tables here — that materializes O(corpus)
        # blocks per call (the streaming sink pays it per micro-batch)
        # and the LogicalRDD barrier BLOCKS the broadcast member
        # filters from pushing into the base scan, defeating the
        # batch-driven design (ADVICE r13). Round 14: NO base-scale
        # pins. The base signature aggregation streams once into the
        # bucket pruning (its only consumer); the verify posting sides
        # and the size denominators tokenize only candidate-MEMBER base
        # docs (see the member pre-filter below — Catalyst does not push
        # a LeftSemi below Generate, so the doc-level filter is applied
        # by hand before the explode). sizes=None makes
        # _pairwise_jaccard aggregate the member-filtered union instead
        # of forcing a second full base signature pass.
        sh_base = word_shingles(
            scan_parallelism_floor(base.select(id_col, text_col)),
            id_col, text_col, n,
        )
        sig_base = minhash_signatures(sh_base, id_col, num_hashes)
        sizes = None
    sh = sh_base.unionByName(sh_inc)

    # batch-driven bucket pruning: broadcast the batch's key set and
    # keep only base bucket rows in buckets the batch touches — the
    # batch tag is a literal per side, no tag join needed
    b_inc = _band_keys(sig_inc, id_col, bands, rows_per_band)
    keys_inc = b_inc.select("band", "key").distinct()
    # base band keys: precomputed index table when stored (amortizes
    # the per-batch bands·N md5 recompute into the index build), else
    # derived from the signatures — either way pruned map-side by the
    # broadcast batch-key set before anything wide
    b_base_raw = (
        base_buckets.select(id_col, "band", "key")
        if base_buckets is not None
        else _band_keys(sig_base, id_col, bands, rows_per_band)
    )
    b_base = b_base_raw.join(
        F.broadcast(keys_inc), ["band", "key"], "left_semi"
    )
    buckets = (
        b_base.withColumn("__is_new", F.lit(False))
        .unionByName(b_inc.withColumn("__is_new", F.lit(True)))
    )
    if max_bucket_size is not None:
        buckets = _cap_hot_buckets(buckets, max_bucket_size)
    # lazy (was an EAGER checkpoint through round 13 — one redundant
    # materialization job per call; the candidate self-join is the
    # forcing action and both its sides read the same blocks)
    buckets = pin(buckets)
    l = buckets.select(
        F.col(id_col).alias("id_a"), "band", "key", F.col("__is_new").alias("__new_a")
    )
    r = buckets.select(
        F.col(id_col).alias("id_b"), "band", "key", F.col("__is_new").alias("__new_b")
    )
    # candidate pairs are batch-collision-bounded and consumed by three
    # branches (both member id sets + the pair restrict) — pin so the
    # bucket self-join runs once
    candidates = pin(
        l.join(r, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("__new_a") | F.col("__new_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if base_shingles is None:
        # Manual member pushdown for the inline base (round 14): the
        # verify/size branches only ever need postings of candidate
        # pair MEMBERS, but Catalyst does not push a LeftSemi below a
        # Generate, so _pairwise_jaccard's member semi-joins would land
        # ABOVE the explode and each branch would re-tokenize the FULL
        # base (measured: 3 extra full-corpus Generates in the plan).
        # Filtering the base DOCUMENTS by the broadcast (batch-bounded)
        # member id set BEFORE word_shingles moves the cut to the scan:
        # every verify-side re-derivation tokenizes member docs only.
        # The filtered table is itself member-bounded — collision
        # volume, not corpus — so pinning it for its three consumers
        # (both posting sides + the size denominators) is exactly the
        # batch-bounded materialization ADVICE r13 endorses.
        members = (
            candidates.select(F.col("id_a").alias(id_col))
            .unionByName(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sh_verify_base = pin(
            word_shingles(
                scan_parallelism_floor(
                    base.select(id_col, text_col).join(
                        F.broadcast(members), id_col, "left_semi"
                    )
                ),
                id_col, text_col, n,
            )
        )
        sh = sh_verify_base.unionByName(sh_inc)
    exact = _pairwise_jaccard(
        sh, id_col, restrict_to=candidates, sizes=sizes,
        broadcast_members=True,
    )
    return exact.filter(F.col("jaccard") >= threshold)


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    order_cols: list[str] | None = None,
    max_iterations: int = 20,
) -> DataFrame:
    """Near-dup survivor selection by QUALITY: within each pair-graph
    cluster keep the row winning (order_cols DESC, id ASC) — what a real
    curation pipeline keeps (the longest / highest-quality copy), where
    :func:`dedup_keep_canonical` keeps the arbitrary minimum id.

    Clusters come from :func:`duplicate_clusters` (min-label
    propagation); the winner is one row_number window per cluster.
    Only (id, cluster, order keys) enter the cluster/window shuffles —
    the document payload joins back by id at the end, so text/binary
    columns never shuffle. Docs in no pair form singleton clusters and
    survive untouched.

    Output: df's columns + cluster_id, one row per cluster.
    """
    from pyspark.sql import Window

    order_cols = order_cols or ["n_chars"]
    clusters = duplicate_clusters(df, pairs, id_col, max_iterations).select(
        id_col, "cluster_id"
    )
    slim = df.select(id_col, *order_cols).join(clusters, id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        *[F.col(c).desc() for c in order_cols], F.col(id_col).asc()
    )
    winners = (
        slim.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "cluster_id")
    )
    return df.join(winners, id_col)
