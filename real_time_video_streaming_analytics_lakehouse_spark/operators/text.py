"""Text-analysis operators over the ``documents`` table.

Large-scale-training-pipeline surface (BASELINE.json north star): token
counting, quality scoring, deterministic fingerprinting, n-gram Jaccard
near-dup pairs. Everything is built-in ``pyspark.sql.functions`` —
string/array higher-order functions compile into whole-stage codegen;
no Python touches the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import ensure_parallelism


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (array<string>)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


#: fixed stopword list for the stopword-ratio quality signal — a small
#: deterministic function-word set (the signal is the RATIO shape, not
#: linguistic completeness; swap per-language lists in at deployment)
_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on",
)


def add_text_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    extra=(),
) -> DataFrame:
    """Per-document quality features + quality bucket — the north-star
    quality-scoring surface (length / punctuation / stopword ratios).

    Columns: n_tokens, n_chars_measured, avg_token_len, vowel_ratio,
    punct_ratio (non-alphanumeric-non-space chars over chars),
    stopword_ratio (tokens in a fixed function-word list over tokens),
    quality. The bucket thresholds use the raw ratio so the DuckDB
    oracle lands on identical CASE branches. ``extra`` columns (names or
    Column expressions) are appended to the projection — so a caller
    can carry e.g. the label column or a token array through the SAME
    scan instead of re-reading the source.
    """
    t = tokens(text_col)
    text = F.col(text_col)
    n_tokens = F.size(t)
    n_chars = F.length(text)
    # Raw ratios of integer operands: both engines divide identical
    # BIGINTs, so the doubles match bit-for-bit — no rounding needed
    # (and rounding would reintroduce decimal-midpoint ambiguity).
    vowel_ratio = (
        n_chars - F.length(F.regexp_replace(text, "[aeiou]", ""))
    ) / n_chars.cast("double")
    avg_token_len = F.length(F.regexp_replace(text, r"\s+", "")) / n_tokens
    punct_ratio = F.length(
        F.regexp_replace(text, r"[a-zA-Z0-9\s]", "")
    ) / n_chars.cast("double")
    stopword_ratio = F.size(
        F.filter(t, lambda x: F.lower(x).isin(*_STOPWORDS))
    ) / n_tokens.cast("double")
    quality = (
        F.when((n_tokens >= 60) & (vowel_ratio > 0.25), "high")
        .when(n_tokens >= 30, "medium")
        .otherwise("low")
    )
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_measured"),
        avg_token_len.alias("avg_token_len"),
        vowel_ratio.alias("vowel_ratio"),
        punct_ratio.alias("punct_ratio"),
        stopword_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
        *[F.col(c) if isinstance(c, str) else c for c in extra],
    )


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    token_tf: DataFrame | None = None,
) -> DataFrame:
    """Gopher-style repetition quality signals (the
    repetition-filter family of Rae et al. 2021 §A1.1 / Dolma's
    quality taggers, standard in training-data curation and absent
    from the reference): per-document

    * ``n_distinct_tokens`` / ``dup_token_frac`` — duplicated-token
      mass (``1 - distinct/total``), the coarse boilerplate signal;
    * ``top_token_count`` — occurrences of the single most frequent
      token (mode count);
    * ``top_bigram_count`` — occurrences of the most frequent token
      bigram, the classic "top n-gram fraction" numerator.

    A curation pipeline thresholds these (e.g. drop docs whose top
    bigram exceeds 18% of bigrams); the operator emits the raw
    integer surfaces so thresholds stay caller policy and the DuckDB
    oracle can recompute them exactly.

    Scale shape: distinct/size are per-row array expressions (no
    shuffle); each mode is a two-level aggregate over exploded
    (id, gram) — map-side combinable, shuffles only the gram keys.
    Pass ``tokens_col`` to reuse an already-projected token array
    (the text_quality fold shares ONE scan's arrays across language
    ID, the bigram LM, and this).

    ``token_tf``: an already-aggregated per-(id, token)
    count frame with a ``tf`` column — the token mode is then
    ``max(tf)`` per id over it (the identical two-level aggregate)
    instead of this operator's own explode + count, so a caller
    computing several term-frequency families over one corpus
    (text_quality) shares ONE explode + aggregate across all of
    them. (The same sharing for the BIGRAM mode was tried and
    rejected: per-doc bigrams are mostly unique, so a shared
    per-(id, w1, w2) count frame dedupes nothing and materializing it
    costs more than the explode it saves — see the rejection note in
    plans/llm_ops.py::text_quality.)"""
    w = F.col(tokens_col) if tokens_col else tokens(text_col)
    base = df.select(F.col(id_col), w.alias("_rw"))
    proj = base.select(
        id_col,
        F.size("_rw").alias("_rn"),
        F.size(F.array_distinct("_rw")).alias("n_distinct_tokens"),
    )
    if token_tf is None:
        tok_mode = (
            base.select(id_col, F.explode("_rw").alias("_t"))
            .groupBy(id_col, "_t").count()
            .groupBy(id_col).agg(F.max("count").alias("top_token_count"))
        )
    else:
        tok_mode = token_tf.groupBy(id_col).agg(
            F.max("tf").alias("top_token_count")
        )
    big_mode = (
        base.select(
            id_col,
            F.explode(
                F.when(
                    F.size("_rw") >= 2,
                    F.zip_with(
                        F.slice("_rw", 1, F.size("_rw") - 1),
                        F.slice("_rw", 2, F.size("_rw") - 1),
                        lambda a, b: F.concat(a, F.lit(" "), b),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("_g"),
        )
        .groupBy(id_col, "_g").count()
        .groupBy(id_col).agg(F.max("count").alias("top_bigram_count"))
    )
    return (
        proj
        .join(tok_mode, id_col, "left_outer")
        .join(big_mode, id_col, "left_outer")
        .select(
            id_col,
            "n_distinct_tokens",
            (
                (F.col("_rn") - F.col("n_distinct_tokens"))
                / F.col("_rn").cast("double")
            ).alias("dup_token_frac"),
            F.coalesce(
                "top_token_count", F.lit(0).cast("long")
            ).alias("top_token_count"),
            F.coalesce(
                "top_bigram_count", F.lit(0).cast("long")
            ).alias("top_bigram_count"),
        )
    )


#: PII surface patterns, ordered — :func:`redact_pii` applies them in
#: declaration order, so the order is part of the contract (an email's
#: digits must not be half-eaten by the ipv4 rule first). Deliberately
#: in the Java-regex ∩ RE2 common subset (char classes, bounded
#: repeats, \b) so Spark and the DuckDB oracle match identically;
#: deployment-specific rules (IBANs, national ID formats) append here.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "[EMAIL]"),
    ("phone", r"\+\d{1,3}-\d{3}-\d{3}-\d{4}", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-pattern match counts (``{name: Column<int>}``) — the
    detection surface a curation pipeline aggregates for audit
    ("N docs contain emails") or thresholds for routing. JVM-side
    ``regexp_count``; no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        name: F.regexp_count(c, F.lit(pat))
        for name, pat, _ in PII_PATTERNS
    }


def redact_pii(col: Column | str) -> Column:
    """Text with every :data:`PII_PATTERNS` match replaced by its
    placeholder — chained JVM ``regexp_replace`` in declaration order
    (one projection, no UDF, codegen-friendly)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def tfidf_scores(
    words: DataFrame,
    n_docs: int,
    id_col: str = "doc_id",
    term_col: str = "w",
) -> DataFrame:
    """Per-(doc, term) TF-IDF over an exploded ``(id, term)`` frame:
    ``tf`` (in-doc occurrences), ``df`` (docs containing the term) and
    ``score = tf * ln(n_docs / df)`` — the relevance/keyword-extraction
    surface a curation pipeline uses for domain scoring and DSIR-style
    importance weighting (absent from the reference, whose analytics
    surface stops at raw event counts/aggregates; cf.
    /root/reference/spark-jobs/etl_framework.py:26,128).

    ``n_docs`` is an explicit parameter, not a hidden ``count()`` —
    catalog plans must stay collect/action-free at construction time
    (tests/test_plan_quality.py), and the caller usually already knows
    the corpus size or carries it from an earlier stage.

    Scale shape: two map-side-combinable aggregates — (id, term) tf then
    term df — and one equi-join on the term key (vocabulary-sized right
    side; AQE broadcasts it when small, hash-shuffles otherwise). No
    window, no driver action, no Python in the hot path."""
    tf = words.groupBy(id_col, term_col).agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy(term_col).agg(F.count("*").alias("df"))
    return tf.join(dfreq, term_col).select(
        id_col,
        term_col,
        "tf",
        "df",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias(
            "score"
        ),
    )


def bm25_term_stats(
    words: DataFrame | None,
    id_col: str = "doc_id",
    term_col: str = "w",
    tf: DataFrame | None = None,
) -> DataFrame:
    """The integer core of :func:`bm25_scores`: per-(doc, term) term
    frequency joined with corpus document frequency — ``(id, term, tf,
    df)``. Factored out so integer-only consumers (the driver-oracled
    ``text_quality`` BM25 arm) get exactly the tf/df inputs the scorer
    uses WITHOUT the doc-length branch and its 1-row broadcast avgdl
    attach (text_quality's plan pin forbids nested-loop joins, and an
    arm that doesn't emit the score shouldn't pay for dl/avgdl).

    ``tf``: an already-aggregated ``(id, term, tf)`` frame —
    callers that compute several term-frequency families over one
    corpus (text_quality) pass a shared materialized tf so this
    operator skips its own explode + aggregate; ``words`` is ignored
    (may be None) when given. Values are identical by construction:
    the skipped aggregate is exactly the one the caller ran.

    Scale shape: two map-side-combinable aggregates and one
    vocabulary-sized equi-join — identical to the tf/df stages of
    :func:`tfidf_scores`."""
    if tf is None:
        tf = words.groupBy(id_col, term_col).agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy(term_col).agg(F.count("*").alias("df"))
    return tf.join(dfreq, term_col)


def bm25_scores(
    words: DataFrame,
    n_docs: int,
    id_col: str = "doc_id",
    term_col: str = "w",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-(doc, term) Okapi BM25 weights over an exploded ``(id,
    term)`` frame — the doc-length-normalized relevance score a
    curation pipeline uses for query-driven domain selection (join a
    broadcast query-term list on ``term`` and sum per doc).

    ``score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` with
    the Lucene-style smoothed ``idf = ln(1 + (N - df + 0.5)/(df +
    0.5))``. ``n_docs`` is explicit for the same reason as
    :func:`tfidf_scores`; ``avgdl`` is NOT a parameter — it is the
    one-row global mean of per-doc lengths, attached as a broadcast
    cross join so the whole plan stays lazy (no driver action at
    construction, the 1x1-KPI attach pattern).

    Scale shape: tf/df aggregates as in :func:`tfidf_scores`, plus one
    (id)-keyed length aggregate re-joined on the id key and a 1-row
    broadcast. Floats stay caller-facing (thresholds/top-k), not
    catalog-hash-facing — ``ln`` is not hash-portable across engines.
    """
    dl = words.groupBy(id_col).agg(F.count("*").alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    return (
        bm25_term_stats(words, id_col=id_col, term_col=term_col)
        .join(dl, id_col)
        .crossJoin(F.broadcast(avgdl))
        .select(
            id_col,
            term_col,
            "tf",
            "df",
            "dl",
            (idf * F.col("tf") * (k1 + 1) / norm).alias("score"),
        )
    )


def bm25_select(
    words: DataFrame,
    query_terms: list[str],
    n_docs: int,
    top_k: int,
    id_col: str = "doc_id",
    term_col: str = "w",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``top_k`` documents by summed BM25 relevance to
    ``query_terms`` — the query-driven domain-selection step
    (DSIR-style "pick the corpus slice that looks like my target
    domain"). Returns ``(id, bm25)`` ordered by score descending,
    ties broken by ascending id (deterministic).

    Corpus statistics (df, avgdl) are computed over the FULL corpus
    before the query filter — filtering first would inflate idf and
    change avgdl. The query-term filter is a literal ``isin`` (JVM
    in-set predicate, pushed below the per-doc sum); the final top-k
    is a ``sort().limit()`` which Spark executes as TakeOrdered —
    per-partition heaps, no global sort shuffle. Catalyst pushes the
    term filter through both aggregate branches (safe: a term's df is
    unaffected by dropping OTHER terms' rows), so the per-term work
    runs over query terms only; the dl/avgdl branch has no term
    column and stays full-corpus, as the formula requires."""
    if not query_terms:
        raise ValueError("bm25_select: query_terms must be non-empty")
    scores = bm25_scores(
        words, n_docs, id_col=id_col, term_col=term_col, k1=k1, b=b
    )
    return (
        scores.filter(F.col(term_col).isin(*query_terms))
        .groupBy(id_col)
        .agg(F.sum("score").alias("bm25"))
        .sort(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def top_tfidf_term(
    words: DataFrame | None,
    id_col: str = "doc_id",
    term_col: str = "w",
    tf: DataFrame | None = None,
) -> DataFrame:
    """Each document's single most corpus-distinctive term, ranked by
    raw inverse document frequency ``tf / df`` (ties broken by the
    lexicographically GREATEST term, so the winner is a deterministic
    struct-max in both engines).

    The raw ``tf/df`` rank deliberately avoids ``ln``: the catalog
    oracle compares value hashes across Spark and DuckDB, and libm
    transcendentals are not bit-portable (same reason text_quality's
    bigram-LM arm emits integer surfaces). ``tf/df`` is one IEEE
    division of exact integers — bit-identical everywhere — and for the
    single-constant-corpus top-1 the log variant
    (:func:`tfidf_scores`, pinned closed-form in tests/test_operators.py)
    agrees whenever one term dominates both tf and rarity.

    Output: ``(id, top_tfidf_term, top_tfidf_tf, top_tfidf_df)``. A
    struct-max AGGREGATE, not a row_number window — max is map-side
    combinable, so the per-doc reduction partially aggregates before
    the shuffle instead of sorting whole partitions.

    ``tf``: same contract as :func:`bm25_term_stats` — an
    already-aggregated ``(id, term, tf)`` frame shared by the caller
    replaces this operator's own explode + aggregate; ``words`` is
    ignored (may be None) when given."""
    if tf is None:
        tf = words.groupBy(id_col, term_col).agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy(term_col).agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, term_col)
    best = F.max(
        F.struct(
            (F.col("tf") / F.col("df")).alias("s"),
            F.col(term_col).alias("t"),
            F.col("tf").alias("tf"),
            F.col("df").alias("df"),
        )
    ).alias("_m")
    return scored.groupBy(id_col).agg(best).select(
        id_col,
        F.col("_m.t").alias("top_tfidf_term"),
        F.col("_m.tf").alias("top_tfidf_tf"),
        F.col("_m.df").alias("top_tfidf_df"),
    )


def shingles(text: Column | str, size: int = 3) -> Column:
    """Distinct character n-gram shingles of ``text`` (array<string>).

    Windows are built by ``zip_with``-ing ``size-1`` shifted copies of
    the ``split(text, "")`` character array, not via per-offset
    ``substr``: UTF8 substring needs a linear scan to find a codepoint
    offset, so n ``substr(i, size)`` calls are O(n²) per document —
    measured as the dominant cost of the fingerprint surface. The
    shifted-zip formulation evaluates the split a CONSTANT number of
    times (an array expression inside a per-element lambda would
    re-evaluate per element — the equally-quadratic trap the first
    rewrite of this function fell into, caught by the noop-sink bench).
    Output is bit-identical to the substr version: split("") yields
    per-codepoint chars (substr's unit), the zip pads trailing windows
    exactly like substr's end-clamp, empty text still produces the
    single "" shingle via the same greatest(…, 1) clamp, and NULL text
    still yields the [NULL] array the null-safe consumers expect."""
    c = F.col(text) if isinstance(text, str) else text
    chars = F.split(c, "")
    n = F.size(chars)
    windows = chars
    for off in range(1, size):
        shifted = F.slice(
            chars, off + 1, F.greatest(n - off, F.lit(1))
        )
        windows = F.zip_with(
            windows, shifted,
            lambda x, y: F.concat(x, F.coalesce(y, F.lit(""))),
        )
    arr = F.array_distinct(
        F.slice(windows, 1, F.greatest(n - (size - 1), F.lit(1)))
    )
    return F.when(c.isNull(), F.array(F.lit(None).cast("string"))).otherwise(arr)


def word_shingles(text: Column | str, size: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined word windows).

    NOTE: prefer :func:`exploded_word_shingles` in operator pipelines —
    inlining this expression re-tokenizes the text once per
    ``element_at`` reference (O(words²) per doc)."""
    w = tokens(text)
    n = F.greatest(F.size(w) - (size - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            # slice clamps at the array end (ANSI-safe, unlike element_at
            # past size(w)) and matches the oracle's NULL-skipping
            # concat_ws: docs with < size words yield one partial shingle.
            lambda i: F.concat_ws(" ", F.slice(w, (i + 1).cast("int"), size)),
        )
    )


def shingle_array(words: Column, size: int = 3) -> Column:
    """Distinct word-n-gram array from a token-array column — the
    shingle expression :func:`exploded_word_shingles` explodes,
    exposed so callers that already hold a token array (e.g. a plan
    deriving several shingle UNIVERSES from one tokenization) can
    shingle without re-splitting the text.

    Less per-task work: small ``size`` uses the shifted-``zip_with``
    formulation the char-level :func:`shingles` already uses —
    ``size-1`` whole-array zips whose lambda is a 2-arg concat — instead
    of ``transform(sequence(...))`` whose per-ELEMENT lambda evaluates
    ``slice(words, i+1, size)`` + ``concat_ws`` through the interpreted
    HOF path (measured ~1.7x slower at size=3 on the sf0.1 corpus; both
    sites noop-sink timed). Large ``size`` keeps the transform
    formulation: the zip chain costs ``size-1`` array passes, and at
    size=13 (the decontamination 13-grams) transform measured ~1.4x
    FASTER than the chain. Output is bit-identical either way (same
    windows in the same positional order, same partial-window clamp —
    the ``when(y NULL, x)`` zip lambda reproduces ``concat_ws``'s
    NULL-skip exactly; pinned by test)."""
    if size <= 4:
        s = F.size(words)
        win = words
        for off in range(1, size):
            shifted = F.slice(words, off + 1, F.greatest(s - off, F.lit(1)))
            win = F.zip_with(
                win,
                shifted,
                lambda x, y: F.when(y.isNull(), x).otherwise(
                    F.concat(x, F.lit(" "), y)
                ),
            )
        # NULL token array: the transform formulation yields [""]
        # (greatest(NULL,1)=1 + concat_ws's NULL-skip), not NULL —
        # replicate it so the two formulations stay bit-identical on
        # every input (pinned by test).
        return F.when(
            words.isNull(), F.array(F.lit(""))
        ).otherwise(
            F.array_distinct(
                F.slice(win, 1, F.greatest(s - (size - 1), F.lit(1)))
            )
        )
    n = F.greatest(F.size(words) - (size - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            # slice clamps at the array end (ANSI-safe, unlike element_at
            # past size(w)) and matches the oracle's NULL-skipping
            # concat_ws: docs with < size words yield one partial shingle.
            lambda i: F.concat_ws(
                " ", F.slice(words, (i + 1).cast("int"), size)
            ),
        )
    )


def shingle_hash_array(words: Column, size: int = 3) -> Column:
    """64-bit hashes of the distinct word-n-gram shingles of a token
    array — the integer-only sibling of :func:`shingle_array` for
    pipelines that only ever JOIN/COUNT shingles and never emit the
    strings (less per-task work, fewer shuffle bytes).

    :func:`shingle_array` + ``xxhash64(sh)`` builds every window
    STRING (two ``concat`` allocations per window) and then hashes
    ~3-word strings; this column hashes each WORD once
    (``xxhash64(w)``) and combines the ``size`` word hashes per window
    with ``xxhash64(h_prefix, h_word)`` — fixed-width integer work,
    zero string allocation, same shifted-``zip_with`` shape. Measured
    ~2.5x less executor CPU on the sf0.1 shingle stage (noop-sink).

    Correspondence to the string path: a window's hash is a
    deterministic function of its word TUPLE, and (whitespace
    tokenization — tokens contain no spaces) the space-joined window
    string is a bijective encoding of the same tuple, so two windows
    collide here iff their strings were distinct but collide through
    the xxhash64 fold — probability ≈ n²/2⁶⁴, absent on the test
    corpora (pinned by test, and any cross-engine count the hash
    feeds is re-derived string-side by the DuckDB oracle every
    round). Edge semantics mirror :func:`shingle_array` exactly:
    NULL token array → ``[xxhash64('')]`` (the string path's ``[""]``
    hashed), short docs → the single partial window (the
    ``when(y NULL, x)`` zip lambda is the NULL-skip), empty text's
    ``[""]`` token array → ``[xxhash64('')]``."""
    wh = F.transform(words, lambda w: F.xxhash64(w))
    s = F.size(wh)
    win = wh
    for off in range(1, size):
        shifted = F.slice(wh, off + 1, F.greatest(s - off, F.lit(1)))
        win = F.zip_with(
            win,
            shifted,
            lambda x, y: F.when(y.isNull(), x).otherwise(F.xxhash64(x, y)),
        )
    return F.when(
        words.isNull(), F.array(F.xxhash64(F.lit("")))
    ).otherwise(
        F.array_distinct(
            F.slice(win, 1, F.greatest(s - (size - 1), F.lit(1)))
        )
    )


def exploded_word_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", size: int = 3
) -> DataFrame:
    """(id, shingle) rows — one per distinct word n-gram per doc.

    Tokenization is materialized behind a projection boundary: the
    shingle lambda references the ``_w`` token array multiple times, and
    CollapseProject keeps multiply-referenced non-trivial aliases
    un-inlined, so ``split`` runs once per document instead of once per
    (shingle x word) — measured ~10x faster than inlining
    :func:`word_shingles` directly."""
    w_df = df.select(F.col(id_col), tokens(text_col).alias("_w"))
    arr = shingle_array(F.col("_w"), size)
    return w_df.select(F.col(id_col), F.explode(arr).alias("sh"))


def rolling_hash_col(
    text_col: str = "text", base: int = 131, mod: int = 10**15
) -> Column:
    """Rabin–Karp polynomial rolling hash of the full character stream:
    ``h = fold(chars, (acc, c) -> (acc*base + code(c)) % mod)``.

    Pure integer arithmetic inside the HOF fold, so the value is
    bit-identical in any engine (mod 10^15 keeps acc*131+255 < 2^63 —
    no overflow under ANSI). Unlike :func:`fingerprint_col`'s
    order-insensitive shingle-set md5, this hash is order-SENSITIVE:
    permuted content produces a different fingerprint, which is the
    property you want for exact-prefix/stream dedup. O(len) interpreted
    fold per doc — linear, partition-parallel, no shuffle.
    """
    text = F.col(text_col)
    # Character codes via one split("") instead of n per-offset substr
    # calls: UTF8 substring is a linear codepoint scan, so the substr
    # formulation is O(len²) per doc; the split is O(len) and the fold
    # consumes the array directly. Values are bit-identical (same
    # codepoints, same fold).
    codes = F.transform(
        F.split(text, ""), lambda ch: F.ascii(ch).cast("long")
    )
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % F.lit(mod),
    )
    # sequence(1, 0) would count DOWN; empty text hashes to 0 directly.
    # NULL text propagates NULL (missing != empty in dedup semantics).
    return (
        F.when(text.isNull(), F.lit(None).cast("long"))
        .when(F.length(text) > 0, h)
        .otherwise(F.lit(0).cast("long"))
    )


def winnow_fingerprints_col(
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    base: int = 131,
    mod: int = 10**15,
) -> Column:
    """Winnowed document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS sketch): the sorted distinct set of
    window-minimum character ``k``-gram hashes, one minimum per window
    of ``w`` consecutive k-gram positions.

    The winnowing guarantee: any substring SHARED between two
    documents of length ≥ ``w + k - 1`` contributes at least one
    SHARED selected fingerprint — so an equi-join on fingerprints
    detects containment/quotation/boilerplate with a sketch of
    expected density 2/(w+1) of the k-gram positions, instead of
    shipping every position (the rolling-hash/shingle surfaces) or
    only whole-document hashes (:func:`fingerprint_col`). That is the
    missing middle of the fingerprint family: order-sensitive AND
    local, with a proven detection threshold.

    Hashes are the same Rabin–Karp polynomial as
    :func:`rolling_hash_col` (pure integer fold mod 10^15 — no
    overflow under ANSI, bit-identical in any engine, so the DuckDB
    oracle reproduces the selection exactly; selection depends on hash
    VALUES, not just equality, which is why a portable hash is load-
    bearing here). All work is JVM higher-order functions over the
    per-doc char-code array via the SHIFTED-ZIP idiom (the same trick
    as the O(len)/doc shingle builder): the i-th k-gram hash is built
    by ``k`` ``zip_with`` passes over length-shifted views of the code
    array, and the window minima by ``w`` ``least`` passes over the
    hash array — O(len·(k+w)) flat per-element work, partition-
    parallel, no shuffle, no UDF. (A per-position ``slice``+fold
    nested HOF computes the same values but re-materializes an O(len)
    slice per position — O(len²) per doc, measured minutes-vs-seconds
    at 500 docs; don't regress to it.)

    Edge semantics (mirroring the family's missing≠empty rule):
    NULL text → NULL; fewer than one k-gram (len < k) → empty set;
    fewer than one full window (len < k+w-1) → the single global
    minimum (the degenerate one-window case)."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    codes = F.transform(
        F.split(text, ""), lambda ch: F.ascii(ch).cast("long")
    )
    # m k-gram positions; clamped so the guarded branches below can
    # never evaluate slice() with a negative length even interpreted
    m = F.greatest(F.length(text) - F.lit(k) + 1, F.lit(1))
    kh = F.transform(F.slice(codes, 1, m), lambda _: F.lit(0).cast("long"))
    for j in range(k):
        kh = F.zip_with(
            kh,
            F.slice(codes, j + 1, m),
            lambda h, c: (h * base + c) % F.lit(mod),
        )
    nwin = F.greatest(m - F.lit(w) + 1, F.lit(1))
    mins = F.slice(kh, 1, nwin)
    for j in range(1, w):
        mins = F.zip_with(
            mins, F.slice(kh, j + 1, nwin), lambda a, b: F.least(a, b)
        )
    sel = F.array_sort(F.array_distinct(mins))
    return (
        F.when(text.isNull(), F.lit(None).cast("array<long>"))
        .when(F.length(text) < k, F.array().cast("array<long>"))
        .when(F.length(text) < k + w - 1, F.array(F.array_min(kh)))
        .otherwise(sel)
    )


def winnow_fingerprints_vec(
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    base: int = 131,
    mod: int = 10**15,
) -> Column:
    """Arrow-vectorized sibling of :func:`winnow_fingerprints_col` —
    the PRODUCTION path. Spark higher-order functions are
    CodegenFallback (interpreted per element), and the k+w shifted-zip
    passes measure ~10 s for one pass over the sf0.1 corpus; the numpy
    formulation (UTF-32 zero-copy codepoint view, k vectorized
    fused-multiply-mod passes, w running-minimum passes, np.unique)
    does identical integer arithmetic at C speed — this is the same
    sanctioned vectorized-Python carve-out as ``bpe_encode``:
    Arrow-batched, linear work, no shuffle, value-identical output
    (pinned against the HOF column and the Python reference in
    tests/test_operators.py).

    Equivalence note: the two paths are value-identical on
    the FULL Unicode range, not just the BMP — Spark 4's
    ``split('')``/``ascii()``/``length()`` all operate on CODEPOINTS
    (surrogate pairs stay together), matching this path's UTF-32
    view. Property-pinned across the full codepoint range in
    tests/test_properties.py, with astral/lone-surrogate/NUL/U+10FFFF
    edges pinned in tests/test_operators.py."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _winnow(texts):
        out: list = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            n = len(t)
            if n < k:
                out.append([])
                continue
            codes = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            m = n - k + 1
            h = np.zeros(m, dtype=np.int64)
            for j in range(k):
                h = (h * base + codes[j : j + m]) % mod
            if m < w:
                out.append([int(h.min())])
                continue
            mins = h[: m - w + 1].copy()
            for j in range(1, w):
                np.minimum(mins, h[j : j + m - w + 1], out=mins)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    return _winnow(
        F.col(text_col) if isinstance(text_col, str) else text_col
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    vectorized: bool = True,
) -> DataFrame:
    """Exploded ``(id, fp)`` winnowed-fingerprint frame — the join
    input for containment detection (NULL/too-short docs contribute
    no rows; the set per doc is already distinct). ``vectorized``
    picks the Arrow path (default) or the pure-JVM HOF column — the
    flag is VALUE-NEUTRAL: both paths hash true codepoints and are
    property-pinned identical across the full Unicode range
    (tests/test_properties.py; astral/lone-surrogate/NUL edges in
    tests/test_operators.py), so fingerprints from the two paths can
    be joined against each other."""
    col = (
        winnow_fingerprints_vec(text_col, k=k, w=w)
        if vectorized
        else winnow_fingerprints_col(text_col, k=k, w=w)
    )
    return df.select(F.col(id_col), F.explode(col).alias("fp"))


def winnow_containment_hits(
    corpus: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    vectorized: bool = True,
) -> DataFrame:
    """Per-doc count of winnowed fingerprints shared with ``holdout``
    — the containment-detection surface: by the winnowing guarantee a
    doc containing any ≥ ``w+k-1``-char passage from the holdout
    scores ≥ 1. Same broadcast-holdout equi-join shape as the 13-gram
    :func:`contaminated_ids` (ids + 64-bit-ish hashes shuffle, never
    text). Corpus and holdout use the same ``vectorized`` flag for
    plan symmetry; the paths are value-identical on the full Unicode
    range (see :func:`winnow_fingerprints`), so mixing them would be
    correct too."""
    fps = winnow_fingerprints(
        corpus, text_col, id_col, k=k, w=w, vectorized=vectorized
    )
    hold = (
        winnow_fingerprints(
            holdout, text_col, id_col, k=k, w=w, vectorized=vectorized
        )
        .select("fp")
        .distinct()
    )
    return fps.join(hold, "fp").groupBy(id_col).agg(
        F.count("*").alias("winnow_hits")
    )


def winnow_fingerprints_positions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    base: int = 131,
    mod: int = 10**15,
) -> DataFrame:
    """Positional winnowing — ``(id, fp, pos)`` rows, one per distinct
    selected (hash, position) pair, where ``pos`` is the 0-based
    character offset of the k-gram the fingerprint hashes.

    This is the full MOSS sketch: :func:`winnow_fingerprints` keeps
    only the hash SET (enough for containment counting); keeping the
    positions is what makes matches LOCALIZABLE, i.e. span extraction
    (:func:`winnow_dup_spans`). Selection per window takes the
    LEFTMOST minimal hash (np.argmin first-occurrence), a fixed
    deterministic tie rule, then distinct (hash, pos) pairs — the
    standard "record one (hash, position) per window, dedupe" robust
    winnowing formulation. Same Rabin–Karp integer hash and edge
    semantics as the set variants (NULL text → no rows, len < k → no
    rows, len < k+w-1 → the single global minimum at its position).
    Arrow-batched numpy, linear per doc, no shuffle."""
    import numpy as np
    import pandas as pd

    def emit(batches):
        for pdf in batches:
            ids: list = []
            fps: list = []
            poss: list = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                if t is None or len(t) < k:
                    continue
                codes = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                m = len(t) - k + 1
                h = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    h = (h * base + codes[j : j + m]) % mod
                if m < w:
                    sel_pos = np.array([int(h.argmin())])
                else:
                    nwin = m - w + 1
                    shifted = np.stack([h[j : j + nwin] for j in range(w)])
                    # leftmost min per window: argmin over the SHIFT
                    # axis returns the first (smallest-offset) minimum
                    sel_pos = np.unique(
                        shifted.argmin(axis=0) + np.arange(nwin)
                    )
                # no forced dtype: id_col may be non-integer (schema
                # passes the source type through)
                ids.append(np.full(len(sel_pos), did))
                fps.append(h[sel_pos])
                poss.append(sel_pos.astype(np.int32))
            if not ids:
                yield pd.DataFrame({id_col: [], "fp": [], "pos": []})
                continue
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(ids),
                    "fp": np.concatenate(fps),
                    "pos": np.concatenate(poss),
                }
            )

    idt = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        emit, f"{id_col} {idt}, fp BIGINT, pos INT"
    )


def winnow_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_anchors: int = 2,
    merge_gap: int | None = None,
) -> DataFrame:
    """Substring-level cross-document duplicate EXTRACTION — the
    outcome of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better": remove repeated SPANS, not whole docs)
    via winnowing anchors instead of a suffix array. Returns
    ``(id, start, end, dup_group, n_anchors)`` — one row per maximal
    duplicated span, ``[start, end)`` character offsets, ready for
    span-level removal (slice the text around the spans).

    Pipeline (every stage a DataFrame op, sketch-sized shuffles only):

    1. Positional fingerprints (:func:`winnow_fingerprints_positions`)
       — expected 2/(w+1) of k-gram positions per doc, never the text.
    2. Cross-doc anchors: fingerprints appearing in ≥ 2 distinct docs
       survive (groupBy(fp) + semi join — the inverted-index trick).
    3. Span assembly per doc: anchors sorted by position; a gap >
       ``merge_gap`` (default ``w + k - 1``, the winnowing guarantee
       length — inside a true shared passage selected anchors can
       never be farther apart than one window plus one k-gram, so a
       larger gap certifies a break) starts a new
       span (lag + running sum = the classic sessionize idiom); spans
       with < ``min_anchors`` anchors are dropped (a single 8-char
       hash meeting across docs is usually a stopword-ish coincidence,
       the same reason Lee et al. set a minimum match length).
    4. ``dup_group`` = the span's minimum matched fingerprint — a
       content-derived group id: equal passages share their interior
       anchor set, so their spans land in the same group across docs.

    By the winnowing guarantee the anchor hull lies INSIDE the true
    shared passage and within ``w + k - 2`` characters of each true
    boundary — the span is a certified-duplicated core, slack pinned
    by the planted-passage test. For whole-doc decisions use
    :func:`winnow_containment_hits`; this operator exists for the
    span-REMOVAL decision the reference family lacks.

    Scale note: NO quadratic surface is reachable here, so no ceiling is
    enforced — unlike the pair-join dedup operators, cross-doc matching
    is an inverted-index SEMI join (an anchor row survives or not; rows
    are never paired), and span assembly is a per-doc window over that
    doc's own anchors. Pathological overlap (every doc sharing one
    passage) grows the surviving-anchor count linearly in corpus size —
    the per-fp doc-count aggregate and the semi join remain hash-shuffle
    linear; only a per-DOC anchor blow-up (bounded by the 2/(w+1)
    winnowing density × doc length) affects the window stage, and it is
    partitioned per doc."""
    from pyspark.sql.window import Window

    if merge_gap is None:
        merge_gap = w + k - 1
    anchors = winnow_fingerprints_positions(
        df, text_col, id_col, k=k, w=w
    ).localCheckpoint(eager=False)
    # ^ consumed twice (df side + the shared-fp aggregate)
    shared = (
        anchors.groupBy("fp")
        .agg(F.count_distinct(F.col(id_col)).alias("_docs"))
        .filter(F.col("_docs") >= 2)
        .select("fp")
    )
    hit = anchors.join(shared, "fp", "left_semi")
    by_pos = Window.partitionBy(id_col).orderBy("pos")
    seg = (
        hit.withColumn("_prev", F.lag("pos").over(by_pos))
        .withColumn(
            "_new_span",
            (
                F.col("_prev").isNull()
                | ((F.col("pos") - F.col("_prev")) > merge_gap)
            ).cast("int"),
        )
        .withColumn(
            "_span", F.sum("_new_span").over(
                by_pos.rowsBetween(Window.unboundedPreceding, 0)
            )
        )
    )
    return (
        seg.groupBy(id_col, "_span")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") + F.lit(k)).alias("end"),
            F.min("fp").alias("dup_group"),
            F.count("*").alias("n_anchors"),
        )
        .filter(F.col("n_anchors") >= min_anchors)
        .select(id_col, "start", "end", "dup_group", "n_anchors")
    )


def fingerprint_col(text_col: str = "text", size: int = 3) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct character-shingle set. Identical for any permutation-
    preserving re-encoding of the same shingle set, and portable (the
    oracle reproduces it with DuckDB list functions).

    NULL text fingerprints to NULL, not to md5('') — concat_ws would
    silently skip the [NULL] shingle array and collapse missing docs
    onto empty docs, violating the module's missing≠empty dedup rule
    (and diverging from the oracle, whose md5 propagates NULL)."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    fp = F.md5(F.concat_ws("", F.array_sort(shingles(text_col, size))))
    return F.when(text.isNull(), F.lit(None).cast("string")).otherwise(fp)


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", size: int = 3
) -> DataFrame:
    """Per-doc :func:`fingerprint_col` projection."""
    return df.select(
        F.col(id_col), fingerprint_col(text_col, size).alias("fingerprint")
    )


def filter_by_quantile(
    df: DataFrame,
    score_col: str,
    quantile: float,
    strata_col: str | None = None,
    exact: bool = False,
    accuracy: int | None = None,
) -> DataFrame:
    """Keep rows whose ``score_col`` is at or above the ``quantile``
    cut of their stratum — the "top (1-q) by quality score" gate every
    corpus-filtering pipeline runs after scoring (optionally
    per-language/domain via ``strata_col`` so one stratum's score
    distribution doesn't starve another).

    Two physical paths:

    * default (``exact=False``): per-stratum thresholds via
      ``percentile_approx`` — one tiny aggregate broadcast back as an
      equi-join, so the corpus pass is map-only. This is the 100 TB
      path; the approximation moves only the cut point, never reorders
      rows. ``accuracy`` is percentile_approx's sketch knob (Spark
      default 10000; rank error ≤ N/accuracy per stratum): the sketch
      is EXACT — the discrete quantile — while the stratum row count
      stays ≤ ``accuracy`` (the GK summary keeps every value until its
      compression budget binds). Callers that oracle this path across
      engines must pass an ``accuracy`` at or above their largest
      stratum so the exactness precondition is ENFORCED, not assumed;
      at true 100 TB the default accuracy is the
      intended approximate operating point.
    * ``exact=True``: ``percent_rank`` over a per-stratum window —
      exact, but sorts each stratum; right for modest corpora and for
      pinning the approx path in tests.
    """
    if not 0.0 <= quantile <= 1.0:
        raise ValueError(f"quantile must be in [0, 1], got {quantile}")
    strata = [strata_col] if strata_col else []
    if exact:
        w = Window.partitionBy(*strata).orderBy(F.col(score_col))
        return (
            df.withColumn("_pr", F.percent_rank().over(w))
            .filter(F.col("_pr") >= quantile)
            .drop("_pr")
        )
    pa_args = (score_col, quantile) + (
        (F.lit(accuracy),) if accuracy is not None else ()
    )
    thr = df.groupBy(*strata).agg(
        F.percentile_approx(*pa_args).alias("_thr")
    )
    if strata:
        # eqNullSafe: a NULL stratum (missing language/domain) forms
        # its own group in the aggregate, but a plain equi-join would
        # never match it back — every NULL-stratum row would silently
        # vanish from the output while the exact (window) path keeps
        # and gates them.
        t = thr.select(
            F.col(strata_col).alias("_sv"), "_thr"
        )
        joined = df.join(
            F.broadcast(t), F.col(strata_col).eqNullSafe(F.col("_sv"))
        ).drop("_sv")
    else:
        joined = df.crossJoin(F.broadcast(thr))
    return joined.filter(F.col(score_col) >= F.col("_thr")).drop("_thr")


def contaminated_ids(
    train: DataFrame,
    holdout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    holdout_text_col: str = "text",
    ngram: int = 13,
) -> DataFrame:
    """Training docs that share at least one word ``ngram``-gram with
    the holdout/eval corpus — the standard benchmark-decontamination
    collision rule (13-gram overlap). Returns ``(id, hits)`` where
    ``hits`` counts the doc's distinct colliding n-grams.

    Scale shape: both sides explode to (id, 64-bit shingle HASH) — the
    13-gram strings themselves never shuffle — and the holdout side
    (distinct hashes of a benchmark suite: small by definition)
    broadcasts into a map-side equi-join, so the train side is one
    linear scan + explode with no wide stage. A 64-bit hash collision
    (~2⁻⁶⁴ per pair) can only over-remove, never leak contamination.

    Docs shorter than ``ngram`` words produce one partial shingle
    (their whole text) and match only an equally-short identical
    holdout doc — by design: a 5-word doc cannot contain a 13-gram.
    """
    t = exploded_word_shingles(train, id_col, text_col, ngram).select(
        F.col(id_col), F.xxhash64("sh").alias("_h")
    )
    h = (
        exploded_word_shingles(holdout, id_col, holdout_text_col, ngram)
        .select(F.xxhash64("sh").alias("_h"))
        .distinct()
    )
    return (
        t.join(F.broadcast(h), "_h")
        .groupBy(id_col)
        .agg(F.count_distinct("_h").alias("hits"))
    )


def decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    holdout_text_col: str = "text",
    ngram: int = 13,
) -> DataFrame:
    """Drop every training doc flagged by :func:`contaminated_ids` —
    one broadcast equi-join + one anti join, keeping the train scan
    linear. The clean frame keeps the input schema unchanged."""
    bad = contaminated_ids(
        train, holdout, id_col, text_col, holdout_text_col, ngram
    ).select(id_col)
    return train.join(bad, id_col, "left_anti")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 128,
    stride: int = 64,
    tokens_col: str | None = None,
) -> DataFrame:
    """Split documents into overlapping token windows — the canonical
    LLM training-data preparation step (context-length chunking with
    ``window - stride`` tokens of overlap between neighbors).

    Returns ``(id, chunk_idx, chunk_tokens, chunk_text)``: chunk ``i``
    covers tokens ``[i*stride, i*stride + window)``; the last chunk may
    be shorter; every non-NULL document yields at least one chunk (an
    empty text yields one empty chunk — dropping rows silently would
    desync downstream joins); NULL text yields no chunks.

    Scale shape: pure per-row array expressions — tokenization is
    materialized once per document behind a projection boundary (the
    multiply-referenced-alias trick of :func:`exploded_word_shingles`;
    a bare ``tokens()`` reference inside the per-chunk lambda would
    re-split the text once per chunk), then ``posexplode`` of
    ``n_chunks`` array slices. No shuffle, no UDF; at 100 TB this is a
    map-only stage whose output is safely re-partitioned by whatever
    consumes it.

    ``tokens_col`` switches the unit of chunking from whitespace words
    to a pre-tokenized ``array<string>`` column — e.g. the output of
    :func:`..bpe.bpe_encode`, so context windows are measured in the
    TRAINED tokenizer's subwords (what the model actually sees), not
    word counts. ``text_col`` is ignored in that mode.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        raise ValueError(
            f"stride {stride} > window {window} would drop tokens"
        )
    unit_col = tokens_col or text_col
    unit = F.col(tokens_col) if tokens_col else tokens(text_col)
    w_df = (
        df.filter(F.col(unit_col).isNotNull())  # NULL text → no chunks
        .select(F.col(id_col), unit.alias("_w"))
    )
    w = F.col("_w")
    n = F.size(w)
    # ceil(max(n - window, 0) / stride) + 1 chunks, floor-division form
    n_chunks = (
        F.floor(
            (F.greatest(n - window, F.lit(0)) + F.lit(stride - 1))
            / F.lit(stride)
        ).cast("int")
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(w, (i * stride + 1).cast("int"), window),
    )
    return w_df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "_c"),
    ).select(
        id_col,
        "chunk_idx",
        F.size("_c").alias("chunk_tokens"),
        F.concat_ws(" ", "_c").alias("chunk_text"),
    )


def pack_chunks(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    tokens_col: str = "chunk_tokens",
    num_shards: int = 256,
    shard_col: Column | None = None,
) -> DataFrame:
    """Pack :func:`chunk_documents` output into training sequences of
    at most ``max_tokens`` tokens — greedy first-fit-decreasing bin
    packing, the standard sequence-packing step that turns chunked
    documents into dense fixed-budget training rows.

    Global bin packing is inherently sequential, so the distributed
    formulation packs WITHIN deterministic shards: chunks are assigned
    to ``hash(id) % num_shards`` shards (stable across runs and
    partitionings), and each shard packs its own chunks with
    first-fit-decreasing in one ``applyInPandas`` group. This is the
    accepted trade at scale — packing quality is per-shard (FFD is
    within 11/9·OPT+1 per shard), while the work is embarrassingly
    parallel and each task holds one shard, not the corpus. Chunks
    larger than ``max_tokens`` are emitted as singleton sequences
    (truncation is the tokenizer's job, not the packer's).

    Returns ``(shard, seq_idx, seq_tokens, n_chunks, members)`` where
    ``members`` is a sorted ``"id:idx"`` list joined by commas —
    deterministic, and every input chunk appears in exactly one
    sequence.

    ``shard_col`` overrides the default ``hash(id) % num_shards``
    sharding with a caller-supplied integer expression (all chunks of a
    doc must land in one shard, so it should be a function of the id
    only) — e.g. ``pmod(doc_id, 8)`` when the shard assignment must be
    reproducible outside Spark (Spark's Murmur3 ``hash`` is engine-
    specific).
    """
    import pandas as pd

    shard = (
        shard_col
        if shard_col is not None
        else F.pmod(F.hash(F.col(id_col)), F.lit(num_shards))
    )
    spark_df = df.select(
        F.col(id_col).alias("cid"),
        F.col(idx_col).alias("cidx"),
        F.col(tokens_col).cast("long").alias("ctok"),
        shard.cast("int").alias("shard"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({
                "shard": [], "seq_idx": [], "seq_tokens": [],
                "n_chunks": [], "members": [],
            })
        shard = int(pdf["shard"].iloc[0])
        # deterministic order: by size desc, then (id, idx) asc
        rows = sorted(
            pdf.itertuples(index=False),
            key=lambda r: (-r.ctok, r.cid, r.cidx),
        )
        bins: list[list] = []  # [remaining, members, total]
        for r in rows:
            placed = False
            if r.ctok <= max_tokens:
                for b in bins:
                    if r.ctok <= b[0]:
                        b[0] -= r.ctok
                        b[1].append((r.cid, r.cidx))
                        b[2] += r.ctok
                        placed = True
                        break
            if not placed:  # new bin (oversize chunks sit alone)
                bins.append(
                    [max(max_tokens - r.ctok, 0), [(r.cid, r.cidx)], r.ctok]
                )
        return pd.DataFrame({
            "shard": [shard] * len(bins),
            "seq_idx": list(range(len(bins))),
            "seq_tokens": [b[2] for b in bins],
            "n_chunks": [len(b[1]) for b in bins],
            "members": [
                ",".join(f"{i}:{x}" for i, x in sorted(b[1])) for b in bins
            ],
        })

    return spark_df.groupBy("shard").applyInPandas(
        pack,
        "shard INT, seq_idx INT, seq_tokens BIGINT, n_chunks INT, "
        "members STRING",
    )


def predict_language(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    top_k: int = 20,
) -> DataFrame:
    """Two-stage heuristic language ID: learn the ``top_k`` most
    frequent tokens per labeled language from the corpus itself (ties
    broken lexically), then classify each doc by profile-overlap argmax
    (ties → lexically first language). Returns (id, predicted_lang).

    Scale shape: token explode → two hash aggregates + one small join
    (the profile is bounded at langs × top_k rows and broadcast); the
    per-doc argmax is a single window over the overlap counts.
    """
    words = df.select(
        F.col(id_col),
        F.col(lang_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("w"),
    )
    return predict_language_from_words(words, id_col, lang_col, top_k)


def predict_language_from_words(
    words: DataFrame | None,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    top_k: int = 20,
    tf: DataFrame | None = None,
) -> DataFrame:
    """:func:`predict_language` over an already-exploded ``(id, lang,
    w)`` frame — lets callers that tokenized once (e.g. a checkpointed
    features frame) share the tokenization instead of re-scanning and
    re-splitting the source.

    ``tf``: an already-aggregated ``(id, lang, w, tf)``
    frame — the profile counts become ``sum(tf)`` by (lang, w) (exact:
    a two-level count) and the per-doc distinct word set is exactly
    ``tf``'s key set, so a caller computing several term-frequency
    families over one corpus (text_quality) shares ONE explode +
    aggregate across all of them; ``words`` is ignored (may be None)
    when given. Requires ``lang`` functionally dependent on ``id``
    (one source row per document — true for any per-document corpus
    frame), which also makes the key-set identity exact."""
    from pyspark.sql import Window

    if tf is None:
        counts = words.groupBy(lang_col, "w").agg(F.count("*").alias("cnt"))
        doc_words = words.select(id_col, "w").distinct()
    else:
        counts = tf.groupBy(lang_col, "w").agg(F.sum("tf").alias("cnt"))
        doc_words = tf.select(id_col, "w")
    wr = Window.partitionBy(lang_col).orderBy(F.col("cnt").desc(), F.col("w"))
    profile = (
        counts.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= top_k)
        .select(F.col(lang_col).alias("cand_lang"), "w")
    )
    overlap = (
        doc_words.join(F.broadcast(profile), "w")
        .groupBy(id_col, "cand_lang")
        .agg(F.count("*").alias("overlap"))
    )
    wp = Window.partitionBy(id_col).orderBy(
        F.col("overlap").desc(), F.col("cand_lang")
    )
    return (
        overlap.withColumn("prk", F.row_number().over(wp))
        .filter(F.col("prk") == 1)
        .select(id_col, F.col("cand_lang").alias("predicted_lang"))
    )


def stop_shingle_cap(
    n_docs: int, per: int = 100, floor: int = 2, ceiling: int = 128
) -> int:
    """Derived stop-shingle operating point for
    :func:`ngram_jaccard_pairs`'s ``max_shingle_df``: drop shingles
    appearing in more than 1-in-``per`` documents (default 1 % of the
    corpus, floored at ``floor`` so tiny corpora keep a sane cap) —
    but never more than ``ceiling`` documents, full stop.

    Pure integer arithmetic (``min(max(floor, n_docs // per),
    ceiling)``) so an independent engine re-derives the identical cap
    — the ``lsh_params_for`` precedent: the operating point is a
    function of corpus size, not a hand-tuned constant.

    The ceiling is the 100 TB term; the ×30 synthetic tier FALSIFIED
    a fractional-only derivation: with
    ``cap = n/per``, any shingle whose document frequency is a
    sub-1/per FRACTION of the corpus (a phrase that appears in, say,
    0.5 % of documents — ubiquitous in real text) keeps df ∝ n inside
    the universe, so its pair-join contribution df² grows ∝ n² and
    the "capped" arm measured ×218 wall at ×30 the data — WORSE than
    the uncapped arm. An ABSOLUTE ceiling restores the linear bound:
    pair-join rows = Σ_kept df² ≤ (Σ_kept df) · ceiling ≤ total
    shingle occurrences × ceiling ∝ n — the same hold-per-key-work-
    constant principle as ``semdedup_params_for`` (cluster SIZE, not
    count) and ``lsh_params_for`` (bucket occupancy). Semantically the
    ceiling only widens the boilerplate definition: a shingle shared
    by >128 documents identifies no near-duplicate PAIR; it is corpus
    background by any measure (MinHash-LSH, the other scale path,
    never consults such shingles at all). The fractional term still
    governs small corpora (n < per·ceiling), where the 1 % semantics
    are exactly what the oracle anchors pin."""
    return min(max(floor, n_docs // per), ceiling)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    top_n: int = 50,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity — top-N most-similar pairs.

    Explode distinct shingles, self-join on shingle (the inverted-index
    trick: only docs sharing ≥1 shingle ever meet), count shared, and
    compute |A∩B| / (|A|+|B|-|A∩B|). Deterministic top-N by (rounded
    jaccard DESC, ids ASC).

    Scale notes: this is the exact-verification companion to
    :func:`..dedup.minhash_lsh_candidates`; at 100 TB run LSH first and
    this join only within candidate buckets. The pair join's work is
    Σ_shingle df² — ubiquitous "hot" shingles (boilerplate, template
    headers) dominate it quadratically while carrying almost no
    similarity signal (a shingle shared by every doc distinguishes
    nothing). ``max_shingle_df`` is the standard stop-shingle knob:
    shingles with document frequency above the cap are dropped from
    the UNIVERSE (both intersection and sizes — Jaccard stays a true
    Jaccard over the informative-shingle universe, not a biased
    estimate), bounding per-shingle join work at cap² while near-dup
    pairs keep ≈ their full-universe score (they share mostly
    rare shingles). Default ``None`` = exact full-universe semantics
    (the catalog/oracle operating point).
    """
    sh = exploded_word_shingles(
        ensure_parallelism(df), id_col, text_col, shingle_words
    ).withColumn("_arm", F.lit("all"))
    return ngram_jaccard_pairs_grouped(
        sh,
        id_col=id_col,
        top_n=top_n,
        arm_col="_arm",
        arms=("all",),
        max_shingle_df={"all": max_shingle_df},
    ).drop("_arm")


def ngram_jaccard_pairs_grouped(
    sh: DataFrame,
    id_col: str = "doc_id",
    top_n: int = 50,
    arm_col: str = "arm",
    arms: tuple = ("all",),
    max_shingle_df: dict | None = None,
    hashed: bool = False,
) -> DataFrame:
    """Shared-stage multi-arm core of :func:`ngram_jaccard_pairs`:
    ``sh`` is an already-exploded
    ``(arm, id, sh)`` frame — one row per DISTINCT shingle per (arm,
    doc) — and every stage (stop-shingle df, sizes, inverted-index
    pair join, scoring) runs ONCE with the arm column joined into its
    key. Comparing operating points over mostly-shared corpora (the
    ``ngram_jaccard_top_pairs`` exact/stopcap arms: odd docs
    byte-identical) costs one pipeline instead of one per arm.

    ``max_shingle_df`` maps arm value → df cap (missing/None = full
    universe for that arm). Over-cap shingles are removed with a
    broadcast ANTI join: the drop set is the corpus-fraction-hot
    shingles only — bounded by total_rows/cap entries, and in the
    boilerplate pathology the knob exists for it is a handful of
    template shingles — where the previous keep-side SEMI join
    shuffled the entire shingle frame.

    Narrower shuffle types: every stage after
    the explode keys on ``xxhash64(sh)`` instead of the shingle
    STRING — the :func:`contaminated_ids` precedent ("the 13-gram
    strings themselves never shuffle"). The checkpoint, the df-cap
    aggregate, the sizes aggregate and the inverted-index pair join
    all carry an 8-byte long where they carried a ~20-80 byte string,
    and every join/groupBy comparison is a long equality instead of a
    string equality. Counts are unchanged unless two DISTINCT shingle
    strings collide in 64 bits (p ≈ n²/2⁶⁵; the test corpus has no
    collision — pinned by test, and the driver oracle re-checks the
    string-side counts end-to-end). Hashing also lets the
    PRE-drop frame checkpoint (hash rows are ~3-5x narrower than the
    string rows whose materialization GC-thrashed an 8g heap at the
    synthetic 10x tier, which made re-running the whole shingle explode
    for the df aggregate the cheaper choice): the explode now runs ONCE per
    execution, and the df aggregate + anti join read the checkpointed
    hash frame (their identical subtrees collapse to one
    ReusedExchange/ReusedBroadcast at runtime).

    Per-arm top-k stays TakeOrdered (orderBy+limit per arm over the
    once-materialized scored frame, then a window over ≤ arms·top_n
    survivors for the rank column) — never a global sort of all
    scored pairs.

    ``hashed=True``: ``sh``'s shingle column already holds
    64-bit hashes (:func:`shingle_hash_array`) — skip the string
    ``xxhash64`` here; the caller never built shingle strings at all.
    ``arms`` may likewise hold any orderable key type (e.g. tinyint
    arm ids instead of method strings — narrower exchange rows and
    integer key compares in every join/groupBy; the caller re-attaches
    the display string after this returns)."""
    caps = {k: v for k, v in (max_shingle_df or {}).items()
            if v is not None}
    sh = sh.select(
        arm_col,
        F.col(id_col),
        (F.col("sh") if hashed else F.xxhash64("sh")).alias("_h"),
    ).localCheckpoint(eager=False)
    # ^ consumed by every stage below (df cap + sizes + both join
    # sides); without materialization each reference re-runs the
    # shingle explode.
    if caps:
        capped = sorted(caps)
        cap_of = F.lit(None)
        for a in capped:
            cap_of = F.when(F.col(arm_col) == a, F.lit(caps[a])).otherwise(
                cap_of
            )
        drop = (
            sh.filter(F.col(arm_col).isin(capped))
            .groupBy(arm_col, "_h")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > cap_of)
            .select(arm_col, "_h")
        )
        sh = sh.join(F.broadcast(drop), [arm_col, "_h"], "left_anti")
    sizes = sh.groupBy(arm_col, id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(arm_col, F.col(id_col).alias("doc_a"), "_h")
    b = sh.select(arm_col, F.col(id_col).alias("doc_b"), "_h")
    shared = (
        a.join(b, [arm_col, "_h"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy(arm_col, "doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(
        arm_col, F.col(id_col).alias("doc_a"), F.col("n_sh").alias("words_a")
    )
    sb = sizes.select(
        arm_col, F.col(id_col).alias("doc_b"), F.col("n_sh").alias("words_b")
    )
    jac = F.round(
        F.col("shared")
        / (F.col("words_a") + F.col("words_b") - F.col("shared")).cast("double"),
        6,
    )
    from pyspark.sql.window import Window

    scored = (
        shared.join(sa, [arm_col, "doc_a"])
        .join(sb, [arm_col, "doc_b"])
        .withColumn("jaccard", jac)
    )
    # scored is deliberately NOT checkpointed: it is the all-pairs
    # frame — the largest relation in the whole plan — and each arm's
    # TakeOrdered branch filters on arm_col, which is a key of every
    # join above, so Catalyst pushes the arm predicate down to the
    # (checkpointed) shingle scan and each branch computes ONLY its
    # own arm's pair join. Materializing scored instead measured
    # ~2x wall + GC pressure at the synthetic 10x tier.
    order = [F.col("jaccard").desc(), F.col("doc_a"), F.col("doc_b")]
    top = None
    for arm in arms:
        t = scored.filter(F.col(arm_col) == arm).orderBy(*order).limit(top_n)
        top = t if top is None else top.unionByName(t)
    w = Window.partitionBy(arm_col).orderBy(*order)
    return top.withColumn("rk", F.row_number().over(w)).select(
        arm_col, "doc_a", "doc_b", "shared", "words_a", "words_b",
        "jaccard", "rk",
    )
