"""Large-scale training-data-pipeline operators (BASELINE.json north
star): deduplication, text analysis, fingerprinting, and vector
similarity over the ``documents`` and ``embeddings`` tables.

Every query here is oracle-checked: hash-function-specific candidate
sets (MinHash/SimHash, LSH clustering) are anchored with injected exact
duplicates whose recall and scores are provable by construction, and IVF
is run at full probe where it is provably ≡ brute force.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_candidates,
    simhash_candidates,
)
from ..operators.similarity import cosine_topk, label_centroid_norms
from ..operators.text import (
    add_text_features,
    bm25_term_stats,
    chunk_documents,
    filter_by_quantile,
    fingerprint_col,
    ngram_jaccard_pairs,
    pack_chunks,
    predict_language_from_words,
    repetition_features,
    rolling_hash_col,
    tokens,
    top_tfidf_term,
    winnow_fingerprints_vec,
)
from ..operators.util import ensure_parallelism
from ..sources.readers import load_table
from .catalog import QuerySpec


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


#: per-(path, content-fingerprint) row counts for the derived scale
#: knobs and guardrail ceilings: the cosine guard needs a count, and
#: without the cache that is an eager count() job in EVERY construction
#: of the entry — bench passes, tests, compositions; with it only the
#: first construction per table content pays the one metadata-count
#: job, exactly the _ANN_INDEX_CACHE precedent. Keyed by the same stat
#: fingerprint as the schema cache, so a rewritten table re-counts.
_COUNT_CACHE: dict[tuple, int] = {}


def _table_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    import os

    from ..sources.readers import _table_fingerprint

    path = os.path.join(sf_dir, f"{name}.parquet")
    fp = _table_fingerprint(path)
    if fp is None:
        # A None fingerprint (transient OSError during a
        # concurrent rewrite) must not become a cache key — a later
        # None-fingerprint lookup of the same path would serve a stale
        # count into guardrail ceilings and lsh_params_for. Mirror the
        # readers.load_table contract: compute, do not store.
        return load_table(spark, sf_dir, name).count()
    key = (os.path.realpath(path), fp)
    n = _COUNT_CACHE.get(key)
    if n is None:
        # parquet metadata count (footer row counts; no data scan)
        n = _COUNT_CACHE[key] = load_table(spark, sf_dir, name).count()
    return n


# --- token statistics (incl. BPE-ish regex tokenization, folded from
# the former regex_token_counts query) -------------------------------------

_RE_TOKEN_PATTERN = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"


#: BPE oracle-arm parameters: the merge loop trains on the
#: every-17th-doc mini-corpus (the %37 holdout precedent) with a bounded
#: merge budget — small enough that the DuckDB oracle re-derives the
#: FULL training loop (unrolled argmax + left-to-right merge application
#: via delimiter-wrapped string replace) and the sequential encode, yet
#: the whole operator pipeline (word-type table → merge loop →
#: rank-ordered encode) runs end-to-end.
_BPE_MINI_MOD = 17
_BPE_NUM_MERGES = 8


def doc_token_stats(
    spark: SparkSession, sf_dir: str, trainer: str | None = None
) -> DataFrame:
    """Per-language token stats PLUS the BPE tokenizer surfaces,
    stacked by ``surface``:

    * ``lang_stats`` — whitespace tokens AND the word/punctuation
      regex tokenizer (the 'BPE-ish' tokenizer of the north-star
      list; formerly the separate ``regex_token_counts`` query,
      folded here so the catalog fits the driver's 50-query check
      window), one row per language.
    * ``bpe_merge`` — the learned BPE merge rules, in rank order,
      trained on the every-17th-doc mini-corpus with ``num_merges=8,
      min_frequency=2``: ``ord`` = rank, ``sval`` = ``'a b'``. Training
      runs through :func:`..operators.bpe.train_bpe_bounded` — the same
      merge loop as the distributed :func:`..operators.bpe.train_bpe`
      (shared :func:`..operators.bpe.train_merges_py`, equality
      test-pinned) in ONE lazy executor task, zero construction jobs.
      The DuckDB oracle re-derives the entire loop: per-iteration
      weighted pair counts, argmax (count desc, ties lexicographic), and
      the left-to-right non-overlapping merge application (delimiter-
      wrapped string replace — byte-equivalent to the fold).
    * ``bpe_encode`` — each mini-corpus doc encoded with the learned
      rules applied sequentially in rank order
      (:func:`..operators.bpe.bpe_encode_sequential_bounded`, Sennrich
      2016's encoder; equality with the GPT-2 rank-greedy
      :func:`..operators.bpe.bpe_encode` on this corpus is pinned in
      tests/test_bpe.py): ``ord`` = doc_id, ``sval`` = space-joined
      subword tokens (BPE symbols never contain whitespace — words
      come from a ``\\s+`` split — so the join is unambiguous; the
      driver hasher takes strings, not arrays).

    The long format's unused measure columns are NULL per surface
    (ints/doubles/strings only — no nullable booleans).

    ``trainer`` selects the PHYSICAL training path feeding the
    ``bpe_merge``/``bpe_encode`` arms — same merge rules either way
    (shared ``train_merges_py`` loop, equality pinned in
    tests/test_bpe.py):

    * ``"bounded"`` (default, also the bench path): one lazy
      ``applyInPandas`` task, zero construction jobs;
    * ``"distributed"``: :func:`..operators.bpe.train_bpe` — the
      100 TB path (per-merge global argmax as a bounded 1-row
      collect), eager at construction by design. Selecting it lets
      the DRIVER gate witness the distributed trainer end-to-end
      (run ``SPARK_GRAFT_BPE_TRAINER=distributed
      tools/check_correctness.py doc_token_stats`` — recorded green
      in COVERAGE.md); unset, the env knob leaves the default
      untouched."""
    import os as _os

    from ..operators.bpe import (
        bpe_encode_sequential_bounded,
        train_bpe,
        train_bpe_bounded,
    )

    trainer = trainer or _os.environ.get(
        "SPARK_GRAFT_BPE_TRAINER", "bounded"
    )
    if trainer not in ("bounded", "distributed"):
        raise ValueError(f"unknown BPE trainer {trainer!r}")

    # No ensure_parallelism here (tried and rejected)
    # (interleaved A/B at sf0.1: the un-repartitioned scan is >= as
    # fast — the lang groupBy already exchanges, so the repartition
    # only adds a shuffle in front of it).
    d = _docs(spark, sf_dir)
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    re_tokens = F.size(
        F.regexp_extract_all("text", F.lit(_RE_TOKEN_PATTERN), F.lit(0))
    )
    nl = F.lit(None).cast("long")
    stats = d.groupBy("lang").agg(
        F.count("*").alias("docs"),
        (F.sum(n_tokens) / F.count("*")).alias("avg_tokens"),
        F.max(n_tokens).alias("max_tokens"),
        (F.sum("n_chars") / F.count("*")).alias("avg_chars"),
        F.sum(re_tokens).alias("re_tokens"),
        (F.sum(re_tokens) / F.sum(n_tokens)).alias("re_ws_ratio"),
    ).select(
        F.lit("lang_stats").alias("surface"),
        "lang", "docs", "avg_tokens", "max_tokens", "avg_chars",
        "re_tokens", "re_ws_ratio",
        nl.alias("ord"),
        F.lit(None).cast("string").alias("sval"),
    )
    mini = d.filter(
        (F.col("doc_id") % _BPE_MINI_MOD == 0) & F.col("text").isNotNull()
    )
    if trainer == "distributed":
        learned = train_bpe(
            mini, num_merges=_BPE_NUM_MERGES, min_frequency=2
        )
        # local_relation: JVM-evaluated local rows — the pickle path
        # would run a Python-worker stage per materialization (see
        # operators.util.local_relation).
        from ..operators.util import local_relation

        merges = local_relation(
            spark,
            [(i, a, b) for i, (a, b) in enumerate(learned)],
            "rank INT, a STRING, b STRING",
        )
    else:
        merges = train_bpe_bounded(
            mini, num_merges=_BPE_NUM_MERGES, min_frequency=2
        )

    def _pad(surface: str, ord_col, sval_col) -> list:
        return [
            F.lit(surface).alias("surface"),
            F.lit(None).cast("string").alias("lang"),
            nl.alias("docs"),
            F.lit(None).cast("double").alias("avg_tokens"),
            F.lit(None).cast("int").alias("max_tokens"),
            F.lit(None).cast("double").alias("avg_chars"),
            nl.alias("re_tokens"),
            F.lit(None).cast("double").alias("re_ws_ratio"),
            ord_col.cast("long").alias("ord"),
            sval_col.alias("sval"),
        ]

    merge_rows = merges.select(
        *_pad("bpe_merge", F.col("rank"), F.concat_ws(" ", "a", "b"))
    )
    enc_rows = bpe_encode_sequential_bounded(
        mini.select("doc_id", "text"), merges
    ).select(
        *_pad("bpe_encode", F.col("doc_id"), F.concat_ws(" ", "bpe_tokens"))
    )
    return stats.unionByName(merge_rows).unionByName(enc_rows)


def _bpe_oracle_sql(n_merges: int, mini_mod: int) -> str:
    """The full BPE training loop + sequential encode in DuckDB SQL,
    UNROLLED for a bounded merge budget (an unrolled chain, not a
    recursive CTE — aggregates are not allowed in a recursive term, and
    the budget is a construction constant).

    Corpus-charset contract (shared with every token oracle in this
    module): the synthetic documents are printable ASCII — verified
    with a regex sweep (no control chars, no non-ASCII). This is what
    makes (a) the \\x1F/\\x1E delimiters collision-free and (b) the
    three tokenizers in play (Spark's Java ``\\s``, the encoder's
    Python ``re.ASCII \\s``, DuckDB/RE2's ``\\s``) agree — they
    disagree on exotic whitespace such as ``\\x0B`` (Java/Python
    include it, RE2 does not), which the contract excludes.

    Representation trick: a symbol array round-trips through a
    delimiter-wrapped string — ``\\x1F sym \\x1E`` per symbol (both
    delimiters are outside the corpus charset, pre-verified ASCII) —
    so "apply merge (a, b) left-to-right non-overlapping" is exactly
    one ``replace()`` (SQL replace scans left-to-right and resumes
    AFTER each replacement, byte-equivalent to the engine's fold /
    ``merge_word``; adjacent matches share no delimiter chars because
    each wrapped symbol is self-contained). Each iteration i:
    ``p{i}`` weighted adjacent-pair counts, ``m{i}`` the argmax rule
    (count desc, ties lexicographic, dropped below min_frequency=2 —
    once empty, every later iteration is a provable no-op), ``s{i}``
    the merged state. The encode chain ``e{i}`` applies the same
    ``m{i}`` rules to the mini-corpus docs in rank order (sequential
    semantics — what the engine arm computes)."""
    lo, hi = "chr(31)", "chr(30)"  # wrap: lo || sym || hi
    sep = f"{hi}||{lo}"  # between adjacent wrapped symbols
    cte = [f"""mini AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  WHERE doc_id % {mini_mod} = 0 AND text IS NOT NULL),
w0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM mini)
  WHERE len(w) > 0 GROUP BY 1),
s0 AS MATERIALIZED (SELECT string_split(w, '') AS syms, cnt FROM w0),
tok AS MATERIALIZED (
  SELECT doc_id, t.i AS pos,
         {lo} || array_to_string(string_split(x.wl[t.i], ''), {sep})
             || {hi} AS st
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS wl
        FROM mini) x,
       unnest(generate_series(1, len(x.wl))) AS t(i)
  WHERE len(x.wl[t.i]) > 0)"""]
    for i in range(1, n_merges + 1):
        p = i - 1
        cte.append(f"""p{i} AS MATERIALIZED (
  SELECT s.syms[t.i] AS a, s.syms[t.i + 1] AS b,
         CAST(SUM(s.cnt) AS BIGINT) AS n
  FROM s{p} s, unnest(generate_series(1, len(s.syms) - 1)) AS t(i)
  WHERE len(s.syms) >= 2 GROUP BY 1, 2),
m{i} AS MATERIALIZED (
  SELECT a, b,
         {lo} || a || {sep} || b || {hi} AS pat,
         {lo} || a || b || {hi} AS rep
  FROM p{i} WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1),
s{i} AS MATERIALIZED (
  SELECT CASE WHEN NOT EXISTS (SELECT 1 FROM m{i}) THEN syms
              ELSE string_split(substr(r2, 2, length(r2) - 2), {sep})
         END AS syms, cnt
  FROM (SELECT syms, cnt,
               replace({lo} || array_to_string(syms, {sep}) || {hi},
                       (SELECT pat FROM m{i}),
                       (SELECT rep FROM m{i})) AS r2
        FROM s{p})),
e{i} AS MATERIALIZED (
  SELECT doc_id, pos,
         CASE WHEN NOT EXISTS (SELECT 1 FROM m{i}) THEN st
              ELSE replace(st, (SELECT pat FROM m{i}),
                           (SELECT rep FROM m{i}))
         END AS st
  FROM {"tok" if i == 1 else f"e{p}"})""")
    merge_union = "\n  UNION ALL ".join(
        f"SELECT CAST({i - 1} AS BIGINT) AS ord, a || ' ' || b AS sval "
        f"FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    cte.append(f"""merges AS MATERIALIZED (
  {merge_union}),
enc0 AS MATERIALIZED (
  SELECT doc_id,
         string_agg(replace(substr(st, 2, length(st) - 2), {sep}, ' '),
                    ' ' ORDER BY pos) AS sval
  FROM e{n_merges} GROUP BY doc_id),
-- LEFT join back to mini: a non-NULL but empty/whitespace-only text
-- has NO tokens (tok filters zero-length words), yet the engine's
-- encoder still emits its row with sval = '' — the oracle must too
enc AS MATERIALIZED (
  SELECT m.doc_id, COALESCE(e.sval, '') AS sval
  FROM mini m LEFT JOIN enc0 e ON m.doc_id = e.doc_id)""")
    return f"""
WITH {", ".join(cte)}
SELECT 'lang_stats' AS surface, lang, COUNT(*) AS docs,
       SUM(len(string_split_regex(trim(text), '\\s+'))) / COUNT(*) AS avg_tokens,
       CAST(MAX(len(string_split_regex(trim(text), '\\s+'))) AS INTEGER) AS max_tokens,
       SUM(n_chars) / COUNT(*) AS avg_chars,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT) AS re_tokens,
       SUM(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')))
         / SUM(len(string_split_regex(trim(text), '\\s+'))) AS re_ws_ratio,
       CAST(NULL AS BIGINT) AS ord, CAST(NULL AS VARCHAR) AS sval
FROM documents GROUP BY lang
UNION ALL
SELECT 'bpe_merge', NULL, NULL, NULL, NULL, NULL, NULL, NULL, ord, sval
FROM merges
UNION ALL
SELECT 'bpe_encode', NULL, NULL, NULL, NULL, NULL, NULL, NULL,
       CAST(doc_id AS BIGINT), sval
FROM enc
"""


DOC_TOKEN_STATS_SQL = _bpe_oracle_sql(_BPE_NUM_MERGES, _BPE_MINI_MOD)


# --- per-doc quality features + language ID --------------------------------

#: fixed query-term set for text_quality's BM25 integer arm (a
#: DSIR-style target-domain query over the synthetic corpus vocabulary).
_BM25_QUERY = ("spark", "query", "join")


#: text_quality's column families, in output order: each key is an
#: ``arms`` value selecting one family of columns over the shared
#: checkpointed feature scan, so the arm probe attributes per-family
#: cost as (family − base) — the doc_dedup_fingerprints precedent —
#: without un-fusing the catalog plan (separate scans per family regress
#: it).
_TQ_FAMILIES = (
    "lang_id", "lm", "repetition", "tfidf", "bm25",
    "gate_exact", "gate_approx",
)


def text_quality(
    spark: SparkSession,
    sf_dir: str,
    arms: tuple[str, ...] = _TQ_FAMILIES,
) -> DataFrame:
    """Per-doc quality features plus the corpus-trained unigram
    language ID (operators/text.py::predict_language — formerly the
    separate ``lang_id_confusion`` query; the per-doc (lang,
    predicted_lang) columns carry strictly more information than the
    confusion matrix they replace).

    ONE scan of ``documents``: the feature projection carries ``lang``
    and the token array through the same pass and is lazily
    checkpointed; the language-ID stages (profile training + per-doc
    overlap) explode words from the checkpointed arrays instead of
    re-reading and re-splitting the source (which would scan documents
    three times and tokenize twice).

    The BIGRAM-LM arm (operators/lm.py): a count-based
    bigram LM trained on the corpus itself with ``min_count=2``
    pruning, every doc scored through :func:`..operators.lm.
    score_documents`. The catalog emits the INTEGER surfaces —
    ``lm_bigrams`` (doc adjacencies), ``lm_hits`` (those whose corpus
    count survived pruning), ``lm_hit_weight`` (sum of matched counts)
    — which the DuckDB oracle recomputes exactly; the float
    log-prob/perplexity path of the same operator is pinned closed-form
    in tests/test_lm.py (ln/exp are not bit-portable across engines).
    Both stages reuse the checkpointed token arrays — no extra scan or
    tokenize.

    The REPETITION arm (:func:`..operators.text.repetition_features` —
    Gopher-style duplicated-token mass and top-token/top-bigram mode
    counts, the standard curation repetition filters):
    ``n_distinct_tokens``, ``dup_token_frac``, ``top_token_count``,
    ``top_bigram_count``, again reusing the same checkpointed token
    arrays.

    The TF-IDF arm
    (:func:`..operators.text.top_tfidf_term`): each doc's most
    corpus-distinctive term by raw inverse document frequency
    ``tf/df`` with its integer tf/df surfaces — struct-max aggregate
    over the SAME exploded words, no window, no extra scan; the
    ``ln``-scored variant (:func:`..operators.text.tfidf_scores`) is
    pinned closed-form in tests/test_operators.py because libm
    transcendentals are not hash-portable across engines.

    The BM25 arm: per-doc integer statistics for the
    fixed query set :data:`_BM25_QUERY` (``bm25_q_hits`` distinct
    query terms present, ``bm25_q_tf`` summed in-doc occurrences,
    ``bm25_q_df_sum`` summed corpus document frequencies), read off
    :func:`..operators.text.bm25_term_stats` — the exact tf/df frame
    :func:`..operators.text.bm25_scores` is built on — over the same
    exploded words; the operator's tf/df/membership inputs are
    driver-oracled end-to-end while the ln-based Okapi score (and its
    dl/avgdl branch, which this arm doesn't emit) remains
    property-pinned (tests/test_properties.py).

    The QUANTILE-GATE arm (:func:`..operators.text.filter_by_quantile`,
    the corpus-filtering step every curation pipeline runs after
    scoring): ``q80_keep`` = 1 for docs the operator keeps at the
    per-``lang`` 0.8 quantile of the INTEGER ``n_tokens`` score via the
    ``exact=True`` (percent_rank) path — integer scores on a
    deterministic grid make the per-stratum rank cut reproducible across
    engines, and DuckDB re-derives membership with the same PERCENT_RANK
    window. NULL-text docs never enter the gate (keep 0): Spark and
    DuckDB disagree on default NULL ordering inside window sorts, so
    gating them would be engine-defined.

    ``q80_keep_approx``: the SAME gate through the operator's
    ``exact=False`` path — the 100 TB operating point (per-stratum
    ``percentile_approx`` thresholds broadcast back; the corpus pass is
    map-only). On integer scores Spark's percentile_approx is the
    discrete quantile, which DuckDB's ``quantile_disc`` re-derives
    exactly (verified per stratum at sf0.001/0.01/0.1 and at max
    accuracy), so BOTH physical paths flow through the driver gate; the
    percent_rank/approx equivalence stays pinned in
    tests/test_operators.py.

    ``arms``: selects which COLUMN FAMILIES attach to the base feature
    columns (which always compute) — :data:`_TQ_FAMILIES`; deselected
    families skip their joins/aggregations and their columns are absent,
    so the scale probe attributes per-family growth as (family − base)
    over the SAME shared checkpointed scan. Single-family output is
    column-projected row-identical to the fused result (test-pinned);
    the catalog default runs all families in one fused plan."""
    from ..operators.lm import score_documents, train_bigram_lm

    unknown = set(arms) - set(_TQ_FAMILIES)
    if unknown:
        raise ValueError(f"unknown arms {sorted(unknown)}")

    # No ensure_parallelism on this scan (tried and rejected;
    # interleaved A/B at sf0.1: wall 3.06 -> 4.21 s): the
    # checkpointed feature frame carries token ARRAYS, and spreading
    # it over ~10 partitions multiplies every family subtree's
    # block-manager reads of fat rows; the single-partition
    # materialization is cheaper than the parallelism it buys at this
    # row width (the doc_dedup/ngram inputs that DID win are narrow).
    d = _docs(spark, sf_dir)
    feat = add_text_features(
        d, extra=[F.col("lang"), tokens("text").alias("_w")]
    ).localCheckpoint(eager=False)
    words = feat.select("doc_id", "lang", F.explode("_w").alias("w"))
    # Family fusion (fewer shuffles): if the lang-id profile + per-doc
    # distinct set, the tfidf tf/df pair, the bm25 tf/df pair, and the
    # repetition token mode each re-exploded the checkpointed token
    # arrays and re-ran their own (doc, word)-keyed aggregate, that
    # would be 4 explode+aggregate passes over the fat checkpoint whose
    # subtrees Catalyst prunes differently, so nothing would be
    # reusable. ONE shared per-(doc, lang, word) count,
    # lazily materialized, now feeds all four families: the profile
    # counts become sum(tf) by (lang, w) (a two-level count — exact),
    # the per-doc distinct word set is exactly tf's key set, tfidf/bm25
    # read their tf directly, and the token mode is max(tf). Exact
    # because lang is functionally dependent on doc_id (one documents
    # row per doc). The explode runs once; every family reads a NARROW
    # (id, lang, w, tf) materialization instead of the fat token-array
    # checkpoint (the rejection of parallelizing this scan above is
    # about spreading those fat rows — tf rows are the opposite
    # shape).
    tf = (
        words.groupBy("doc_id", "lang", "w")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    tfv = tf.select("doc_id", "w", "tf")
    pred = predict_language_from_words(None, tf=tf)
    # The SAME fusion at the bigram level (one shared per-(doc, w1, w2)
    # count checkpoint feeding LM training, LM scoring and the
    # repetition bigram mode) was tried and REVERTED: per-doc bigrams
    # are mostly unique, so the aggregate dedupes almost nothing and
    # the checkpoint materializes what is effectively the whole
    # exploded pair corpus (two string columns per row) — interleaved
    # stage_profile at sf0.1 measured task 4.9 → 10–14 s and wall
    # 2.9 → 5–13 s WITH the shared frame. The word-level tf above wins
    # precisely because words DO repeat within documents; the bigram
    # explodes stay per-consumer streaming codegen.
    uni, bi = train_bigram_lm(feat, tokens_col="_w", min_count=2)
    lm = score_documents(
        feat.select("doc_id", "_w"), uni, bi,
        id_col="doc_id", tokens_col="_w", with_logprob=False,
    ).select(
        "doc_id",
        F.col("n_bigrams").alias("lm_bigrams"),
        "lm_hits",
        "lm_hit_weight",
    )
    rep = repetition_features(
        feat, id_col="doc_id", tokens_col="_w", token_tf=tfv
    )
    tfidf = top_tfidf_term(None, tf=tfv)
    # The BM25 INTEGER arm — per-doc query-term statistics
    # (distinct hits, summed tf, summed corpus df) for a fixed query
    # set, read off :func:`..operators.text.bm25_term_stats` — the
    # exact tf/df frame :func:`..operators.text.bm25_scores` is built
    # on (the scorer adds only the dl/avgdl branch feeding the float
    # score, which this arm doesn't emit, and whose 1-row broadcast
    # attach would be the one nested-loop join in this query's pinned
    # plan) — so the operator's tf/df/membership inputs are
    # driver-oracled while its ln-based score stays property-pinned in
    # tests/test_properties.py (libm is not hash-portable).
    bm = (
        bm25_term_stats(None, tf=tfv)
        .filter(F.col("w").isin(*_BM25_QUERY))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("bm25_q_hits"),
            F.sum("tf").alias("bm25_q_tf"),
            F.sum("df").alias("bm25_q_df_sum"),
        )
    )
    # Quantile-gate arms: run the REAL operator over the integer
    # n_tokens score per lang stratum and mark membership, BOTH
    # physical paths:
    # - q80_keep: exact=True (percent_rank window) — oracled with the
    #   same PERCENT_RANK window in DuckDB;
    # - q80_keep_approx: exact=False — the 100 TB path (per-stratum
    #   percentile_approx thresholds broadcast back, map-only corpus
    #   pass). On integer scores Spark's percentile_approx equals
    #   DuckDB's discrete quantile (quantile_disc) — verified per
    #   stratum at sf0.001/0.01/0.1 and at max accuracy — so the
    #   threshold-join membership is oracle-checkable too.
    # Both reuse the same checkpointed feature pass.
    scored = feat.select("doc_id", "lang", "n_tokens").filter(
        F.col("n_tokens").isNotNull()
    )
    gate = filter_by_quantile(
        scored, "n_tokens", 0.8, strata_col="lang", exact=True,
    ).select("doc_id", F.lit(1).alias("q80_keep"))
    # accuracy=1e6: percentile_approx is the EXACT
    # discrete quantile while every stratum holds ≤ accuracy rows (the
    # GK sketch keeps all values until its budget binds) — 1e6 is 200×
    # the largest sf0.1 stratum, so the quantile_disc oracle identity
    # is an enforced precondition, not an assumption that a larger
    # corpus could silently break. (At a true 100 TB stratum the
    # operator's default accuracy is the intended approximate point —
    # outside the oracle's scope by design.)
    gate_a = filter_by_quantile(
        scored, "n_tokens", 0.8, strata_col="lang", exact=False,
        accuracy=1_000_000,
    ).select("doc_id", F.lit(1).alias("q80_keep_approx"))
    # LEFT join: a doc with no profile overlap (or NULL/empty text)
    # gets predicted_lang NULL — the quality surface must still emit
    # EVERY doc, exactly like the pre-fold per-doc query did. Each
    # family's join + output columns attach only when its arm is
    # selected (everything above is lazy plan construction — free);
    # with all families on, the joins and column order are identical
    # to the pre-knob plan.
    zl = F.lit(0).cast("long")
    families: dict[str, tuple[DataFrame, list]] = {
        "lang_id": (pred, [F.col("predicted_lang")]),
        "lm": (lm, [
            F.coalesce("lm_bigrams", zl).alias("lm_bigrams"),
            F.coalesce("lm_hits", zl).alias("lm_hits"),
            F.coalesce("lm_hit_weight", zl).alias("lm_hit_weight"),
        ]),
        "repetition": (rep, [
            F.col("n_distinct_tokens"), F.col("dup_token_frac"),
            F.coalesce("top_token_count", zl).alias("top_token_count"),
            F.coalesce("top_bigram_count", zl).alias("top_bigram_count"),
        ]),
        "tfidf": (tfidf, [
            F.col("top_tfidf_term"),
            F.coalesce("top_tfidf_tf", zl).alias("top_tfidf_tf"),
            F.coalesce("top_tfidf_df", zl).alias("top_tfidf_df"),
        ]),
        "bm25": (bm, [
            F.coalesce("bm25_q_hits", zl).alias("bm25_q_hits"),
            F.coalesce("bm25_q_tf", zl).alias("bm25_q_tf"),
            F.coalesce("bm25_q_df_sum", zl).alias("bm25_q_df_sum"),
        ]),
        "gate_exact": (gate, [
            F.coalesce("q80_keep", F.lit(0)).alias("q80_keep"),
        ]),
        "gate_approx": (gate_a, [
            F.coalesce("q80_keep_approx", F.lit(0)).alias(
                "q80_keep_approx"
            ),
        ]),
    }
    out = feat.drop("_w")
    cols: list = [
        F.col(c)
        for c in (
            "doc_id", "n_tokens", "n_chars_measured", "avg_token_len",
            "vowel_ratio", "punct_ratio", "stopword_ratio", "quality",
            "lang",
        )
    ]
    for fam in _TQ_FAMILIES:  # declaration order == output order
        if fam not in arms:
            continue
        fdf, fcols = families[fam]
        out = out.join(fdf, "doc_id", "left_outer")
        cols.extend(fcols)
    return out.select(*cols)


TEXT_QUALITY_SQL = r"""
WITH words AS (
  SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\s+')) AS w
  FROM documents),
toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w,
         generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS ord
  FROM documents WHERE text IS NOT NULL),
big AS (
  SELECT doc_id, w AS w1,
         LEAD(w) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
  FROM toks),
big2 AS (SELECT * FROM big WHERE w2 IS NOT NULL),
bcnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
         FROM big2 GROUP BY 1, 2),
kept AS (SELECT * FROM bcnt WHERE c12 >= 2),
lm AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS lm_bigrams,
         CAST(COUNT(k.c12) AS BIGINT) AS lm_hits,
         CAST(COALESCE(SUM(k.c12), 0) AS BIGINT) AS lm_hit_weight
  FROM big2 b LEFT JOIN kept k ON b.w1 = k.w1 AND b.w2 = k.w2
  GROUP BY 1),
counts AS (SELECT lang, w, COUNT(*) AS cnt FROM words GROUP BY 1, 2),
profile AS (
  SELECT lang AS cand_lang, w FROM (
    SELECT lang, w, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY cnt DESC, w) AS rk
    FROM counts) WHERE rk <= 20),
doc_words AS (SELECT DISTINCT doc_id, w FROM words),
overlap AS (
  SELECT d.doc_id, p.cand_lang, COUNT(*) AS overlap
  FROM doc_words d JOIN profile p ON d.w = p.w
  GROUP BY 1, 2),
pred AS (
  SELECT doc_id, cand_lang AS predicted_lang FROM (
    SELECT doc_id, cand_lang, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY overlap DESC, cand_lang) AS prk
    FROM overlap) WHERE prk = 1),
tokmode AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_token_count FROM (
    SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2)
  GROUP BY 1),
bigmode AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_count FROM (
    SELECT doc_id, w1 || ' ' || w2 AS g, COUNT(*) AS c FROM big2
    GROUP BY 1, 2)
  GROUP BY 1),
tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
       FROM words GROUP BY 1, 2),
dfreq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
tfidf AS (
  SELECT doc_id, w AS top_tfidf_term, tf AS top_tfidf_tf,
         df AS top_tfidf_df
  FROM (SELECT t.doc_id, t.w, t.tf, f.df,
               ROW_NUMBER() OVER (
                 PARTITION BY t.doc_id
                 ORDER BY CAST(t.tf AS DOUBLE) / f.df DESC, t.w DESC
               ) AS rk
        FROM tf t JOIN dfreq f USING (w))
  WHERE rk = 1),
bm25q AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS bm25_q_hits,
         CAST(SUM(t.tf) AS BIGINT) AS bm25_q_tf,
         CAST(SUM(f.df) AS BIGINT) AS bm25_q_df_sum
  FROM tf t JOIN dfreq f USING (w)
  WHERE t.w IN ('spark', 'query', 'join')
  GROUP BY 1),
q80 AS (
  SELECT doc_id, 1 AS q80_keep FROM (
    SELECT doc_id, PERCENT_RANK() OVER (
        PARTITION BY lang
        ORDER BY len(string_split_regex(trim(text), '\s+'))) AS pr
    FROM documents WHERE text IS NOT NULL)
  WHERE pr >= 0.8),
-- the approx (percentile_approx threshold-join) path: on integer
-- scores Spark's percentile_approx equals the discrete quantile, so
-- quantile_disc re-derives the per-stratum threshold exactly
q80a AS (
  SELECT s.doc_id, 1 AS q80_keep_approx
  FROM (SELECT doc_id, lang,
               len(string_split_regex(trim(text), '\s+')) AS nt
        FROM documents WHERE text IS NOT NULL) s
  JOIN (SELECT lang,
               quantile_disc(len(string_split_regex(trim(text), '\s+')),
                             0.8) AS thr
        FROM documents WHERE text IS NOT NULL GROUP BY lang) t
    ON s.lang IS NOT DISTINCT FROM t.lang
  WHERE s.nt >= t.thr)
SELECT d.doc_id,
       CAST(len(string_split_regex(trim(d.text), '\s+')) AS INTEGER) AS n_tokens,
       CAST(length(d.text) AS INTEGER) AS n_chars_measured,
       length(regexp_replace(d.text, '\s+', '', 'g'))
             / len(string_split_regex(trim(d.text), '\s+')) AS avg_token_len,
       (length(d.text) - length(regexp_replace(d.text, '[aeiou]', '', 'g')))
             / CAST(length(d.text) AS DOUBLE) AS vowel_ratio,
       length(regexp_replace(d.text, '[a-zA-Z0-9\s]', '', 'g'))
             / CAST(length(d.text) AS DOUBLE) AS punct_ratio,
       len(list_filter(string_split_regex(trim(d.text), '\s+'),
           t -> list_contains(['the','a','an','and','or','of','to','in',
                               'is','it','for','on'], lower(t))))
             / CAST(len(string_split_regex(trim(d.text), '\s+')) AS DOUBLE)
             AS stopword_ratio,
       CASE WHEN len(string_split_regex(trim(d.text), '\s+')) >= 60
                 AND (length(d.text) - length(regexp_replace(d.text, '[aeiou]', '', 'g')))
                           / CAST(length(d.text) AS DOUBLE) > 0.25 THEN 'high'
            WHEN len(string_split_regex(trim(d.text), '\s+')) >= 30 THEN 'medium'
            ELSE 'low' END AS quality,
       d.lang,
       p.predicted_lang,
       COALESCE(lm.lm_bigrams, 0) AS lm_bigrams,
       COALESCE(lm.lm_hits, 0) AS lm_hits,
       COALESCE(lm.lm_hit_weight, 0) AS lm_hit_weight,
       CAST(len(list_distinct(string_split_regex(trim(d.text), '\s+')))
            AS INTEGER) AS n_distinct_tokens,
       (len(string_split_regex(trim(d.text), '\s+'))
            - len(list_distinct(string_split_regex(trim(d.text), '\s+'))))
            / CAST(len(string_split_regex(trim(d.text), '\s+')) AS DOUBLE)
            AS dup_token_frac,
       COALESCE(tm.top_token_count, 0) AS top_token_count,
       COALESCE(bm.top_bigram_count, 0) AS top_bigram_count,
       ti.top_tfidf_term,
       COALESCE(ti.top_tfidf_tf, 0) AS top_tfidf_tf,
       COALESCE(ti.top_tfidf_df, 0) AS top_tfidf_df,
       COALESCE(bq.bm25_q_hits, 0) AS bm25_q_hits,
       COALESCE(bq.bm25_q_tf, 0) AS bm25_q_tf,
       COALESCE(bq.bm25_q_df_sum, 0) AS bm25_q_df_sum,
       COALESCE(q.q80_keep, 0) AS q80_keep,
       COALESCE(qa.q80_keep_approx, 0) AS q80_keep_approx
FROM documents d
LEFT JOIN pred p ON d.doc_id = p.doc_id
LEFT JOIN lm ON d.doc_id = lm.doc_id
LEFT JOIN tokmode tm ON d.doc_id = tm.doc_id
LEFT JOIN bigmode bm ON d.doc_id = bm.doc_id
LEFT JOIN tfidf ti ON d.doc_id = ti.doc_id
LEFT JOIN bm25q bq ON d.doc_id = bq.doc_id
LEFT JOIN q80 q ON d.doc_id = q.doc_id
LEFT JOIN q80a qa ON d.doc_id = qa.doc_id
"""


# --- exact dedup + content fingerprints (one per-doc surface) --------------

def doc_dedup_fingerprints(
    spark: SparkSession,
    sf_dir: str,
    arms: tuple[str, ...] = ("holdout", "winnow", "span"),
) -> DataFrame:
    """Per-doc dedup + fingerprint surface (formerly the separate
    ``dedup_exact_docs`` / ``doc_fingerprints`` / ``rolling_fingerprints``
    queries, folded so the catalog fits the driver's 50-query check
    window): exact hash-groupBy duplicate groups
    (:func:`..operators.dedup.exact_dedup_groups`) re-attached per doc,
    the order-insensitive shingle-set md5, and the order-sensitive
    Rabin–Karp rolling hash — all three per-row expressions computed in
    ONE scan; the group stats join is AQE-broadcast (group table ≤ one
    row per distinct content).

    ``holdout_hits``: benchmark decontamination
    (:func:`..operators.text.contaminated_ids`, the 13-gram-collision
    rule) run against a deterministic in-corpus holdout (every 37th doc)
    — each doc's count of distinct 13-grams shared with the holdout, 0
    for clean docs. The operator joins on 64-bit shingle hashes (strings
    never shuffle); the oracle recomputes the same counts over the
    shingle strings themselves — identical strings hash identically, so
    the counts agree exactly (a cross-string xxhash64 collision is the
    only divergence, and this fixed corpus has none).

    The WINNOWING arm (Schleimer et al. SIGMOD'03 —
    :func:`..operators.text.winnow_fingerprints_vec`): per doc the
    count of selected window-min k-gram fingerprints
    (``winnow_fp_count``; expected density 2/(w+1) of positions) and
    the count shared with the same every-37th-doc holdout
    (``winnow_hits``) — the guaranteed-detection containment surface
    (any ≥ w+k-1 = 11-char passage shared with a holdout doc scores
    ≥ 1). The polynomial hash is the :func:`..operators.text.
    rolling_hash_col` fold, so the DuckDB oracle reproduces the
    SELECTION (which depends on hash values, not just equality)
    bit-exactly. The per-doc fingerprint sets are computed ONCE
    (Arrow-vectorized, lazily checkpointed) and reused by the count
    column, the holdout filter, and the hits join.

    The SUBSTRING-DEDUP arm (Lee et al. 2022 via
    :func:`..operators.text.winnow_dup_spans` — positional winnowing
    anchors instead of a suffix array): per doc, the number of
    cross-document duplicated spans (``dup_spans``), their total
    character length (``dup_span_chars``), and the content-derived group
    id of the doc's spans (``dup_span_group``, the minimum matched
    fingerprint; -1 when the doc has none) — so the span extractor's
    whole pipeline (positional selection → ≥2-distinct-doc anchor filter
    → gap-merge → min_anchors gate) runs under the driver oracle: DuckDB
    re-derives the leftmost-min positional selection with
    ``list_position`` over the same portable polynomial hashes, then the
    identical LAG + running-sum merge. Exact-duplicate texts in the
    corpus guarantee the arm fires (their spans cover ~the whole doc).

    ``arms``: this entry's arms are COLUMN FAMILIES over one row per
    doc, not stacked rows — ``holdout`` (13-gram decontamination hits),
    ``winnow`` (fingerprint count + holdout-shared count), ``span``
    (duplicate-span stats). The base columns (exact-dup group stats,
    shingle-set fingerprint, rolling hash) always compute; deselected
    families skip their scans/joins and their columns are absent from
    the output, so the scale probe attributes per-family growth.
    Single-family output is column-projected row-identical to the fused
    result (test-pinned).
    """
    from ..operators.text import contaminated_ids, winnow_dup_spans

    _ARM_NAMES = ("holdout", "winnow", "span")
    unknown = set(arms) - set(_ARM_NAMES)
    if unknown:
        raise ValueError(f"unknown arms {sorted(unknown)}")

    # Input skew: the documents table is one parquet file → one scan
    # partition, so every per-doc expression here (winnow Arrow UDF,
    # 13-gram shingling, the rolling-hash char fold, md5) would run
    # single-task — the profile showed a serial chain of 1-task
    # stages, wall ~5.9 s at ~2x parallelism. One cheap round-robin
    # repartition of the narrow input unlocks all cores; no-op at scale
    # (never reduces
    # partitioning).
    d = ensure_parallelism(_docs(spark, sf_dir))
    groups = exact_dedup_groups(d, "text", "doc_id")
    per_doc = d.select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        fingerprint_col("text").alias("fingerprint"),
        rolling_hash_col("text").alias("rhash"),
    )
    # Null-safe join key: md5(NULL) is NULL, and NULL-text docs must
    # still appear (grouped together), matching rolling_hash_col's
    # documented missing≠empty semantics — a plain equi-join would
    # silently drop every NULL-text doc.
    joined = per_doc.join(
        groups, per_doc.text_hash.eqNullSafe(groups.text_hash)
    )
    cols = [
        per_doc.doc_id, per_doc.text_hash, F.col("dup_count"),
        F.col("canonical_doc_id"), F.col("fingerprint"), F.col("rhash"),
    ]
    if "winnow" in arms:
        wd = d.select(
            "doc_id", winnow_fingerprints_vec("text").alias("_wfps")
        ).localCheckpoint(eager=False)
        wfp = wd.select("doc_id", F.explode("_wfps").alias("fp"))
        whold = wfp.filter(F.col("doc_id") % 37 == 0).select(
            "fp"
        ).distinct()
        whits = wfp.join(whold, "fp").groupBy("doc_id").agg(
            F.count("*").alias("winnow_hits")
        )
        wcnt = wd.select(
            "doc_id", F.size("_wfps").cast("long").alias("winnow_fp_count")
        )
        joined = joined.join(wcnt, "doc_id", "left_outer").join(
            whits, "doc_id", "left_outer"
        )
        cols.append(F.col("winnow_fp_count"))
    if "holdout" in arms:
        holdout = d.filter(F.col("doc_id") % 37 == 0)
        hits = contaminated_ids(d, holdout).withColumnRenamed(
            "hits", "holdout_hits"
        )
        joined = joined.join(hits, "doc_id", "left_outer")
        cols.append(
            F.coalesce(F.col("holdout_hits"), F.lit(0).cast("long")).alias(
                "holdout_hits"
            )
        )
    if "winnow" in arms:
        cols.append(
            F.coalesce(F.col("winnow_hits"), F.lit(0).cast("long")).alias(
                "winnow_hits"
            )
        )
    if "span" in arms:
        span_agg = (
            winnow_dup_spans(d, min_anchors=2)
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("dup_spans"),
                F.sum(F.col("end") - F.col("start")).alias(
                    "dup_span_chars"
                ),
                F.min("dup_group").alias("dup_span_group"),
            )
        )
        joined = joined.join(span_agg, "doc_id", "left_outer")
        cols.extend([
            F.coalesce(F.col("dup_spans"), F.lit(0).cast("long")).alias(
                "dup_spans"
            ),
            F.coalesce(
                F.col("dup_span_chars"), F.lit(0).cast("long")
            ).alias("dup_span_chars"),
            F.coalesce(
                F.col("dup_span_group"), F.lit(-1).cast("long")
            ).alias("dup_span_group"),
        ])
    return joined.select(*cols)


DOC_DEDUP_FINGERPRINTS_SQL = r"""
WITH groups AS (
  SELECT md5(text) AS text_hash, COUNT(*) AS dup_count,
         MIN(doc_id) AS canonical_doc_id
  FROM documents GROUP BY 1),
words13 AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE text IS NOT NULL),
sh13 AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(w, i + 1, i + 13), ' ') AS sh
  FROM (SELECT doc_id, w,
               unnest(generate_series(0, greatest(len(w) - 12, 1) - 1)) AS i
        FROM words13)),
hold AS (SELECT DISTINCT sh FROM sh13 WHERE doc_id % 37 = 0),
hits AS (
  SELECT s.doc_id, CAST(COUNT(DISTINCT s.sh) AS BIGINT) AS holdout_hits
  FROM sh13 s JOIN hold h ON s.sh = h.sh GROUP BY 1),
-- winnowing (k=8, w=4): per-position 8-gram polynomial hashes, then
-- the distinct window-of-4 minima — the SAME fold as rhash below, so
-- the value-dependent selection matches the engine bit-for-bit
wkh AS (
  SELECT doc_id, length(text) AS n,
         list_transform(generate_series(0, length(text) - 8),
           i -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(generate_series(1, 8),
                      j -> CAST(ascii(substr(text, CAST(i + j AS INTEGER), 1)) AS BIGINT))),
                  (a, x) -> (a * 131 + x) % 1000000000000000)) AS kh
  FROM documents WHERE text IS NOT NULL AND length(text) >= 8),
wsel AS (
  SELECT doc_id,
         CASE WHEN n < 11 THEN [list_aggregate(kh, 'min')]
              ELSE list_sort(list_distinct(
                     list_transform(generate_series(0, len(kh) - 4),
                       j -> list_aggregate(list_slice(kh, j + 1, j + 4), 'min'))))
         END AS fps
  FROM wkh),
wfp AS (SELECT doc_id, unnest(fps) AS fp FROM wsel),
whold AS (SELECT DISTINCT fp FROM wfp WHERE doc_id % 37 = 0),
whits AS (
  SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS winnow_hits
  FROM wfp w JOIN whold h ON w.fp = h.fp GROUP BY 1),
-- substring-dedup arm: POSITIONAL winnowing (leftmost min
-- per window via list_position), >=2-distinct-doc anchors, LAG +
-- running-sum gap merge (gap 11 = w+k-1), spans with >=2 anchors
wpos AS (
  SELECT DISTINCT doc_id, kh[p + 1] AS fp, p AS pos
  FROM (
    SELECT doc_id, kh,
           unnest(CASE WHEN len(kh) < 4
                  THEN [list_position(kh, list_aggregate(kh, 'min')) - 1]
                  ELSE list_transform(generate_series(0, len(kh) - 4),
                       j -> j + list_position(list_slice(kh, j + 1, j + 4),
                              list_aggregate(list_slice(kh, j + 1, j + 4),
                                             'min')) - 1)
                  END) AS p
    FROM wkh)),
wshared AS (
  SELECT fp FROM wpos GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
wseg AS (
  SELECT doc_id, fp, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 11 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS seg
  FROM (SELECT w.doc_id, w.fp, w.pos,
               LAG(w.pos) OVER (PARTITION BY w.doc_id ORDER BY w.pos)
                 AS prev
        FROM wpos w JOIN wshared USING (fp))),
wspans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 8 AS e, MIN(fp) AS grp
  FROM wseg GROUP BY doc_id, seg HAVING COUNT(*) >= 2),
wspanagg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
         CAST(SUM(e - s) AS BIGINT) AS dup_span_chars,
         MIN(grp) AS dup_span_group
  FROM wspans GROUP BY doc_id)
SELECT d.doc_id, md5(d.text) AS text_hash, g.dup_count, g.canonical_doc_id,
       md5(array_to_string(list_sort(list_distinct(
         list_transform(generate_series(1, greatest(length(d.text) - 2, 1)),
                        i -> substr(d.text, CAST(i AS INTEGER), 3)))), '')) AS fingerprint,
       CASE WHEN d.text IS NULL THEN NULL
            WHEN length(d.text) > 0 THEN
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, length(d.text)),
               i -> CAST(ascii(substr(d.text, CAST(i AS INTEGER), 1)) AS BIGINT))),
           (a, x) -> (a * 131 + x) % 1000000000000000)
       ELSE 0 END AS rhash,
       CASE WHEN d.text IS NULL THEN NULL
            WHEN length(d.text) < 8 THEN CAST(0 AS BIGINT)
            ELSE CAST(len(wsel.fps) AS BIGINT) END AS winnow_fp_count,
       COALESCE(hits.holdout_hits, CAST(0 AS BIGINT)) AS holdout_hits,
       COALESCE(whits.winnow_hits, CAST(0 AS BIGINT)) AS winnow_hits,
       COALESCE(sp.dup_spans, CAST(0 AS BIGINT)) AS dup_spans,
       COALESCE(sp.dup_span_chars, CAST(0 AS BIGINT)) AS dup_span_chars,
       COALESCE(sp.dup_span_group, CAST(-1 AS BIGINT)) AS dup_span_group
FROM documents d
JOIN groups g ON md5(d.text) IS NOT DISTINCT FROM g.text_hash
LEFT JOIN hits ON d.doc_id = hits.doc_id
LEFT JOIN wsel ON d.doc_id = wsel.doc_id
LEFT JOIN whits ON d.doc_id = whits.doc_id
LEFT JOIN wspanagg sp ON d.doc_id = sp.doc_id
"""


# --- exact n-gram Jaccard near-dup pairs -------------------------------------

#: boilerplate sentence planted into every even-doc_id document for the
#: ``stopcap`` arm — 12 words ⇒ ~10 high-df shingles shared by half the
#: corpus, the exact pathology ``max_shingle_df`` exists to bound.
_BOILERPLATE = (
    "subscribe to our newsletter for updates all rights reserved"
    " terms apply"
)


#: corpus ceiling for the exact (all-pairs-by-contract) ngram arm —
#: above this the arm raises unless explicitly opted in. Set one
#: decade above the bench corpus (sf0.1 ≈ 5k docs) and well below the
#: ×30 tier (150k docs), where the arm measured 307.5 s / ≳48 g driver
#: (SCALING.json ngram_arm_split_x30): the arm's super-linearity is a
#: documented CONTRACT, and this makes it an enforced one instead of a
#: footgun a library user can hit by
#: running the fused default on a large corpus.
_NGRAM_EXACT_MAX_DOCS = 50_000


def ngram_jaccard_top_pairs(
    spark: SparkSession,
    sf_dir: str,
    arms: tuple[str, ...] = ("exact", "stopcap"),
    allow_exact_above: bool = False,
    exact_max_docs: int = _NGRAM_EXACT_MAX_DOCS,
) -> DataFrame:
    """Exact n-gram Jaccard top pairs, TWO stacked arms by ``method``:

    * ``exact`` — full-universe semantics over ``documents`` (the
      baseline contract; the one ~linear-at-best plan in the catalog).
    * ``stopcap`` — the 100 TB boilerplate defense AT ITS DERIVED
      OPERATING POINT: every even-``doc_id`` document gets
      a planted boilerplate sentence (df ≈ n/2 shingles — the
      template-header pathology), and the run is capped at
      ``stop_shingle_cap(n_docs)`` (1 % of the corpus), which drops
      the planted shingles from the universe while near-dup pairs
      keep their informative-shingle scores. Capped Jaccard over the
      kept-shingle universe is fully SQL-expressible, so the oracle
      re-derives the whole arm (planting included) independently —
      the ``lsh_params_for`` precedent for oracling a derived knob.

    ``n_docs`` reaches the cap as a plain int from a parquet
    metadata count; no layout-dependent value enters the output.

    Both arms run through ONE pipeline —
    each document is tokenized once, the exact shingle array is
    computed once per doc and REUSED as the stopcap array for odd
    (unplanted) docs, and the stop-shingle df / sizes / pair-join /
    top-k stages run arm-keyed via
    :func:`..operators.text.ngram_jaccard_pairs_grouped` instead of
    twice end-to-end. The planted corpus never materializes as text:
    even docs shingle ``tokens(text) ++ tokens(boilerplate)``, which
    equals shingling the concatenated text (whitespace tokenization
    distributes over the join; the empty-token filter covers
    empty/whitespace-only texts, whose token array is ``[""]``).

    ``arms`` selects which arms run — the catalog always
    runs both; the scale probe measures ``("stopcap",)`` alone so the
    ×N tiers attribute growth per arm (the exact arm's all-pairs
    contract is super-linear BY DESIGN on duplicate-saturated input;
    the capped arm is the 100 TB path whose linearity is the claim
    worth measuring — SCALING.md).

    The exact arm's contract is ENFORCED — above ``exact_max_docs``
    (:data:`_NGRAM_EXACT_MAX_DOCS`) a run whose ``arms`` include
    ``"exact"`` raises with the escape hatch named, unless
    ``allow_exact_above=True``. Bit-identical at anchor/bench sizes
    (the guard never fires below the ceiling); the ×30 probe opts in
    explicitly when it re-measures the arm."""
    from ..operators.text import (
        ngram_jaccard_pairs_grouped,
        shingle_hash_array,
        stop_shingle_cap,
        tokens,
    )
    from ..operators.util import ScaleGuardrailError

    docs = _docs(spark, sf_dir)
    # cached metadata count (lsh_params precedent)
    n_docs = _table_count(spark, sf_dir, "documents")
    if (
        "exact" in arms
        and n_docs > exact_max_docs
        and not allow_exact_above
    ):
        raise ScaleGuardrailError(
            f"ngram exact arm over {n_docs} docs exceeds the "
            f"{exact_max_docs}-doc ceiling: the arm is all-pairs by "
            f"contract (x30 measured 307.5 s, >=48g driver — "
            f"SCALING.json). Run arms=('stopcap',) (the capped 100 TB "
            f"path) or pass allow_exact_above=True to opt in."
        )
    boiler_w = F.split(F.lit(_BOILERPLATE), " ")
    w_df = ensure_parallelism(docs).select(
        "doc_id", tokens("text").alias("_w")
    )
    planted_w = F.concat(
        # empty text tokenizes to [""] — drop the phantom token so the
        # array equals tokens(text || ' ' || boilerplate)
        F.filter(F.col("_w"), lambda x: x != F.lit("")),
        boiler_w,
    )
    # three projections (less per-task work): a_ex AND the planted
    # token array _wc are each materialized behind their own
    # multiply-referenced alias so CollapseProject keeps them
    # un-inlined — odd docs shingle exactly once, and the stopcap
    # shingle expression references a plain attribute instead of
    # re-evaluating the filter+concat planted expression at each of
    # its ~5 whole-array reference sites (noop-sink measured ~25 %
    # off the even-doc shingle stage).
    #
    # Less per-task work, narrower shuffle types: shingle STRINGS are
    # never built — :func:`shingle_hash_array` hashes each word once
    # and folds the window hashes with xxhash64(long, long) (integer
    # work, zero string allocation), and the arm key is a TINYINT id
    # through every downstream join/groupBy (the method string is
    # re-attached on the final 50·arms rows). Identical output:
    # window-hash ≡ shingle-string up to 64-bit collisions the corpus
    # test pins absent, and the driver oracle re-derives every count
    # string-side.
    arr = w_df.select(
        "doc_id",
        "_w",
        planted_w.alias("_wc"),
    ).select(
        "doc_id", "_wc", shingle_hash_array(F.col("_w")).alias("a_ex")
    ).select(
        "doc_id",
        "a_ex",
        F.when(F.col("doc_id") % 2 == 0, shingle_hash_array(F.col("_wc")))
        .otherwise(F.col("a_ex"))
        .alias("a_cap"),
    )
    arm_ids = {"exact": 0, "stopcap": 1}
    arm_structs = {
        "exact": F.struct(
            F.lit(0).cast("tinyint").alias("mid"), F.col("a_ex").alias("a")
        ),
        "stopcap": F.struct(
            F.lit(1).cast("tinyint").alias("mid"), F.col("a_cap").alias("a")
        ),
    }
    unknown = set(arms) - set(arm_structs)
    if unknown:
        raise ValueError(f"unknown arms {sorted(unknown)}")
    sh_all = arr.select(
        "doc_id",
        F.explode(F.array(*[arm_structs[a] for a in arms])).alias("s"),
    ).select(
        F.col("s.mid").alias("_mid"), "doc_id",
        F.explode("s.a").alias("sh"),
    )
    out = ngram_jaccard_pairs_grouped(
        sh_all,
        top_n=50,
        arm_col="_mid",
        arms=tuple(arm_ids[a] for a in arms),
        max_shingle_df={arm_ids["stopcap"]: stop_shingle_cap(n_docs)},
        hashed=True,
    )
    # Label map built from arm_ids: a hardcoded when/otherwise would
    # silently label any future arm id 'stopcap'; the chain falls
    # through to NULL, which the knob-gate and
    # stacked-union identity checks would catch immediately.
    method = F.lit(None).cast("string")
    for name, mid in arm_ids.items():
        method = F.when(F.col("_mid") == mid, F.lit(name)).otherwise(
            method
        )
    return out.select(
        method.alias("method"), "doc_a", "doc_b", "shared",
        "words_a", "words_b", "jaccard", "rk",
    )


NGRAM_JACCARD_TOP_PAIRS_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS sh
  FROM (SELECT doc_id, w,
               unnest(generate_series(0, greatest(len(w) - 2, 1) - 1)) AS i
        FROM words)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
pair_counts AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
scored AS (
  SELECT doc_a, doc_b, shared,
         sa.n_sh AS words_a, sb.n_sh AS words_b,
         ROUND(shared / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE), 6) AS jaccard
  FROM pair_counts
  JOIN sizes sa ON pair_counts.doc_a = sa.doc_id
  JOIN sizes sb ON pair_counts.doc_b = sb.doc_id),
planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN text || ' subscribe to our newsletter for updates all rights reserved terms apply'
              ELSE text END AS text
  FROM documents),
cap AS (
  -- stop_shingle_cap: fractional 1% term for small corpora, absolute
  -- 128-doc ceiling for linear pair work at scale
  SELECT LEAST(GREATEST(2, COUNT(*) // 100), 128) AS cap FROM documents),
cwords AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM planted),
csh0 AS (
  SELECT DISTINCT doc_id, concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS sh
  FROM (SELECT doc_id, w,
               unnest(generate_series(0, greatest(len(w) - 2, 1) - 1)) AS i
        FROM cwords)),
ckeep AS (
  SELECT sh FROM csh0 GROUP BY sh
  HAVING COUNT(*) <= (SELECT cap FROM cap)),
csh AS (SELECT csh0.doc_id, csh0.sh FROM csh0 JOIN ckeep USING (sh)),
csizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM csh GROUP BY 1),
cpair_counts AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM csh a JOIN csh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
cscored AS (
  SELECT doc_a, doc_b, shared,
         sa.n_sh AS words_a, sb.n_sh AS words_b,
         ROUND(shared / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE), 6) AS jaccard
  FROM cpair_counts
  JOIN csizes sa ON cpair_counts.doc_a = sa.doc_id
  JOIN csizes sb ON cpair_counts.doc_b = sb.doc_id)
SELECT doc_a, doc_b, shared, words_a, words_b, jaccard,
       CAST(rk AS INTEGER) AS rk, 'exact' AS method
FROM (SELECT scored.*, ROW_NUMBER() OVER (
          ORDER BY jaccard DESC, doc_a, doc_b) AS rk FROM scored)
WHERE rk <= 50
UNION ALL
SELECT doc_a, doc_b, shared, words_a, words_b, jaccard,
       CAST(rk AS INTEGER) AS rk, 'stopcap' AS method
FROM (SELECT cscored.*, ROW_NUMBER() OVER (
          ORDER BY jaccard DESC, doc_a, doc_b) AS rk FROM cscored)
WHERE rk <= 50
"""


# --- MinHash/SimHash LSH candidates (scale path) --------------------------

#: planted-duplicate anchor parameters: every doc with ``doc_id %
#: _PLANT_MOD == 0`` is unioned with an identical copy at ``doc_id +
#: _PLANT_OFFSET`` (ids never reach the offset, so planted pairs are
#: exactly the ``id_b - id_a == _PLANT_OFFSET`` pairs).
_PLANT_OFFSET = 1_000_000
_PLANT_MOD = 10


def hash_dedup_candidates(
    spark: SparkSession,
    sf_dir: str,
    arms: tuple[str, ...] = ("minhash", "simhash"),
) -> DataFrame:
    """Both hash-sketch near-dup candidate generators in one output,
    stacked by ``method`` (formerly the separate ``minhash_lsh_pairs``
    and ``simhash_pairs`` queries, folded so the catalog fits the
    driver's 50-query check window):

    * ``minhash``: MinHash signatures + LSH banding, score =
      estimated Jaccard (``min_est_jaccard=0.2``),
    * ``simhash``: 64-bit SimHash + pigeonhole chunk banding, score =
      Hamming distance (``max_hamming=3``).

    Oracle-checked via INJECTED EXACT DUPLICATES — the same
    recall-1-by-construction anchor technique as
    :func:`embedding_dedup_clusters_lsh`: every 10th document is
    unioned with an identical copy at ``doc_id + 1_000_000``.
    Identical text ⇒ identical MinHash signature (the per-slot min over
    the same shingle set) and identical SimHash signature (the same
    token-hash bit sums) ⇒ every band/chunk collides, so each planted
    pair is in BOTH candidate sets with probability 1 — not by tuning —
    with provably exact scores (est_jaccard = 1.0, hamming = 0). The
    output filters to the planted pairs (``id_b - id_a = 1_000_000``
    can hold for no other pair: original ids stay far below the
    offset), which makes the result fully deterministic and
    SQL-expressible. Both generators still run end-to-end over the full
    corpus (signatures, banding, bucket join, verification); organic
    candidate behavior on unplanted near-dups stays pinned by
    tests/test_operators.py and the oracle-checked exact companion
    ``ngram_jaccard_top_pairs``.

    Each family deliberately re-scans + re-tokenizes the corpus: a
    shared checkpointed token-array projection was tried and REJECTED
    (measured 3.4 s → 5.4 s warm at sf0.1) — materializing exploded
    token arrays costs more than the columnar parquet re-scan plus the
    codegen'd split they would save, at this and any scale where text
    compresses better than its token array.

    ``arms`` selects which sketch families run — the catalog always
    runs both; the scale probe measures each alone so the ×N tiers
    attribute growth per family instead of hiding one family's
    pathology inside the fused wall (as the ngram stopcap arm's once
    was). Single-arm output is row-identical to the
    fused result filtered to that ``method`` (test-pinned)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    planted = d.filter(
        (F.col("doc_id") % _PLANT_MOD == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + F.lit(_PLANT_OFFSET)).alias("doc_id"), "text"
    )
    corpus = d.unionByName(planted)
    builders = {
        "minhash": lambda: minhash_lsh_candidates(
            corpus, min_est_jaccard=0.2
        ).select(
            F.lit("minhash").alias("method"),
            "id_a",
            "id_b",
            F.col("est_jaccard").cast("double").alias("score"),
        ),
        "simhash": lambda: simhash_candidates(corpus, max_hamming=3).select(
            F.lit("simhash").alias("method"),
            "id_a",
            "id_b",
            F.col("hamming").cast("double").alias("score"),
        ),
    }
    unknown = set(arms) - set(builders)
    if unknown:
        raise ValueError(f"unknown arms {sorted(unknown)}")
    if not arms:
        raise ValueError("arms must name at least one sketch family")
    out = None
    for a in arms:
        part = builders[a]()
        out = part if out is None else out.unionByName(part)
    return out.filter(
        F.col("id_b") - F.col("id_a") == F.lit(_PLANT_OFFSET)
    )


HASH_DEDUP_CANDIDATES_SQL = """
WITH planted AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 10 = 0 AND text IS NOT NULL)
SELECT 'minhash' AS method, doc_id AS id_a,
       doc_id + 1000000 AS id_b, CAST(1.0 AS DOUBLE) AS score
FROM planted
UNION ALL
SELECT 'simhash' AS method, doc_id AS id_a,
       doc_id + 1000000 AS id_b, CAST(0.0 AS DOUBLE) AS score
FROM planted
"""


# --- vector similarity ---------------------------------------------------------

def ann_topk(
    spark: SparkSession,
    sf_dir: str,
    arms: tuple[str, ...] = (
        "brute", "ivf_full_probe", "pq_full_refine", "ivfpq_persisted",
    ),
) -> DataFrame:
    """Both ANN paths stacked by ``method`` (formerly the separate
    ``ann_cosine_topk`` and ``ann_ivf_topk`` catalog entries, which
    shared one oracle — folded to free a catalog slot for
    ``chunk_pack_rollup`` within the driver's 50-query window):

    * ``brute``: broadcast-query brute-force cosine top-k — the exact
      baseline;
    * ``ivf_full_probe``: IVF inverted-list top-k run at FULL probe
      (``n_probe = n_clusters``), provably ≡ brute force for ANY seeded
      centroids — every candidate lands in exactly one inverted list
      and every list is probed, so each (query, candidate) pair is
      scored exactly once with the exact cosine. That makes the IVF
      code path oracle-checkable against the same brute-force SQL; the
      sub-linear ``n_probe < n_clusters`` operating point (probing
      ~n_probe/n_clusters of the corpus) is the same code path with a
      shorter probe list, recall-pinned in tests/test_similarity.py.
    * ``pq_full_refine``: product-quantization ADC scoring
      run at FULL refine depth — every candidate survives the ADC
      shortlist and reaches the exact cosine re-rank, so the result is
      provably ≡ brute force for ANY codebooks while the whole PQ
      pipeline (codebook training → encoding → LUT → ADC → refine)
      executes end-to-end. The memory-compression operating point
      (small ``refine``, codes-only scan) is the same code path,
      recall-pinned in tests/test_similarity.py.
    * ``ivfpq_persisted``: the same top-k answered from the
      PERSISTED index (:mod:`..operators.ann_index` — model + codes as
      native-log tables, maintained incrementally by
      ``run_ann_index_stream``), at full probe + full refine — so this
      arm shares the brute-force oracle too, while proving the
      maintained-state path end-to-end (build → persisted tables →
      bucket-join query). The index is built ONCE per (process,
      sf_dir) and re-queried on subsequent invocations — persisted
      state, not a per-query computation; at 100 TB only the encode
      stream runs per batch and queries touch the compressed codes
      table plus ``refine`` raw vectors per query.
    """
    from ..operators.similarity import ann_ivf_topk, pq_topk

    emb = _emb(spark, sf_dir)
    builders = {
        "brute": lambda: cosine_topk(emb, F.col("vec_id") < 5, k=5),
        "ivf_full_probe": lambda: ann_ivf_topk(
            emb, F.col("vec_id") < 5, k=5, n_clusters=16, n_probe=16
        ),
        "pq_full_refine": lambda: pq_topk(
            emb, F.col("vec_id") < 5, k=5, n_subspaces=8, n_codes=16,
            refine=1 << 30,
        ),
    }

    def _persisted() -> DataFrame:
        from ..operators.ann_index import ann_index_topk

        return ann_index_topk(
            spark, _ann_index_for(spark, sf_dir), emb,
            F.col("vec_id") < 5, k=5, n_probe=16, refine=1 << 30,
        )

    builders["ivfpq_persisted"] = _persisted
    unknown = set(arms) - set(builders)
    if unknown:
        raise ValueError(f"unknown arms {sorted(unknown)}")
    if not arms:
        raise ValueError("arms must name at least one ANN method")
    # arms= (the per-arm attribution knob, same contract as the dedup
    # entries): each selected method still runs end-to-end;
    # a single-arm run is row-identical to the fused result's slice
    # (test-pinned), so the scale probe attributes growth per method.
    #
    # Arm CONSTRUCTION is half this query's warm wall (~2.0 s of ~3.7:
    # the bounded codebook sample's count+collect jobs, the driver-side
    # numpy Lloyd loops, the persisted index's parquet metadata reads)
    # and the four arms are independent — build them from a small
    # inheritable thread pool so their driver jobs and numpy training
    # overlap instead of running back-to-back. Results are unchanged:
    # each builder is deterministic, and the shared codebook-sample memo
    # is keyed on the immutable DataFrame object (a concurrent
    # double-compute of the same deterministic sample is wasted work,
    # not a wrong answer). Wrapping with the session (not the bare
    # builder) carries the caller's SparkSession.addTag tags onto the
    # pool's jobs. Single-arm calls skip the pool (the scale probe's
    # attribution mode stays sequential).
    if len(arms) > 1:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        with ThreadPoolExecutor(max_workers=len(arms)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(spark)(builders[a]))
                for a in arms
            ]
            parts = [f.result() for f in futures]
    else:
        parts = [builders[a]() for a in arms]
    out = None
    for a, p in zip(arms, parts):
        part = p.select(F.lit(a).alias("method"), "*")
        out = part if out is None else out.unionByName(part)
    return out


#: one persisted ANN index per (process, sf_dir): the first ann_topk
#: invocation builds it into a temp root; later invocations (bench
#: passes 2..N, repeated driver checks in one process) query the
#: MAINTAINED tables — which is the point of a persisted index.
_ANN_INDEX_CACHE: dict[str, str] = {}


def _ann_index_for(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    key = os.path.realpath(sf_dir)
    path = _ANN_INDEX_CACHE.get(key)
    if path is None or not os.path.isdir(os.path.join(path, "codes")):
        from ..operators.ann_index import build_ann_index

        path = tempfile.mkdtemp(prefix="real_time_video_streaming_analytics_annidx_")
        build_ann_index(spark, _emb(spark, sf_dir), os.path.join(path, "i"),
                        n_clusters=16, n_subspaces=8, n_codes=16)
        _ANN_INDEX_CACHE[key] = os.path.join(path, "i")
        path = _ANN_INDEX_CACHE[key]
    return path


ANN_COSINE_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id < 5),
c AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS ce
  FROM embeddings WHERE vec_id >= 5),
pairs AS (
  SELECT q.query_id, c.vec_id, c.label,
         list_sum(list_transform(range(1, 65), i -> qe[i] * ce[i])) AS dot,
         sqrt(list_sum(list_transform(range(1, 65), i -> qe[i] * qe[i]))) AS nq,
         sqrt(list_sum(list_transform(range(1, 65), i -> ce[i] * ce[i]))) AS nc
  FROM q CROSS JOIN c)
SELECT query_id, vec_id, label, cosine, CAST(rk AS INTEGER) AS rk FROM (
  SELECT query_id, vec_id, label,
         ROUND(dot / (nq * nc), 6) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ROUND(dot / (nq * nc), 6) DESC, vec_id) AS rk
  FROM pairs)
WHERE rk <= 5
"""

# all four methods are exact (IVF at full probe, PQ at full refine,
# and the persisted IVF-PQ index at both, are provably ≡ brute force),
# so the stacked oracle is the brute-force top-k emitted once per
# method tag
ANN_TOPK_SQL = f"""
WITH topk AS ({ANN_COSINE_TOPK_SQL})
SELECT 'brute' AS method, * FROM topk
UNION ALL
SELECT 'ivf_full_probe' AS method, * FROM topk
UNION ALL
SELECT 'pq_full_refine' AS method, * FROM topk
UNION ALL
SELECT 'ivfpq_persisted' AS method, * FROM topk
"""


#: vector ceiling for the exact all-pairs cosine entry — the catalog's
#: OTHER by-contract quadratic surface (the ngram exact arm's
#: guardrail, applied consistently). The ×30 tier (60k vectors) runs
#: at 35 s and stays measurable below the ceiling; the 100 TB path is
#: embedding_dedup_clusters_lsh's bucketed candidates.
_COSINE_PAIRS_MAX_VECTORS = 100_000


def embedding_cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    allow_exact_above: bool = False,
    exact_max_vectors: int = _COSINE_PAIRS_MAX_VECTORS,
) -> DataFrame:
    """Exact threshold-cosine pairs over ALL vectors — the distributed
    block-pair matmul, O(n²) pair work BY CONTRACT (the provably-exact
    baseline the bucketed LSH path is judged against; SCALING.json
    x30_ratio 44.7 at 60k vectors is the quadratic regime arriving on
    schedule). The contract is enforced like the ngram exact arm's —
    above ``exact_max_vectors`` the query raises
    :class:`..operators.util.ScaleGuardrailError` naming the LSH path
    and the opt-in; bit-identical below the ceiling."""
    from ..operators.similarity import cosine_pairs
    from ..operators.util import ScaleGuardrailError

    emb = _emb(spark, sf_dir)
    # cached metadata count: construction is job-free
    # after the first count per (process, table content)
    n_vec = _table_count(spark, sf_dir, "embeddings")
    if n_vec > exact_max_vectors and not allow_exact_above:
        raise ScaleGuardrailError(
            f"exact all-pairs cosine over {n_vec} vectors exceeds the "
            f"{exact_max_vectors}-vector ceiling (O(n^2) by contract). "
            f"Use embedding_dedup_clusters_lsh's bucketed candidates "
            f"(the 100 TB path) or pass allow_exact_above=True to opt "
            f"in."
        )
    # max_vectors=None: THIS wrapper already refused above with the
    # typed construction-time error (cached metadata count); the
    # library-level lazy guard would otherwise re-fire on an explicit
    # allow_exact_above=True opt-in and add a count subplan the
    # catalog's pinned plan doesn't carry.
    return cosine_pairs(emb, threshold=0.4, max_vectors=None)


EMBEDDING_COSINE_PAIRS_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(
         list_sum(list_transform(range(1, 65),
                  i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, 65),
                  i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, 65),
                  i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))),
         6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, 65),
               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      / (sqrt(list_sum(list_transform(range(1, 65),
               i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
         * sqrt(list_sum(list_transform(range(1, 65),
               i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))
      >= 0.4
"""


#: anchor cap for the exact quadratic clustering query: the sf0.01
#: oracle corpus has vec_id 0..499, so the cap is a no-op at oracle
#: scale while bounding the O(n²) all-pairs join to a CONSTANT 500
#: vectors at every larger SF — the exact pipeline is an oracle anchor,
#: not a scale path (its sub-quadratic LSH sibling below is the sf0.1+
#: bench entry and the 100 TB composition).
_EXACT_CLUSTER_MAX_VEC = 500


#: the k>1 SemDeDup arm's explicit centroids: standard-basis vectors
#: e_0, e_16, e_32, e_48. One-hot centroids make the spherical
#: assignment CLOSED-FORM for the oracle — argmin ||v̂ - e_d||² =
#: argmax v̂[d] = argmax v[d] (positive scaling cancels), so DuckDB
#: re-derives clusters by comparing four raw components, no
#: normalization needed. Empirically the per-row gap between the four
#: components is ≥ 3e-5 relative (sf0.001/0.01/0.1), eleven orders
#: above float64 rounding — the Spark (normalized numpy) and SQL (raw)
#: argmax provably agree. The dot with a one-hot is also EXACT in
#: IEEE (0-products add exactly 0), which keeps the centroid-outlier
#: arm's per-member cosine v[0]/‖v‖ reproducible to the 9-decimal
#: round.
_SEMDEDUP_BASIS_DIMS = (0, 16, 32, 48)

#: target cluster size for the k>1 arm's DERIVED operating point: the
#: arm's cluster count is not a literal 4 but
#: ``semdedup_params_for(n_corpus, _SEMDEDUP_TARGET_CLUSTER)`` — the
#: 100 TB scale knob (hold cluster SIZE constant, let k grow with n)
#: exercised and driver-oracled at this anchor. n_corpus = 2 × the
#: 500-vector anchor cap (originals + planted copies) is a CONSTANT by
#: construction, so k = 1000 // 250 = 4 derives identically in Spark
#: (pure Python ints) and in the oracle (the same integer division over
#: the same DECLARED bound in the EMBEDDING_DEDUP_CLUSTERS SQL `kval`
#: CTE — deliberately not a COUNT(*): both engines must derive from the
#: bound, or a NULL anchored embedding would shrink the realized count
#: on one side only) — no action, no hand-tuned constant.
_SEMDEDUP_TARGET_CLUSTER = 250


def embedding_dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    arms: tuple[str, ...] = ("exact", "centroid_outlier", "semdedup_k4"),
) -> DataFrame:
    """SemDeDup (Abbas et al. arXiv:2303.09540) driver-oracled at
    THREE operating points, stacked as arms of one result (the
    stop-shingle-arm pattern):

    * ``exact`` — the provably-exact anchor:
      ``semantic_dedup(n_clusters=1)``, min-id keep. With a single
      cluster the within-cluster ε-pairing is the global cosine≥0.4 pair
      graph and the representative is the connected component's
      canonical (minimum) id — byte-identical to a
      cosine_pairs→connected_components formulation; the oracle computes
      the same closure with a recursive CTE.
    * ``semdedup_k4`` — the paper's SCALE path (``n_clusters>1``: pair
      term n² → Σn_c² via within-cluster grouping) under the planted
      ×2-copy technique proven for the LSH sibling: every vector is
      unioned with a ×2-scaled copy (``vec_id + 1_000_000``;
      power-of-two scaling is direction-exact, so a copy's spherical
      assignment and normalized form are BIT-identical to its original's
      — cos=1 duplicates provably co-cluster under ANY centroids) and
      the pipeline runs with the first ``k`` one-hot centroids
      (`_SEMDEDUP_BASIS_DIMS`) at threshold 0.9, where ``k =
      semdedup_params_for(n_corpus, _SEMDEDUP_TARGET_CLUSTER)`` is the
      operator's own DERIVED scale knob over the construction-constant
      corpus size (= 4 here). The oracle re-derives ``k`` with the same
      integer division (its ``kval`` CTE) and the assignment closed-form
      (argmax of the first k raw components), the within-cluster ≥0.9
      pair graph, and the per-cluster closure — derivation → assignment
      → grouped pairing → CC → keep all flow through the driver gate at
      k>1.
    * ``centroid_outlier`` — the paper's keep policy
      under one explicit centroid e_0: per ε-component keep the member
      LEAST similar to its cluster centroid (min-id ties). cos(v, e_0)
      = v[0]/‖v‖ is closed-form in SQL (both sides round to 9
      decimals, the operator's documented grid), so the policy's
      argmin-per-component is oracle-checked over REAL multi-member
      components (threshold 0.4), not just tied planted pairs.

    DEMOTED to an oracle anchor: inputs are capped at
    ``vec_id < 500`` — identical to the full corpus at oracle scale
    (sf≤0.01), bounded-quadratic everywhere else. The production-scale
    clustering path is :func:`embedding_dedup_clusters_lsh`.

    ``arms`` selects which operating points run — the catalog always
    runs all three; the scale probe measures each alone for per-arm ×N
    attribution. ``exact`` and ``centroid_outlier`` alone still go
    through the shared ``semantic_dedup`` pass (with a single keep
    policy the expensive pairing/CC stages are the same — only the extra
    policy's aggregate is skipped); single-arm output is row-identical
    to the fused result filtered to that ``arm`` (test-pinned)."""
    from ..operators.similarity import semantic_dedup, semdedup_params_for

    _ARM_NAMES = ("exact", "centroid_outlier", "semdedup_k4")
    unknown = set(arms) - set(_ARM_NAMES)
    if unknown:
        raise ValueError(f"unknown arms {sorted(unknown)}")
    if not arms:
        raise ValueError("arms must name at least one operating point")

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < _EXACT_CLUSTER_MAX_VEC)
    basis = [
        [1.0 if i == d else 0.0 for i in range(64)]
        for d in _SEMDEDUP_BASIS_DIMS
    ]
    # DERIVED operating point: the arm's k comes from the
    # operator's own scale-knob derivation over the corpus size the
    # anchor cap fixes by construction — not a hand-picked literal.
    n_planted = 2 * _EXACT_CLUSTER_MAX_VEC  # originals + ×2 copies
    k_derived = semdedup_params_for(n_planted, _SEMDEDUP_TARGET_CLUSTER)
    if k_derived > len(basis):
        # Explicit raise, not assert: stripped under `python -O`, the
        # assert would silently pass all len(basis) centroids when the
        # target-cluster knob or corpus bound changes.
        raise ValueError(
            f"derived k={k_derived} outgrew the {len(basis)}-vector "
            "one-hot basis — widen _SEMDEDUP_BASIS_DIMS"
        )

    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = emb.select("vec_id", as_double.alias("embedding")).unionByName(
        emb.select(
            (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
            F.transform(as_double, lambda x: x * F.lit(2.0)).alias(
                "embedding"
            ),
        )
    )

    # exact + centroid_outlier arms come from ONE semantic_dedup pass
    # (the multi-policy long format): with the single explicit centroid
    # e_0 the within-cluster pairing is the global 0.4 pair graph, so
    # the min_id policy row-for-row equals the former n_clusters=1
    # exact anchor, and the pairing + CC run once for both keep
    # policies. num_blocks=2 (3 block-pair tasks) fits the <=500-vector
    # anchor corpora — 4 blocks' 10 tasks were pure Python-worker
    # overhead at this size; at real scale pick B ~ corpus/task-size
    # (operator docstring).
    pair_policies = tuple(
        "min_id" if a == "exact" else a
        for a in ("exact", "centroid_outlier")
        if a in arms
    )

    def build_both() -> DataFrame:
        # max_cluster_vectors=None: the corpus is capped at
        # _EXACT_CLUSTER_MAX_VEC (<=500) by construction, so the
        # library's per-cluster ceiling can never bind here — opting
        # out keeps the catalog plan free of the guard (comparable
        # with bench history), the cosine_pairs wrapper precedent.
        return semantic_dedup(
            emb, threshold=0.4, num_blocks=2, centroids=[basis[0]],
            keep_policy=pair_policies,
            cc_strategy="bounded_lazy",
            max_cluster_vectors=None,
        ).select(
            F.when(F.col("policy") == "min_id", F.lit("exact"))
            .otherwise(F.lit("centroid_outlier")).alias("arm"),
            "vec_id", "cluster",
            F.col("representative").alias("cluster_id"), "keep",
        )

    def build_k4() -> DataFrame:
        # max_cluster_vectors=None: same construction-bounded corpus
        # reasoning as build_both (<=1000 with the planted x2 copies).
        return semantic_dedup(
            corpus, threshold=0.9, num_blocks=2,
            centroids=basis[:k_derived], cc_strategy="bounded_lazy",
            max_cluster_vectors=None,
        ).select(
            F.lit("semdedup_k4").alias("arm"), "vec_id", "cluster",
            F.col("representative").alias("cluster_id"), "keep",
        )

    # cc_strategy="bounded_lazy": both arms' corpora are
    # construction-bounded (<=500 anchored vectors, <=1000 with planted
    # copies), so the ε-graph union-find runs lazily in one executor
    # task — constructing this query launches ZERO Spark jobs (pinned in
    # tests/test_plan_quality.py), so no thread pool is needed to
    # overlap the two arms' construction-time CC actions.
    parts = []
    if pair_policies:
        parts.append(build_both())
    if "semdedup_k4" in arms:
        parts.append(build_k4())
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


EMBEDDING_DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE anchor AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
  WHERE vec_id < 500 AND embedding IS NOT NULL),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM anchor a JOIN anchor b ON a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
           * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i]))))
        >= 0.4),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT vec_id AS src, vec_id AS dst FROM anchor
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u),
comp AS (
  SELECT src AS vec_id, MIN(dst) AS comp FROM reach GROUP BY 1),

-- semdedup_k4 arm: planted x2 copies; k is DERIVED from the corpus
-- size with the operator's own integer arithmetic (semdedup_params_for:
-- k = max(1, n // 250)), then one-hot-centroid assignment closed-form
-- (argmax of the first k raw basis components; first index wins ties,
-- matching np.argmin-over-d2), per-cluster >=0.9 closure
k4corpus AS (
  SELECT vec_id, e FROM anchor
  UNION ALL
  SELECT vec_id + 1000000, list_transform(e, x -> 2 * x) FROM anchor),
kval AS (
  -- k derives from the DECLARED corpus bound (2 x the vec_id<500
  -- anchor cap), the same constant the Spark plan feeds
  -- semdedup_params_for — NOT the realized row count, which could
  -- diverge from the plan's constant if an anchored embedding were
  -- NULL (Spark would still pass k=4 centroids while a COUNT(*)
  -- oracle would derive a smaller k)
  SELECT GREATEST(1, (2 * 500) // 250) AS k),
kdims AS (
  SELECT ci - 1 AS cluster, d FROM (
    SELECT unnest(list_slice([1, 17, 33, 49], 1,
                             (SELECT CAST(k AS INTEGER) FROM kval))) AS d,
           generate_subscripts(
             list_slice([1, 17, 33, 49], 1,
                        (SELECT CAST(k AS INTEGER) FROM kval)), 1) AS ci)),
k4assigned AS (
  SELECT vec_id, e, cluster FROM (
    SELECT c.vec_id, c.e, dm.cluster,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
                              ORDER BY c.e[dm.d] DESC, dm.cluster ASC)
             AS rk
    FROM k4corpus c CROSS JOIN kdims dm)
  WHERE rk = 1),
k4pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM k4assigned a JOIN k4assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
           * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i]))))
        >= 0.9),
k4edges AS (
  SELECT id_a AS u, id_b AS v FROM k4pairs
  UNION SELECT id_b, id_a FROM k4pairs),
k4reach AS (
  SELECT vec_id AS src, vec_id AS dst FROM k4assigned
  UNION
  SELECT r.src, e.v FROM k4reach r JOIN k4edges e ON r.dst = e.u),
k4comp AS (
  SELECT src AS vec_id, MIN(dst) AS comp FROM k4reach GROUP BY 1),

-- centroid_outlier arm: same 0.4 components as the exact arm; the
-- kept member per component minimizes (round(cos-to-e_0, 9), id)
oc AS (
  SELECT vec_id,
         ROUND(e[1] / sqrt(list_sum(list_transform(e, x -> x * x))), 9)
           AS cc
  FROM anchor),
oreps AS (
  SELECT comp, vec_id AS rep FROM (
    SELECT c.comp, c.vec_id,
           ROW_NUMBER() OVER (PARTITION BY c.comp
                              ORDER BY o.cc ASC, c.vec_id ASC) AS rn
    FROM comp c JOIN oc o ON c.vec_id = o.vec_id)
  WHERE rn = 1)

SELECT 'exact' AS arm, vec_id, 0 AS cluster, comp AS cluster_id,
       CAST(vec_id = comp AS INT) AS keep
FROM comp
UNION ALL
SELECT 'semdedup_k4', k.vec_id, a.cluster, k.comp,
       CAST(k.vec_id = k.comp AS INT)
FROM k4comp k JOIN k4assigned a ON k.vec_id = a.vec_id
UNION ALL
SELECT 'centroid_outlier', c.vec_id, 0, r.rep,
       CAST(c.vec_id = r.rep AS INT)
FROM comp c JOIN oreps r ON c.comp = r.comp
"""


def embedding_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB composition for near-dup clustering: connected
    components over ``lsh_cosine_pairs``' bucketed candidate pairs
    instead of :func:`embedding_dedup_clusters`' exact quadratic
    all-pairs join. Pair generation cost drops from O(B²/2) block
    pairs to the LSH band join (only (id, band, code) triples
    shuffle); every surviving pair's cosine is exactly verified, so
    clusters can only ever be a REFINEMENT of the exact pipeline's —
    no false merges — and recall of the candidate step is the sole
    approximation.

    Run at LSH's designed operating point — true near-duplicates,
    cosine ≥ 0.9. The synthetic corpus has NO such pairs (max pairwise
    cosine ≈ 0.60), so the query injects them deterministically: every
    vector is unioned with a ×2-scaled copy (``vec_id + 1_000_000``).
    Power-of-two scaling is exact in IEEE arithmetic, so a copy's
    hyperplane sign pattern is IDENTICAL to its original's — all band
    codes collide, candidate recall is 1 by construction (not by
    tuning) — and the copy pair's cosine is exactly 1. The output is
    therefore fully deterministic and oracle-checkable: the same
    recursive-CTE closure as the exact sibling, over the same injected
    corpus, at threshold 0.9. (Cross pairs original_i × copy_j keep
    the originals' cosine < 0.9, so the expected clusters are exactly
    the {i, i+1_000_000} pairs.) This is also how one evaluates an ANN
    /dedup pipeline's recall in practice: plant known duplicates,
    check they are found.

    Runs at the DERIVED operating point: band width and
    count come from ``lsh_params_for(corpus_rows, 0.9)`` instead of
    fixed defaults. Because planted-duplicate recall is 1 under ANY
    band layout (identical sign patterns collide in every band), the
    oracle closure is layout-independent and this query proves the
    100 TB parameter path end-to-end: at the 3x synthetic tier the
    derived band width grows with log2(n), holding expected bucket
    occupancy — and therefore candidate volume per doc — constant,
    where the previous fixed-width anchor measured x3_ratio 3.12
    (quadratic in-bucket growth once occupancy outgrows the code
    space). ``n`` reaches ``lsh_params_for`` as a plain int from a
    parquet metadata count — no layout-dependent value enters the
    output."""
    from ..operators.graph import connected_components
    from ..operators.similarity import lsh_cosine_pairs, lsh_params_for

    emb = _emb(spark, sf_dir)
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = (
        emb.select(F.col("vec_id"), as_double.alias("embedding"))
        .unionByName(
            emb.select(
                (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
                F.transform(
                    as_double, lambda x: x * F.lit(2.0)
                ).alias("embedding"),
            )
        )
    )
    # base rows + their copies; cached metadata count
    n_corpus = 2 * _table_count(spark, sf_dir, "embeddings")
    k, b = lsh_params_for(n_corpus, threshold=0.9)
    pairs = lsh_cosine_pairs(
        corpus, threshold=0.9, num_hyperplanes=k, num_bands=b, dim=64
    )
    nodes = corpus.select(F.col("vec_id").alias("id"))
    cc = connected_components(pairs.select("id_a", "id_b"), nodes, node_col="id")
    return cc.select(F.col("id").alias("vec_id"), "cluster_id")


EMBEDDING_DEDUP_CLUSTERS_LSH_SQL = """
WITH RECURSIVE corpus AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, list_transform(embedding, x -> 2 * x::DOUBLE)
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
        / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i] * a.e[i])))
           * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i] * b.e[i]))))
        >= 0.9),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT vec_id AS src, vec_id AS dst FROM corpus
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u)
SELECT src AS vec_id, MIN(dst) AS cluster_id
FROM reach GROUP BY 1
"""


# --- chunking → sequence packing rollup ------------------------------------

_CHUNK_WINDOW = 128
_CHUNK_STRIDE = 64
_PACK_MAX_TOKENS = 512
_PACK_SHARDS = 8


def chunk_pack_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking → sequence-packing rollup, per shard — drives BOTH
    LLM-pipeline operators (:func:`..operators.text.chunk_documents`,
    :func:`..operators.text.pack_chunks`) end-to-end through the
    driver's oracle gate, not only through pytest.

    Every document is chunked into overlapping 128-token windows
    (stride 64), the chunks are FFD-packed into ≤512-token training
    sequences within ``doc_id % 8`` shards (the oracle-reproducible
    shard expression — Spark's default Murmur3 ``hash`` sharding is
    engine-specific), and the output is one row per shard joining the
    chunk-side truth with the packer's actual output:

    * ``n_docs / n_chunks / chunk_tokens / max_chunk_tokens`` — chunk
      layer, closed-form from token counts (chunk ``i`` of an n-token
      doc spans ``min(window, n - i*stride)`` tokens), so the oracle
      recomputes them exactly;
    * ``packed_chunks / packed_tokens`` — summed from the packer's
      output; the exactly-once cover invariant (every chunk in exactly
      one sequence) makes them provably equal to the chunk-side counts,
      which is what the oracle emits — a packer that drops or
      duplicates a chunk hash-mismatches;
    * ``n_seqs_ok`` — 1 iff ``ceil(chunk_tokens/512) <= n_seqs <=
      n_chunks``: with every chunk ≤ 128 < 512 tokens no sequence is
      oversize, so the bin lower bound is valid and FFD can never beat
      it (nor exceed one-bin-per-chunk);
    * ``half_light_ok`` — 1 iff at most one sequence per shard is
      ≤ half-full: the classic first-fit guarantee (two half-light bins
      cannot coexist — the second bin's first item would have fit in
      the first), violated ⇒ the packing loop is broken.
    """
    d = _docs(spark, sf_dir)
    chunks = chunk_documents(
        d, window=_CHUNK_WINDOW, stride=_CHUNK_STRIDE
    ).localCheckpoint(eager=False)
    # ^ consumed twice (chunk-side rollup + packer input); without
    # materialization each reference re-runs the tokenize + explode.
    shard = F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)).cast("int")
    chunk_side = (
        chunks.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum("chunk_tokens").alias("chunk_tokens"),
            F.max("chunk_tokens").alias("max_chunk_tokens"),
        )
    )
    seqs = pack_chunks(
        chunks, max_tokens=_PACK_MAX_TOKENS, num_shards=_PACK_SHARDS,
        shard_col=F.pmod(F.col("doc_id"), F.lit(_PACK_SHARDS)),
    )
    half = _PACK_MAX_TOKENS / 2.0
    pack_side = seqs.groupBy("shard").agg(
        F.sum("n_chunks").alias("packed_chunks"),
        F.sum("seq_tokens").alias("packed_tokens"),
        F.count("*").alias("_n_seqs"),
        F.sum((F.col("seq_tokens") <= half).cast("int")).alias("_n_light"),
    )
    lb = F.ceil(F.col("chunk_tokens") / F.lit(_PACK_MAX_TOKENS))
    return (
        chunk_side.join(pack_side, "shard")
        .select(
            "shard", "n_docs", "n_chunks", "chunk_tokens",
            "max_chunk_tokens", "packed_chunks", "packed_tokens",
            ((F.col("_n_seqs") >= lb) & (F.col("_n_seqs") <= F.col("n_chunks")))
            .cast("int").alias("n_seqs_ok"),
            (F.col("_n_light") <= 1).cast("int").alias("half_light_ok"),
        )
    )


CHUNK_PACK_ROLLUP_SQL = r"""
WITH docs AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
  FROM documents WHERE text IS NOT NULL),
chunks AS (
  SELECT doc_id, doc_id % 8 AS shard,
         unnest(list_transform(
           generate_series(0, CAST(floor((greatest(n - 128, 0) + 63) / 64)
                              AS BIGINT)),
           i -> least(128, n - 64 * i))) AS ctok
  FROM docs)
SELECT CAST(shard AS INTEGER) AS shard,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_chunks,
       CAST(SUM(ctok) AS BIGINT) AS chunk_tokens,
       CAST(MAX(ctok) AS INTEGER) AS max_chunk_tokens,
       COUNT(*) AS packed_chunks,
       CAST(SUM(ctok) AS BIGINT) AS packed_tokens,
       1 AS n_seqs_ok,
       1 AS half_light_ok
FROM chunks GROUP BY 1
"""


# --- deterministic sampling / training mixture ----------------------------

def training_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sampling & mixing (operators/sampling.py),
    all three surfaces stacked by ``method`` — the rebalance step every
    training-data pipeline runs before chunk/pack:

    * ``quota``: exactly 40 docs per language — a deterministic
      distributed reservoir (``row_number`` over the md5 draw),
    * ``stratified``: per-language Bernoulli rebalance of the en-heavy
      corpus (en 25%, others 50%) — map-only filter, no shuffle,
    * ``mix_en`` / ``mix_rest``: a two-source weighted training mixture
      (en halved, the rest kept) with provenance tags.

    Fully SQL-expressible BECAUSE membership is a content hash — the
    first 8 hex chars of ``md5(seed | doc_id)`` compared against the
    fraction's hex threshold — not Spark's partition-RNG ``sample``
    (whose membership changes with partitioning and exists in no other
    engine). The same md5 expressions reproduce bit-identically in
    DuckDB, so the ENTIRE sample membership, not just its size, is
    oracle-checked."""
    from ..operators.sampling import (
        mix_corpora,
        quota_sample,
        stratified_sample,
    )

    d = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    quota = quota_sample(d, "lang", 40, key_cols=["doc_id"], seed="mixq").select(
        F.lit("quota").alias("method"), "doc_id", "lang", "source"
    )
    strat = stratified_sample(
        d,
        "lang",
        {"en": 0.25, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.5},
        key_cols=["doc_id"],
        seed="mixs",
    ).select(F.lit("stratified").alias("method"), "doc_id", "lang", "source")
    mixed = mix_corpora(
        {
            "en": (d.filter(F.col("lang") == "en"), 0.5),
            "rest": (d.filter(F.col("lang") != "en"), 1.0),
        },
        key_cols=["doc_id"],
        seed="mixm",
    ).select(
        F.concat(F.lit("mix_"), F.col("mix_source")).alias("method"),
        "doc_id",
        "lang",
        "source",
    )
    return quota.unionByName(strat).unionByName(mixed)


# thresholds: 0.25 → 0x40000000, 0.5 → 0x80000000 (fraction · 2³² in
# hex); seeds/separators/'v'-null-marker mirror
# operators/sampling.py::sample_key (doc_id is non-null here, so the
# component encodes as 'v' || value)
TRAINING_MIX_SAMPLE_SQL = """
SELECT 'quota' AS method, doc_id, lang, source FROM (
  SELECT doc_id, lang, source, ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY substr(md5('mixq|v' || CAST(doc_id AS VARCHAR)), 1, 8),
               doc_id) AS rk
  FROM documents) WHERE rk <= 40
UNION ALL
SELECT 'stratified' AS method, doc_id, lang, source
FROM documents
WHERE substr(md5('mixs|v' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE lang WHEN 'en' THEN '40000000'
                WHEN 'de' THEN '80000000'
                WHEN 'es' THEN '80000000'
                WHEN 'fr' THEN '80000000'
                WHEN 'zh' THEN '80000000'
                ELSE '00000000' END
UNION ALL
SELECT 'mix_en' AS method, doc_id, lang, source
FROM documents
WHERE lang = 'en'
  AND substr(md5('mixm|en|v' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
UNION ALL
SELECT 'mix_rest' AS method, doc_id, lang, source
FROM documents
WHERE lang <> 'en'
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two stacked arms over the embeddings table:

    * ``label_centroid`` — per-label centroid L2 norms (posexplode →
      per-dim mean → re-reduce), the original arm.
    * ``kmeans_assign`` — :func:`..operators.clustering.assign_clusters`
      (the Arrow-batched nearest-centroid scorer the k-means trainer
      and IVF indexing share) over k=8 DETERMINISTICALLY seeded
      centroids — the ``md5('kmseed|'||vec_id)``-smallest vectors,
      clustering.py's content-hash init, so DuckDB reproduces the
      exact centroid list. Per cluster: member count and an exact
      integer membership hash (sum of 32-bit md5 prefixes of member
      ids), so the FULL assignment — not just its sizes — is
      oracle-checked closed-form. The 8-row seed collect is a
      documented bounded read (test_plan_quality's allowlist).
    """
    from ..operators.clustering import _seed_rows, assign_clusters

    emb = _emb(spark, sf_dir)
    norms = label_centroid_norms(emb)
    arm1 = norms.select(
        F.lit("label_centroid").alias("arm"),
        F.col("label").cast("int").alias("grp"),
        F.col("n_vectors").cast("bigint").alias("n"),
        F.col("centroid_norm").alias("val"),
    )
    seeds = _seed_rows(emb, "vec_id", "embedding", 8, "kmseed")
    cents = [list(map(float, r[1])) for r in seeds]
    member_key = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    arm2 = (
        assign_clusters(emb.select("vec_id", "embedding"), cents)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            F.sum(member_key).cast("double").alias("val"),
        )
        .select(
            F.lit("kmeans_assign").alias("arm"),
            F.col("cluster").cast("int").alias("grp"),
            "n",
            "val",
        )
    )
    return arm1.unionByName(arm2)


# seed/cluster numbering mirrors clustering._seed_rows: the 8 vectors
# with the smallest md5('kmseed|'||vec_id), cluster index = rank in
# that ordering; argmin tie-break (lowest cluster) matches numpy's.
EMBEDDING_CENTROIDS_SQL = """
WITH flat AS (
  SELECT label, unnest(generate_series(1, 64)) AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings),
cent AS (SELECT label, dim, AVG(v) AS c FROM flat GROUP BY 1, 2),
norms AS (SELECT label, ROUND(sqrt(SUM(c * c)), 6) AS centroid_norm
          FROM cent GROUP BY 1),
counts AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY 1),
seeds AS (
  SELECT embedding::DOUBLE[] AS cvec,
         ROW_NUMBER() OVER (
           ORDER BY md5('kmseed|' || CAST(vec_id AS VARCHAR)), vec_id
         ) - 1 AS cluster
  FROM embeddings
  ORDER BY md5('kmseed|' || CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 8),
dists AS (
  SELECT e.vec_id, s.cluster,
         list_sum(list_transform(generate_series(1, 64),
           i -> (e.embedding[i]::DOUBLE - s.cvec[i])
              * (e.embedding[i]::DOUBLE - s.cvec[i]))) AS d2
  FROM embeddings e CROSS JOIN seeds s),
best AS (
  SELECT vec_id, cluster,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
  FROM dists),
assign AS (
  SELECT cluster,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                       AS BIGINT)) AS DOUBLE) AS val
  FROM best WHERE rk = 1 GROUP BY 1)
SELECT 'label_centroid' AS arm, counts.label AS grp,
       CAST(counts.n_vectors AS BIGINT) AS n, norms.centroid_norm AS val
FROM counts JOIN norms ON counts.label = norms.label
UNION ALL
SELECT 'kmeans_assign' AS arm, CAST(cluster AS INTEGER) AS grp, n, val
FROM assign
"""


QUERIES: dict[str, QuerySpec] = {
    "doc_dedup_fingerprints": QuerySpec(
        doc_dedup_fingerprints,
        DOC_DEDUP_FINGERPRINTS_SQL,
        "exact hash-groupBy dedup + shingle-set md5 + Rabin-Karp "
        "rolling hash, per doc",
    ),
    "doc_token_stats": QuerySpec(
        doc_token_stats,
        DOC_TOKEN_STATS_SQL,
        "whitespace + BPE-ish regex token counting per language",
    ),
    "text_quality": QuerySpec(
        text_quality,
        TEXT_QUALITY_SQL,
        "per-doc quality scoring + corpus-trained language ID",
    ),
    "ngram_jaccard_top_pairs": QuerySpec(
        ngram_jaccard_top_pairs,
        NGRAM_JACCARD_TOP_PAIRS_SQL,
        "exact word-3gram Jaccard near-dup pairs",
    ),
    "hash_dedup_candidates": QuerySpec(
        hash_dedup_candidates,
        HASH_DEDUP_CANDIDATES_SQL,
        "MinHash-LSH + SimHash near-dup candidates (scale paths), "
        "stacked by method — oracle-checked via injected exact "
        "duplicates (recall 1 and exact scores by construction)",
    ),
    "ann_topk": QuerySpec(
        ann_topk,
        ANN_TOPK_SQL,
        "brute-force + IVF-full-probe + PQ-full-refine cosine top-k "
        "stacked by method (full probe and full refine are provably "
        "≡ brute force, so all three paths share the brute-force "
        "oracle)",
    ),
    "embedding_cosine_pairs": QuerySpec(
        embedding_cosine_pairs,
        EMBEDDING_COSINE_PAIRS_SQL,
        "exact all-pairs cosine near-dup via distributed block-pair matmul",
    ),
    "embedding_dedup_clusters_lsh": QuerySpec(
        embedding_dedup_clusters_lsh,
        EMBEDDING_DEDUP_CLUSTERS_LSH_SQL,
        "connected components over hyperplane-LSH candidate pairs at the "
        "near-dup operating point (injected ×2-scaled duplicates, "
        "recall 1 by construction) — the 100 TB dedup-clustering "
        "composition, oracle-checked",
    ),
    "chunk_pack_rollup": QuerySpec(
        chunk_pack_rollup,
        CHUNK_PACK_ROLLUP_SQL,
        "overlapping-token-window chunking → FFD sequence packing, "
        "rolled up per shard (exactly-once cover + bin-bound + "
        "first-fit invariants oracle-checked)",
    ),
    "training_mix_sample": QuerySpec(
        training_mix_sample,
        TRAINING_MIX_SAMPLE_SQL,
        "deterministic corpus sampling/mixing: exact per-language "
        "quotas, stratified Bernoulli rebalance, and a weighted "
        "two-source training mixture, stacked by method — membership "
        "is a content hash, so the full sample is oracle-checked",
    ),
    "embedding_centroids": QuerySpec(
        embedding_centroids,
        EMBEDDING_CENTROIDS_SQL,
        "per-label centroid norms + assign_clusters over seeded "
        "centroids (full membership hash-checked vs closed-form "
        "nearest-centroid SQL)",
    ),
    "embedding_dedup_clusters": QuerySpec(
        embedding_dedup_clusters,
        EMBEDDING_DEDUP_CLUSTERS_SQL,
        "exact near-dup clusters via iterative connected components — "
        "demoted to a vec_id<500 oracle anchor (the LSH sibling is the "
        "scale/bench path)",
    ),
}
