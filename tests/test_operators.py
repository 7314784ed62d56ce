"""Golden-frame unit tests for the operator library (SURVEY §5.2)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from real_time_video_streaming_analytics_lakehouse_spark.operators import (
    dedup_keep_latest,
    dq_summary,
    exact_dedup_groups,
    gap_sessionize,
    merge_upsert,
    minhash_lsh_candidates,
)
from real_time_video_streaming_analytics_lakehouse_spark.operators.sessionize import (
    session_rollup,
)

from .conftest import count_jobs


def ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, minute, second)


def test_dedup_keep_latest_picks_latest_and_breaks_ties(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", ts=ts(0), event_id=1, v="old"),
            Row(k="a", ts=ts(5), event_id=2, v="new"),
            Row(k="a", ts=ts(5), event_id=3, v="tie-winner"),
            Row(k="b", ts=ts(1), event_id=4, v="only"),
        ]
    )
    out = {
        r["k"]: r["v"]
        for r in dedup_keep_latest(df, ["k"], "ts", ["event_id"]).collect()
    }
    assert out == {"a": "tie-winner", "b": "only"}


def test_exact_dedup_groups_counts_and_canonical_id(spark):
    df = spark.createDataFrame(
        [Row(doc_id=3, text="xx"), Row(doc_id=1, text="xx"), Row(doc_id=2, text="yy")]
    )
    rows = {
        r["canonical_doc_id"]: r["dup_count"]
        for r in exact_dedup_groups(df, "text", "doc_id").collect()
    }
    assert rows == {1: 2, 2: 1}


def test_merge_upsert_source_wins_and_inserts(spark):
    target = spark.createDataFrame(
        [Row(id=1, v="t1"), Row(id=2, v="t2")]
    )
    source = spark.createDataFrame(
        [Row(id=2, v="s2"), Row(id=3, v="s3")]
    )
    out = {r["id"]: r["v"] for r in merge_upsert(target, source, ["id"]).collect()}
    assert out == {1: "t1", 2: "s2", 3: "s3"}


def test_dq_summary_single_pass_profile(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, u="a", ts=ts(0)),
            Row(id=1, u="b", ts=ts(1)),  # duplicate id
            Row(id=2, u=None, ts=ts(2)),  # null u
            Row(id=3, u="c", ts=dt.datetime(2030, 1, 1)),  # future ts
        ]
    )
    row = dq_summary(
        df, ["u"], "id", future_ts_col="ts", as_of="2024-06-01 00:00:00"
    ).collect()[0]
    assert row["total_rows"] == 4
    assert row["null_u"] == 1
    assert row["future_ts"] == 1
    assert row["duplicate_ids"] == 1
    assert row["valid_pct"] == 75.0


def test_gap_sessionize_splits_on_gap(spark):
    df = spark.createDataFrame(
        [
            Row(user_id=1, event_id=1, ts=ts(0), value=1.0, event_type="view"),
            Row(user_id=1, event_id=2, ts=ts(10), value=1.0, event_type="view"),
            # 40-minute gap → new session
            Row(user_id=1, event_id=3, ts=ts(50), value=1.0, event_type="click"),
            Row(user_id=2, event_id=4, ts=ts(0), value=1.0, event_type="view"),
        ]
    )
    sess = gap_sessionize(df, gap_sec=1800)
    nums = {
        (r["user_id"], r["event_id"]): r["session_num"] for r in sess.collect()
    }
    assert nums == {(1, 1): 1, (1, 2): 1, (1, 3): 2, (2, 4): 1}
    rollup = {
        (r["user_id"], r["session_num"]): r["events"]
        for r in session_rollup(sess).collect()
    }
    assert rollup == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")  # one token of ~60 changed
    other = "completely different content about spark query planning " * 6
    df = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=near), Row(doc_id=3, text=other)]
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_candidates(df, min_est_jaccard=0.3).collect()
    }
    assert (1, 2) in pairs
    assert all(k == (1, 2) for k in pairs)


def test_word_shingles_short_docs_ansi_safe(spark):
    """Docs with fewer words than the shingle size must not raise under
    ANSI mode (element_at past the array end did), and must match the
    DuckDB oracle's NULL-skipping concat_ws: one partial shingle."""
    import duckdb

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        exploded_word_shingles,
        ngram_jaccard_pairs,
        word_shingles,
    )

    corpus = [("d1", "one"), ("d2", "two words"), ("d3", "a b c"),
              ("d4", "a b c d e")]
    df = spark.createDataFrame(corpus, "doc_id string, text string")

    arrs = {r.doc_id: r.sh for r in
            df.select("doc_id", word_shingles("text").alias("sh")).collect()}
    assert arrs["d1"] == ["one"]
    assert arrs["d2"] == ["two words"]
    assert arrs["d3"] == ["a b c"]
    assert arrs["d4"] == ["a b c", "b c d", "c d e"]

    got = sorted((r.doc_id, r.sh)
                 for r in exploded_word_shingles(df).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"('{d}', '{t}')" for d, t in corpus)
        + ") t(doc_id, text)"
    )
    oracle = sorted(con.execute(r"""
        SELECT DISTINCT doc_id, concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS sh
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
                     unnest(generate_series(0,
                       greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1) - 1)) AS i
              FROM documents)""").fetchall())
    assert got == oracle

    # full pipeline survives a short-doc corpus
    rows = ngram_jaccard_pairs(df, top_n=10).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {("d3", "d4")}


def test_dq_ruleset_single_pass_and_annotation(spark):
    """Registered rules (incl. a custom one) compile into ONE aggregation
    over ONE scan — the reference's rule registry without its
    count()-per-rule N-scan cost (VERDICT r1 #8)."""
    import pyspark.sql.functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.quality import DQRuleSet

    df = spark.createDataFrame(
        [
            Row(user_id=1, value=10.0, email="a@x.com"),
            Row(user_id=None, value=-5.0, email="bad"),
            Row(user_id=3, value=9999.0, email="c@y.org"),
        ]
    )
    rules = (
        DQRuleSet()
        .not_null("user_id")
        .in_range("value", 0, 1000)
        .matches("email", r"^[^@]+@[^@]+\.[^@]+$")
        .add_rule("value", "not_sentinel", F.col("value") == 9999.0)
    )
    out = rules.summary(df).collect()[0]
    assert out["total_rows"] == 3
    assert out["viol_user_id_not_null"] == 1
    assert out["viol_value_in_range"] == 2  # -5 and 9999 out of range
    assert out["viol_email_matches"] == 1
    assert out["viol_value_not_sentinel"] == 1
    assert out["valid_pct"] == round(1 * 100.0 / 3, 4)

    # single pass: exactly one Aggregate and one relation in the plan
    plan = rules.summary(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate [") == 1
    # exactly two plan nodes: the Aggregate over the single leaf scan
    assert len(plan.strip().splitlines()) == 2

    ann = {r["user_id"]: (r["_dq_valid"], r["_dq_errors"])
           for r in rules.annotate(df).collect()}
    assert ann[1] == (True, "")
    assert ann[3] == (False, "value.in_range,value.not_sentinel")
    assert ann[None][0] is False
    assert "user_id.not_null" in ann[None][1]
    assert "email.matches" in ann[None][1]


def test_media_embeddings_feed_similarity_ops(spark):
    """Multimodal feature extraction composes with the similarity
    family: payload → embedding → cosine top-k, and the non-fake path
    raises at the documented plug-in point."""
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.operators.multimodal import (
        attach_fake_media,
        media_embeddings,
        sample_frames,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.operators.similarity import cosine_topk

    docs = spark.createDataFrame(
        [(i, f"document number {i} with content") for i in range(20)],
        "doc_id BIGINT, text STRING",
    )
    emb = media_embeddings(attach_fake_media(docs))
    rows = emb.collect()
    assert len(rows) == 20
    assert all(len(r.embedding) == 8 for r in rows)
    assert all(0.0 <= x <= 1.0 for r in rows for x in r.embedding)

    topk = cosine_topk(
        emb, emb.doc_id < 3, k=2, id_col="doc_id", vec_col="embedding",
        extra_cols=(),
    )
    got = {(r.query_id, r.rk): r.doc_id for r in topk.collect()}
    assert len(got) == 6  # 3 queries x k=2
    assert all(r >= 1 for (_, r) in got)

    with pytest.raises(Exception, match="NotImplementedError|media encoder"):
        media_embeddings(attach_fake_media(docs), fake=False).collect()
    with pytest.raises(Exception, match="NotImplementedError|ffmpeg"):
        sample_frames(attach_fake_media(docs), fake=False).collect()


def test_chunk_documents_matches_reference_impl(spark):
    """Chunking over real docs equals a plain-Python reference: chunk i
    covers tokens [i*stride, i*stride+window), last chunk short, >=1
    chunk per non-null doc."""
    import re

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import chunk_documents
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    window, stride = 10, 7
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(
            docs, window=window, stride=stride
        ).collect()
    }
    expected = {}
    for r in docs.collect():
        if r["text"] is None:
            continue
        toks = re.split(r"\s+", r["text"].strip())
        n_chunks = max(0, (len(toks) - window + stride - 1) // stride) + 1
        for i in range(n_chunks):
            part = toks[i * stride: i * stride + window]
            expected[(r["doc_id"], i)] = (len(part), " ".join(part))
    assert got == expected
    # coverage: with stride < window every token index is in some chunk
    # (implied by the reference construction, asserted for clarity)
    some_doc = next(iter(expected))[0]
    idxs = [k[1] for k in expected if k[0] == some_doc]
    assert idxs == list(range(len(idxs)))


def test_chunk_documents_edges(spark):
    from pyspark.sql import Row

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c"), Row(doc_id=2, text=""),
         Row(doc_id=3, text=None)],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_text"]
        for r in chunk_documents(df, window=2, stride=2).collect()
    }
    # doc 1: non-overlapping windows reconstruct the token stream
    assert rows[(1, 0)] == "a b" and rows[(1, 1)] == "c"
    # empty text -> one empty chunk; NULL text -> no chunks
    assert rows[(2, 0)] == ""
    assert not any(k[0] == 3 for k in rows)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(df, window=2, stride=3)


def test_pack_chunks_exact_partition_and_budget(spark):
    """Sequence packing: every chunk lands in exactly one sequence, no
    sequence exceeds the budget (oversize chunks sit alone), output is
    deterministic across repartitionings."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        chunk_documents,
        pack_chunks,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(80)
    chunks = chunk_documents(docs, window=12, stride=12)
    max_tokens = 40
    packed = pack_chunks(chunks, max_tokens=max_tokens, num_shards=8)
    rows = packed.collect()
    members = [
        m for r in rows for m in r["members"].split(",") if r["members"]
    ]
    expected = {
        f"{r['doc_id']}:{r['chunk_idx']}" for r in chunks.collect()
    }
    assert sorted(members) == sorted(expected)  # exactly-once cover
    for r in rows:
        total = r["seq_tokens"]
        assert total <= max_tokens or r["n_chunks"] == 1  # oversize alone
    # determinism under different input partitioning
    again = {
        (r["shard"], r["seq_idx"]): (r["seq_tokens"], r["members"])
        for r in pack_chunks(
            chunks.repartition(13), max_tokens=max_tokens, num_shards=8
        ).collect()
    }
    first = {
        (r["shard"], r["seq_idx"]): (r["seq_tokens"], r["members"])
        for r in rows
    }
    assert first == again


def test_decontamination_flags_planted_13gram_overlap(spark):
    """A train doc that embeds a 13-token run copied from the holdout
    set is flagged and removed; clean docs survive untouched; docs
    shorter than the n-gram only match an identical short holdout doc."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        contaminated_ids,
        decontaminate,
    )

    leak = " ".join(f"w{i}" for i in range(13))  # the 13-gram that leaks
    train = spark.createDataFrame(
        [
            (1, f"intro words {leak} trailing text here"),  # contaminated
            (2, "a completely unrelated training document body"),
            (3, "short doc"),            # < 13 words, equals holdout row 30
            (4, "another short doc"),    # < 13 words, no holdout twin
            (5, None),                   # NULL text: never flagged
        ],
        "doc_id BIGINT, text STRING",
    )
    holdout = spark.createDataFrame(
        [
            (10, f"benchmark question {leak} benchmark answer"),
            (30, "short doc"),
        ],
        "doc_id BIGINT, text STRING",
    )
    bad = {r["doc_id"]: r["hits"] for r in contaminated_ids(train, holdout).collect()}
    assert set(bad) == {1, 3}
    assert bad[1] == 1  # exactly the planted 13-gram collides
    clean = decontaminate(train, holdout)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 4, 5]
    # schema preserved: decontaminate is a pure row filter
    assert clean.schema == train.schema


def test_decontamination_real_corpus_self_overlap(spark):
    """Holdout = every 37th doc of the corpus: each flagged survivor
    shares a real 13-gram; removing the holdout from itself empties it
    (every doc collides with its own shingles)."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import decontaminate
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    holdout = docs.filter(F.col("doc_id") % 37 == 0)
    assert decontaminate(holdout, holdout).count() == 0
    clean = decontaminate(docs, holdout)
    # at minimum the holdout docs themselves are removed
    assert clean.filter(F.col("doc_id") % 37 == 0).count() == 0
    assert clean.count() <= docs.count() - holdout.count()


def test_filter_by_quantile_exact_and_approx(spark):
    """Quality gating: the exact percent_rank path keeps precisely the
    top (1-q) of each stratum; the approx (scale) path agrees on data
    with well-separated scores; both respect stratum boundaries."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import filter_by_quantile
    from pyspark.sql import functions as F
    import pytest

    rows = [(i, "a" if i < 100 else "b", float(i % 100)) for i in range(200)]
    df = spark.createDataFrame(rows, "id BIGINT, lang STRING, score DOUBLE")

    exact = filter_by_quantile(df, "score", 0.8, strata_col="lang", exact=True)
    got = {(r["lang"], r["score"]) for r in exact.collect()}
    # percent_rank >= 0.8 over scores 0..99 keeps scores 80..99 per stratum
    assert got == {(l, float(s)) for l in ("a", "b") for s in range(80, 100)}

    approx = filter_by_quantile(df, "score", 0.8, strata_col="lang")
    ga = {(r["lang"], r["score"]) for r in approx.collect()}
    # approx threshold lands within one integer step of the exact cut
    kept_a = sorted(s for l, s in ga if l == "a")
    assert 19 <= len(kept_a) <= 22 and min(kept_a) >= 78.0

    # global (no strata) exact path + validation
    assert filter_by_quantile(df, "score", 0.0, exact=True).count() == 200
    with pytest.raises(ValueError):
        filter_by_quantile(df, "score", 1.5)


def test_filter_by_quantile_keeps_null_strata(spark):
    """NULL-stratum rows (missing language/domain) must be gated within
    their own group, not silently dropped — approx path ≡ exact path."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import filter_by_quantile

    rows = [("en", float(i)) for i in range(10)] + [
        (None, float(i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "lang STRING, score DOUBLE")
    approx = filter_by_quantile(df, "score", 0.5, strata_col="lang")
    a = {(r["lang"], r["score"]) for r in approx.collect()}
    # the NULL stratum is gated IDENTICALLY to a named stratum with
    # the same scores (both survive the join and share one threshold
    # semantics) — previously every NULL-stratum row vanished
    en = {s for lang, s in a if lang == "en"}
    nul = {s for lang, s in a if lang is None}
    assert nul == en and nul, "NULL stratum dropped or gated differently"


def test_fingerprint_null_text_is_null_not_empty_hash(spark):
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import doc_fingerprint

    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id BIGINT, text STRING"
    )
    got = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(df).collect()}
    assert got[1] is None
    assert got[2] is not None


def test_repetition_features_hand_computed(spark):
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        repetition_features,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),      # 5 tokens, 2 distinct; top tok a=3;
                                   # bigrams: ab, ba, ab, ba -> top 2
            (2, "x y z"),          # all distinct; every count 1
            (3, "w"),              # 1 token: no bigrams
            (4, None),             # NULL text
            (5, ""),               # '' -> [''] single empty token
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert got[1]["n_distinct_tokens"] == 2
    assert got[1]["dup_token_frac"] == (5 - 2) / 5
    assert got[1]["top_token_count"] == 3
    assert got[1]["top_bigram_count"] == 2
    assert got[2]["n_distinct_tokens"] == 3
    assert got[2]["dup_token_frac"] == 0.0
    assert got[2]["top_token_count"] == 1
    assert got[2]["top_bigram_count"] == 1
    assert got[3]["top_bigram_count"] == 0   # single token: no bigram
    assert got[4]["n_distinct_tokens"] is None
    assert got[4]["dup_token_frac"] is None
    assert got[4]["top_token_count"] == 0
    assert got[5]["n_distinct_tokens"] == 1
    assert got[5]["top_token_count"] == 1


def test_top_tfidf_term_hand_computed(spark):
    import math

    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        tfidf_scores,
        tokens,
        top_tfidf_term,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana the"),   # apple tf2/df1 wins
            (2, "banana cherry the the"),    # cherry 1/1 beats the 2/3
            (3, "the zebra"),                # zebra 1/1
            (4, "kiwi mango"),               # 1/1 tie -> greatest term
        ],
        "doc_id BIGINT, text STRING",
    )
    words = docs.select(
        "doc_id", F.explode(tokens("text")).alias("w")
    )
    got = {r["doc_id"]: r for r in top_tfidf_term(words).collect()}
    assert (got[1]["top_tfidf_term"], got[1]["top_tfidf_tf"],
            got[1]["top_tfidf_df"]) == ("apple", 2, 1)
    assert got[2]["top_tfidf_term"] == "cherry"
    assert got[3]["top_tfidf_term"] == "zebra"
    # exact tf/df tie: deterministic lexicographically-greatest term
    assert got[4]["top_tfidf_term"] == "mango"

    # log-idf scoring: closed-form tf * ln(N/df) (N passed explicitly —
    # no hidden count() action)
    scores = {
        (r["doc_id"], r["w"]): r
        for r in tfidf_scores(words, n_docs=4).collect()
    }
    apple = scores[(1, "apple")]
    assert (apple["tf"], apple["df"]) == (2, 1)
    assert abs(apple["score"] - 2 * math.log(4 / 1)) < 1e-12
    the = scores[(2, "the")]
    assert (the["tf"], the["df"]) == (2, 3)
    assert abs(the["score"] - 2 * math.log(4 / 3)) < 1e-12


def test_bm25_scores_match_closed_form(spark):
    import math

    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        bm25_scores,
        tokens,
    )

    corpus = {
        1: "apple apple banana the",
        2: "banana cherry the the",
        3: "the zebra",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id BIGINT, text STRING"
    )
    words = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    n, k1, b = 3, 1.2, 0.75
    got = {
        (r["doc_id"], r["w"]): r
        for r in bm25_scores(words, n_docs=n, k1=k1, b=b).collect()
    }

    toks = {d: t.split() for d, t in corpus.items()}
    dls = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dls.values()) / len(dls)
    dfs: dict[str, int] = {}
    for t in toks.values():
        for w in set(t):
            dfs[w] = dfs.get(w, 0) + 1
    for (d, w), r in got.items():
        tf = toks[d].count(w)
        assert (r["tf"], r["df"], r["dl"]) == (tf, dfs[w], dls[d])
        idf = math.log(1 + (n - dfs[w] + 0.5) / (dfs[w] + 0.5))
        want = idf * tf * (k1 + 1) / (
            tf + k1 * (1 - b + b * dls[d] / avgdl)
        )
        assert abs(r["score"] - want) < 1e-12, (d, w)
    # rare repeated term wins overall (apple: df=1, tf=2); the
    # ubiquitous 'the' (df=3) scores below every df=1 term
    top = max(got.values(), key=lambda r: r["score"])
    assert (top["doc_id"], top["w"]) == (1, "apple")
    worst_rare = min(
        r["score"] for r in got.values() if r["df"] == 1
    )
    best_the = max(
        r["score"] for (d, w), r in got.items() if w == "the"
    )
    assert best_the < worst_rare


def test_bm25_select_ranks_by_summed_query_relevance(spark):
    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        bm25_scores,
        bm25_select,
        tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana the"),
            (2, "banana cherry the the"),
            (3, "the zebra"),
            (4, "kiwi mango"),
        ],
        "doc_id BIGINT, text STRING",
    )
    words = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    query = ["apple", "banana"]
    got = bm25_select(words, query, n_docs=4, top_k=2).collect()
    # reference ranking: sum the full-corpus per-term scores directly
    per_term = bm25_scores(words, n_docs=4).collect()
    want: dict[int, float] = {}
    for r in per_term:
        if r["w"] in query:
            want[r["doc_id"]] = want.get(r["doc_id"], 0.0) + r["score"]
    order = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert [(r["doc_id"]) for r in got] == [d for d, _ in order]
    for r in got:
        assert abs(r["bm25"] - want[r["doc_id"]]) < 1e-12
    # doc 4 shares no query term: never selected even at large k
    ids = {r["doc_id"] for r in bm25_select(words, query, 4, 10).collect()}
    assert 4 not in ids


def test_pii_counts_and_redaction(spark):
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        pii_counts,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-1.example.com and d@e.org now"),
            (2, "call +44-123-456-7890 or visit 10.0.0.1 today"),
            (3, "no pii here at all"),
            (4, "ver 1.2.3 is not an ip, 1.2.3.4 is"),
            (5, None),
        ],
        "doc_id BIGINT, text STRING",
    )
    c = pii_counts("text")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            c["email"].alias("e"),
            c["phone"].alias("p"),
            c["ipv4"].alias("i"),
            redact_pii("text").alias("red"),
        ).collect()
    }
    assert (got[1]["e"], got[1]["p"], got[1]["i"]) == (2, 0, 0)
    assert got[1]["red"] == "mail [EMAIL] and [EMAIL] now"
    assert (got[2]["e"], got[2]["p"], got[2]["i"]) == (0, 1, 1)
    assert got[2]["red"] == "call [PHONE] or visit [IP] today"
    assert (got[3]["e"], got[3]["p"], got[3]["i"]) == (0, 0, 0)
    assert got[3]["red"] == "no pii here at all"
    # dotted version numbers need all four octets to count as an IP
    assert got[4]["i"] == 1
    assert got[4]["red"] == "ver 1.2.3 is not an ip, [IP] is"
    assert got[5]["red"] is None


def test_pii_patterns_cross_engine_fuzz(spark):
    """Seeded fuzz of the Java-regex vs RE2 (DuckDB) parity the PII
    arm's oracle depends on: 200 composed strings mixing real emails /
    phones / IPs with near-misses (missing octets, bad TLDs, '@' with
    no domain, version numbers) must produce identical match counts
    AND identical redacted text in both engines."""
    import random

    import duckdb

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        PII_PATTERNS,
        pii_counts,
        redact_pii,
    )

    rng = random.Random(99)
    frags = [
        lambda: f"u{rng.randint(0, 99)}.x+tag@ex{rng.randint(0, 9)}.org",
        lambda: f"bad@nodot{rng.randint(0, 9)}",
        lambda: f"+{rng.randint(1, 999)}-{rng.randint(100, 999)}-"
                f"{rng.randint(100, 999)}-{rng.randint(1000, 9999)}",
        lambda: f"+{rng.randint(1, 9)}-12-34-5678",
        lambda: ".".join(str(rng.randint(0, 999)) for _ in range(4)),
        lambda: f"v{rng.randint(1, 9)}.{rng.randint(0, 9)}.{rng.randint(0, 9)}",
        lambda: f"word{rng.randint(0, 999)}",
        lambda: "a@b.co cc",
        lambda: "10.0.0.1:8080",
        lambda: "@@..--",
    ]
    rows = [
        (i, " ".join(rng.choice(frags)() for _ in range(rng.randint(1, 8))))
        for i in range(200)
    ]

    c = pii_counts("s")
    got = (
        spark.createDataFrame(rows, "i BIGINT, s STRING")
        .select(
            "i", c["email"].alias("e"), c["phone"].alias("p"),
            c["ipv4"].alias("v"), redact_pii("s").alias("red"),
        )
        .collect()
    )
    spark_rows = {r["i"]: (r["e"], r["p"], r["v"], r["red"]) for r in got}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    pats = {name: pat for name, pat, _ in PII_PATTERNS}
    red = "s"
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    duck = con.execute(
        f"""SELECT i,
              len(regexp_extract_all(s, '{pats['email']}')),
              len(regexp_extract_all(s, '{pats['phone']}')),
              len(regexp_extract_all(s, '{pats['ipv4']}')),
              {red}
            FROM t"""
    ).fetchall()
    for i, e, p, v, r in duck:
        assert spark_rows[i] == (e, p, v, r), (i, rows[i][1])


def _winnow_reference(text, k=8, w=4, base=131, mod=10**15):
    """Pure-Python winnowing (Schleimer et al. SIGMOD'03): sorted
    distinct window-min k-gram polynomial hashes."""
    if text is None:
        return None
    if len(text) < k:
        return []
    kh = []
    for i in range(len(text) - k + 1):
        h = 0
        for ch in text[i : i + k]:
            h = (h * base + ord(ch)) % mod
        kh.append(h)
    if len(kh) < w:
        return [min(kh)]
    mins = {min(kh[j : j + w]) for j in range(len(kh) - w + 1)}
    return sorted(mins)


def test_winnow_fingerprints_match_python_reference(spark):
    """BOTH implementations — the pure-JVM HOF column and the
    Arrow-vectorized production path — must be value-identical to the
    paper's algorithm on random strings plus every edge class (NULL,
    empty, len<k, len<k+w-1, exactly one window, repeated chars,
    non-ASCII BMP chars)."""
    import random

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        winnow_fingerprints_col,
        winnow_fingerprints_vec,
    )

    rng = random.Random(29)
    alpha = "abcdefg XYZ,.!"
    docs = [
        (0, None),
        (1, ""),
        (2, "short"),          # len < k
        (3, "exactly8"),       # one k-gram
        (4, "tenchars!!"),     # k-grams but < one full window
        (5, "elevenchars"),    # exactly one window (k+w-1 = 11)
        (6, "a" * 40),         # degenerate repeats
        (7, "naïve café über—dash 模型 text"),  # non-ASCII BMP
    ] + [
        (10 + i, "".join(rng.choice(alpha) for _ in range(rng.randint(12, 200))))
        for i in range(25)
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    for col in (winnow_fingerprints_col, winnow_fingerprints_vec):
        got = {
            r["doc_id"]: (None if r["fp"] is None else list(r["fp"]))
            for r in df.select(
                "doc_id", col("text").alias("fp")
            ).collect()
        }
        for doc_id, text in docs:
            assert got[doc_id] == _winnow_reference(text), (
                col.__name__, doc_id, text
            )


def test_winnowing_guarantee_shared_passage_shares_fingerprint(spark):
    """The paper's detection guarantee: two docs sharing any substring
    of length >= w + k - 1 (= 11 at the defaults) must share at least
    one selected fingerprint, wherever the passage lands in either
    doc."""
    import random

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        winnow_fingerprints_col,
    )

    rng = random.Random(31)
    alpha = "abcdefghij "
    cases = []
    for i in range(20):
        passage = "".join(rng.choice(alpha) for _ in range(11))
        a = ("".join(rng.choice(alpha) for _ in range(rng.randint(0, 60)))
             + passage
             + "".join(rng.choice(alpha) for _ in range(rng.randint(0, 60))))
        b = ("".join(rng.choice(alpha) for _ in range(rng.randint(0, 60)))
             + passage
             + "".join(rng.choice(alpha) for _ in range(rng.randint(0, 60))))
        cases.append((2 * i, a))
        cases.append((2 * i + 1, b))
    df = spark.createDataFrame(cases, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: set(r["fp"])
        for r in df.select(
            "doc_id", winnow_fingerprints_col("text").alias("fp")
        ).collect()
    }
    for i in range(20):
        assert got[2 * i] & got[2 * i + 1], (
            f"pair {i}: no shared fingerprint despite an 11-char "
            f"shared passage"
        )


def test_winnow_containment_hits_detects_planted_quotes(spark):
    """End-to-end containment surface: docs quoting a holdout passage
    score >= 1, unrelated docs score 0 (absent from the output)."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        winnow_containment_hits,
    )

    quote = "the quick brown fox jumps"
    corpus = spark.createDataFrame(
        [
            (1, f"intro text then {quote} and a tail"),
            (2, "completely unrelated content with zero overlap!"),
            (3, f"{quote} right at the start"),
        ],
        "doc_id LONG, text STRING",
    )
    holdout = spark.createDataFrame(
        [(99, f"reference doc containing {quote} verbatim")],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: r["winnow_hits"]
        for r in winnow_containment_hits(corpus, holdout).collect()
    }
    assert got.get(1, 0) >= 1 and got.get(3, 0) >= 1
    assert 2 not in got


def test_ngram_jaccard_max_shingle_df_prunes_hot_universe(spark):
    """The stop-shingle knob: a boilerplate shingle present in EVERY
    doc is dropped from the universe (sizes AND intersections — the
    score stays a true Jaccard over informative shingles), so the
    planted near-dup pair keeps rank 1 while unrelated docs that share
    only the boilerplate no longer pair at all. Default None keeps the
    exact full-universe semantics (catalog/oracle operating point)."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        ngram_jaccard_pairs,
    )

    boiler = "copyright acme corp all rights reserved"
    docs = [
        (1, f"{boiler} the quick brown fox jumps over lazy dogs"),
        (2, f"{boiler} the quick brown fox jumps over lazy cats"),
        (3, f"{boiler} completely different payload one two three"),
        (4, f"{boiler} another unrelated body four five six seven"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    # full universe: every pair shares the boilerplate shingles
    full = ngram_jaccard_pairs(df, top_n=10).collect()
    assert len(full) == 6
    # capped: boilerplate shingles (df=4 > 3) leave the universe
    capped = ngram_jaccard_pairs(df, top_n=10, max_shingle_df=3).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in capped}
    assert set(pairs) == {(1, 2)}, pairs  # only the real near-dup meets
    r = pairs[(1, 2)]
    # pruned-universe Jaccard computed by hand: docs 1/2 differ in the
    # last word; 8 informative words -> 6 trigrams each, 5 shared
    # ("over lazy dogs/cats" differ)... compute from the row's own
    # internally-consistent surfaces instead of hand-counting:
    assert r["shared"] >= 1
    assert r["words_a"] == r["words_b"]
    expected = round(r["shared"] / (r["words_a"] + r["words_b"] - r["shared"]), 6)
    assert r["jaccard"] == expected
    # sizes reflect the PRUNED universe (strictly fewer shingles than
    # the full-universe row for the same pair)
    full_12 = next(x for x in full if (x["doc_a"], x["doc_b"]) == (1, 2))
    assert r["words_a"] < full_12["words_a"]


def test_stop_shingle_cap_derived_operating_point():
    """The cap is a pure-integer function of corpus size (1 in 100
    docs, floored at 2, CEILINGED at 128 since round 13) so DuckDB
    re-derives the identical value with
    ``LEAST(GREATEST(2, COUNT(*) // 100), 128)`` — no float in the
    derivation, no engine rounding divergence. The absolute ceiling is
    the linearity term: the ×30 synthetic tier falsified the
    fractional-only cap (sub-1%-frequency phrase shingles keep
    df ∝ n, so Σdf² grew ∝ n² and the capped arm measured ×218 at
    ×30); with a constant ceiling, pair-join rows ≤ occurrences ×
    ceiling ∝ n."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        stop_shingle_cap,
    )

    assert stop_shingle_cap(0) == 2
    assert stop_shingle_cap(199) == 2          # floor holds below 200
    assert stop_shingle_cap(200) == 2
    assert stop_shingle_cap(300) == 3
    assert stop_shingle_cap(10_000) == 100
    assert stop_shingle_cap(12_800) == 128     # fractional = ceiling
    assert stop_shingle_cap(12_900) == 128     # ceiling takes over
    assert stop_shingle_cap(1_000_000_000) == 128  # constant at scale
    assert stop_shingle_cap(10_000, per=1000) == 10
    assert stop_shingle_cap(10, floor=5) == 5
    assert stop_shingle_cap(10**9, ceiling=256) == 256


def test_ngram_jaccard_catalog_stacks_exact_and_stopcap(spark):
    """Catalog arm contract: ``ngram_jaccard_top_pairs`` stacks the
    full-universe ``exact`` arm with the planted-boilerplate
    ``stopcap`` arm at the derived cap — and the cap really kills the
    boilerplate pair flood: uncapped, the planted sentence alone
    forces every even/even doc pair to meet in the join (≥ C(n/2, 2)
    pairs); at the derived cap the pair universe collapses back to
    organically-similar docs."""
    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        ngram_jaccard_pairs,
        stop_shingle_cap,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        _BOILERPLATE,
        _docs,
        ngram_jaccard_top_pairs,
    )

    out = ngram_jaccard_top_pairs(spark, "/root/testdata/sf0.001")
    by_method = {}
    for r in out.collect():
        by_method.setdefault(r["method"], []).append(r)
    assert set(by_method) == {"exact", "stopcap"}
    assert 1 <= len(by_method["stopcap"]) <= 50
    assert all(r["rk"] <= 50 for r in by_method["stopcap"])

    docs = _docs(spark, "/root/testdata/sf0.001")
    n_docs = docs.count()
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(" " + _BOILERPLATE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    big = 1 << 30  # effectively "all pairs"
    n_even = planted.filter(F.col("doc_id") % 2 == 0).count()
    is_ee = (F.col("doc_a") % 2 == 0) & (F.col("doc_b") % 2 == 0)
    uncapped = ngram_jaccard_pairs(planted, top_n=big)
    capped = ngram_jaccard_pairs(
        planted, top_n=big, max_shingle_df=stop_shingle_cap(n_docs)
    )
    # uncapped: the planted sentence makes EVERY even/even pair meet
    all_ee = n_even * (n_even - 1) // 2
    assert uncapped.filter(is_ee).count() == all_ee
    # capped: only organically-similar even/even pairs survive — the
    # C(n/2, 2) boilerplate flood is gone from the join output
    capped_ee = capped.filter(is_ee).count()
    assert capped_ee < all_ee / 2, (capped_ee, all_ee)


def test_winnow_paths_value_identical_beyond_bmp(spark):
    """Round-11 pin: the JVM-HOF and Arrow winnowing paths are
    value-identical on astral-plane text, lone surrogates, NULs, and
    U+10FFFF — Spark 4's split('')/ascii()/length() all operate on
    CODEPOINTS, matching the vec path's UTF-32 view, so the
    ``vectorized`` flag is value-neutral on any text the engine can
    carry (the former BMP-only caveat is retired; the full-Unicode
    hypothesis sweep lives in test_properties)."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        winnow_fingerprints_col,
        winnow_fingerprints_vec,
    )

    texts = [
        "ab\U0001F600cdefghij\U0001F389klm",   # astral emoji
        "\U0001F600" * 12,                      # astral-only
        "ab\ud800cdefghij",                     # lone surrogate
        "a\x00bcdefghij",                       # embedded NUL
        "ab\U0010FFFFcdefghij",                 # max codepoint
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    )
    rows = df.select(
        "doc_id",
        winnow_fingerprints_col("text").alias("hof"),
        winnow_fingerprints_vec("text").alias("vec"),
    ).collect()
    for r in rows:
        assert list(r["hof"]) == list(r["vec"]), texts[r["doc_id"]]


def test_winnow_dup_spans_planted_passage_reference_equality(spark):
    """Round 12 (VERDICT r11 #5): substring-level dedup — a passage
    planted into several documents must come back as per-doc spans
    (doc, start, end, dup_group) that (a) equal a pure-Python
    reference of the whole pipeline row-for-row, (b) cover the planted
    region to within the winnowing boundary slack, (c) share one
    dup_group across the planted docs, and (d) are partition-
    invariant. Unplanted random docs yield nothing."""
    import random

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        winnow_dup_spans,
    )

    K, W = 8, 4
    rng = random.Random(42)
    alpha = "abcdefghijklmnopqrstuvwxyz "

    def rand_text(n):
        return "".join(rng.choices(alpha, k=n))

    passage = rand_text(220)
    texts = {}
    offsets = {}
    for d in range(6):
        body = rand_text(400)
        if d % 2 == 0:  # plant into docs 0, 2, 4 at varying offsets
            off = 37 + 50 * d
            texts[d] = body[:off] + passage + body[off:]
            offsets[d] = off
        else:
            texts[d] = body
    df = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id LONG, text STRING"
    )

    # ---- pure-Python reference of the full pipeline -----------------
    def ref_positions(t):
        m = len(t) - K + 1
        h = []
        for i in range(m):
            v = 0
            for j in range(K):
                v = (v * 131 + ord(t[i + j])) % 10**15
            h.append(v)
        sel = set()
        for j in range(m - W + 1):
            off = min(range(W), key=lambda x: (h[j + x], x))
            sel.add((h[j + off], j + off))
        return sorted(sel, key=lambda x: x[1])

    pos = {d: ref_positions(t) for d, t in texts.items()}
    doc_count: dict = {}
    for d, ps in pos.items():
        for fp, _ in set(ps):
            doc_count.setdefault(fp, set()).add(d)
    shared = {fp for fp, ds in doc_count.items() if len(ds) >= 2}
    want = set()
    gap = W + K - 1
    for d, ps in pos.items():
        hits = [(fp, p) for fp, p in ps if fp in shared]
        runs: list = []
        for fp, p in hits:
            if runs and p - runs[-1][-1][1] <= gap:
                runs[-1].append((fp, p))
            else:
                runs.append([(fp, p)])
        for run in runs:
            if len(run) >= 2:
                want.add((
                    d, run[0][1], run[-1][1] + K,
                    min(fp for fp, _ in run), len(run),
                ))

    got = {
        (r["doc_id"], r["start"], r["end"], r["dup_group"], r["n_anchors"])
        for r in winnow_dup_spans(df, min_anchors=2).collect()
    }
    assert got == want and want

    # ---- semantic pins ----------------------------------------------
    by_doc: dict = {}
    for row in got:
        by_doc.setdefault(row[0], []).append(row)
    assert set(by_doc) == {0, 2, 4}  # unplanted docs: no spans
    slack = W + K - 2
    groups = set()
    for d, rows in by_doc.items():
        assert len(rows) == 1
        _, start, end, grp, n_anchors = rows[0]
        lo, hi = offsets[d], offsets[d] + len(passage)
        # the anchor hull sits inside the planted region (up to one
        # k-gram reaching past the end) and within slack of each edge
        assert lo <= start <= lo + slack
        assert hi - slack <= end <= hi + K
        assert n_anchors >= 2
        groups.add(grp)
    assert len(groups) == 1  # same content -> same dup_group

    # ---- partition invariance ---------------------------------------
    again = {
        (r["doc_id"], r["start"], r["end"], r["dup_group"], r["n_anchors"])
        for r in winnow_dup_spans(
            df.repartition(7, "doc_id"), min_anchors=2
        ).collect()
    }
    assert again == got


def test_winnow_dup_spans_edges(spark):
    """NULL text, sub-k text, and a doc with no cross-doc content
    produce no spans; two short identical docs still pair when their
    single-window fingerprints meet min_anchors=1."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        winnow_dup_spans,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "tiny"), (3, "the same nine"), (4, "the same nine"),
         (5, "completely unrelated content here")],
        "doc_id LONG, text STRING",
    )
    got = winnow_dup_spans(df, min_anchors=1).collect()
    by_doc = {r["doc_id"]: r for r in got}
    assert set(by_doc) == {3, 4}
    assert by_doc[3]["dup_group"] == by_doc[4]["dup_group"]
    assert by_doc[3]["start"] == by_doc[4]["start"]
    assert by_doc[3]["end"] == by_doc[4]["end"]


def test_ngram_arm_subset_matches_fused_run(spark):
    """Round-13 `arms=` knob (the scale probe measures the stopcap arm
    alone): a single-arm run must be row-identical to that arm's slice
    of the fused two-arm run — the knob selects work, never changes
    results — and an unknown arm name fails loudly."""
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        ngram_jaccard_top_pairs,
    )

    sf = "/root/testdata/sf0.001"
    fused = ngram_jaccard_top_pairs(spark, sf).collect()
    for arm in ("stopcap", "exact"):
        alone = ngram_jaccard_top_pairs(spark, sf, arms=(arm,)).collect()
        want = [r for r in fused if r["method"] == arm]
        key = lambda r: (r["doc_a"], r["doc_b"])  # noqa: E731
        assert sorted(map(tuple, alone)) == sorted(map(tuple, want)), arm
        assert alone and all(r["method"] == arm for r in alone)
    with pytest.raises(ValueError, match="unknown arms"):
        ngram_jaccard_top_pairs(spark, sf, arms=("bogus",))


def test_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    """ADVICE r13: the per-path schema cache must not serve a stale
    schema after the table at that path is rewritten — new columns
    would otherwise be silently dropped."""
    import os

    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import load_table

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "documents.parquet")
    spark.createDataFrame([Row(doc_id=1, text="a")]).coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    first = load_table(spark, sf_dir, "documents")
    assert set(first.columns) == {"doc_id", "text"}
    # rewrite IN PLACE with an extra column — the fingerprint moves
    # because the overwrite produces new part-file names/sizes (the
    # directory fingerprint is built from entry stats, so a writer
    # reusing identical names would additionally need an mtime change)
    spark.createDataFrame(
        [Row(doc_id=1, text="a", lang="en")]
    ).coalesce(1).write.mode("overwrite").parquet(path)
    second = load_table(spark, sf_dir, "documents")
    assert "lang" in second.columns, "stale cached schema served"
    # unchanged path still hits the cache (same fingerprint -> no
    # footer re-inference; behavioral check: schema identical)
    third = load_table(spark, sf_dir, "documents")
    assert third.schema == second.schema


def test_hash_dedup_arm_subset_matches_fused_run(spark):
    """Round-14 `arms=` knob (VERDICT r13 #1, the ngram precedent
    generalized): a single-family run of hash_dedup_candidates must be
    row-identical to that family's slice of the fused run."""
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        hash_dedup_candidates,
    )

    sf = "/root/testdata/sf0.001"
    fused = hash_dedup_candidates(spark, sf).collect()
    assert fused
    for arm in ("minhash", "simhash"):
        alone = hash_dedup_candidates(spark, sf, arms=(arm,)).collect()
        want = [r for r in fused if r["method"] == arm]
        assert sorted(map(tuple, alone)) == sorted(map(tuple, want)), arm
        assert alone and all(r["method"] == arm for r in alone)
    with pytest.raises(ValueError, match="unknown arms"):
        hash_dedup_candidates(spark, sf, arms=("bogus",))
    with pytest.raises(ValueError, match="at least one"):
        hash_dedup_candidates(spark, sf, arms=())


def test_embedding_dedup_arm_subset_matches_fused_run(spark):
    """Round-14 `arms=` knob: each operating point of
    embedding_dedup_clusters alone equals its slice of the fused
    three-arm run — including `exact`/`centroid_outlier` alone, which
    still route through the shared semantic_dedup pass with a single
    keep policy."""
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        embedding_dedup_clusters,
    )

    sf = "/root/testdata/sf0.001"
    fused = embedding_dedup_clusters(spark, sf).collect()
    assert fused
    for arm in ("exact", "centroid_outlier", "semdedup_k4"):
        alone = embedding_dedup_clusters(spark, sf, arms=(arm,)).collect()
        want = [r for r in fused if r["arm"] == arm]
        assert sorted(map(tuple, alone)) == sorted(map(tuple, want)), arm
        assert alone and all(r["arm"] == arm for r in alone)
    # the two shared-pass arms together must also slice identically
    both = embedding_dedup_clusters(
        spark, sf, arms=("exact", "centroid_outlier")
    ).collect()
    want = [r for r in fused if r["arm"] != "semdedup_k4"]
    assert sorted(map(tuple, both)) == sorted(map(tuple, want))
    with pytest.raises(ValueError, match="unknown arms"):
        embedding_dedup_clusters(spark, sf, arms=("bogus",))


def test_doc_dedup_arm_subset_matches_fused_projection(spark):
    """Round-14 `arms=` knob: doc_dedup_fingerprints' arms are COLUMN
    FAMILIES — a single-family run must equal the fused result
    projected to (base + that family's) columns, and the base-only run
    must equal the fused base projection."""
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        doc_dedup_fingerprints,
    )

    sf = "/root/testdata/sf0.001"
    fused = doc_dedup_fingerprints(spark, sf)
    fused_rows = fused.collect()
    assert fused_rows
    base_cols = [
        "doc_id", "text_hash", "dup_count", "canonical_doc_id",
        "fingerprint", "rhash",
    ]
    families = {
        "holdout": ["holdout_hits"],
        "winnow": ["winnow_fp_count", "winnow_hits"],
        "span": ["dup_spans", "dup_span_chars", "dup_span_group"],
    }
    key = lambda r: r[0]  # noqa: E731 — doc_id leads every projection
    for arm, fam_cols in families.items():
        alone = doc_dedup_fingerprints(spark, sf, arms=(arm,))
        assert set(alone.columns) == set(base_cols + fam_cols), arm
        want = [
            tuple(r[c] for c in alone.columns) for r in fused_rows
        ]
        got = [tuple(r) for r in alone.collect()]
        assert sorted(got, key=key) == sorted(want, key=key), arm
    base = doc_dedup_fingerprints(spark, sf, arms=())
    assert list(base.columns) == base_cols
    want = [tuple(r[c] for c in base_cols) for r in fused_rows]
    got = [tuple(r) for r in base.collect()]
    assert sorted(got, key=key) == sorted(want, key=key)
    with pytest.raises(ValueError, match="unknown arms"):
        doc_dedup_fingerprints(spark, sf, arms=("bogus",))


def test_ngram_exact_arm_corpus_ceiling(spark):
    """Round-14 guardrail (VERDICT r13 What's-wrong #2): above the
    derived corpus ceiling the exact (all-pairs-by-contract) arm
    raises loudly with the escape hatch named; the stopcap arm alone
    and the explicit opt-in still construct; below the ceiling the
    guard never fires (bit-identical anchor/bench behavior)."""
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        ngram_jaccard_top_pairs,
    )

    sf = "/root/testdata/sf0.001"
    with pytest.raises(ValueError, match="allow_exact_above"):
        ngram_jaccard_top_pairs(spark, sf, exact_max_docs=10)
    # stopcap alone is the sanctioned scale path — no guard
    ngram_jaccard_top_pairs(spark, sf, arms=("stopcap",), exact_max_docs=10)
    # explicit opt-in constructs (and still computes the same rows)
    opted = ngram_jaccard_top_pairs(
        spark, sf, arms=("exact",), exact_max_docs=10,
        allow_exact_above=True,
    ).collect()
    normal = ngram_jaccard_top_pairs(spark, sf, arms=("exact",)).collect()
    assert sorted(map(tuple, opted)) == sorted(map(tuple, normal))


def test_arm_probe_specs_stay_valid(spark):
    """tools/arm_probe.py's SPECS table names query functions and arm
    tuples by hand — pin that every (query, arms) combination still
    constructs, so a renamed arm or signature change breaks HERE, not
    in the next probe run."""
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from arm_probe import DEFAULT_QUERIES, SPECS, _query_fn

    assert set(DEFAULT_QUERIES) <= set(SPECS)
    sf = "/root/testdata/sf0.001"
    for name, arm_list in SPECS.items():
        fn = _query_fn(name)
        for arms in arm_list:
            fn(spark, sf, arms=arms)  # must construct without error


def test_cosine_pairs_vector_ceiling(spark):
    """Round-14 consistency: the catalog's other by-contract quadratic
    entry (exact all-pairs cosine) gets the same enforced ceiling as
    the ngram exact arm — raise above the bound, opt-in constructs,
    identical rows below it."""
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.operators.util import (
        ScaleGuardrailError,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        embedding_cosine_pairs,
    )

    sf = "/root/testdata/sf0.001"
    with pytest.raises(ScaleGuardrailError, match="allow_exact_above"):
        embedding_cosine_pairs(spark, sf, exact_max_vectors=10)
    opted = embedding_cosine_pairs(
        spark, sf, exact_max_vectors=10, allow_exact_above=True
    ).collect()
    normal = embedding_cosine_pairs(spark, sf).collect()
    assert sorted(map(tuple, opted)) == sorted(map(tuple, normal))
    assert normal  # the threshold pairs exist at anchor scale


def test_ann_topk_pool_jobs_carry_session_tags(spark):
    """ann_topk builds its arms on a thread pool. Every SQL job it
    starts, including those from pool threads, carries the caller's
    SparkSession.addTag tag, so per-tag attribution sees the whole
    query, and wrapping the pool target warns nothing."""
    import warnings

    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import ann_topk

    from .conftest import SF_DIR

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tag, group = "ann-tag-probe", "ann-tag-probe-group"
    sc.setJobGroup(group, "job tag inheritance probe")
    spark.addTag(tag)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            ann_topk(spark, SF_DIR).collect()
    finally:
        spark.removeTag(tag)
        sc.setJobGroup("", "")
    assert not [w for w in caught
                if "Tags will not be inherited" in str(w.message)]
    jsc.listenerBus().waitUntilEmpty(60_000)
    jobs = jsc.statusStore().jobsList(None)
    tag_sets = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            tags = job.jobTags()
            tag_sets.append([tags.apply(k) for k in range(tags.size())])
    # session-managed (SQL) jobs; file-listing jobs outside any SQL
    # execution never carry session tags, on any thread
    sql_jobs = [ts for ts in tag_sets
                if any(x.startswith("spark-session-") for x in ts)]
    assert sql_jobs
    untagged = [ts for ts in sql_jobs
                if not any(x.endswith("-" + tag) for x in ts)]
    assert not untagged, untagged
    # the tags come from more than the calling thread: pool jobs count
    threads = {x.split("-thread-", 1)[1][:36]
               for ts in sql_jobs for x in ts if x.endswith("-" + tag)}
    assert len(threads) > 1


def test_ann_and_sessionize_arm_subsets_match_fused_runs(spark):
    """Round-14 completion of the per-arm pattern: the two remaining
    fused entries (ann_topk's four ANN methods, sessionize_rollup's
    two strategies) gain the same arms= knob — single-arm ≡ that
    method's slice of the fused run."""
    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.plans.events_views import (
        sessionize_rollup,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import ann_topk

    sf = "/root/testdata/sf0.001"
    fused = ann_topk(spark, sf).collect()
    assert fused
    for arm in ("brute", "ivf_full_probe", "pq_full_refine",
                "ivfpq_persisted"):
        alone = ann_topk(spark, sf, arms=(arm,)).collect()
        want = [r for r in fused if r["method"] == arm]
        assert sorted(map(tuple, alone)) == sorted(map(tuple, want)), arm
        assert alone and all(r["method"] == arm for r in alone)
    with pytest.raises(ValueError, match="unknown arms"):
        ann_topk(spark, sf, arms=("bogus",))

    fused = sessionize_rollup(spark, sf).collect()
    assert fused
    for arm in ("gap_lag", "native_window"):
        alone = sessionize_rollup(spark, sf, arms=(arm,)).collect()
        want = [r for r in fused if r["method"] == arm]
        assert sorted(map(tuple, alone)) == sorted(map(tuple, want)), arm
        assert alone and all(r["method"] == arm for r in alone)
    with pytest.raises(ValueError, match="at least one"):
        sessionize_rollup(spark, sf, arms=())


def test_table_fingerprint_nested_and_missing(tmp_path):
    """ADVICE r14: the schema-cache fingerprint must (a) see one level
    into partition subdirectories so an in-place rewrite of a
    partitioned table invalidates the cache, and (b) return None for a
    missing path so load_table falls through to Spark's own
    PATH_NOT_FOUND error instead of an os.stat traceback."""
    import os

    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        _table_fingerprint,
    )

    assert _table_fingerprint(str(tmp_path / "nope.parquet")) is None

    root = tmp_path / "t.parquet"
    part = root / "day=1"
    part.mkdir(parents=True)
    f = part / "part-0.parquet"
    f.write_bytes(b"aaaa")
    fp1 = _table_fingerprint(str(root))
    assert any("day=1/part-0.parquet" in p[0] for p in fp1)
    # rewrite INSIDE the partition dir without touching top level
    os.utime(part, ns=(0, 0))  # freeze the subdir's own stat
    f.write_bytes(b"bbbbbb")
    os.utime(root, ns=(0, 0))
    assert _table_fingerprint(str(root)) != fp1
    # hidden/underscore entries are ignored at both levels
    (root / "_SUCCESS").write_bytes(b"")
    (part / ".crc").write_bytes(b"")
    names = [p[0] for p in _table_fingerprint(str(root))]
    assert all("_SUCCESS" not in n and ".crc" not in n for n in names)


def test_load_table_missing_raises_spark_error(spark):
    import pytest
    from pyspark.errors import AnalysisException

    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        load_table,
    )

    with pytest.raises(AnalysisException):
        load_table(spark, "/root/testdata/sf0.001", "no_such_table")


def test_filter_by_quantile_explicit_accuracy(spark):
    """ADVICE r14: the approx path's oracle identity holds only while
    each stratum fits the sketch's exactness regime — the catalog now
    passes an explicit accuracy; the operator must accept it and, at
    accuracy >= stratum size, agree exactly with the exact path."""
    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        filter_by_quantile,
    )

    rows = [(g, v) for g in ("a", "b", None) for v in range(37)]
    df = spark.createDataFrame(rows, "g STRING, x INT")
    exact = filter_by_quantile(df, "x", 0.8, strata_col="g", exact=True)
    approx = filter_by_quantile(
        df, "x", 0.8, strata_col="g", exact=False, accuracy=1_000_000
    )
    key = lambda r: (r["g"] or "", r["x"])
    assert sorted(map(key, exact.collect())) == sorted(
        map(key, approx.collect())
    )


def test_guardrail_count_is_cached_and_construction_job_free(spark):
    """ADVICE r14: the round-14 guardrail put an eager count() into
    embedding_cosine_pairs' construction; with the fingerprint-keyed
    count cache only the FIRST construction per table content pays a
    job — later constructions (bench passes 2..N, compositions) are
    job-free again."""
    from real_time_video_streaming_analytics_lakehouse_spark.plans import llm_ops

    sf = "/root/testdata/sf0.001"
    llm_ops.embedding_cosine_pairs(spark, sf)  # warm the caches
    llm_ops._table_count(spark, sf, "documents")

    def construct():
        llm_ops.embedding_cosine_pairs(spark, sf)
        llm_ops._table_count(spark, sf, "documents")
        llm_ops._table_count(spark, sf, "embeddings")

    jobs, _ = count_jobs(spark, construct)
    assert jobs == 0, (
        f"guarded-entry construction launched {jobs} jobs — the count "
        f"cache regressed"
    )
    # (ngram_jaccard_top_pairs is excluded from the strict zero-job
    # probe: its lazy localCheckpoint makes AQE materialize the
    # stop-shingle broadcast stage at construction — 3 jobs, deliberate
    # and pre-existing; the count it needs now comes from this cache.)


def test_table_count_none_fingerprint_is_not_cached(spark, monkeypatch):
    """ADVICE r15: when _table_fingerprint returns None (transient
    OSError race during a concurrent rewrite), the count must be
    computed WITHOUT storing — caching under (path, None) would let a
    later None-fingerprint lookup of a rewritten table serve a stale
    row count into guardrail ceilings and lsh_params_for."""
    from real_time_video_streaming_analytics_lakehouse_spark.plans import llm_ops

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(
        "real_time_video_streaming_analytics_lakehouse_spark.sources."
        "readers._table_fingerprint",
        lambda path: None,
    )
    before = dict(llm_ops._COUNT_CACHE)
    n = llm_ops._table_count(spark, sf, "documents")
    assert n > 0
    assert llm_ops._COUNT_CACHE == before, (
        "a None-fingerprint count was cached — stale counts can now "
        "outlive a table rewrite"
    )


def test_text_quality_family_arms_match_fused_projection(spark):
    """Round 15 (VERDICT r14 What's-wrong #3): text_quality's column
    families gain the arms= knob so the scale probe can attribute
    per-family cost as (family - base) WITHOUT un-fusing the catalog
    plan. Contract (the doc_dedup_fingerprints precedent): a
    single-family run is column-projected row-identical to the fused
    result, and the fused default's columns are unchanged."""
    import math

    import pytest

    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        _TQ_FAMILIES,
        text_quality,
    )

    sf = "/root/testdata/sf0.001"
    fused = text_quality(spark, sf)
    fused_rows = {r["doc_id"]: r.asDict() for r in fused.collect()}
    base_cols = [
        "doc_id", "n_tokens", "n_chars_measured", "avg_token_len",
        "vowel_ratio", "punct_ratio", "stopword_ratio", "quality",
        "lang",
    ]

    def same(a, b):
        if isinstance(a, float) and isinstance(b, float):
            return (math.isnan(a) and math.isnan(b)) or a == b
        return a == b

    base = text_quality(spark, sf, arms=())
    assert base.columns == base_cols
    assert {r["doc_id"] for r in base.collect()} == set(fused_rows)
    for fam in _TQ_FAMILIES:
        alone = text_quality(spark, sf, arms=(fam,))
        extra = [c for c in alone.columns if c not in base_cols]
        assert extra, f"family {fam} contributed no columns"
        rows = alone.collect()
        assert len(rows) == len(fused_rows), fam
        for r in rows:
            want = fused_rows[r["doc_id"]]
            for c in alone.columns:
                assert same(r[c], want[c]), (fam, r["doc_id"], c)
    with pytest.raises(ValueError, match="unknown arms"):
        text_quality(spark, sf, arms=("bogus",))


def test_shingle_array_zip_and_transform_formulations_identical(spark):
    """Round 16: ``shingle_array`` picks the shifted-zip_with
    formulation for small sizes and the transform formulation for
    large ones (guide §1.2 per-task-work). Both must produce
    BIT-IDENTICAL arrays — same windows, same positional order, same
    partial-window clamp — on every edge shape (empty text, 1 word,
    size-1 words, exactly size words, NULL text)."""
    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        shingle_array,
        tokens,
    )

    corpus = [
        ("d0", None),
        ("d1", ""),
        ("d2", "one"),
        ("d3", "two words"),
        ("d4", "a b c"),
        ("d5", "a b c d e f g h i j k l m n"),
        ("d6", "x x x x x"),  # duplicates exercise array_distinct
    ]
    df = spark.createDataFrame(corpus, "doc_id string, text string")
    w_df = df.select("doc_id", tokens("text").alias("_w"))

    def transform_formulation(words, size):
        n = F.greatest(F.size(words) - (size - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(words, (i + 1).cast("int"), size)
                ),
            )
        )

    for size in (2, 3, 4, 5, 13):
        got = w_df.select(
            "doc_id", shingle_array(F.col("_w"), size).alias("a")
        )
        ref = w_df.select(
            "doc_id", transform_formulation(F.col("_w"), size).alias("a")
        )
        bad = (
            got.join(ref.withColumnRenamed("a", "b"), "doc_id")
            .filter(~F.col("a").eqNullSafe(F.col("b")))
            .count()
        )
        assert bad == 0, f"size={size}: formulations diverge"


def test_ngram_grouped_hash_keys_collision_free_on_corpus(spark):
    """Round 16: ``ngram_jaccard_pairs_grouped`` keys every stage on
    ``xxhash64(sh)`` instead of the shingle string (the
    contaminated_ids precedent). Counts are unchanged iff no two
    DISTINCT shingle strings collide in 64 bits on the corpus — pin
    that property on the test corpus, both arms of the catalog query
    (exact + planted-boilerplate stopcap universes)."""
    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        exploded_word_shingles,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        _BOILERPLATE,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        load_table,
    )

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat_ws(" ", "text", F.lit(_BOILERPLATE)),
        ).otherwise(F.col("text")).alias("text"),
    )
    for frame in (docs, planted):
        sh = exploded_word_shingles(frame).select("sh").distinct()
        n_str = sh.count()
        n_hash = sh.select(F.xxhash64("sh")).distinct().count()
        assert n_str == n_hash, (
            f"xxhash64 collision on corpus: {n_str} strings -> "
            f"{n_hash} hashes"
        )


def test_shingle_hash_array_injective_on_corpus(spark):
    """Round 16 (optimization): the catalog's ngram entry never builds
    shingle STRINGS — ``shingle_hash_array`` folds per-word xxhash64
    values per window. A window hash is a deterministic function of
    the word tuple and the joined string encodes the same tuple
    bijectively, so results are unchanged iff the fold is injective on
    the corpus universes. Pin, on both the raw and planted corpora:

    * per-doc set size: ``size(shingle_array)`` (string-distinct) ==
      ``size(shingle_hash_array)`` (hash-distinct) — no within-doc
      collision;
    * global distinct count: distinct strings == distinct hashes —
      no cross-doc collision (two docs' distinct strings must not
      share a hash, or `shared` counts would silently rise)."""
    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        shingle_array,
        shingle_hash_array,
        tokens,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        _BOILERPLATE,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        load_table,
    )

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat_ws(" ", "text", F.lit(_BOILERPLATE)),
        ).otherwise(F.col("text")).alias("text"),
    )
    for frame in (docs, planted):
        w = frame.select("doc_id", tokens("text").alias("_w"))
        both = w.select(
            "doc_id",
            shingle_array(F.col("_w")).alias("a_str"),
            shingle_hash_array(F.col("_w")).alias("a_hash"),
        )
        bad = both.filter(F.size("a_str") != F.size("a_hash")).count()
        assert bad == 0, f"{bad} docs with within-doc hash collisions"
        n_str = (
            both.select(F.explode("a_str").alias("s")).distinct().count()
        )
        n_hash = (
            both.select(F.explode("a_hash").alias("h")).distinct().count()
        )
        assert n_str == n_hash, (
            f"cross-doc collision: {n_str} strings -> {n_hash} hashes"
        )


def test_ngram_top_pairs_hashed_identical_to_string_formulation(spark):
    """Round 16 (optimization): the hashed/tinyint-armed catalog entry
    must be ROW-IDENTICAL to the pre-optimization string-keyed
    formulation (string shingles through the grouped core, method
    strings as arm keys) — the optimization changes keys and plan
    shape, never the result."""
    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        ngram_jaccard_pairs_grouped,
        shingle_array,
        stop_shingle_cap,
        tokens,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.operators.util import (
        ensure_parallelism,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.plans import CATALOG
    from real_time_video_streaming_analytics_lakehouse_spark.plans.llm_ops import (
        _BOILERPLATE,
        _table_count,
    )
    from real_time_video_streaming_analytics_lakehouse_spark.sources.readers import (
        load_table,
    )

    from .conftest import SF_DIR

    new = CATALOG["ngram_jaccard_top_pairs"].fn(spark, SF_DIR).collect()

    docs = load_table(spark, SF_DIR, "documents")
    n_docs = _table_count(spark, SF_DIR, "documents")
    boiler_w = F.split(F.lit(_BOILERPLATE), " ")
    w_df = ensure_parallelism(docs).select(
        "doc_id", tokens("text").alias("_w")
    )
    planted_w = F.concat(
        F.filter(F.col("_w"), lambda x: x != F.lit("")), boiler_w
    )
    arr = w_df.select("doc_id", "_w", planted_w.alias("_wc")).select(
        "doc_id", "_wc", shingle_array(F.col("_w")).alias("a_ex")
    ).select(
        "doc_id",
        "a_ex",
        F.when(F.col("doc_id") % 2 == 0, shingle_array(F.col("_wc")))
        .otherwise(F.col("a_ex"))
        .alias("a_cap"),
    )
    sh_all = arr.select(
        "doc_id",
        F.explode(F.array(
            F.struct(F.lit("exact").alias("method"), F.col("a_ex").alias("a")),
            F.struct(F.lit("stopcap").alias("method"), F.col("a_cap").alias("a")),
        )).alias("s"),
    ).select(
        F.col("s.method").alias("method"), "doc_id",
        F.explode("s.a").alias("sh"),
    )
    old = ngram_jaccard_pairs_grouped(
        sh_all,
        top_n=50,
        arm_col="method",
        arms=("exact", "stopcap"),
        max_shingle_df={"stopcap": stop_shingle_cap(n_docs)},
    ).collect()
    assert sorted(map(tuple, new)) == sorted(map(tuple, old))


def test_local_relation_matches_pickled_path(spark):
    """Round 16: ``operators.util.local_relation`` builds bounded
    driver-side rows through Arrow (JVM-evaluated — no Python-worker
    stage per materialization). Values, schema, and NULL handling must
    be identical to the plain ``createDataFrame(list)`` path on every
    shape the call sites use: ints, strings with None, nested
    array<double>, and nested-generic DDL whose commas must not split
    column names."""
    from real_time_video_streaming_analytics_lakehouse_spark.operators.util import (
        local_relation,
    )

    cases = [
        (
            [(0, 0, 0), (1, 0, 1), (1, 1, 1)],
            "blk INT, ti INT, tj INT",
        ),
        (
            [(0, "ab", None), (1, None, "z")],
            "rank INT, a STRING, b STRING",
        ),
        (
            [("centroid", -1, 0, [1.0, 2.5]), ("codebook", 2, 1, None)],
            "component string, m int, idx int, vals array<double>",
        ),
        (
            [({"k": 1}, [("x", 2)])],
            "m map<string,int>, s array<struct<a:string,b:int>>",
        ),
    ]
    for rows, schema in cases:
        got = local_relation(spark, rows, schema)
        ref = spark.createDataFrame(rows, schema)
        assert got.schema == ref.schema, schema
        assert sorted(map(repr, got.collect())) == sorted(
            map(repr, ref.collect())
        ), schema
    # empty input: falls back to the plain empty-relation path
    empty = local_relation(spark, [], "u BIGINT, label BIGINT")
    assert empty.count() == 0 and [f.name for f in empty.schema] == [
        "u",
        "label",
    ]


def test_shared_tf_paths_identical_to_default_paths(spark):
    """Round 17 (text_quality family fusion): every operator that
    accepts a pre-aggregated shared term-frequency frame must return
    EXACTLY the rows its default (self-aggregating) path returns —
    the fusion is a plan change, never a value change. Exercises NULL
    text, empty string, repeated tokens, and a tf/df tie."""
    from pyspark.sql import functions as F

    from real_time_video_streaming_analytics_lakehouse_spark.operators.text import (
        bm25_term_stats,
        predict_language_from_words,
        repetition_features,
        tokens,
        top_tfidf_term,
    )

    docs = spark.createDataFrame(
        [
            (1, "en", "apple apple banana the"),
            (2, "en", "banana cherry the the"),
            (3, "fr", "the zebra"),
            (4, "fr", "kiwi mango"),
            (5, "en", None),
            (6, None, ""),
        ],
        "doc_id BIGINT, lang STRING, text STRING",
    )
    words = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("w")
    )
    tf = words.groupBy("doc_id", "lang", "w").agg(
        F.count("*").alias("tf")
    )
    tfv = tf.select("doc_id", "w", "tf")

    def rows(df):
        return sorted(map(repr, df.collect()))

    for default, shared in (
        (
            predict_language_from_words(words),
            predict_language_from_words(None, tf=tf),
        ),
        (top_tfidf_term(words), top_tfidf_term(None, tf=tfv)),
        (bm25_term_stats(words), bm25_term_stats(None, tf=tfv)),
        (
            repetition_features(docs),
            repetition_features(docs, token_tf=tfv),
        ),
    ):
        assert default.schema == shared.schema
        assert rows(default) == rows(shared)
