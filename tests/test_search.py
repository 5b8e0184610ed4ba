"""BM25 search (operators/search.py): hand-computed scores on a tiny
corpus, ranking semantics, and input validation. Cross-engine bit-equality
is covered by the DuckDB oracle gate."""

import math

import pytest

from global_seismic_data_pipeline_spark.operators import search


def _mini_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "spark spark shuffle join"),
            (2, "join join join filter"),
            (3, "filter scan scan scan scan scan"),
            (4, "spark"),
        ],
        "doc_id long, text string",
    )


def _bm25_ref(docs, terms, k1=1.2, b=0.75):
    toks = {i: t.split() for i, t in docs}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfs = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = {}
    for i, v in toks.items():
        s = 0.0
        hit = 0
        for t in terms:
            tf = v.count(t)
            if tf == 0:
                continue
            hit += 1
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if hit:
            out[i] = (round(s, 4), hit, len(v))
    return out


def test_scores_match_reference(spark):
    docs = [
        (1, "spark spark shuffle join"),
        (2, "join join join filter"),
        (3, "filter scan scan scan scan scan"),
        (4, "spark"),
    ]
    terms = ["spark", "join"]
    expected = _bm25_ref(docs, terms)
    rows = search.bm25_topk(_mini_corpus(spark), terms, k=10).collect()
    got = {r.doc_id: (r.score, r.n_terms_matched, r.dl) for r in rows}
    assert got == pytest.approx(expected)


def test_topk_order_and_cutoff(spark):
    rows = search.bm25_topk(_mini_corpus(spark), ["spark", "join"], k=2).collect()
    assert len(rows) == 2
    # doc 4 ("spark" alone, shortest doc) outranks everything on idf-weighted
    # length normalization; verify descending order with deterministic ties
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_unmatched_docs_excluded(spark):
    rows = search.bm25_topk(_mini_corpus(spark), ["shuffle"], k=10).collect()
    assert [r.doc_id for r in rows] == [1]


def test_validation(spark):
    with pytest.raises(ValueError):
        search.bm25_topk(_mini_corpus(spark), [])
    with pytest.raises(ValueError):
        search.bm25_topk(_mini_corpus(spark), ["a", "a"])


def _tfidf_ref(docs, terms):
    """Pure-python mirror of tfidf_topk: integer log2 idf, int weights."""
    toks = {i: t.split() for i, t in docs}
    n = len(toks)
    dfs = {}
    for v in toks.values():
        for t in set(v):
            dfs[t] = dfs.get(t, 0) + 1
    idf = {t: (n // d).bit_length() for t, d in dfs.items()}
    qnorm2 = sum(idf[t] ** 2 for t in terms if t in idf)
    out = {}
    for i, v in toks.items():
        w = {t: v.count(t) * idf[t] for t in set(v)}
        norm2 = sum(x * x for x in w.values())
        dot = sum(w[t] * idf[t] for t in terms if t in w)
        hit = sum(1 for t in terms if t in w)
        if hit:
            out[i] = (round(dot / (math.sqrt(norm2) * math.sqrt(qnorm2)), 6), hit, dot)
    return out


def test_tfidf_scores_match_reference(spark):
    docs = [
        (1, "spark spark shuffle join"),
        (2, "join join join filter"),
        (3, "filter scan scan scan scan scan"),
        (4, "spark"),
    ]
    terms = ["spark", "join"]
    expected = _tfidf_ref(docs, terms)
    rows = search.tfidf_topk(_mini_corpus(spark), terms, k=10).collect()
    got = {r.doc_id: (r.tfidf_cosine, r.n_terms_matched, r.dot_q) for r in rows}
    assert got == pytest.approx(expected)


def test_tfidf_idf_downweights_common_terms(spark):
    # 'filter' appears in 2/4 docs, 'spark' in 2/4, 'scan' in 1/4 —
    # a doc matching only the rarer term must beat one matching only a
    # term present in every document
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha delta epsilon"),
            (3, "alpha zeta eta"),
            (4, "rare beta theta"),
        ],
        "doc_id long, text string",
    )
    rows = search.tfidf_topk(docs, ["alpha", "rare"], k=10).collect()
    got = {r.doc_id: r.tfidf_cosine for r in rows}
    # doc 4 matches 'rare' (df=1, idf=3); docs 1-3 match 'alpha'
    # (df=4 of 4, idf=1) — rarity must dominate
    assert got[4] > max(got[1], got[2], got[3])


def test_phrase_search_counts_overlapping_occurrences(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # "a a" starts at 3 positions
            (2, "x a a y"),          # once
            (3, "a b a b"),          # zero "a a"
            (4, "  A   a  b"),       # normalization: case + whitespace
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.n_occurrences
        for r in search.phrase_search(df, "a a").collect()
    }
    assert got == {1: 3, 2: 1, 4: 1}


def test_phrase_search_multiword_and_single(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox and the quick red fox")],
        "doc_id long, text string",
    )
    assert search.phrase_search(df, "the quick").collect()[0].n_occurrences == 2
    assert search.phrase_search(df, "fox").collect()[0].n_occurrences == 2
    assert search.phrase_search(df, "Quick Brown Fox").collect()[0].n_occurrences == 1
    assert search.phrase_search(df, "red brown").count() == 0
    import pytest

    with pytest.raises(ValueError):
        search.phrase_search(df, "   ")
