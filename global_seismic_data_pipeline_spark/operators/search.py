"""BM25 full-text relevance search as native DataFrame algebra.

Okapi BM25 (Robertson & Zaragoza 2009, the Lucene-default scoring
function) over the shared text normalization (``text.normalized``): given
a small bag of query terms, rank documents by

    sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

with the Lucene idf = ln(1 + (N - df + 0.5)/(df + 0.5)).

Scale shape (inverted-index discipline, no index materialized):
- ONE corpus aggregate — the per-doc term counts (:func:`term_counts`,
  map-side combined, persisted) — feeds document lengths (Σ tf per doc),
  the query-term tf rows (a filter), and TF-IDF's weights; a hybrid
  pipeline aggregates the corpus tokens once, not once per scorer.
- The query-term filter lands on the (vocab-per-doc-sized) term-count
  rows map-side; only matching rows reach any further shuffle.
- Per-term document frequencies and the 1-row corpus stats are broadcast;
  the only corpus-sized shuffle is the term-count aggregate itself
  (high-cardinality (doc, tok) key, map-side partial counts) — dl
  re-aggregates the already-reduced term counts.
- Top-k is a TakeOrdered (k per partition, then merged on the driver) —
  no global sort.

Cross-engine float determinism (driver hash discipline): per-term scores
are pivoted into FIXED columns and added in query-term order with explicit
left association, so the float sum never depends on row order; tf/dl/df/N
are exact integers; the scoring expression tree is written identically on
both engines (the oracle SQL is generated from the same constants); ln's
potential 1-ulp libm difference is absorbed by rounding scores to 4
decimals (boundary collision would require the true score within ~1e-12 of
a rounding edge — checked at all three SFs on this deterministic corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..session import materialize
from .partitioning import ensure_parallelism
from .text import normalized


def _token_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return ensure_parallelism(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("id_"),
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("tok"),
    )


def term_counts(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_, tok, tf): the per-document term-frequency aggregate — the
    ONE corpus-wide pass both scorers here reduce to. BM25's document
    length is Σ tf per doc and its query-term tf is a filter of these
    rows; TF-IDF consumes them directly. Sharing this table means a
    hybrid pipeline aggregates the token rows once (map-side combined)
    instead of once per scorer (guide §2.4). Materialized until the
    caller's ``materialized_scope`` closes. The token rows feed exactly
    this aggregate, so they are built UNPERSISTED — caching them would add
    a second materialization of the corpus's largest intermediate for a
    single consumer."""
    return materialize(
        _token_rows(docs, id_col, text_col)
        .groupBy("id_", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    tfc: DataFrame | None = None,
) -> DataFrame:
    """Top-k (id, score, n_terms_matched, dl) by BM25 for ``query_terms``.

    Documents matching no query term are not returned (score 0). Ties are
    broken by ascending id so the k-selection is deterministic.
    ``tfc`` accepts a pre-built :func:`term_counts` table so hybrid
    pipelines share one corpus aggregate. dl = Σ tf per doc and the
    query-term tf rows are a filter of ``tfc`` — exact-integer identical
    to aggregating the raw token rows, but the corpus-sized pass
    happens once."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    if tfc is None:
        tfc = term_counts(docs, id_col=id_col, text_col=text_col)

    dl = tfc.groupBy("id_").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_toks")
    )
    tf = tfc.filter(F.col("tok").isin(list(query_terms)))
    dft = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("dft"))

    joined = (
        tf.join(F.broadcast(dft), "tok")
        .join(dl, "id_")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("total_toks").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dft") + F.lit(0.5)) / (F.col("dft") + F.lit(0.5))
    )
    den = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    )
    s = idf * (F.col("tf") * F.lit(k1 + 1.0)) / den
    scored = joined.select("id_", "tok", "dl", s.alias("s_"))

    # pivot the per-term scores into fixed columns so the final addition
    # has a FIXED order/association — float sums must not depend on row
    # order or the driver hash drifts between engines
    pivots = [
        F.sum(F.when(F.col("tok") == F.lit(t), F.col("s_"))).alias(f"s{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = scored.groupBy("id_").agg(F.max("dl").alias("dl"), *pivots)
    total = F.coalesce(F.col("s0"), F.lit(0.0))
    for i in range(1, len(query_terms)):
        total = total + F.coalesce(F.col(f"s{i}"), F.lit(0.0))
    matched = sum(
        F.when(F.col(f"s{i}").isNotNull(), 1).otherwise(0)
        for i in range(len(query_terms))
    )
    return (
        per_doc.select(
            F.col("id_").alias(id_col),
            F.round(total, 4).alias("score"),
            matched.cast("long").alias("n_terms_matched"),
            "dl",
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def oracle_sql(
    table_expr: str,
    norm_expr: str,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB SQL replicating ``bm25_topk`` with the identical expression
    tree (generated from the same constants). ``norm_expr`` is the
    engine's normalization of the text column (the shared NORM macro)."""
    terms_in = ", ".join(f"'{t}'" for t in query_terms)
    pivot_cols = ",\n        ".join(
        f"SUM(CASE WHEN tok = '{t}' THEN s END) AS s{i}"
        for i, t in enumerate(query_terms)
    )
    total = "COALESCE(s0, 0.0)"
    for i in range(1, len(query_terms)):
        total = f"({total} + COALESCE(s{i}, 0.0))"
    matched = " + ".join(
        f"CASE WHEN s{i} IS NOT NULL THEN 1 ELSE 0 END"
        for i in range(len(query_terms))
    )
    return f"""
WITH bm_toks AS (
    SELECT {id_col} AS id_, unnest(string_split({norm_expr}, ' ')) AS tok
    FROM {table_expr}
), bm_dl AS (
    SELECT id_, CAST(COUNT(*) AS BIGINT) AS dl FROM bm_toks GROUP BY id_
), bm_stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_toks
    FROM bm_dl
), bm_tf AS (
    SELECT id_, tok, CAST(COUNT(*) AS BIGINT) AS tf
    FROM bm_toks WHERE tok IN ({terms_in}) GROUP BY id_, tok
), bm_dft AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS dft FROM bm_tf GROUP BY tok
), bm_scored AS (
    SELECT t.id_, t.tok, d.dl,
        ln(1.0 + (st.n_docs - f.dft + 0.5) / (f.dft + 0.5))
        * (t.tf * {k1 + 1.0!r})
        / (t.tf + {k1!r} * ({1.0 - b!r} + {b!r} *
            (CAST(d.dl AS DOUBLE)
             / (CAST(st.total_toks AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))))
        AS s
    FROM bm_tf t
    JOIN bm_dft f USING (tok)
    JOIN bm_dl d USING (id_)
    CROSS JOIN bm_stats st
), bm_pivot AS (
    SELECT id_, MAX(dl) AS dl,
        {pivot_cols}
    FROM bm_scored GROUP BY id_
)
SELECT id_ AS {id_col},
    ROUND({total}, 4) AS score,
    CAST({matched} AS BIGINT) AS n_terms_matched,
    dl
FROM bm_pivot
ORDER BY score DESC, id_
LIMIT {k}
"""


def tfidf_topk(
    docs: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    tfc: DataFrame | None = None,
) -> DataFrame:
    """Top-k (id, score, n_terms_matched) by TF-IDF cosine — the vector-
    space complement to BM25, built so EVERY arithmetic step before the
    final division is exact integer:

    - idf is the integer log2 ``length(bin(N div df))`` = ⌊log2(N/df)⌋+1 —
      the log-scaled rarity weight WITHOUT libm (a float ln pushed through
      floor() is a knife-edge the repo's exactness rule forbids);
    - doc weight w = tf·idf, doc norm² = Σ w² and the query·doc dot
      Σ_{t∈q} w·idf are int64 sums — associative, so no pivot ordering is
      even needed (contrast bm25_topk's float pivot);
    - cosine = dot / (sqrt(norm²_d)·sqrt(norm²_q)): two correctly-rounded
      IEEE sqrts of exact ints and ONE division — bit-portable; rounded
      to 6 for rank stability.

    Scale shape mirrors bm25_topk: one tokenization pass feeds tf; the
    per-term df table is vocab-sized and joins BROADCAST (corpus tokens
    never shuffle for the idf lookup). norm², the query dot AND the
    match count fold into ONE map-side-combinable aggregate keyed by doc
    — no norms⋈hits join exists in the plan (conditional aggregation
    beats a self-join whenever both sides share the group key); the only
    shuffles are the two token aggregates. Top-k is TakeOrdered.
    Magnitudes: w ≤ dl·⌈log2 N⌉ keeps norm² far under int64 for any real
    document."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    if tfc is None:
        tfc = term_counts(docs, id_col=id_col, text_col=text_col)
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    tf = tfc
    dft = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("dft"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            F.length(F.bin(F.expr("n_docs div dft"))).cast("long").alias("idf_q"),
        )
    )
    weighted = tf.join(F.broadcast(dft), "tok").select(
        "id_", "tok", (F.col("tf") * F.col("idf_q")).alias("w"), "idf_q"
    )
    qnorm = dft.filter(F.col("tok").isin(list(query_terms))).agg(
        F.sum(F.col("idf_q") * F.col("idf_q")).alias("qnorm2")
    )
    is_q = F.col("tok").isin(list(query_terms))
    per_doc = weighted.groupBy("id_").agg(
        F.sum(F.col("w") * F.col("w")).alias("norm2"),
        F.sum(
            F.when(is_q, F.col("w") * F.col("idf_q")).otherwise(F.lit(0))
        ).alias("dot"),
        F.sum(is_q.cast("long")).alias("n_terms_matched"),
    )
    scored = per_doc.filter(F.col("n_terms_matched") > 0).crossJoin(
        F.broadcast(qnorm)
    )
    score = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("norm2").cast("double")) * F.sqrt(F.col("qnorm2").cast("double"))),
        6,
    )
    return (
        scored.select(
            F.col("id_").alias(id_col),
            score.alias("tfidf_cosine"),
            F.col("n_terms_matched").cast("long").alias("n_terms_matched"),
            F.col("dot").alias("dot_q"),
        )
        .orderBy(F.col("tfidf_cosine").desc(), F.col(id_col))
        .limit(k)
    )


def tfidf_oracle_sql(
    table_expr: str,
    norm_expr: str,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    k: int = 10,
) -> str:
    """DuckDB SQL replicating ``tfidf_topk`` — integer idf/weights/norms,
    one float division, generated from the same constants."""
    terms_in = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH ti_toks AS (
    SELECT {id_col} AS id_, unnest(string_split({norm_expr}, ' ')) AS tok
    FROM {table_expr}
), ti_n AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {table_expr}
), ti_tf AS (
    SELECT id_, tok, CAST(COUNT(*) AS BIGINT) AS tf
    FROM ti_toks GROUP BY id_, tok
), ti_idf AS (
    SELECT tok,
        CAST(length(bin(CAST(n.n_docs // f.dft AS BIGINT))) AS BIGINT) AS idf_q
    FROM (SELECT tok, CAST(COUNT(*) AS BIGINT) AS dft
          FROM ti_tf GROUP BY tok) f
    CROSS JOIN ti_n n
), ti_w AS (
    SELECT t.id_, t.tok, t.tf * i.idf_q AS w, i.idf_q
    FROM ti_tf t JOIN ti_idf i USING (tok)
), ti_norm AS (
    SELECT id_, CAST(SUM(w * w) AS BIGINT) AS norm2 FROM ti_w GROUP BY id_
), ti_qnorm AS (
    SELECT CAST(SUM(idf_q * idf_q) AS BIGINT) AS qnorm2
    FROM ti_idf WHERE tok IN ({terms_in})
), ti_hits AS (
    SELECT id_, CAST(SUM(w * idf_q) AS BIGINT) AS dot,
        CAST(COUNT(*) AS BIGINT) AS n_terms_matched
    FROM ti_w WHERE tok IN ({terms_in}) GROUP BY id_
)
SELECT h.id_ AS {id_col},
    ROUND(CAST(h.dot AS DOUBLE)
          / (sqrt(CAST(n.norm2 AS DOUBLE)) * sqrt(CAST(q.qnorm2 AS DOUBLE))),
          6) AS tfidf_cosine,
    h.n_terms_matched,
    h.dot AS dot_q
FROM ti_hits h
JOIN ti_norm n USING (id_)
CROSS JOIN ti_qnorm q
ORDER BY tfidf_cosine DESC, id_
LIMIT {k}
"""


def phrase_search(
    df: DataFrame,
    phrase: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase matching over tokenized text: (id, n_occurrences) for
    every document containing the phrase's tokens CONSECUTIVELY — the
    positional-postings query BM25/TF-IDF ranking cannot answer (bag-of-
    words scoring is order-blind).

    Positional adjacency over a token sequence is exactly an n-gram
    equality: the operator reuses :func:`..neardup.shingle_rows` (split →
    posexplode → per-doc lead window, one doc-keyed shuffle, codegen
    end-to-end) with n = phrase length and keeps rows equal to the
    normalized phrase. Occurrences may overlap ("a a a" contains "a a"
    twice) — the window form counts every start position, where a
    substring replace-and-measure trick would undercount; the oracle
    replays token positions for the same reason.

    Scale shape: one tokenization pass + one count aggregate; no join at
    all (the phrase is a literal). For a phrase WORKLOAD (many phrases),
    generalize to a semi-join of the shingle rows against a broadcast
    phrase table — same single corpus pass.
    """
    from .neardup import shingle_rows

    words = phrase.strip().lower().split()
    if not words:
        raise ValueError("phrase must contain at least one token")
    # normalize the phrase the same way document text is normalized
    norm_phrase = " ".join(words)
    rows = shingle_rows(df, id_col=id_col, text_col=text_col, n=len(words))
    return (
        rows.filter(F.col("shingle") == norm_phrase)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
