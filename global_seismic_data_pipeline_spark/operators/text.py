"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is native Catalyst expressions (regexp/split/md5 run in
the JVM with whole-stage codegen — no Python boundary), so these scale to
100 TB document corpora limited only by scan + shuffle. Nothing here
shuffles except explicit aggregations by the caller.

Operators: quality scoring, token counting, language-ID (stopword n-gram
heuristic), document fingerprinting (normalization + md5), shingling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import materialize

# Tiny per-language stopword signals for the heuristic language-ID.
# Word-boundary alternations keep the regex RE2/Java-compatible.
LANG_STOPWORDS: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|that|for|with)\b",
    "es": r"\b(el|la|los|las|de|que|y|en|un|una)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|zu)\b",
    "fr": r"\b(le|la|les|et|des|est|une|dans|pour)\b",
}

PUNCT_PATTERN = r"[^.,;:!?]"
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def normalized(text: Column) -> Column:
    """Canonical form: lower-cased, trimmed, whitespace collapsed."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def fingerprint(text: Column) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text."""
    return F.md5(normalized(text))


def word_count(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+")).cast("long")


def token_count_bpe_ish(text: Column) -> Column:
    """Count of BPE-ish units: letter runs, digit runs, single symbols."""
    return F.regexp_count(text, F.lit(TOKEN_PATTERN)).cast("long")


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, PUNCT_PATTERN, "")).cast("long")


def stopword_count(text: Column, lang: str = "en") -> Column:
    return F.regexp_count(F.lower(text), F.lit(LANG_STOPWORDS[lang])).cast("long")


def with_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add length/word/punct/stopword features and a composite quality score.

    Score = stopword density + moderate word length - punctuation excess,
    a cheap heuristic in the spirit of Gopher/C4 quality rules."""
    t = F.col(text_col)
    out = (
        df.withColumn("char_len", F.length(t).cast("long"))
        .withColumn("word_cnt", word_count(t))
        .withColumn("punct_cnt", punct_count(t))
        .withColumn("stopword_cnt", stopword_count(t))
    )
    return (
        out.withColumn(
            "avg_word_len",
            F.length(F.regexp_replace(t, r"\s+", "")) / F.col("word_cnt"),
        )
        .withColumn("punct_ratio", F.col("punct_cnt") / F.col("char_len"))
        .withColumn("stopword_ratio", F.col("stopword_cnt") / F.col("word_cnt"))
        .withColumn(
            "quality_score",
            (F.col("stopword_ratio") * F.lit(10.0))
            - (F.col("punct_ratio") * F.lit(5.0))
            + F.when((F.col("avg_word_len") >= 3.0) & (F.col("avg_word_len") <= 8.0), F.lit(1.0)).otherwise(F.lit(0.0)),
        )
    )


def with_language_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language-ID: argmax of per-language stopword hits, ties
    resolved in fixed (en, es, de, fr) order; no hits → 'unknown'."""
    t = F.lower(F.col(text_col))
    out = df
    for lang, pat in LANG_STOPWORDS.items():
        out = out.withColumn(
            f"hits_{lang}", F.regexp_count(t, F.lit(pat)).cast("long")
        )
    en, es, de, fr = (F.col(f"hits_{x}") for x in ("en", "es", "de", "fr"))
    guess = (
        F.when((en + es + de + fr) == 0, "unknown")
        .when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return out.withColumn("lang_guess", guess)


def token_rows(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    cluster_by_id: bool = False,
) -> DataFrame:
    """(id, pos, tok) rows of the normalized text — split → posexplode,
    the sanctioned row-generation path (never explode an HOF-built array;
    see neardup module docstring).

    ``cluster_by_id=True`` hash-repartitions the RAW documents on the id
    before the explode: every downstream doc-keyed window or aggregate
    ((id) or (id, tok) grouping) then reuses that clustering, so the
    exploded token rows — strictly larger than the documents — never
    shuffle (guide §2.3/§2.4; the neardup.shingle_rows move). Leave it
    off for consumers keyed on the TOKEN only (vocab builds, corpus
    counts): those never need doc clustering, and at scale a forced doc
    repartition would shuffle the whole corpus text for nothing."""
    src = df.select(F.col(id_col), F.col(text_col))
    if cluster_by_id:
        src = src.repartition(F.col(id_col))
    return src.select(
        id_col,
        F.posexplode(F.split(normalized(F.col(text_col)), " ")).alias("pos", "tok"),
    )


def repetition_stats(
    df,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_token_frac: float = 0.5,
    max_top_bigram_frac: float = 0.18,
) -> DataFrame:
    """Gopher-style repetition features + keep/drop flag per document.

    Per doc: total/distinct token counts, the most-frequent token's and
    bigram's share, the duplicate-token fraction, and ``keep`` (1 when
    both repetition fractions are under their thresholds) — the repetition
    family of the Gopher quality rules (massive-web-corpora filtering).

    Fractions are exact count ratios left UNROUNDED: both engines do the
    same IEEE count/count division, and rounding would add a HALF_UP
    hazard for nothing (plans/workloads.py float discipline).

    Scale shape: tokens are generated as rows (linear in corpus size),
    then two partial-aggregated shuffles — by (doc, token) and by doc —
    plus one windowed pass for bigrams; skew is bounded by the longest
    single document, so this survives 100 TB corpora."""
    toks = token_rows(
        df, id_col=id_col, text_col=text_col, cluster_by_id=True
    )
    uni = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    per_uni = uni.groupBy(id_col).agg(
        F.sum("cnt").alias("total_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.max("cnt").alias("top_token_cnt"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    bigrams = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(id_col, F.concat_ws(" ", "tok", "nxt").alias("bigram"))
    )
    per_big = (
        bigrams.groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("total_bigrams"),
            F.max("cnt").alias("top_bigram_cnt"),
        )
    )
    joined = per_uni.join(per_big, id_col, "left").select(
        id_col,
        "total_tokens",
        "distinct_tokens",
        "top_token_cnt",
        F.coalesce("total_bigrams", F.lit(0)).alias("total_bigrams"),
        F.coalesce("top_bigram_cnt", F.lit(0)).alias("top_bigram_cnt"),
    )
    dup_frac = F.lit(1.0) - F.col("distinct_tokens") / F.col("total_tokens")
    top_tok_frac = F.col("top_token_cnt") / F.col("total_tokens")
    top_big_frac = F.when(F.col("total_bigrams") > 0,
                          F.col("top_bigram_cnt") / F.col("total_bigrams")
                          ).otherwise(F.lit(0.0))
    return (
        joined.withColumn("dup_token_frac", dup_frac)
        .withColumn("top_token_frac", top_tok_frac)
        .withColumn("top_bigram_frac", top_big_frac)
        .withColumn(
            "keep",
            (
                (F.col("dup_token_frac") <= F.lit(max_dup_token_frac))
                & (F.col("top_bigram_frac") <= F.lit(max_top_bigram_frac))
            ).cast("long"),
        )
    )


def token_diversity(
    df, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Simpson-diversity token statistics per document.

    Quality filters use distribution *concentration*, not just distinct
    counts: a doc whose tokens are dominated by a few repeats scores low
    even with a large vocabulary. Shannon entropy is the textbook measure
    but needs log() calls whose final ulp differs between engines; the
    Simpson family carries the same signal from exact integers only:

    - ``sum_sq``       = Σ cnt²            (exact integer)
    - ``effective_vocab`` = N² / Σcnt²     (inverse Simpson — the number of
      equally-frequent tokens that would produce this concentration)
    - ``gini_simpson`` = 1 − Σcnt²/N²      (probability two random tokens
      differ)

    Each float output is ONE IEEE division (plus one exact subtraction) of
    exactly-representable integers, so Spark and the DuckDB oracle agree
    bit-for-bit — no float-sum ordering, no libm.

    Shape: token rows → two partial-aggregated shuffles ((doc,tok), then
    doc). Skew bounded by the longest document.
    """
    toks = token_rows(
        df, id_col=id_col, text_col=text_col, cluster_by_id=True
    )
    cnts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    agg = cnts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
    )
    n2 = F.col("n_tokens") * F.col("n_tokens")
    return agg.select(
        id_col,
        "n_tokens",
        "distinct_tokens",
        "sum_sq",
        (n2 / F.col("sum_sq")).alias("effective_vocab"),
        (F.lit(1.0) - F.col("sum_sq") / n2).alias("gini_simpson"),
    )


def build_vocab(
    df,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    toks: DataFrame | None = None,
) -> DataFrame:
    """(tok, cnt, id) frequency-ordered vocabulary of the corpus.

    Ids are dense 0-based ranks by (count DESC, token ASC) — the
    deterministic tie-break makes the id assignment reproducible across
    runs and engines, which is what lets an encoded corpus be re-derived
    or verified later. One partial-aggregated shuffle on the token key;
    the global rank runs over the (small) distinct-vocab table only.
    ``toks`` accepts a pre-built (persisted) token-rows table so a
    build-then-encode pipeline tokenizes the corpus once."""
    if toks is None:
        toks = token_rows(df, id_col=id_col, text_col=text_col)
    cnts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    return cnts.withColumn("id", (F.row_number().over(w) - 1).cast("long"))


def encode_docs(
    df,
    vocab: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id_col, n_tokens, ids): each document as its position-ordered
    token-id sequence — the tokenize-to-ids step of a training pipeline.

    The vocab joins BROADCAST (a natural-language vocabulary is ≤ a few
    million rows regardless of corpus size, so the corpus tokens never
    shuffle for the lookup); sequences reassemble with one (doc) shuffle
    via the sorted-struct collect, the same pattern as chunking.
    ``toks`` shares a tokenization pass with :func:`build_vocab`."""
    if toks is None:
        toks = token_rows(df, id_col=id_col, text_col=text_col)
    joined = toks.join(F.broadcast(vocab.select("tok", "id")), "tok")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("id")))
            ).alias("__ordered"),
        )
        .select(
            id_col,
            "n_tokens",
            F.transform(F.col("__ordered"), lambda s: s["id"]).alias("ids"),
        )
    )


def corpus_top_ngrams(
    df,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide top-k word n-grams with deterministic tie-break
    (count DESC, ngram ASC) — vocabulary/contamination spot-checks.

    Shape: token rows → (n-1) leads over a per-doc window → one
    partial-aggregated shuffle keyed by ngram → global top-k. The final
    sort sees only the distinct-ngram table, already combiner-reduced
    map-side; with AQE the top-k is a TakeOrdered over that — no
    full-corpus sort at any point."""
    toks = token_rows(
        df, id_col=id_col, text_col=text_col, cluster_by_id=True
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    cols = [F.col("tok")] + [
        F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, n)
    ]
    grams = toks.select(*cols)
    for i in range(1, n):
        grams = grams.filter(F.col(f"t{i}").isNotNull())
    grams = grams.select(
        F.concat_ws(" ", "tok", *[f"t{i}" for i in range(1, n)]).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(k)
    )


def _ngram_rows(
    df: DataFrame, *, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, gram) rows of word n-grams via token rows + (n-1) leads —
    the bounded row-generation path shared with corpus_top_ngrams."""
    toks = token_rows(
        df, id_col=id_col, text_col=text_col, cluster_by_id=True
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    cols = [F.col(id_col), F.col("tok")] + [
        F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, n)
    ]
    grams = toks.select(*cols).filter(F.col(f"t{n - 1}").isNotNull())
    return grams.select(
        id_col,
        F.concat_ws(" ", "tok", *[f"t{i}" for i in range(1, n)]).alias("gram"),
    )


def ngram_duplication_rate(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_dup_num: int = 3,
    max_dup_den: int = 10,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the corpus-level signal
    behind exact-substring dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022): a document whose n-grams
    mostly also occur elsewhere is boilerplate/template residue even when
    no single whole-document near-duplicate exists.

    Per doc (with ≥ n tokens): ``total_ngrams`` occurrences,
    ``dup_ngrams`` = occurrences whose gram appears ≥ 2 times in the WHOLE
    corpus (within- or cross-document), ``cross_dup_ngrams`` = occurrences
    whose gram also appears in a DIFFERENT document, ``dup_frac`` =
    dup/total (the single float division), and ``keep`` decided by the
    exact-integer cross-multiplication ``dup_ngrams·den ≤ total·num`` —
    the keep flag can never flip on a float ulp (CLAUDE.md discipline).

    Scale shape: token rows → per-doc lead window (state = n-1 tokens) →
    one partial-aggregated shuffle keyed by (doc, gram) → one window
    keyed by gram over the ALREADY-AGGREGATED (doc, gram) rows (per-gram
    row count ≤ #docs containing it, far smaller than occurrences) → one
    final doc-keyed aggregate. No join back to the corpus, no all-pairs
    anything; skew is bounded by the most widespread gram's document
    frequency, and a stop-gram cut (as in neardup) slots in front of the
    gram window if a corpus needs it.
    """
    grams = _ngram_rows(df, id_col=id_col, text_col=text_col, n=n)
    occ = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
    wg = Window.partitionBy("gram")
    tot = occ.withColumn("total_cnt", F.sum("cnt").over(wg))
    per_doc = tot.groupBy(id_col).agg(
        F.sum("cnt").alias("total_ngrams"),
        F.sum(F.when(F.col("total_cnt") >= 2, F.col("cnt")).otherwise(0)).alias(
            "dup_ngrams"
        ),
        F.sum(
            F.when(F.col("total_cnt") > F.col("cnt"), F.col("cnt")).otherwise(0)
        ).alias("cross_dup_ngrams"),
    )
    return per_doc.select(
        id_col,
        "total_ngrams",
        "dup_ngrams",
        "cross_dup_ngrams",
        (F.col("dup_ngrams") / F.col("total_ngrams")).alias("dup_frac"),
        (
            F.col("dup_ngrams") * F.lit(max_dup_den)
            <= F.col("total_ngrams") * F.lit(max_dup_num)
        )
        .cast("long")
        .alias("keep"),
    )


def unigram_lm_surprisal(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_bits: int = 2,
    max_bits: int = 12,
) -> DataFrame:
    """Per-document mean unigram surprisal — the perplexity-style quality
    filter (CCNet-family pipelines score documents under a language model
    and drop both tails: too-predictable = boilerplate, too-surprising =
    gibberish). The LM here is the corpus's own unigram distribution, and
    the per-token surprisal is the integer log2 ``length(bin(N div cnt))``
    = ⌊log2(N/cnt)⌋ + 1 — the same libm-free log-scaled weight as
    search.tfidf_topk's idf, so every sum is an exact int64 and the oracle
    matches bit-for-bit.

    Output per doc: ``n_tokens``, ``surprisal_sum`` (Σ tf·surprisal,
    exact), ``bits_per_token`` (the ONE float division), and ``keep`` via
    the cross-multiplied exact-integer band
    ``min_bits·n_tokens ≤ surprisal_sum ≤ max_bits·n_tokens``.

    Scale shape: one tokenization pass → (doc, tok) partial-aggregated
    shuffle → vocab-sized unigram table (broadcast back, corpus tokens
    never shuffle for the lookup — same shape as text.encode_docs) → one
    doc-keyed aggregate. The corpus-total row is a 1-row broadcast
    cross-join.
    """
    toks = token_rows(
        df, id_col=id_col, text_col=text_col, cluster_by_id=True
    )
    # tf is a diamond: it feeds the corpus LM AND the scoring join —
    # persist so the tokenize + aggregate chain runs once (same fix the
    # bigram operator already carries; CLAUDE.md's joined-k-times rule)
    tf = materialize(
        toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf")),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    uni = tf.groupBy("tok").agg(F.sum("tf").alias("corpus_cnt"))
    total = uni.agg(F.sum("corpus_cnt").alias("n_total"))
    lm = uni.crossJoin(F.broadcast(total)).select(
        "tok",
        F.length(F.bin(F.expr("n_total div corpus_cnt")))
        .cast("long")
        .alias("surprisal_q"),
    )
    per_doc = (
        tf.join(F.broadcast(lm), "tok")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("surprisal_q")).alias("surprisal_sum"),
        )
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "surprisal_sum",
        (F.col("surprisal_sum") / F.col("n_tokens")).alias("bits_per_token"),
        (
            (F.col("surprisal_sum") >= F.col("n_tokens") * F.lit(min_bits))
            & (F.col("surprisal_sum") <= F.col("n_tokens") * F.lit(max_bits))
        )
        .cast("long")
        .alias("keep"),
    )


def feature_hash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 256,
) -> DataFrame:
    """Signed feature hashing ("hashing trick", Weinberger et al., ICML
    2009): project token counts into a FIXED ``dim``-dimensional space
    with no vocabulary at all — index = hash(token) mod dim, sign =
    ±1 from an independent hash bit, weight(idx) = Σ occurrences · sign.
    The unbiased, collision-tolerant featurizer for linear models over
    unbounded vocabularies: no vocab build, no broadcast, new tokens
    never change the schema — at 100 TB this removes the only stateful
    step of :func:`build_vocab`/:func:`encode_docs`.

    Returns sparse rows (id, feature_idx, weight) — one shuffle keyed on
    (doc, idx) with map-side partial sums; zero weights (sign
    cancellation) are kept so the output is exactly the Σ±1 algebra.
    Portable md5 hashing: index = low bits, sign = bit 20 (independent of
    the index bits for any dim ≤ 2^20) — bit-identical in the oracle."""
    if dim < 2:
        raise ValueError("dim must be >= 2")
    from .neardup import portable_hash64
    from .partitioning import ensure_parallelism

    toks = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.explode(F.split(normalized(F.col(text_col)), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    h = portable_hash64(F.col("tok"))
    sign = F.when(
        F.shiftright(h, 20).bitwiseAND(F.lit(1)) == 1, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        toks.select(
            F.col(id_col),
            F.pmod(h, F.lit(dim)).alias("feature_idx"),
            sign.alias("s"),
        )
        .groupBy(id_col, "feature_idx")
        .agg(F.sum("s").cast("long").alias("weight"))
    )


def boilerplate_line_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate removal: delete every LINE that appears in
    ``min_docs`` or more distinct documents, preserving the remaining
    lines' order (the CCNet / RefinedWeb line-level dedup step — nav
    menus, cookie banners, licence footers repeat across pages and
    survive document-level near-dup untouched).

    Output: (id, text-with-survivors, lines_removed) — one row per input
    document, empty string when every line was boilerplate.

    Shape at 100 TB: lines become ROWS via split+posexplode (the
    CLAUDE.md-mandated row form — never explode an HOF-built array), the
    document frequency is a two-phase distinct count on the line hash
    (map-side partials), and removal is a left-anti join of line rows
    against the (small, by the nature of boilerplate) flagged set. The
    reassembly is one partial-aggregated groupBy of surviving rows:
    sort_array over per-doc structs — bounded by document length, never
    by corpus size. Exact matching by design (no near-match): that is
    what the published pipelines do at this step."""
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(delim))).alias(
            "line_no", "line"
        ),
    )
    flagged = (
        lines.select(id_col, "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("docfreq"))
        .filter(F.col("docfreq") >= min_docs)
        .select("line")
    )
    kept = lines.join(flagged, on="line", how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            delim,
            F.transform(
                F.sort_array(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
        ).alias("__text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_lines"))
    return (
        totals.join(rebuilt, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
            (
                F.col("__n_lines") - F.coalesce(F.col("__n_kept"), F.lit(0))
            ).cast("long").alias("lines_removed"),
        )
    )


def exact_span_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Exact-substring dedup at k-token span granularity ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022): every
    occurrence of a k-gram that also appears in a DIFFERENT document is
    removed — except in the gram's canonical document (the smallest id
    containing it), which keeps its copy so exactly one version of each
    duplicated passage survives the corpus. A token is dropped when ANY
    removed span covers it; survivors reassemble in original order.

    This is the span-level complement of ``boilerplate_line_dedup`` (which
    needs duplication to align on line boundaries) and of document-level
    near-dup (which only fires when whole documents resemble each other):
    a paragraph quoted mid-document is caught here and nowhere else.

    Output: (id, clean_text, n_tokens, tokens_removed) — one row per
    input document, empty string when everything was duplicated.

    Shape at 100 TB: tokens and gram starts are ROWS (split → posexplode
    → k-1 leads over a per-doc window — never an HOF-built array, see
    neardup); cross-document duplication needs only min(id) ≠ max(id)
    over the gram partition — ONE window keyed by gram, no distinct
    count; the flagged-start set (small, by the nature of duplication)
    left-joins back on the (id, pos) key; span coverage is a rolling max
    over the previous k-1 token rows (positions are dense, so ROWS ≡
    RANGE); reassembly is one partial-aggregated groupBy bounded by
    document length. Skew is bounded by the most widespread gram's
    occurrence count — a stop-gram cut slots in front of the gram window
    if a corpus needs one."""
    if k < 2:
        raise ValueError("k must be >= 2")
    toks = token_rows(
        df, id_col=id_col, text_col=text_col, cluster_by_id=True
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    lead_cols = [
        F.lead("tok", i).over(wd).alias(f"t{i}") for i in range(1, k)
    ]
    grams = (
        toks.select(F.col(id_col), F.col("pos"), F.col("tok"), *lead_cols)
        .filter(F.col(f"t{k - 1}").isNotNull())
        .select(
            id_col,
            "pos",
            F.concat_ws(
                " ", "tok", *[f"t{i}" for i in range(1, k)]
            ).alias("gram"),
        )
    )
    wg = Window.partitionBy("gram")
    min_doc = F.min(id_col).over(wg)
    flagged = (
        grams.withColumn(
            "flag",
            (
                (min_doc != F.max(id_col).over(wg))
                & (F.col(id_col) != min_doc)
            ).cast("int"),
        )
        .filter(F.col("flag") == 1)
        .select(id_col, "pos", "flag")
    )
    cover = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(k - 1), Window.currentRow)
    )
    kept = (
        toks.join(flagged, on=[id_col, "pos"], how="left")
        .withColumn(
            "rm", F.max(F.coalesce(F.col("flag"), F.lit(0))).over(cover)
        )
        .filter(F.col("rm") == 0)
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("__text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    totals = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"))
    return totals.join(rebuilt, on=id_col, how="left").select(
        F.col(id_col),
        F.coalesce(F.col("__text"), F.lit("")).alias("clean_text"),
        F.col("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
        .cast("long")
        .alias("tokens_removed"),
    )


def ngram_containment_filter(
    df: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_num: int = 1,
    max_den: int = 10,
) -> DataFrame:
    """Eval-set decontamination by n-gram CONTAINMENT (the GPT-3 appendix
    method, kept by most published pipelines): a corpus document is
    contaminated when more than ``max_num/max_den`` of its distinct
    n-grams also occur in the eval set — catching paraphrased or
    partially-quoted leakage that exact-fingerprint matching
    (``decontaminate_docs``) misses entirely.

    Per doc: ``total_ngrams`` (distinct), ``overlap_ngrams`` (distinct
    grams also in the eval set), ``containment`` (the one float
    division), and ``keep`` via the exact-integer cross-multiplication
    ``overlap·den ≤ total·num`` (CLAUDE.md float discipline). Documents
    shorter than ``n`` tokens have no grams: containment 0.0, kept.

    Scale shape: eval benchmarks are thousands of prompts against a
    100 TB corpus, so the distinct eval-gram set BROADCASTS and the
    corpus never shuffles for the membership test — one tokenization
    pass, a per-doc distinct, and one partial-aggregated fold. The only
    unbounded aggregation key is the corpus doc id."""
    grams = _ngram_rows(df, id_col=id_col, text_col=text_col, n=n).distinct()
    eval_grams = (
        _ngram_rows(eval_df, id_col=id_col, text_col=text_col, n=n)
        .select("gram")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    per_doc = (
        grams.join(F.broadcast(eval_grams), on="gram", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("total_ngrams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias(
                "overlap_ngrams"
            ),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce("total_ngrams", F.lit(0)).alias("total_ngrams"),
            F.coalesce("overlap_ngrams", F.lit(0)).alias("overlap_ngrams"),
            F.when(
                F.coalesce(F.col("total_ngrams"), F.lit(0)) > 0,
                F.col("overlap_ngrams") / F.col("total_ngrams"),
            )
            .otherwise(F.lit(0.0))
            .alias("containment"),
            (
                F.coalesce(F.col("overlap_ngrams"), F.lit(0))
                * F.lit(max_den)
                <= F.coalesce(F.col("total_ngrams"), F.lit(0))
                * F.lit(max_num)
            )
            .cast("long")
            .alias("keep"),
        )
    )


# The Gopher "required words" signal: a real document in English prose
# contains at least a couple of these (Rae et al. 2021, appendix A1.1).
GOPHER_REQUIRED_WORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

# Line-shape patterns are RE2/Java-portable: (?m) anchors per \n-delimited
# line in BOTH engines (Java would additionally treat \r/  as line
# terminators — the contract here is \n-delimited text), and [ \t]* (not
# \s*) keeps the bullet scan from consuming newlines and attributing a
# bullet to an earlier blank line's ^ anchor.
_BULLET_LINE = r"(?m)^[ \t]*[-*•]"
_ELLIPSIS_LINE = r"(?m)(?:\.\.\.|…)$"
_SYMBOL = r"#|\.\.\.|…"


def gopher_quality_rules(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_word_pct: int = 10,
    max_bullet_line_pct: int = 90,
    max_ellipsis_line_pct: int = 30,
    min_alpha_word_pct: int = 80,
    min_required_words: int = 2,
) -> DataFrame:
    """The Gopher quality-rule suite (Rae et al. 2021, appendix A1.1) —
    the rule-based document filter most published pipelines apply before
    any model-based scoring: word-count bounds, mean-word-length band,
    symbol-to-word ratio (# / ellipsis), bullet-started and
    ellipsis-ended line fractions, alphabetic-word fraction, and the
    required-stop-word count. One row per document with every raw
    counter, a per-rule flag (``r_*``), and ``keep`` = AND of all rules.

    Every flag is an exact-integer cross-multiplication (percent
    thresholds are integer parameters), so the oracle matches
    bit-for-bit; ``mean_word_len`` is the single reporting-only float.
    Words are the NORMALIZED tokens (lower-cased, whitespace-collapsed —
    same tokenization as every other text operator here); alphabetic
    means containing ``[a-z]`` after that lowering.

    Shape at 100 TB: one split → posexplode tokenization pass feeding a
    partial-aggregated per-doc fold (the only shuffle, keyed by the doc
    id), plus scalar regexp counters evaluated map-side on the scan; the
    two meet in a doc-keyed join. No window, no distinct over the corpus,
    nothing driver-side."""
    req = list(GOPHER_REQUIRED_WORDS)
    toks = token_rows(
        df, id_col=id_col, text_col=text_col, cluster_by_id=True
    )
    wagg = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("tok")).alias("word_chars"),
        F.sum(F.col("tok").rlike("[a-z]").cast("long")).alias("alpha_words"),
        F.count_distinct(
            F.when(F.col("tok").isin(req), F.col("tok"))
        ).alias("required_distinct"),
    )
    t = F.coalesce(F.col(text_col), F.lit(""))
    sagg = df.select(
        id_col,
        (F.length(t) - F.length(F.regexp_replace(t, "\n", "")) + 1)
        .cast("long")
        .alias("n_lines"),
        F.regexp_count(t, F.lit(_SYMBOL)).cast("long").alias("symbol_cnt"),
        F.regexp_count(t, F.lit(_BULLET_LINE))
        .cast("long")
        .alias("bullet_lines"),
        F.regexp_count(t, F.lit(_ELLIPSIS_LINE))
        .cast("long")
        .alias("ellipsis_lines"),
    )
    j = sagg.join(wagg, on=id_col, how="left").select(
        F.col(id_col),
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("word_chars", F.lit(0)).alias("word_chars"),
        F.coalesce("alpha_words", F.lit(0)).alias("alpha_words"),
        F.coalesce("required_distinct", F.lit(0)).alias("required_distinct"),
        "n_lines",
        "symbol_cnt",
        "bullet_lines",
        "ellipsis_lines",
    )
    nw, wc = F.col("n_words"), F.col("word_chars")
    flags = {
        "r_word_count": (nw >= min_words) & (nw <= max_words),
        "r_mean_word_len": (wc >= nw * min_mean_word_len)
        & (wc <= nw * max_mean_word_len),
        "r_symbol_ratio": F.col("symbol_cnt") * 100
        <= nw * max_symbol_word_pct,
        "r_bullet_lines": F.col("bullet_lines") * 100
        <= F.col("n_lines") * max_bullet_line_pct,
        "r_ellipsis_lines": F.col("ellipsis_lines") * 100
        <= F.col("n_lines") * max_ellipsis_line_pct,
        "r_alpha_words": F.col("alpha_words") * 100
        >= nw * min_alpha_word_pct,
        "r_required_words": F.col("required_distinct")
        >= F.lit(min_required_words),
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return j.select(
        id_col,
        "n_words",
        "n_lines",
        "word_chars",
        "alpha_words",
        "required_distinct",
        "symbol_cnt",
        "bullet_lines",
        "ellipsis_lines",
        F.when(nw > 0, wc / nw).otherwise(F.lit(0.0)).alias("mean_word_len"),
        *[c.cast("long").alias(name) for name, c in flags.items()],
        keep.cast("long").alias("keep"),
    )


def bigram_lm_surprisal(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_centibits: int = 100,
    max_centibits: int = 1400,
) -> DataFrame:
    """Per-document mean BIGRAM surprisal under the corpus's own add-one
    smoothed conditional model — the next step up from
    ``unigram_lm_surprisal``: a document of individually-common words in
    an improbable ORDER (shuffled boilerplate, keyword stuffing) scores
    high here while the unigram filter waves it through.

    Model: P(w2 | w1) = (c(w1,w2) + 1) / (ctx(w1) + V), with ctx(w1) the
    number of bigram contexts w1 opens and V the corpus vocabulary size.
    Per-occurrence surprisal is the same libm-free integer log2 as the
    unigram operator: ``length(bin((ctx + V) div (c12 + 1)))`` = ⌊log2 of
    the inverse probability⌋ + 1, so every sum is an exact int64 and the
    oracle matches bit-for-bit.

    Output per doc: ``n_bigrams``, ``surprisal_sum`` (exact),
    ``bits_per_bigram`` (the ONE float division), and ``keep`` via the
    cross-multiplied band ``min_centibits·n ≤ 100·sum ≤
    max_centibits·n`` — thresholds in hundredths of a bit, because the
    quantized surprisal concentrates real corpora inside a single
    integer bit and a whole-bit band could not split them. Documents
    with fewer than two tokens have no bigrams: sum 0, bits 0.0, kept
    (no evidence is not evidence of junk).

    Shape at 100 TB: one tokenization pass → a per-doc lead window
    (dense positions, the span-dedup shape) → (doc, w1, w2) partial
    aggregation; the corpus bigram model derives from THAT aggregate
    (never a second corpus pass), context counts fold from the bigram
    table, V and nothing else is a 1-row broadcast; scoring re-joins tf
    to the model on the (w1, w2) key — a plain shuffle equi-join on both
    sides' natural key, the tfidf shape. No collect, no UDF."""
    toks = token_rows(
        df, id_col=id_col, text_col=text_col, cluster_by_id=True
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    bi = (
        toks.select(
            F.col(id_col),
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(wd).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    # tf is a diamond: it feeds the corpus model AND the scoring join —
    # persist so the tokenize + window + aggregate chain runs once.
    tf = materialize(
        bi.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("tf")),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    c12 = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c12"))
    ctx = c12.groupBy("w1").agg(F.sum("c12").alias("ctx"))
    vocab = toks.agg(F.count_distinct("tok").alias("v"))
    lm = (
        c12.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.length(F.bin(F.expr("(ctx + v) div (c12 + 1)")))
            .cast("long")
            .alias("surprisal_q"),
        )
    )
    per_doc = (
        tf.join(lm, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("surprisal_q")).alias("surprisal_sum"),
        )
    )
    base = df.select(id_col).distinct()
    return base.join(per_doc, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("surprisal_sum", F.lit(0)).alias("surprisal_sum"),
        F.when(
            F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
            F.col("surprisal_sum") / F.col("n_bigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("bits_per_bigram"),
        (
            (
                F.coalesce(F.col("surprisal_sum"), F.lit(0)) * 100
                >= F.coalesce(F.col("n_bigrams"), F.lit(0))
                * F.lit(min_centibits)
            )
            & (
                F.coalesce(F.col("surprisal_sum"), F.lit(0)) * 100
                <= F.coalesce(F.col("n_bigrams"), F.lit(0))
                * F.lit(max_centibits)
            )
        )
        .cast("long")
        .alias("keep"),
    )
