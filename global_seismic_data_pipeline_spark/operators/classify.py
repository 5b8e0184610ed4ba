"""Trained text classification for corpus curation — the
"train a classifier on a reference corpus, score everything" step of
GPT-3/LLaMA-style pipelines (quality filtering) and CCNet (fasttext
language-ID). The heuristic ``text.with_language_guess`` needs no
training data; this is its trained upgrade: a multinomial Naive Bayes
whose arithmetic is EXACT integers end-to-end, so Spark and the DuckDB
oracle agree bit-for-bit (CLAUDE.md float discipline — a libm log() ulp
could flip an argmax tie).

Quantization: the per-token class surprisal is the integer log2

    q(c, tok) = length(bin((total_c + V) div (cnt(c, tok) + 1)))
              = floor(log2((total_c + V) / (cnt + 1))) + 1

— Laplace-smoothed −log P(tok|c) in bits, the same libm-free weight as
``text.unigram_lm_surprisal`` and tfidf's idf. The class prior enters as
``length(bin(n_train_docs div n_docs_c))``. Prediction is the argmin of
``prior_q + Σ tf·q`` with a deterministic label-ascending tiebreak.

Scale shape: training is one tokenization pass → (label, tok)
partial-aggregated shuffle; the model is V·C rows (a natural-language
vocabulary times a handful of classes — broadcastable at any corpus
size, like ``text.encode_docs``'s vocab). Scoring cross-joins each
document's tf rows with the (tiny, broadcast) class table — a bounded
×C blowup — left-joins the broadcast model for smoothed weights
(unseen-in-class tokens coalesce to the class default
``length(bin(total_c + V))``), and folds with two partial-aggregated
shuffles: (doc, class), then the C-row argmin window per doc. The
corpus never shuffles except keyed by its own document id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import materialize
from .text import token_rows

_BITS = "cast(length(bin({x})) as long)"


def _bits(expr: str) -> F.Column:
    """floor(log2(x)) + 1 for a positive integer SQL expression."""
    return F.expr(_BITS.format(x=expr))


def nb_train(
    df: DataFrame,
    *,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Fit the quantized multinomial NB on a labeled corpus.

    Returns ``(classes, model)``:

    - ``classes``: one row per label — ``n_docs``, ``total_tokens``,
      ``vocab_size``, ``prior_q`` (quantized −log prior), ``default_q``
      (the smoothed weight of a token never seen with this label).
      Tiny; broadcast.
    - ``model``: (label, tok, q) for every (label, token-seen-with-it)
      pair. ≤ V·C rows; broadcast at the scoring join.
    """
    toks = token_rows(df, id_col=id_col, text_col=text_col)
    labeled = toks.join(
        df.select(id_col, label_col), on=id_col, how="inner"
    )
    # counts feeds three consumers (vocab size, per-class totals, the
    # model) — persist the diamond or its tokenization re-runs per branch
    # (CLAUDE.md). Everything below is LAZY: vocab size and the training
    # row count enter the plan as broadcast one-row aggregates, never as
    # driver-side counts (each of those would be an extra full corpus
    # pass at train time).
    counts = materialize(
        labeled.groupBy(label_col, "tok").agg(F.count(F.lit(1)).alias("cnt")),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    vsz = counts.agg(F.count_distinct("tok").alias("__v"))
    ntr = df.agg(F.count(F.lit(1)).alias("__n"))
    classes = (
        df.groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            counts.groupBy(label_col).agg(
                F.sum("cnt").alias("total_tokens")
            ),
            on=label_col,
            how="left",
        )
        .crossJoin(F.broadcast(vsz))
        .crossJoin(F.broadcast(ntr))
        .select(
            label_col,
            "n_docs",
            F.coalesce("total_tokens", F.lit(0)).alias("total_tokens"),
            F.col("__v").alias("vocab_size"),
            _bits("__n div n_docs").alias("prior_q"),
            _bits("coalesce(total_tokens, 0) + __v").alias("default_q"),
        )
    )
    model = counts.join(
        F.broadcast(classes.select(label_col, "total_tokens", "vocab_size")),
        on=label_col,
    ).select(
        label_col,
        "tok",
        _bits("(total_tokens + vocab_size) div (cnt + 1)").alias("q"),
    )
    return classes, model


def nb_predict(
    df: DataFrame,
    classes: DataFrame,
    model: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Score documents under the fitted model; one row per document:
    (id, pred label, ``best_surprisal`` = the winning class's exact
    integer score). Ties break label-ascending — deterministic across
    engines and runs."""
    tf = (
        token_rows(df, id_col=id_col, text_col=text_col)
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    pred_label = f"pred_{label_col}"
    scored = (
        tf.crossJoin(F.broadcast(classes))
        .join(F.broadcast(model), on=[label_col, "tok"], how="left")
        .groupBy(id_col, label_col)
        .agg(
            (
                F.first("prior_q")
                + F.sum(
                    F.col("tf") * F.coalesce(F.col("q"), F.col("default_q"))
                )
            ).alias("score")
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").asc(), F.col(label_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col(label_col).alias(pred_label),
            F.col("score").alias("best_surprisal"),
        )
    )
