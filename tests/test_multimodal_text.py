"""Multimodal plumbing (binary payload + metadata) and text ops."""

import pytest
from pyspark.sql import functions as F

from global_seismic_data_pipeline_spark.operators import multimodal, text


@pytest.fixture(scope="module")
def payload_df(spark):
    docs = spark.createDataFrame(
        [(1, "hello world this is a document"), (2, "x" * 200), (3, "")],
        "doc_id long, text string",
    )
    return multimodal.with_binary_payload(docs)


def test_extract_metadata_schema_and_values(spark, payload_df):
    out = multimodal.extract_metadata(payload_df)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].payload_bytes == 30
    assert rows[1].header_byte == ord("h")
    assert rows[2].payload_bytes == 200 and rows[2].header_byte == ord("x")
    assert rows[3].payload_bytes == 0 and rows[3].header_byte == 0
    assert set(out.columns) == {"doc_id", "payload_bytes", "header_byte", "width", "height"}


def test_text_quality_monotone_in_stopwords(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat with a hat for the rat"),
         (2, "zxq wvu tsr qpo nml kji hgf edc")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.with_quality_features(df).collect()}
    assert out[1].stopword_cnt > 0 and out[2].stopword_cnt == 0
    assert out[1].quality_score > out[2].quality_score


def test_language_id_picks_dominant(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog went to the park with a ball"),
         (2, "el perro y la gata en la casa de los abuelos"),
         (3, "der hund und die katze sind nicht mit einem ball")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_guess for r in text.with_language_guess(df).collect()}
    assert out == {1: "en", 2: "es", 3: "de"}


def test_fingerprint_normalization_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "different")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.fp for r in df.select(
        "doc_id", text.fingerprint(F.col("text")).alias("fp")
    ).collect()}
    assert out[1] == out[2] != out[3]


def test_token_diversity_hand_computed(spark):
    from global_seismic_data_pipeline_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x y z w"), (3, "q q q q")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in T.token_diversity(df).collect()}
    # doc 1: cnts {a:2, b:1} -> N=3, S2=5
    assert got[1]["n_tokens"] == 3 and got[1]["sum_sq"] == 5
    assert got[1]["effective_vocab"] == 9 / 5
    assert got[1]["gini_simpson"] == 1.0 - 5 / 9
    # doc 2: uniform -> effective vocab == distinct == 4, gini = 1 - 1/4
    assert got[2]["effective_vocab"] == 4.0
    assert got[2]["gini_simpson"] == 0.75
    # doc 3: one token repeated -> effective vocab 1, gini 0
    assert got[3]["effective_vocab"] == 1.0
    assert got[3]["gini_simpson"] == 0.0


def test_vocab_encode_round_trip(spark):
    from global_seismic_data_pipeline_spark.operators import text as T

    docs = [(1, "b a b c"), (2, "a b a")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    vocab = {r["tok"]: r["id"] for r in T.build_vocab(df).collect()}
    # freq: a=3, b=3, c=1 -> tie a/b broken alphabetically: a=0, b=1, c=2
    assert vocab == {"a": 0, "b": 1, "c": 2}
    enc = {r["doc_id"]: list(r["ids"]) for r in T.encode_docs(df, T.build_vocab(df)).collect()}
    assert enc == {1: [1, 0, 1, 2], 2: [0, 1, 0]}
    # decoding through the vocab recovers the original token stream
    inv = {v: k for k, v in vocab.items()}
    assert " ".join(inv[i] for i in enc[1]) == "b a b c"


def test_feature_hash_matches_python_reference(spark):
    """Distributed signed hashing == a per-token python replica of the
    md5 index/sign arithmetic."""
    import hashlib
    from collections import defaultdict

    from global_seismic_data_pipeline_spark.operators import text as text_ops

    docs = [(1, "spark shuffle spark join"), (2, "The  THE the")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.feature_idx): r.weight
        for r in text_ops.feature_hash(df, dim=64).collect()
    }
    want = defaultdict(int)
    for did, t in docs:
        for tok in " ".join(t.lower().split()).split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            want[(did, h % 64)] += 1 if (h >> 20) & 1 else -1
    assert got == dict(want)
    # repeated token accumulates: 'spark' twice → |weight| == 2 somewhere
    assert any(abs(w) == 2 for (d, _), w in got.items() if d == 1)
    # case/whitespace normalization: doc 2 collapses to one token ×3
    d2 = [w for (d, _), w in got.items() if d == 2]
    assert d2 in ([3], [-3])
