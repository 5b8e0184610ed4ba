"""BPE merge learning vs a pure-python reference trainer, including the
greedy-overlap cases ("aaa" merges once) and multi-round compounding."""

import pytest

from global_seismic_data_pipeline_spark.operators import bpe


def _ref_bpe(texts, k):
    """Reference trainer: same semantics as operators/bpe.py — adjacent
    pair counts (overlaps included), argmax by (count desc, pair asc),
    greedy leftmost application within words."""
    import re

    words = []
    for t in texts:
        norm = re.sub(r"\s+", " ", t.strip().lower())
        for w in norm.split(" "):
            words.append(list(w))
    out = []
    for step in range(1, k + 1):
        counts = {}
        for w in words:
            for i in range(len(w) - 1):
                counts[(w[i], w[i + 1])] = counts.get((w[i], w[i + 1]), 0) + 1
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        new_words = []
        for w in words:
            nw, i = [], 0
            while i < len(w):
                if i + 1 < len(w) and w[i] == a and w[i + 1] == b:
                    nw.append(a + b)
                    i += 2
                else:
                    nw.append(w[i])
                    i += 1
            new_words.append(nw)
        words = new_words
        out.append((step, f"{a} {b}", cnt, sum(len(w) for w in words)))
    return out


@pytest.mark.parametrize(
    "texts",
    [
        # overlap stress: runs of the same char, and a dominant bigram
        ["aaaa aab abab", "baaa aa ab", "cc cc cc"],
        # realistic prose with repeated morphemes
        [
            "lower lowest lowly slow slowly",
            "new newer newest news renewal",
            "the then there these theme",
        ],
    ],
)
def test_matches_reference(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.step, r.merged_pair, r.pair_count, r.symbols_after)
        for r in bpe.learn_merges(df, k=3).orderBy("step").collect()
    ]
    assert got == _ref_bpe(texts, 3)


@pytest.mark.parametrize("threshold", [0.0, 1000.0])
def test_routing_paths_equivalent(spark, threshold):
    """Forcing every round through the full path (0.0) or the delta path
    (huge threshold) gives identical audits — the adaptive routing is purely a
    performance decision, never a semantic one."""
    texts = [
        "lower lowest lowly slow slowly",
        "new newer newest news renewal",
        "the then there these theme zq zq xv",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        tuple(r)
        for r in bpe.learn_merges(df, k=4, delta_threshold=threshold)
        .orderBy("step")
        .collect()
    ]
    assert got == _ref_bpe(texts, 4)


def test_single_merge_on_run_word(spark):
    # "aaa": pair (a,a) counted twice but merged once (greedy leftmost)
    df = spark.createDataFrame([(0, "aaa")], "doc_id long, text string")
    rows = bpe.learn_merges(df, k=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.merged_pair, r.pair_count, r.symbols_after) == ("a a", 2, 2)


def _ref_encode(texts, merges):
    """Reference encoder: apply merges sequentially in rank order with
    greedy-leftmost application — subword-nmt semantics."""
    import re

    out = []
    for t in texts:
        norm = re.sub(r"\s+", " ", t.strip().lower())
        doc = []
        for w in norm.split(" "):
            w = list(w)
            for a, b in merges:
                nw, i = [], 0
                while i < len(w):
                    if i + 1 < len(w) and w[i] == a and w[i + 1] == b:
                        nw.append(a + b)
                        i += 2
                    else:
                        nw.append(w[i])
                        i += 1
                w = nw
            doc.extend(w)
        out.append(doc)
    return out


def test_encode_matches_reference_and_overlaps(spark):
    """encode_with_merges vs the pure-python encoder: greedy overlap
    ('aaaa' + (a,a) -> 'aa aa'), a merge whose input only exists after an
    earlier merge (rank order matters), and words untouched by any
    merge."""
    texts = ["aaaa abc xyz", "abc abcd aa"]
    merges = [("a", "a"), ("a", "b"), ("ab", "c")]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.tokens)
        for r in bpe.encode_with_merges(df, merges).collect()
    }
    ref = _ref_encode(texts, merges)
    for i, doc in enumerate(ref):
        assert got[i] == (len(doc), " ".join(doc)), (i, got[i], doc)
    # spot-pin the interesting rows
    assert got[0] == (6, "aa aa abc x y z")
    assert got[1] == (4, "abc abc d aa")


def test_encode_reproduces_trainer_state(spark):
    """The theorem the oracle also certifies: encoding the training
    corpus with its own first k merges reproduces the trainer's round-k
    symbol count exactly."""
    texts = ["lower lowest lowly slow", "new newer newest renewal"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    audit = bpe.learn_merges(df, k=3).orderBy("step").collect()
    merges = [tuple(r.merged_pair.split(" ")) for r in audit]
    enc = bpe.encode_with_merges(df, merges).collect()
    assert sum(r.n_tokens for r in enc) == audit[-1].symbols_after
