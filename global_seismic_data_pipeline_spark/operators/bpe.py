"""Distributed byte-pair-encoding merge learning (Sennrich et al. 2016).

Learns the first K BPE merges of a corpus entirely as DataFrame algebra —
the core loop of every subword tokenizer trainer, expressed Spark-first:

- the corpus collapses to its DISTINCT-WORD vocabulary with occurrence
  counts in ONE tokenization pass (explode → groupBy(word) with map-side
  partial counts) — the standard BPE trainer representation (subword-nmt
  trains on a word-frequency dict, never on raw running text). Merging is
  a function of the word STRING alone (merges never cross word
  boundaries), so every per-word statistic weighted by ``freq`` is
  EXACTLY the full-corpus statistic: pair_count = Σ_w freq(w) ·
  pairs_in(w), symbols = Σ_w freq(w) · |syms(w)|. The iterative state is
  vocabulary-sized, not corpus-sized — at 100 TB that is the difference
  between re-windowing billions of token rows per round and re-windowing
  a ~10⁷-row vocabulary;
- each distinct word becomes (w, freq, pos, sym) CHARACTER ROWS (split →
  posexplode — the sanctioned row-generation path, never an HOF-array
  explode);
- the engine maintains STATE = char rows with their (rn, nxt) adjacency
  precomputed, plus a persisted vocabulary-sized pair-count table; each
  round picks the global argmax from the count table (count DESC, pair
  ASC — deterministic) and applies the merge with greedy LEFTMOST
  semantics;
- **adaptive delta-recount**: only words CONTAINING the chosen pair can
  change any pair count. When the chosen pair is RARE (occurrences /
  total WORD OCCURRENCES — the affected-word fraction, NOT the symbol
  fraction, which under-routes; below ``delta_threshold``) the round
  (a) splits state into affected words (broadcast semi-join on the
  candidate word keys) and untouched words, (b) re-windows ONLY the
  affected rows, and (c) updates the count table by subtracting the
  affected words' pre-merge pair counts and adding their post-merge
  counts — the classic BPE trainer optimization. When the pair is
  FREQUENT (the first few merges: "e "-class pairs sitting in most
  words) the affected set ≈ the vocabulary, so the same round runs as a
  plain full re-window + full recount — forcing delta on a head merge
  was measured 3.6× SLOWER than full when state was corpus-sized, and
  the split/broadcast bookkeeping still loses on a mostly-affected
  vocabulary, which is why the routing is adaptive, not always-delta.
  The routing statistic comes from the argmax row — a one-row
  control-plane collect per round;
- greedy overlap resolution ("aaa" merges once, not twice) is the
  gaps-and-islands trick, computed in ONE window pass per round: all
  island bookkeeping (run starts via lag, island-head rn via running
  max, the every-second-candidate alternation, and the consumed-row
  lag) shares the single (w ORDER BY rn) sort — one Exchange per merge
  application instead of the three the per-island min/row_number form
  needed;
- a merged row keeps the first half's pos and concatenates the symbols;
  the row consumed by a merge (the following rn) is deleted via lag().

Everything is exact string/integer work — no floats anywhere — so the
DuckDB oracle replicates all K rounds bit-for-bit from generated CTEs.

Scale shape: one corpus tokenization pass builds the word-frequency
vocabulary; every window after that partitions on the word string over
vocabulary-sized state — massively parallel, skew-bounded by the longest
word — and after round 1 the delta path re-windows the affected-word
subset only. The pair-count table is vocabulary-sized with map-side
combine; the argmax is a TakeOrdered(1). The chosen pair and the
affected word-key set join back as BROADCASTs, so untouched state rows
are filtered map-side, never shuffled. Each round's state persists
(MEMORY_AND_DISK) so round k+1 reads round k once, not O(K²)
recomputations. The affected-key broadcast is only taken on rare pairs
(the adaptive routing above), so it fits the broadcast budget by
construction. The per-round driver work is one argmax row + one
control-plane aggregate — never per-row data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize
from .partitioning import ensure_parallelism
from .text import normalized


def word_occurrences(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc, slot, w): one row per word occurrence of the normalized
    corpus — the shared tokenization front of the trainer (via
    :func:`word_freqs`) and the encoder (which joins encodings back to
    these rows). Materialized so a train-then-encode pipeline tokenizes
    the corpus ONCE; released with the caller's ``materialized_scope``."""
    occ = ensure_parallelism(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(normalized(F.col(text_col)), " ")).alias(
            "slot", "w"
        ),
    )
    return materialize(occ)


def word_freqs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    occ: DataFrame | None = None,
) -> DataFrame:
    """(w, freq): the corpus's distinct normalized words with occurrence
    counts — the trainer's working set. One tokenization pass, one
    partial-aggregated shuffle keyed by the word. ``occ`` accepts a
    pre-built :func:`word_occurrences` table to share that pass."""
    if occ is not None:
        return occ.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    words = ensure_parallelism(docs.select(F.col(text_col))).select(
        F.explode(F.split(normalized(F.col(text_col)), " ")).alias("w")
    )
    return words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))


def char_rows(vocab: DataFrame) -> DataFrame:
    """(w, freq, pos, sym): one row per character of each distinct word."""
    return vocab.select(
        "w", "freq", F.posexplode(F.split("w", "")).alias("pos", "sym")
    )


def _with_adjacency(rows: DataFrame) -> DataFrame:
    """Attach the per-word (rn, nxt) adjacency columns."""
    ww = Window.partitionBy("w").orderBy("pos")
    return rows.select(
        "w",
        "freq",
        "pos",
        "sym",
        F.row_number().over(ww).alias("rn"),
        F.lead("sym").over(ww).alias("nxt"),
    )


def _pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-pair occurrence counts (overlaps included — the standard
    BPE statistic) from the stored adjacency: each distinct word's pairs
    weighted by its corpus frequency. No window needed."""
    return (
        state.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _checkpoint(df: DataFrame) -> DataFrame:
    """Persist AND truncate lineage. A delta round references the previous
    state several times (candidate keys, semi, anti), so without
    truncation the logical plan grows ~4× per round — exponential in K
    (measured: a 2 GiB plan string by round 4). localCheckpoint cuts the
    plan at the materialized data, the standard move for iterative Spark
    algorithms (Pregel/GraphX do the same); production would point
    ``sparkContext.setCheckpointDir`` at reliable storage and use
    ``checkpoint()`` to survive executor loss. Not scope-released: Spark's
    ContextCleaner frees the blocks once nothing references them."""
    return df.localCheckpoint(eager=False)


def _apply_merge(rows: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy leftmost merge of pair (a, b) over ``rows`` (must carry rn
    and nxt): gaps-and-islands overlap resolution, consumed rows deleted
    via lag; returns rows with FRESH adjacency for the surviving symbols.

    All bookkeeping shares ONE (w ORDER BY rn) window sort: islands are
    maximal runs of rn-consecutive candidates (overlap is only possible
    when the two halves are equal, which makes overlapping candidates
    rn-adjacent), a row's island head is the latest run-start at or
    before it (running max), and within an island every SECOND candidate
    merges, starting at the head."""
    w_ord = Window.partitionBy("w").orderBy("rn")
    r = rows.withColumn(
        "is_cand", (F.col("sym") == F.lit(a)) & (F.col("nxt") == F.lit(b))
    )
    r = r.withColumn(
        "run_start",
        F.col("is_cand")
        & ~F.coalesce(F.lag("is_cand").over(w_ord), F.lit(False)),
    )
    g = r.withColumn(
        "head_rn",
        F.max(F.when(F.col("run_start"), F.col("rn"))).over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    k = g.withColumn(
        "do_merge",
        F.col("is_cand") & (((F.col("rn") - F.col("head_rn")) % 2) == 0),
    )
    d = k.withColumn("prev_merge", F.lag("do_merge").over(w_ord))
    return _with_adjacency(
        d.filter(~F.coalesce(F.col("prev_merge"), F.lit(False))).select(
            "w",
            "freq",
            "pos",
            F.when(F.col("do_merge"), F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
    )


def _full_round(state: DataFrame, counts: DataFrame, a: str, b: str):
    """Frequent-pair round: merge + recount over the whole vocabulary (the
    delta bookkeeping would touch ~every word anyway). Plain persist: a
    full round references state ONCE, so lineage grows linearly — only
    the multi-reference delta rounds need the checkpoint truncation."""
    next_state = materialize(_apply_merge(state, a, b))
    next_counts = materialize(_pair_counts(next_state))
    return next_state, next_counts


def _delta_round(state: DataFrame, counts: DataFrame, a: str, b: str):
    """Rare-pair round: only words containing (a, b) are re-windowed and
    re-counted; every other word's rows and pair counts carry over."""
    cand_keys = materialize(
        state.filter(
            (F.col("sym") == F.lit(a)) & (F.col("nxt") == F.lit(b))
        )
        .select("w")
        .distinct()
    )
    affected = materialize(
        state.join(F.broadcast(cand_keys), ["w"], "left_semi")
    )
    untouched = state.join(F.broadcast(cand_keys), ["w"], "left_anti")

    merged = materialize(_apply_merge(affected, a, b))

    # counts' = counts - pairs(affected, pre-merge) + pairs(affected, post)
    sub = _pair_counts(affected).withColumn("cnt", -F.col("cnt"))
    add = _pair_counts(merged)
    next_counts = _checkpoint(
        counts.unionByName(sub)
        .unionByName(add)
        .groupBy("a", "b")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") > 0)
    )
    next_state = _checkpoint(untouched.unionByName(merged))
    return next_state, next_counts


def learn_merge_list(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    delta_threshold: float = 0.02,
    occ: DataFrame | None = None,
    with_symbols: bool = True,
) -> list:
    """The trainer loop, returning the audit as DRIVER-side rows:
    ``[step, merged_pair 'a b', pair_count, symbols_after]`` (3-element
    rows without ``symbols_after`` when ``with_symbols=False`` — the
    encode pipeline only needs the merge pairs, so it skips the fused
    symbol-sum action entirely and the tiny_df round-trip).

    Routing: ``cnt / n_words`` upper-bounds the affected-WORD-occurrence
    fraction (each occurrence sits in one word; words are never created
    or destroyed, so n_words — the corpus word-occurrence total — is
    computed once). A round whose chosen pair can touch at most
    ``delta_threshold`` of the words runs the delta-recount path;
    otherwise the full path — the delta machinery (key broadcast + split
    + count maintenance) only wins when the untouched majority is large.
    ``0.0`` forces full every round, ``inf``/large forces delta — both
    used by the equivalence tests."""
    from functools import reduce

    vocab = word_freqs(docs, id_col=id_col, text_col=text_col, occ=occ)
    state = materialize(_with_adjacency(char_rows(vocab)))
    counts = materialize(_pair_counts(state))
    # corpus word-occurrence total: Σ freq over the rn==1 rows (every
    # word has exactly one) — the denominator of the routing test.
    # (Folding this into round 1's argmax as a crossJoin was tried and
    # MEASURED SLOWER — the join after limit(1) demotes the argmax's
    # TakeOrderedAndProject: +0.12 s in both same-minute A/B reps.)
    n_words = (
        state.filter(F.col("rn") == 1).agg(F.sum("freq")).collect()[0][0]
        or 0
    )
    audit = []
    round_states = []
    for step in range(1, k + 1):
        # one-row control-plane collect: the argmax pair + its count.
        # This is the loop's ONLY per-round action — the symbols_after
        # audit column is deferred to one fused job after the loop (each
        # round's state is persisted, so the fused sums read cached rows;
        # a per-round count would pay one extra job launch per merge)
        top = counts.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not top:
            break  # corpus exhausted (every word a single symbol)
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        if n_words and cnt < delta_threshold * n_words:
            state, counts = _delta_round(state, counts, a, b)
        else:
            state, counts = _full_round(state, counts, a, b)
        audit.append([step, f"{a} {b}", cnt])
        round_states.append(state)
    if round_states and with_symbols:
        # corpus symbol total per round = Σ freq over that round's
        # vocabulary char rows — all rounds in ONE action (the union
        # materializes states in dependency order, later rounds reusing
        # the earlier rounds' persisted blocks)
        sums = reduce(
            lambda x, y: x.unionByName(y),
            [
                st.groupBy().agg(F.sum("freq").alias("n_syms")).select(
                    F.lit(i + 1).alias("step"), "n_syms"
                )
                for i, st in enumerate(round_states)
            ],
        )
        by_step = {r["step"]: int(r["n_syms"] or 0) for r in sums.collect()}
        audit = [
            [step, pair, cnt, by_step[step]] for step, pair, cnt in audit
        ]
    return audit


def learn_merges(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    delta_threshold: float = 0.02,
    occ: DataFrame | None = None,
) -> DataFrame:
    """Learn the first ``k`` merges; returns one audit row per round:
    (step, merged_pair 'a b', pair_count, symbols_after) — pair_count is
    the pre-merge adjacent-pair occurrence count over the CORPUS
    (overlaps included, the standard BPE statistic); symbols_after is the
    corpus symbol total, pinning the APPLY step, not just the counting.
    See :func:`learn_merge_list` for the loop and its routing."""
    from ..session import tiny_df

    audit = learn_merge_list(
        docs, id_col=id_col, text_col=text_col, k=k,
        delta_threshold=delta_threshold, occ=occ,
    )
    # single-slice local relation: the audit is k driver-side rows, and a
    # defaultParallelism-sliced createDataFrame pays one Python worker
    # launch per slice on every downstream action (session.tiny_df note)
    return tiny_df(
        docs.sparkSession,
        audit,
        "step long, merged_pair string, pair_count long, symbols_after long",
    )


def encode_with_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_every: int = 8,
    occ: DataFrame | None = None,
) -> DataFrame:
    """The ENCODE side of BPE: tokenize a corpus with an already-learned
    ordered merge list — what a training pipeline runs daily once the
    tokenizer is frozen (``learn_merges`` is the train-once step).

    Applying the merges SEQUENTIALLY in rank order is exactly
    subword-nmt's iterate-on-the-min-rank-present-pair encoder: a pair
    that only exists because of a merge (e.g. ('x','ab') after 'ab'
    forms) cannot have an earlier rank than the merge that created its
    half — it wasn't countable before — so by the time rank r applies,
    no pair of rank < r can be present. Each round reuses the trainer's
    ``_apply_merge`` (greedy-leftmost gaps-and-islands overlap
    resolution), which also makes encode-vs-train agreement a theorem:
    encoding the training corpus with its own first k merges reproduces
    the trainer's round-k state (pinned in pytest).

    Returns (id, n_tokens, tokens) — tokens is the space-joined symbol
    sequence, CSV-flat per the checker's scalar-columns contract.

    Scale shape: encoding, like training, is a function of the word
    string alone, so the merge rounds run over the DISTINCT-WORD
    vocabulary (subword-nmt's per-word encode cache, expressed as data):
    one tokenization pass keeps the (doc, word-slot, word) occurrence
    rows, the k bounded word-partitioned window chains touch only
    vocabulary-sized state, and the encoded word → token-sequence table
    joins BROADCAST back to the occurrences (a natural-language
    vocabulary is ≤ a few million rows regardless of corpus size — the
    same argument as text.encode_docs). Reassembly is one doc-keyed
    partial-aggregated shuffle. State persists per round and lineage
    truncates every ``checkpoint_every`` rounds (single-reference rounds
    grow the plan linearly — the module-docstring exponential hazard
    only bites multi-reference delta rounds). No collects anywhere: the
    merge list is an input, not something read back from the cluster."""
    if occ is None:
        occ = word_occurrences(docs, id_col=id_col, text_col=text_col)
    vocab = occ.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    state = materialize(_with_adjacency(char_rows(vocab)))
    for i, (a, b) in enumerate(merges, 1):
        nxt = _apply_merge(state, a, b)
        state = (
            _checkpoint(nxt) if i % checkpoint_every == 0 else materialize(nxt)
        )
    encoded = state.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "sym"))),
                lambda s: s["sym"],
            ),
        ).alias("toks"),
    )
    return (
        occ.join(F.broadcast(encoded), "w")
        .groupBy("doc")
        .agg(
            F.sum("n_toks").alias("n_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("slot", "toks"))),
                    lambda s: s["toks"],
                ),
            ).alias("tokens"),
        )
        .select(F.col("doc").alias(id_col), "n_tokens", "tokens")
    )
