"""BPE tokenizer training (the first N merges).

Byte-pair encoding (Sennrich et al. 2016) is how most LLM tokenizers
are trained; each round finds the most frequent adjacent symbol pair in
the corpus and merges it into a new symbol. :func:`bpe_rounds` runs
them in two tiers with ZERO Python UDFs:

- The corpus collapses to its WORD VOCABULARY first, on Spark (one
  shuffle: word → count) — the only corpus-sized stage. Every round
  works on the vocab weighted by counts, exactly like the classic
  fast-BPE implementations.
- Driver tier: vocabularies are bounded (natural-language vocabularies
  grow ~Heaps' law), so the ``(word, cnt)`` vocab crosses to the
  driver in ONE bounded Arrow collect (``CONTROL_PLANE_BOUND`` words)
  and the rounds run in plain Python; the final vocab returns through
  ``local_frame``. The collect runs only the collapse's jobs, where
  each Spark round costs a winner collect plus a checkpoint.
- Past the bound the same rounds run on Spark (:func:`_spark_rounds`),
  each stage an array expression over the checkpointed vocab.

Both tiers share one round definition, and forced-bound tests hold them
equal:

- Pair counting counts overlapping adjacencies (standard BPE — ``aaa``
  contributes (a,a) twice), weighted by word count.
- The winning pair has the max weight, ties to the smallest
  ``(left, right)``: Spark's binary UTF-8 string order, which is
  Python's code-point order.
- The merge APPLICATION is greedy left-to-right non-overlapping: replace
  the last output symbol when (last, current) equals the winning pair.
  No flag is needed to stop a fresh merge from chaining: the merged
  symbol ``left||right`` can never equal ``left`` (right is non-empty),
  so ``aaa`` folds to ``[aa, a]`` by construction.
- Training stops early when no adjacent pair remains.

The oracle unrolls the identical rounds in SQL with a ``list_reduce``
fold (separator-encoded accumulator), making every winner AND every
rewritten symbol sequence value-checked cross-engine.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

from football_lakehouse_spark.functions.guards import (
    CONTROL_PLANE_BOUND,
    CollectBoundExceeded,
    bounded_arrow,
    bounded_collect,
    local_frame,
)
from football_lakehouse_spark.functions.text import ws_tokens


def bpe_rounds(
    docs: DataFrame, n_merges: int = 4, text_col: str = "text"
) -> tuple[list[tuple], DataFrame]:
    """Run up to ``n_merges`` BPE rounds, stopping early when no
    adjacent pair remains (classic BPE exhaustion); returns (per-round
    winner tuples ``(round, left_sym, right_sym, merged, pair_weight)``
    — control-plane scalars, one per round — and the final rewritten
    vocab ``(word, cnt, syms)``). Shared core of
    :func:`bpe_merges` (training log) and :func:`bpe_encode_tokens`
    (applying the learned merges — the encode side).

    EAGER ACTION at plan-build time: one bounded collect of the vocab,
    or past ``CONTROL_PLANE_BOUND`` words the Spark rounds' jobs."""
    words = (
        docs.select(F.explode(ws_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    try:
        tbl = bounded_arrow(words, CONTROL_PLANE_BOUND, "bpe_rounds vocab")
    except CollectBoundExceeded:
        return _spark_rounds(words, n_merges)
    vocab = [
        (w, c, list(w))
        for w, c in zip(tbl.column("word").to_pylist(), tbl.column("cnt").to_pylist())
    ]
    out: list[tuple] = []
    for rnd in range(1, n_merges + 1):
        weights: Counter = Counter()
        for _w, c, syms in vocab:
            for pair in zip(syms, syms[1:]):
                weights[pair] += c
        if not weights:
            break
        (l_val, r_val), w_val = min(weights.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((rnd, l_val, r_val, l_val + r_val, w_val))
        vocab = [(w, c, _fold(syms, l_val, r_val)) for w, c, syms in vocab]
    return out, local_frame(
        docs.sparkSession, vocab, "word string, cnt bigint, syms array<string>"
    )


def _fold(syms: list[str], l_val: str, r_val: str) -> list[str]:
    """One greedy left-to-right merge pass of the pair ``(l, r)``."""
    acc: list[str] = []
    for cur in syms:
        if acc and acc[-1] == l_val and cur == r_val:
            acc[-1] = l_val + r_val
        else:
            acc.append(cur)
    return acc


def _spark_rounds(words: DataFrame, n_merges: int) -> tuple[list[tuple], DataFrame]:
    """:func:`bpe_rounds` on Spark, for a vocab past the driver bound.
    Each round's outputs (winner, rewritten vocab) are consumed by
    several later stages, so the vocab is eagerly localCheckpoint-ed —
    the same O(rounds²)-lineage defence as connected components."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    vocab = words.select("word", "cnt", chars.alias("syms")).localCheckpoint(
        eager=True
    )
    out: list[tuple] = []
    for rnd in range(1, n_merges + 1):
        # adjacent pairs (guard single-symbol words: sequence(1, 0) would
        # generate a DESCENDING range, not an empty one)
        adj = F.when(
            F.size("syms") > 1,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i).alias("l"),
                    F.element_at(F.col("syms"), i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        pairs = vocab.select("cnt", F.explode(adj).alias("p")).select(
            "cnt", F.col("p.l").alias("l"), F.col("p.r").alias("r")
        )
        # the winner is CONTROL-PLANE (one row by construction): collect
        # it, and the fold below binds it as literals, so the vocab
        # rewrite is a NARROW pass with no broadcast build
        win_rows = bounded_collect(
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").cast("bigint").alias("w"))
            .orderBy(F.col("w").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1),
            1,
            "bpe_rounds per-round winner",
        )
        # merges exhausted (every word is a single symbol): stop. An
        # empty winner would otherwise wipe the whole vocab.
        if not win_rows:
            break
        l_val, r_val, w_val = win_rows[0]["l"], win_rows[0]["r"], win_rows[0]["w"]
        out.append((rnd, l_val, r_val, l_val + r_val, w_val))
        l_lit, r_lit = F.lit(l_val), F.lit(r_val)
        fold = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, cur: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == l_lit)
                & (cur == r_lit),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(l_lit, r_lit)),
                ),
            ).otherwise(F.concat(acc, F.array(cur))),
        )
        vocab = vocab.select("word", "cnt", fold.alias("syms")).localCheckpoint(
            eager=True
        )
    return out, vocab


def bpe_merges(
    docs: DataFrame, n_merges: int = 4, text_col: str = "text"
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the whitespace-word
    vocabulary of ``docs``. Returns one row per round:
    (round, left_sym, right_sym, merged, pair_weight)."""
    out, _ = bpe_rounds(docs, n_merges, text_col)
    # winners are control-plane tuples — ONE local frame for all rounds
    # (r14; the per-round checkpoint + union form paid two extra jobs
    # per round)
    return local_frame(
        docs.sparkSession,
        out,
        "round int, left_sym string, right_sym string, "
        "merged string, pair_weight bigint",
    )


def bpe_encode_tokens(
    docs: DataFrame, n_merges: int = 4, text_col: str = "text"
) -> DataFrame:
    """Apply the learned merges: the corpus encoded with the trained
    subword inventory, reported as the token table
    ``(token, token_len, n_words, freq)`` — corpus frequency is
    count-weighted over the vocab (vocab-sized work; the corpus is
    touched once, in the word-count collapse)."""
    _, vocab = bpe_rounds(docs, n_merges, text_col)
    return (
        vocab.select("word", "cnt", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(
            F.countDistinct("word").cast("bigint").alias("n_words"),
            F.sum("cnt").cast("bigint").alias("freq"),
        )
        .select(
            "token",
            F.length("token").cast("int").alias("token_len"),
            "n_words",
            "freq",
        )
    )
