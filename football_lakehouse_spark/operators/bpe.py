"""Distributed BPE tokenizer training (the first N merges).

Byte-pair encoding (Sennrich et al. 2016) is how most LLM tokenizers
are trained; each round finds the most frequent adjacent symbol pair in
the corpus and merges it into a new symbol. This module runs the rounds
on Spark with ZERO Python UDFs:

- The corpus collapses to its WORD VOCABULARY first (one shuffle:
  word → count). Every later round operates on the vocab table weighted
  by counts — vocabulary-sized work, never corpus-sized, exactly like
  the classic fast-BPE implementations.
- Pair counting is an explode over adjacent symbol positions plus one
  aggregation (standard BPE counts overlapping adjacencies — ``aaa``
  contributes (a,a) twice).
- The winning pair (max weight, ties to the lexicographically smallest
  (left, right)) broadcasts as a 1×3 table.
- The merge APPLICATION is greedy left-to-right non-overlapping — a
  sequential walk — expressed as an ``F.aggregate`` fold over the
  symbol array: replace the accumulator's last element when (last,
  current) equals the winning pair. No flag is needed to stop a fresh
  merge from chaining: the merged symbol's text ``left||right`` can
  never equal ``left`` (right is non-empty), so ``aaa`` folds to
  ``[aa, a]`` by construction.

Each round's outputs (winner, rewritten vocab) are tiny/vocab-sized and
consumed by multiple later stages, so they are eagerly
localCheckpoint-ed — the same O(rounds²)-lineage defence as the Lloyd
quantiser and connected components.

At 100 TB the corpus→vocab collapse is the only corpus-scale stage;
vocabularies are bounded (natural-language vocabularies grow ~Heaps'
law), so the rounds run on a table that fits comfortably whatever the
corpus size. The oracle unrolls the identical rounds in SQL with a
``list_reduce`` fold (separator-encoded accumulator), making every
winner AND every rewritten symbol sequence value-checked cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from football_lakehouse_spark.functions.guards import local_frame
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
    (applying the learned merges — the encode side)."""
    words = (
        docs.select(F.explode(ws_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    vocab = words.select("word", "cnt", chars.alias("syms")).localCheckpoint(
        eager=True
    )

    from football_lakehouse_spark.functions.guards import bounded_collect

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
        # it instead of checkpoint + head-probe + 1-row crossJoin
        # broadcast (r14 — one takeOrdered job per round instead of
        # three, and the fold below binds the winner as literals, so the
        # vocab rewrite is a NARROW pass with no broadcast build). The
        # same single row crossed to the driver under the broadcast
        # form anyway.
        win_rows = bounded_collect(
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").cast("bigint").alias("w"))
            .orderBy(F.col("w").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1),
            1,
            "bpe_rounds per-round winner",
        )
        # merges exhausted (every word is a single symbol): classic BPE
        # stops early. Without this, an empty winner would silently wipe
        # the whole vocab — total data loss for any corpus whose merge
        # inventory is smaller than n_merges.
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
