"""Text-analysis column functions for LLM training-data pipelines
(north-star surface, BASELINE.json: "text analysis" — beyond the
reference's own operators, designed for 100 TB corpora).

Everything is built-in Column expressions (JVM-side, codegen'd): token
splits, regex extraction, lambda filters, portable hashes. No Python
UDFs anywhere — at corpus scale a row-at-a-time UDF is the difference
between hours and minutes.

Portable hashing: ``sha2``-prefix integers (identical in DuckDB via
``CAST('0x'||substr(sha256(s),1,8) AS BIGINT)``) so every derived
feature is oracle-checkable cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: tiny per-language stopword profiles for the heuristic language ID.
#: Deliberately small and fixed: the operator contract is "argmax of
#:  profile-token hits", not linguistic accuracy.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("de", "shi", "le", "zai", "he"),
}

STOPWORDS: tuple[str, ...] = tuple(sorted({w for p in LANG_PROFILES.values() for w in p}))

#: BPE-ish token pattern: lowercase alphanumeric runs (kept RE2-simple so
#: Spark's Java regex and DuckDB's RE2 agree).
TOKEN_RE = "[a-z0-9]+"

#: whitespace characters for tokenisation, pinned EXPLICITLY rather
#: than \s: Java's \s includes \x0B (vertical tab) while RE2's does
#: not, so a bare \s+ would tokenise differently in Spark vs the
#: DuckDB oracle. This set is the cross-engine intersection that still
#: covers every whitespace real corpora carry (space, tab, LF, CR, FF).
#: WS_CHAR is the bare character set (for removal classes like
#: ``[ \t\n\r\f]``); WS_CLASS adds the run quantifier (for splits).
#: Every oracle SQL twin interpolates these SAME constants — never a
#: hardcoded copy — so the two engines cannot desynchronise.
WS_CHAR = " \t\n\r\f"
WS_CLASS = f"[{WS_CHAR}]+"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenisation (any run of space/tab/newline/CR/FF is
    one separator — real corpora are multi-line), empty tokens
    dropped."""
    return F.filter(F.split(text, WS_CLASS), lambda t: t != "")


def sql_ws_tokens(expr: str = "text") -> str:
    """DuckDB twin of :func:`ws_tokens` — same explicit class, same
    empty-token filter; verified element-identical on adversarial
    whitespace (leading/trailing/mixed runs, \\x0B excluded by BOTH)."""
    return f"list_filter(regexp_split_to_array({expr}, '{WS_CLASS}'), t -> t <> '')"


def re_tokens(text: Column) -> Column:
    """Regex (BPE-ish) tokenisation via TOKEN_RE."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


def stopword_count(tokens: Column) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*STOPWORDS))).cast("bigint")


def avg_token_len(tokens: Column) -> Column:
    """Mean token length in 1e-4 units via integer floor — portable
    (see functions.scalars money rationale). 0.0 for an empty token
    list (division would yield NULL under non-ANSI and ERROR under
    ANSI — an empty/whitespace-only doc is a legitimate input, not an
    arithmetic fault)."""
    total = F.aggregate(tokens, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
    n = F.size(tokens).cast("bigint")
    return F.when(n > 0, F.floor(total * 10000 / n).cast("double") / 10000).otherwise(
        F.lit(0.0)
    )


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + stopword
    presence + mean token length band. Fixed weights; floor-rounded to
    4 dp for parity. Empty/whitespace-only documents score 0.0 — the
    documented in-[0,1] contract; an unguarded n=0 division propagated
    NULL, silently dropping empty docs from avg() and >= filters."""
    toks = ws_tokens(text)
    n = F.size(toks).cast("bigint")
    sw_ratio = stopword_count(toks) * F.lit(1.0) / n
    len_ok = F.when((n >= 20) & (n <= 2000), F.lit(1.0)).otherwise(F.lit(0.0))
    # association matters at the floor boundary: scale each term BEFORE
    # adding — the exact float association the q38 oracle uses (a
    # drifted (a*.5 + b*.5)*10000 copy can flip the last digit); this
    # function IS q38's implementation, one definition total
    score_e4 = len_ok * 0.5 * 10000 + sw_ratio * 0.5 * 10000
    return F.when(
        n > 0, F.floor(score_e4).cast("double") / 10000
    ).otherwise(F.lit(0.0))


def portable_hash(c: Column, seed: str = "") -> Column:
    """First 8 hex chars of sha256 as a bigint — deterministic and
    reproducible in any engine with sha256 (the cross-engine analogue of
    murmur3 for LSH banding / minhash)."""
    inp = F.concat(F.lit(seed), F.lit("§"), c) if seed else c
    return F.conv(F.substring(F.sha2(inp, 256), 1, 8), 16, 10).cast("bigint")


def lang_scores(tokens: Column) -> dict[str, Column]:
    """Per-language profile hit counts (heuristic language ID)."""
    return {
        lang: F.size(F.filter(tokens, lambda t: t.isin(*words))).cast("bigint")
        for lang, words in LANG_PROFILES.items()
    }


def predicted_lang(tokens: Column) -> Column:
    """argmax over profile scores, ties broken by language code order —
    expressed with greatest/when so it stays a pure column expression."""
    scores = lang_scores(tokens)
    # build (score, negated-ordinal) structs and take greatest → argmax
    pred = None
    best = None
    for lang in sorted(scores):  # ascending code order; later wins ties only if strictly greater
        s = scores[lang]
        if pred is None:
            pred, best = F.lit(lang), s
        else:
            pred = F.when(s > best, F.lit(lang)).otherwise(pred)
            best = F.when(s > best, s).otherwise(best)
    return pred
