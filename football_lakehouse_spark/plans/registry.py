"""Central query registry — the single source of truth for the engine's
verified operator surface.

Every operator from SURVEY.md §2 (plus the LLM-data north-star ops) is
registered here as a named query with, where SQL-expressible, a DuckDB
oracle twin. ``__spark_entry__.py``, the pytest suite, and ``bench.py``
all consume this registry, so a query is "done" exactly when it appears
here and its oracle matches.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL over the same fixture views; None → rows-only check
    doc: str = ""
    bench: bool = False  # include in bench.py's headline set
    tags: tuple[str, ...] = field(default_factory=tuple)
    #: scale the oracle is valid at (e.g. "sf0.01" for pinned-literal
    #: regression oracles); None → valid at every scale factor
    oracle_sf: str | None = None


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = False,
    tags: tuple[str, ...] = (),
    oracle_sf: str | None = None,
) -> Callable[[Builder], Builder]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name, fn, oracle, doc or (fn.__doc__ or ""), bench, tags, oracle_sf
        )
        return fn

    return deco


#: Driver-facing ordering. The driver records CORRECTNESS rows for exactly
#: the first 50 registry entries per round, so the per-round report is a
#: 50-query prefix of this order.
#:
#: Attestation policy — OLDEST-FIRST ROTATION. Every registered query
#: has a driver-green CORRECTNESS row (replay CORRECTNESS_r01–r10
#: against this registry to verify: 292/292 green, zero red rows, and
#: after r11 nothing older than r6). Each round's 50-row prefix is the
#: 50 registered queries whose latest driver-green row is OLDEST, ties
#: broken by registration order — freshness is self-maintaining and no
#: query's attestation ever ages more than ceil(n/50) rounds. This
#: cohort is `python scripts/replay_attestation.py`'s printed oldest-50
#: after r15: the 43 queries last attested in r8 lead (q09, q10, q11,
#: ...), then the first 7 of the r9 cohort (q13 ... q19 by
#: registration order). To rotate, run the
#: replay script and replace this tuple with its printed oldest-50
#: (the script also flags any registered query whose LATEST driver
#: row is red — fix those, don't rotate them; it also exits 1 when
#: any attestation is older than the freshness horizon).
#:
#: Everything past the 50-row prefix is attested by the pytest oracle
#: suite at sf0.001 AND sf0.01 (tests/test_oracle.py with
#: SPARK_GRAFT_TEST_FULL=1, ledger in SCALING.md).
DRIVER_ORDER_FIRST: tuple[str, ...] = (
    "q09_null_safe_cast",
    "q10_json_extract",
    "q11_explode_tokens",
    "q12_string_funcs",
    "q60_continuous_rollup",
    "q54_format_roundtrip",
    "q32_streaming_ingest",
    "q91_stateful_state",
    "q69_ml_pinned_eval",
    "q42_simhash",
    "q43_ngram_jaccard",
    "q58_repetition_ratio",
    "q59_decontamination",
    "q61_vocab_df",
    "q62_mixture_weights",
    "q65_stratified_sample",
    "q56_corpus_split",
    "q44_ann_bruteforce",
    "q52_embedding_neardup",
    "q48_embedding_stats",
    "q46_multimodal_meta",
    "q73_boilerplate_ngrams",
    "q74_text_normalize",
    "q75_pii_redaction",
    "q76_gopher_quality",
    "q77_source_top_terms",
    "q78_sequence_packing",
    "q81_doc_chunking",
    "q82_source_overlap",
    "q83_source_upsample",
    "q84_curation_pipeline",
    "q87_embedding_outliers",
    "q88_length_quantiles",
    "q279_knn_label_noise",
    "q280_source_quality_funnel",
    "q281_hard_negative_mining_ann",
    "q282_knn_label_noise_ann",
    "q49_asof_join",
    "q79_salted_hot_key_agg",
    "q80_bucketed_join",
    "q86_table_profile",
    "q89_full_outer_reconcile",
    "q90_props_map",
    "q13_date_funcs",
    "q14_content_hash_groups",
    "q15_dedup_keep_first",
    "q16_exists_probe",
    "q17_multiway_join",
    "q18_anti_semi_join",
    "q19_anchor_fallback",
)


def _driver_ordered() -> list[str]:
    front = list(dict.fromkeys(n for n in DRIVER_ORDER_FIRST if n in REGISTRY))
    rest = [n for n in REGISTRY if n not in set(front)]
    return front + rest


def all_queries() -> dict[str, Builder]:
    return {n: REGISTRY[n].builder for n in _driver_ordered()}


def all_oracles() -> dict[str, str]:
    return {
        n: REGISTRY[n].oracle
        for n in _driver_ordered()
        if REGISTRY[n].oracle is not None
    }


def bench_queries() -> dict[str, QuerySpec]:
    return {n: s for n, s in REGISTRY.items() if s.bench}
