"""Composed cold-path curation rehearsal at 10x / 100x scale
(r6 verdict #6, widened r8 per r7 verdict #5, widened again r10 per
r9 verdict #4): quality gate -> exact dedup -> LSH near-dup clusters
-> SPAN DETECT -> SPAN TRIM (keep-one-canonical) -> token-budget
selection -> sharded split write -> LAKEHOUSE PUBLISH/MERGE/CDF/
COMPACT (r11 verdict #5: the commit path the r11 sweeps rewrote,
measured at volume — partitioned append with change feed, a
10%-update MERGE with cross-partition moves, the sidecar-served
incremental read, and compact_to_size) -> IVF INDEX BUILD -> ANN
MINING SERVE (q281 shape), each stage timed with its SHUFFLE BYTES attributed
via the Spark UI REST API — the per-stage cost table a 100 TB user
asks for first, now including the passage-level trim between dedup
and selection (the production curation order: doc-level near-dup
cannot see boilerplate passages inside surviving unique docs, so the
span stage runs on near-dup SURVIVORS and selection scores the
TRIMMED text). Fully-trimmed-to-empty docs are dropped before
selection — distinct-token-density is undefined at n_tokens=0 and an
empty doc has nothing to select.

Index operating point — measured, then corrected (r8): the first run
scaled n_cells LINEARLY with the corpus (fixed ~125-vector cells, the
r7 serve-flat point) with full-corpus Lloyd training, and the build
stage went 4.3 -> 9.5 -> 616 s at x1/x10/x100 — a flat quantiser's
per-round cost is rows x n_cells d2 folds, so n_cells ∝ corpus makes
TRAINING quadratic. The table now builds the way production indexes
build: n_cells ∝ sqrt(corpus) (the FAISS coarse-quantiser rule, which
balances build N·sqrt(N) against probe sqrt(N)) and Lloyd training on
kmeans_cells' deterministic hash-gated sample (train_sample_mod).
Serve cost then grows ~sqrt(corpus) instead of flat — still
sub-linear, and the r7 decomposition keeps the serve-flat evidence
for the fixed-cell-size point where builds are rare and appends ride
assign_cells O(batch).

This is the q84 composition widened to the full production shape:
q84 itself fuses quality+dedup+split into one pass (and stays the
oracle-checked correctness witness); here every stage MATERIALIZES to
scratch parquet — the honest cold-start topology, because at 100 TB
each stage is a restartable checkpoint, not a fused expression — so
each stage's wall/shuffle cost is individually visible.

Scaled corpora are documents replicated factor x with every token
suffixed by its replica id: replicas share no shingles, so near-dup
structure (and thus stage-3 pair work) scales LINEARLY like a bigger
real corpus with the same dup rate — the adversarial inflated-cluster
variant is soak_sf10.py's job, not this one.

Shuffle attribution: each stage runs under its own spark job group;
stage metrics come from /api/v1/applications/<id>/stages joined to
/jobs by stage id (the UI is enabled on a local port for this script
only — no external network involved).

Usage: python scripts/soak_cold_pipeline.py [factor ...]
       (default: 1 10 100 — sf0.1, sf1, sf10 equivalents)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from football_lakehouse_spark.functions.text import STOPWORDS, ws_tokens  # noqa: E402

import importlib.util as _ilu  # noqa: E402

_spec = _ilu.spec_from_file_location(
    "gen_scale",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen_scale.py"),
)
_gen_scale = _ilu.module_from_spec(_spec)
_spec.loader.exec_module(_gen_scale)
from football_lakehouse_spark.operators.dedup import (  # noqa: E402
    duplicate_spans,
    exact_dedup,
    minhash_lsh_neardups,
    neardup_clusters,
    trim_duplicate_spans,
)
from football_lakehouse_spark.operators.selection import token_budget_select  # noqa: E402
from football_lakehouse_spark.session import get_spark  # noqa: E402
from football_lakehouse_spark.plans.llm_plans import (  # noqa: E402
    _GOPHER_ALPHA_MIN,
    _GOPHER_MAX_LEN,
    _GOPHER_MAX_TOKS,
    _GOPHER_MIN_LEN,
    _GOPHER_MIN_STOPS,
    _GOPHER_MIN_TOKS,
)

SRC = "/root/testdata/sf0.1/documents.parquet"
EMB_SRC = "/root/testdata/sf0.1/embeddings.parquet"
#: FAISS-style coarse-quantiser operating point (module docstring):
#: n_cells = N_CELLS_X1 * sqrt(factor); Lloyd trains on ~1/mod of the
#: corpus once the corpus is big enough to afford it
N_CELLS_X1 = 16


def build_point(factor: int) -> tuple[int, int]:
    """(n_cells, train_sample_mod) for a scale factor."""
    n_cells = max(N_CELLS_X1, round(N_CELLS_X1 * factor ** 0.5))
    return n_cells, max(1, factor // 10)


N_PROBE = 4
UI_PORT = 4099


def gen_docs(spark, factor: int, out: str) -> str:
    """documents replicated ``factor``x, tokens made replica-unique via
    the ONE shared replica rule (gen_scale.replica_text_expr — column
    form): replica 0 stays raw (so the base corpus embedded in an xN
    corpus has the same token stream at every factor), replicas i>0
    get per-token 'r{i}' suffixes on non-empty split elements. The
    old inline copy here split on a literal space, suffixed empties,
    and suffixed replica 0 too — cross-soak corpora drifted from the
    gen_scale ones. Regenerate /tmp/fls-cold after this change (the
    _SUCCESS cache keeps serving old-rule corpora)."""
    if factor == 1:
        return SRC
    path = os.path.join(out, f"documents_x{factor}.parquet")
    # _SUCCESS, not bare existence: a run killed mid-write leaves a
    # partial dir that every later soak would silently measure
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    reps = F.broadcast(spark.range(factor).withColumnRenamed("id", "__rep"))
    df = spark.read.parquet(SRC)
    # precondition for BOTH the replica rule and the gate's suffix
    # normalization: no base token may itself match r[0-9]+$ (it would
    # be stripped at factor=1 but round-trip at factor>1 — the exact
    # factor-variance the normalization exists to remove). Fail loudly
    # on a fixture refresh instead of silently mis-gating.
    colliding = (
        df.select(F.explode(ws_tokens(F.col("text"))).alias("t"))
        .where(F.col("t").rlike("r[0-9]+$"))
        .count()
    )
    if colliding:
        raise SystemExit(
            f"gen_docs: base corpus has {colliding} token(s) ending in "
            "r<digits> — the replica-suffix marker would collide; pick "
            "a different marker before scaling this fixture"
        )
    stride = 10 ** len(str(df.agg(F.max("doc_id")).collect()[0][0]))
    big = (
        df.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * F.lit(stride))
        .withColumn(
            "text",
            F.when(F.col("__rep") == 0, F.col("text")).otherwise(
                _gen_scale.replica_text_expr(F.col("__rep"))
            ),
        )
        .drop("__rep")
    )
    big.repartition(32).write.mode("overwrite").parquet(path)
    return path


def gen_emb(spark, factor: int, out: str) -> str:
    """embeddings replicated ``factor``x with shifted vec_ids — the
    same scale-up gen_scale.py uses (identical vectors, validated by
    the r7 ANN decomposition soak: Lloyd still spreads cells and the
    probed-candidate count stays ~anchors x n_probe x cell_size)."""
    if factor == 1:
        return EMB_SRC
    path = os.path.join(out, f"embeddings_x{factor}.parquet")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    df = spark.read.parquet(EMB_SRC)
    stride = 10 ** len(str(df.agg(F.max("vec_id")).collect()[0][0]))
    reps = F.broadcast(spark.range(factor).withColumnRenamed("id", "__rep"))
    big = (
        df.crossJoin(reps)
        .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * F.lit(stride))
        .drop("__rep")
    )
    big.repartition(32).write.mode("overwrite").parquet(path)
    return path


def rest(spark, path: str):
    app = spark.sparkContext.applicationId
    # the ACTUAL bound UI url, not a hardcoded port: Spark auto-increments
    # past a busy port (only a warning), and a wrong guess here would
    # crash shuffle attribution AFTER the whole pipeline has run
    base = spark.sparkContext.uiWebUrl or f"http://localhost:{UI_PORT}"
    url = f"{base}/api/v1/applications/{app}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def group_shuffle_bytes(spark) -> dict[str, dict[str, int]]:
    """jobGroup -> summed shuffle read/write + input bytes."""
    jobs = rest(spark, "jobs?status=succeeded")
    stages = {
        s["stageId"]: s
        for s in rest(spark, "stages?status=COMPLETE")
    }
    seen: set[int] = set()
    out: dict[str, dict[str, int]] = {}
    for j in jobs:
        g = j.get("jobGroup") or "_none"
        acc = out.setdefault(
            g, {"shuffle_read_b": 0, "shuffle_write_b": 0, "input_b": 0}
        )
        for sid in j.get("stageIds", []):
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            s = stages[sid]
            acc["shuffle_read_b"] += s.get("shuffleReadBytes", 0)
            acc["shuffle_write_b"] += s.get("shuffleWriteBytes", 0)
            acc["input_b"] += s.get("inputBytes", 0)
    return out


def run_pipeline(
    spark, docs_path: str, emb_path: str, factor: int, scratch: str
) -> list[dict]:
    sc = spark.sparkContext
    results = []

    def stage(name, fn):
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        rows = fn()
        dt = time.perf_counter() - t0
        sc.setJobGroup("_idle", "_idle")
        results.append({"stage": name, "sec": round(dt, 2), "rows_out": rows})
        return rows

    p = lambda n: os.path.join(scratch, n)  # noqa: E731

    def s1_quality():
        docs = spark.read.parquet(docs_path)
        toks = ws_tokens(F.col("text"))
        m = docs.select("doc_id", "source", "text", toks.alias("toks"))
        n = F.size("toks").cast("bigint")
        # the scaled corpora suffix every token with its replica id, so
        # EVERY per-token gate statistic — mean length included — must
        # strip the suffix the same way a tokenizer would normalise;
        # factor=1 is a no-op. Leaving mean_len on raw tokens made the
        # gate factor-VARIANT (+2..+5 chars/token at x10..x1000): docs
        # near the Gopher length ceiling passed at x1 and failed at
        # x100, and different replicas of the same doc got different
        # verdicts — breaking the soak's own linear-scaling contract.
        norm = F.transform("toks", lambda x: F.regexp_replace(x, "r[0-9]+$", ""))
        total_len = F.aggregate(
            norm, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        )
        mean_len = F.floor(total_len * 10000 / n).cast("double") / 10000
        stop_hits = F.size(
            F.array_distinct(F.filter(norm, lambda x: x.isin(*STOPWORDS)))
        )
        alpha_toks = F.size(F.filter(norm, lambda x: x.rlike("^[a-z]+$")))
        alpha = F.floor(alpha_toks.cast("bigint") * 10000 / n).cast("double") / 10000
        q = m.where(
            n.between(_GOPHER_MIN_TOKS, _GOPHER_MAX_TOKS)
            & mean_len.between(_GOPHER_MIN_LEN, _GOPHER_MAX_LEN)
            & (alpha >= _GOPHER_ALPHA_MIN)
            & (stop_hits >= _GOPHER_MIN_STOPS)
        ).select("doc_id", "source", "text", n.alias("n_tokens"))
        q.write.mode("overwrite").parquet(p("s1"))
        return spark.read.parquet(p("s1")).count()

    def s2_exact():
        q = spark.read.parquet(p("s1"))
        # raw expression: exact_dedup sha2-wraps its "on" column itself —
        # passing a sha2 here double-hashed every row, charging a
        # redundant full-text SHA-256 to the stage being measured
        d = exact_dedup(q, F.col("text"))
        d.write.mode("overwrite").parquet(p("s2"))
        return spark.read.parquet(p("s2")).count()

    def s3_lsh():
        d = spark.read.parquet(p("s2"))
        pairs = minhash_lsh_neardups(d, threshold=0.5)
        clusters = neardup_clusters(pairs.select("doc_a", "doc_b"))
        losers = clusters.where(~F.col("is_canonical")).select(
            F.col("doc_id").alias("loser_id")
        )
        kept = d.join(
            F.broadcast(losers),
            d["doc_id"] == F.col("loser_id"),
            "left_anti",
        )
        kept.write.mode("overwrite").parquet(p("s3"))
        return spark.read.parquet(p("s3")).count()

    def s3b_span_detect():
        d = spark.read.parquet(p("s3"))
        spans = duplicate_spans(d, n=5, min_docs=2)
        spans.write.mode("overwrite").parquet(p("s3b"))
        return spark.read.parquet(p("s3b")).count()

    def s3c_span_trim():
        d = spark.read.parquet(p("s3"))
        spans = spark.read.parquet(p("s3b"))
        trimmed = trim_duplicate_spans(d, spans, keep_canonical=True)
        out = (
            trimmed.join(d.select("doc_id", "source"), "doc_id")
            .withColumn(
                # ws_tokens drops empty tokens, so a fully-trimmed ''
                # doc sizes to 0 without a special case
                "n_tokens",
                F.size(ws_tokens(F.col("text"))).cast("bigint"),
            )
            .where(F.col("n_tokens") > 0)
        )
        out.write.mode("overwrite").parquet(p("s3c"))
        return spark.read.parquet(p("s3c")).count()

    def s4_select():
        d = spark.read.parquet(p("s3c"))
        scored = d.withColumn(
            "score",
            F.floor(
                F.size(F.array_distinct(ws_tokens(F.col("text"))))
                .cast("bigint") * 1000000 / F.col("n_tokens")
            ).cast("bigint"),
        )
        total = scored.agg(F.sum("n_tokens")).collect()[0][0]
        budget = int((total or 0) * 6 // 10)  # empty stage: sum() is None
        sel = token_budget_select(scored, budget).where(F.col("selected"))
        sel.join(d.select("doc_id", "source", "text"), "doc_id").write.mode(
            "overwrite"
        ).parquet(p("s4"))
        return spark.read.parquet(p("s4")).count()

    def s5_shard():
        d = spark.read.parquet(p("s4"))
        bucket = (
            F.conv(
                F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 4),
                16, 10,
            ).cast("bigint") % 20
        )
        split = (
            F.when(bucket < 18, F.lit("train"))
            .when(bucket == 18, F.lit("val"))
            .otherwise(F.lit("test"))
        )
        shuffle_key = F.conv(
            F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 9, 8), 16, 10
        ).cast("bigint")
        (
            d.withColumn("split", split)
            .withColumn("__sk", shuffle_key)
            .repartition("split")
            .sortWithinPartitions("__sk")
            .drop("__sk")
            .write.mode("overwrite")
            .partitionBy("split")
            .parquet(p("s5"))
        )
        return spark.read.parquet(p("s5")).count()

    def s8_lakehouse_publish():
        # the r11 commit-path rewrite (partition-dir canonicalisation,
        # null-safe probes) measured at volume, not argued: publish the
        # curated split output as a partitioned lakehouse table with the
        # change feed on — the write cost IS the commit path
        import shutil

        from football_lakehouse_spark.lakehouse.tables import LakehouseTable

        shutil.rmtree(p("lh"), ignore_errors=True)  # rerun-clean
        t = LakehouseTable(spark, p("lh"), "curated", "docs",
                           partition_by=["split"])
        t.enable_change_feed()
        t.append(spark.read.parquet(p("s5")))
        return t.read().count()

    def s9_lakehouse_merge():
        # 10%-of-corpus MERGE: half the batch re-texts existing docs in
        # place, a quarter MOVES docs across the split partition
        # (exercises cross-partition copy-on-write + dir rendering),
        # and a quarter inserts brand-new doc_ids
        from football_lakehouse_spark.lakehouse.tables import LakehouseTable

        t = LakehouseTable(spark, p("lh"), "curated", "docs",
                           partition_by=["split"])
        cur = t.read()
        mod = F.col("doc_id") % 10
        batch = (
            cur.where(mod < 1)
            .withColumn(
                "text",
                F.when(mod == 0, F.concat(F.col("text"), F.lit(" upd")))
                .otherwise(F.col("text")),
            )
            .withColumn(
                "split",
                F.when(F.col("doc_id") % 40 == 0, F.lit("val"))
                .otherwise(F.col("split")),
            )
        )
        inserts = (
            cur.where(F.col("doc_id") % 40 == 1)
            .withColumn("doc_id", -F.col("doc_id"))
        )
        t.merge(batch.unionByName(inserts), ["doc_id"])
        return t.read().count()

    def s10_lakehouse_cdf():
        # incremental consumer: the merge's change feed served from
        # O(touched-rows) sidecars, never by re-reading both versions
        from football_lakehouse_spark.lakehouse.tables import LakehouseTable

        t = LakehouseTable(spark, p("lh"), "curated", "docs",
                           partition_by=["split"])
        v = t.current_version()
        return t.table_changes(v - 1, v).count()

    def s11_lakehouse_compact():
        # maintenance tail: OPTIMIZE to a target file size; row-invariant
        from football_lakehouse_spark.lakehouse.tables import LakehouseTable

        t = LakehouseTable(spark, p("lh"), "curated", "docs",
                           partition_by=["split"])
        t.compact_to_size(target_file_bytes=32 << 20)
        return t.read().count()

    def s6_ivf_build():
        from football_lakehouse_spark.operators.similarity import kmeans_cells

        emb = spark.read.parquet(emb_path)
        n_cells, mod = build_point(factor)
        assigned, cent = kmeans_cells(
            emb, n_cells=n_cells, iters=2, id_out="match_id",
            train_sample_mod=mod,
        )
        assigned.write.mode("overwrite").parquet(p("s6_assigned"))
        cent.write.mode("overwrite").parquet(p("s6_centroids"))
        return spark.read.parquet(p("s6_assigned")).count()

    def s7_mining_serve():
        from football_lakehouse_spark.operators.similarity import ann_mining_topk

        emb = spark.read.parquet(emb_path)
        assigned = spark.read.parquet(p("s6_assigned"))
        cent = spark.read.parquet(p("s6_centroids"))
        anchors = emb.where(F.col("vec_id") < 10)
        # the SHARED mining serve (operators/similarity) — the same
        # implementation q281 and the ANN soaks run, not a copy
        mined = ann_mining_topk(
            anchors, emb, assigned, cent, k=3, n_probe=N_PROBE
        )
        mined.write.mode("overwrite").parquet(p("s7"))
        return spark.read.parquet(p("s7")).count()

    for name, fn in (
        ("quality", s1_quality),
        ("exact_dedup", s2_exact),
        ("lsh_clusters", s3_lsh),
        ("span_detect", s3b_span_detect),
        ("span_trim", s3c_span_trim),
        ("selection", s4_select),
        ("shard_write", s5_shard),
        ("lakehouse_publish", s8_lakehouse_publish),
        ("lakehouse_merge", s9_lakehouse_merge),
        ("lakehouse_cdf_read", s10_lakehouse_cdf),
        ("lakehouse_compact", s11_lakehouse_compact),
        ("ivf_index_build", s6_ivf_build),
        ("mining_serve", s7_mining_serve),
    ):
        stage(name, fn)
    return results


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 10, 100]
    for factor in factors:
        spark = get_spark(
            f"soak-cold-x{factor}",
            extra_conf={
                "spark.ui.enabled": "true",
                "spark.ui.port": str(UI_PORT),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        docs = gen_docs(spark, factor, "/tmp/fls-cold")
        emb = gen_emb(spark, factor, "/tmp/fls-cold")
        scratch = f"/tmp/fls-cold/run_x{factor}"
        results = run_pipeline(spark, docs, emb, factor, scratch)
        shuf = group_shuffle_bytes(spark)
        for r in results:
            r.update(
                {
                    k.replace("_b", "_mb"): round(v / 1e6, 1)
                    for k, v in shuf.get(r["stage"], {}).items()
                }
            )
            print(json.dumps({"factor": factor, **r}), flush=True)
        spark.stop()
        # a fresh session per factor keeps REST metrics per-run


if __name__ == "__main__":
    main()
