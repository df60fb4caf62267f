"""Deduplication operators for LLM training-data pipelines (north-star
surface, BASELINE.json): exact, MinHash+LSH near-dup, SimHash, n-gram
Jaccard. All pure DataFrame compositions — shuffles only on
hash-distributed keys, no UDFs. The one driver-side step is the
union-find over the verified pair graph in :func:`neardup_clusters`,
bounded by ``CONTROL_PLANE_BOUND`` edges.

Portability: hash functions are sha256-prefix integers
(functions.text.portable_hash) so every stage — minhash signatures,
band buckets, candidate pairs, verified Jaccard — is reproducible in
DuckDB for the correctness oracle. ``hash_impl="xxhash64"`` on
:func:`doc_profiles`, :func:`band_buckets` and
:func:`minhash_lsh_neardups` swaps in the JVM-intrinsic hash (same
topology, not DuckDB-reproducible; q71 uses it) — the plan shape is the
scale-relevant part:

    docs → explode shingles                     (no shuffle)
         → ONE groupBy(doc): 6 minhash mins     (1 shuffle — the only
           + collect_set(shingle)                corpus-sized shuffle in
           + distinct count                      the whole pipeline)
         → explode bands → bucket join          (doc-count-sized rows;
                                                 band keys are hashes →
                                                 uniform, skew-free)
         → candidate pairs (distinct)           (LSH-output-sized)
         → verify: broadcast candidates against
           the cached per-doc shingle sets,
           exact Jaccard via array_intersect    (no corpus shuffle)

Minhash is duplicate-invariant (min over a multiset == min over its
set), so no pre-distinct pass is needed; the exact-verify step uses
``collect_set`` output, which is the distinct shingle set. The
expensive all-pairs O(n²) never materialises; only same-bucket pairs
are verified — the standard MinHash/LSH contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from football_lakehouse_spark.functions.guards import (
    CONTROL_PLANE_BOUND,
    CollectBoundExceeded,
    bounded_collect,
    local_frame,
)
from football_lakehouse_spark.functions.text import portable_hash, ws_tokens

N_MINHASH = 6  # 3 bands × 2 rows
N_BANDS = 3
ROWS_PER_BAND = 2


def shingles(text: F.Column, n: int = 3) -> F.Column:
    """Word n-gram shingles as an array column (empty when < n tokens).

    NOTE: when applied directly to a text expression, Catalyst inlines
    the tokenisation into every lambda element (O(tokens²) splitting).
    Prefer :func:`shingles_from_tokens` over a materialised token
    column on hot paths."""
    return shingles_from_tokens(ws_tokens(text), n)


def shingles_from_tokens(toks: F.Column, n: int = 3) -> F.Column:
    k = F.size(toks) - (n - 1)
    return F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def doc_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (doc, shingle) pairs — the standalone dedup working set.
    The token array is materialised as a column FIRST so the split runs
    once per row, not once per shingle position."""
    return (
        _shingle_rows(docs, id_col, text_col)
        .distinct()
    )


def _shingle_rows(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One (doc, shingle) row per shingle OCCURRENCE — no distinct, so
    no shuffle; downstream aggregation absorbs duplicates."""
    # corpus files are large relative to row count → a doc table often
    # arrives in very few input splits; the explode+hash stages are CPU
    # bound, so spread docs across the executors first (cheap: doc rows,
    # not shingle rows, cross the wire)
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(par).select(
        id_col, ws_tokens(F.col(text_col)).alias("toks")
    )
    return toks.select(
        id_col, F.explode(shingles_from_tokens(F.col("toks"))).alias("shingle")
    )


def _shingle_minhash_aggs(hash_impl: str) -> list[F.Column]:
    """K per-shingle min-hash aggregates under the chosen hash.

    - ``sha256`` (default): the 64-hex digest of ONE sha256 per shingle
      is sliced into K independent 8-hex (32-bit) values — 6× cheaper
      than seeded re-hashing, same LSH statistics, DuckDB-reproducible
      → this is the ORACLE twin.
    - ``xxhash64``: K seeded xxhash64 calls (seed = minhash index mixed
      in as a literal column). xxhash64 is a few ns/row JVM-side vs
      ~µs-scale sha256 — at 100 TB the shingle hash dominates the CPU
      cost of the minhash pass, so this is the PRODUCTION path. Not
      bit-reproducible in DuckDB (different xxhash seeding), hence
      flag-gated; the property test pins that both paths yield the same
      verified near-dup topology on the fixture corpus.
    """
    if hash_impl == "sha256":
        sha = F.sha2(F.col("shingle"), 256)
        return [
            F.min(
                F.conv(F.substring(sha, 8 * k + 1, 8), 16, 10).cast("bigint")
            ).alias(f"mh{k}")
            for k in range(N_MINHASH)
        ]
    if hash_impl == "xxhash64":
        return [
            F.min(F.xxhash64(F.lit(k), F.col("shingle"))).alias(f"mh{k}")
            for k in range(N_MINHASH)
        ]
    raise ValueError(f"unknown hash_impl: {hash_impl!r} (use 'sha256' or 'xxhash64')")


def doc_profiles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_impl: str = "sha256",
) -> DataFrame:
    """Per-doc minhash signature AND distinct shingle set in ONE
    shuffle: ``groupBy(doc)`` with K ``min`` aggregates plus
    ``collect_set(shingle)``. Minhash is duplicate-invariant so the
    input needn't be pre-distincted; ``collect_set`` yields the exact
    distinct set for Jaccard verification. See
    :func:`_shingle_minhash_aggs` for the sha256-vs-xxhash64 trade."""
    rows = _shingle_rows(docs, id_col, text_col)
    return rows.groupBy(id_col).agg(
        *_shingle_minhash_aggs(hash_impl), F.collect_set("shingle").alias("shset")
    ).withColumn("n_shingles", F.size("shset"))


def band_buckets(
    sigs: DataFrame, id_col: str = "doc_id", hash_impl: str = "sha256"
) -> DataFrame:
    """(doc, band_id, band_key) rows via a single explode — a unionByName
    of per-band projections would recompute the signature aggregation
    once per band. Band keys are hashes → uniform, the bucket join can't
    skew. The xxhash64 path emits a BIGINT band key (cheaper to shuffle
    and compare than the 16-hex string of the oracle path)."""
    entries = []
    for b in range(N_BANDS):
        cols = [F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        if hash_impl == "xxhash64":
            key = F.xxhash64(F.lit(b), *cols).cast("string")
        else:
            sha = F.sha2(
                F.concat_ws("_", F.lit(str(b)), *[c.cast("string") for c in cols]), 256
            )
            key = F.substring(sha, 1, 16)
        entries.append(
            F.struct(F.lit(b).alias("band_id"), key.alias("band_key"))
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("band")
    ).select(id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_key").alias("band_key"))


def candidate_pairs(
    buckets: DataFrame, id_col: str = "doc_id", max_bucket_size: int | None = None
) -> DataFrame:
    """Docs sharing any band bucket, as ordered distinct pairs.

    Band keys are content hashes, so buckets of DISTINCT documents stay
    uniform — but N near-copies of one document (boilerplate replicated
    across a crawl) legitimately share every band and inflate one bucket
    to N, making the self-join emit N²/2 pairs. ``max_bucket_size``
    bounds that: buckets above the cap switch to a STAR pattern (every
    member paired with the bucket's min doc only — O(N) pairs). The
    downstream exact-Jaccard verify still checks each emitted pair, and
    connected components recovers the full cluster through the shared
    representative, so cluster output is unchanged for genuine near-dup
    blowups (property-tested in test_properties.py; measured in
    scripts/soak_skew.py). Default None keeps the exact all-pairs
    semantics that the q41/q71 oracles pin."""
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_id", "band_key")
        sized = buckets.withColumn("__bn", F.count(F.lit(1)).over(w)).withColumn(
            "__bmin", F.min(id_col).over(w)
        )
        small = sized.where(F.col("__bn") <= max_bucket_size)
        a = small.select("band_id", "band_key", F.col(id_col).alias("doc_a"))
        b = small.select("band_id", "band_key", F.col(id_col).alias("doc_b"))
        normal = (
            a.join(b, ["band_id", "band_key"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        star = (
            sized.where(
                (F.col("__bn") > max_bucket_size) & (F.col(id_col) != F.col("__bmin"))
            )
            .select(F.col("__bmin").alias("doc_a"), F.col(id_col).alias("doc_b"))
        )
        return normal.unionByName(star).distinct()
    a = buckets.select(
        F.col("band_id"), F.col("band_key"), F.col(id_col).alias("doc_a")
    )
    b = buckets.select(
        F.col("band_id"), F.col("band_key"), F.col(id_col).alias("doc_b")
    )
    return (
        a.join(b, ["band_id", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def verified_jaccard(
    cands: DataFrame, pairs: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only. Candidates
    are normally dimension-sized post-LSH; the joins are left unhinted
    so AQE broadcasts them when small and shuffle-joins when an
    inflated cluster blows the candidate count up (see
    :func:`verified_jaccard_profiles` for the measured rationale)."""
    sizes = pairs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))

    sa = pairs.select(F.col(id_col).alias("doc_a"), "shingle")
    sb = pairs.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        sa.join(cands, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard",
            F.floor(
                F.col("n_common")
                * 10000
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).cast("double")
            / 10000,
        )
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )


def verified_jaccard_profiles(
    cands: DataFrame, profiles: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs from cached per-doc
    profiles — NO corpus-sized shuffle. Candidates are normally
    LSH-output-sized, so AQE turns both probes into broadcast hash
    joins against the profile table at runtime (streamed once per side
    from cache); only candidate-pair rows (with their two shingle
    arrays) meet in the final equi-join. The broadcast is deliberately
    NOT forced with a hint: an inflated near-dup cluster (N copies of a
    boilerplate page) makes the candidate table O(N²) — 27M pairs in
    the sf10 soak — and a forced broadcast of that is a driver OOM /
    stall at scale, while AQE simply falls back to a shuffle join
    (measured in scripts/soak_sf10.py; the max_bucket_size star cap is
    the companion defence that keeps candidates small in the first
    place)."""
    a_side = profiles.select(
        F.col(id_col).alias("doc_a"), F.col("shset").alias("sh_a"), F.col("n_shingles").alias("n_a")
    ).join(cands, "doc_a")
    b_side = profiles.select(
        F.col(id_col).alias("doc_b"), F.col("shset").alias("sh_b"), F.col("n_shingles").alias("n_b")
    ).join(cands, "doc_b")
    common = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    jac = (
        a_side.join(b_side, ["doc_a", "doc_b"])
        .withColumn("n_common", common)
        .withColumn(
            "jaccard",
            F.floor(
                F.col("n_common")
                * 10000
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).cast("double")
            / 10000,
        )
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )


def minhash_lsh_neardups(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_impl: str = "sha256",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle → fused per-doc profile (minhash
    signature + distinct shingle set, ONE shuffle) → band → bucket join
    → exact-verify via array_intersect. Returns
    (doc_a, doc_b, n_common, jaccard).

    The profile table feeds three downstream consumers (banding + both
    verify sides) and the candidate pairs two, so both are persisted
    MEMORY_AND_DISK — the checkpoint a production pipeline would put
    here; without it Spark recomputes the explode+hash+agg lineage per
    consumer, 2 extra full corpus scans. The caches live in the
    session's CacheManager until the caller unpersists them.
    ``hash_impl`` picks the shingle hash (:func:`doc_profiles`).
    Re-expresses the reference's declared near-dup surface
    (docs/backlog.md:49-51 MERGE dedupe is exact-key; this is the
    content-similarity extension)."""
    from pyspark import StorageLevel

    profiles = doc_profiles(docs, id_col, text_col, hash_impl).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = profiles.select(id_col, *[f"mh{k}" for k in range(N_MINHASH)])
    cands = candidate_pairs(
        band_buckets(sigs, id_col, hash_impl), id_col, max_bucket_size
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return verified_jaccard_profiles(cands, profiles, threshold, id_col)


def neardup_clusters(
    pairs: DataFrame, max_edges: int = CONTROL_PLANE_BOUND
) -> DataFrame:
    """Connected components over near-dup pairs → cluster assignment
    (doc_id, cluster_id, is_canonical), cluster_id = min doc_id in the
    component, canonical = the kept representative. This completes the
    dedup contract: LSH gives PAIRS, but near-duplication is transitive
    (A~B, B~C ⇒ one group even when A≁C), so retention decisions need
    the component, not the pair. Isolated documents never appear.

    The verified pair graph is LSH-output-sized (256 edges at sf0.1),
    so the components are a control-plane result: ONE
    ``bounded_collect`` of the edges under ``max_edges`` (default
    ``CONTROL_PLANE_BOUND``), a driver union-find with min-id roots,
    and the assignment returned through ``local_frame`` — one collect
    where each distributed round costs several jobs. Past ``max_edges``,
    :func:`_star_clusters` runs alternating large-star/small-star
    rounds on the cluster: O(log n) rounds on any graph shape, and at
    or above 25,600 edges at least as fast as a label-propagation
    prelude (SCALING.md, star vs label-propagation crossover). Both
    paths are property-tested equal to the label-propagation and
    union-find test oracles (``tests/cc_oracles.py``)."""
    try:
        edges = bounded_collect(
            pairs.select("doc_a", "doc_b"), max_edges, "neardup_clusters edge list"
        )
    except CollectBoundExceeded:
        return _star_clusters(pairs)
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its set's minimum
            parent[max(ra, rb)] = min(ra, rb)
    roots = {n: find(n) for n in sorted(parent)}
    id_type = pairs.schema["doc_a"].dataType.simpleString()
    return local_frame(
        pairs.sparkSession,
        [(n, r, n == r) for n, r in roots.items()],
        f"doc_id {id_type}, cluster_id {id_type}, is_canonical boolean",
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond'): for every node u, connect each strictly
    LARGER neighbour to min(N(u) ∪ {u}). Input must be symmetric."""
    m = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .withColumn("mn", F.least("mn", F.col("src")))
    )
    return (
        edges.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient each edge (hi → lo); for every node u,
    connect each not-larger neighbour AND u itself to the minimum."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst")).distinct()
    m = e.groupBy("src").agg(F.min("dst").alias("mn"))
    linked = e.join(m, "src").select(F.col("dst").alias("v"), F.col("mn"))
    selfed = m.select(F.col("src").alias("v"), F.col("mn"))
    return (
        linked.union(selfed)
        .where(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _star_components(pairs: DataFrame, max_iters: int = 30) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star until the oriented edge set is
    stable — O(log n) rounds even on adversarial long chains, vs
    O(diameter) for plain label propagation. Returns (star_edges,
    rounds): star_edges links every non-root node directly to its
    component minimum."""
    half = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # localCheckpoint (not just persist): each round's plan builds on the
    # previous round's, so without truncation the logical plan TRIPLES per
    # round and Catalyst planning time explodes exponentially with round
    # count. On a cluster this would be reliableCheckpoint/a scratch write.
    sym = (
        half.union(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )

    prev_fp = None
    for rounds in range(1, max_iters + 1):
        stepped = _small_star(_large_star(sym)).localCheckpoint()
        # cheap order-invariant fingerprint: ONE action per round
        fp_row = bounded_collect(
            stepped.agg(
                F.count(F.lit(1)).alias("n"),
                # decimal sum: a BIGINT sum of 64-bit hashes overflows ANSI
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
            ),
            1,
            "_star_components fingerprint",
        )[0]
        fp = (fp_row["n"], fp_row["h"])
        if fp == prev_fp:
            return stepped, rounds
        prev_fp = fp
        # small-star output is strictly oriented (src > dst) and distinct,
        # so its symmetric closure is duplicate-free BY CONSTRUCTION — no
        # re-distinct shuffle between rounds (the initial edge set is the
        # only one that needs one, done once above)
        sym = stepped.union(
            stepped.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    raise RuntimeError(f"star components did not converge in {max_iters} rounds")


def _star_clusters(pairs: DataFrame) -> DataFrame:
    """:func:`neardup_clusters` past its edge bound: every node of the
    pair graph, mapped to its component minimum by the star rounds
    (a root has no star edge, so it maps to itself and is canonical)."""
    star, _rounds = _star_components(pairs)
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    return nodes.join(star.withColumnRenamed("src", "node"), "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("dst"), F.col("node")).alias("cluster_id"),
        F.col("dst").isNull().alias("is_canonical"),
    )


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: per-token portable hash, signed bit
    votes, sign → bit. One explode + one aggregation (the 64 votes fuse
    into the same partial-agg pass — no extra shuffle vs 16 bits).

    16 bits collide heavily on real corpora (~2^16 distinct values for
    10⁹ docs); 64 bits is the standard width (Charikar / Manku et al.).
    The two independent 32-bit halves come from disjoint slices of ONE
    sha256 per token — no extra hashing — and are returned as
    ``simhash_hi`` (bits 32-63) and ``simhash_lo`` (bits 0-31) so each
    half stays in unsigned-32 range inside a signed BIGINT, exactly
    reproducible in DuckDB without 2^63 overflow games."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(par).select(
        id_col, F.explode(ws_tokens(F.col(text_col))).alias("token")
    )
    sha = F.sha2(F.col("token"), 256)
    h_lo = F.conv(F.substring(sha, 1, 8), 16, 10).cast("bigint")  # == portable_hash
    h_hi = F.conv(F.substring(sha, 9, 8), 16, 10).cast("bigint")
    votes = [
        F.sum(
            F.when(F.shiftright(h_lo, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(32)
    ] + [
        F.sum(
            F.when(F.shiftright(h_hi, j - 32).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(32, 64)
    ]
    voted = toks.groupBy(id_col).agg(*votes)

    def pack(js: range, base: int) -> F.Column:
        sim = None
        for j in js:
            bit = F.when(F.col(f"v{j}") > 0, F.lit(2 ** (j - base))).otherwise(F.lit(0))
            sim = bit if sim is None else sim + bit
        return sim.cast("bigint")

    return voted.select(
        F.col(id_col),
        pack(range(32, 64), 32).alias("simhash_hi"),
        pack(range(0, 32), 0).alias("simhash_lo"),
    )


def simhash_hamming(hi_a: F.Column, lo_a: F.Column, hi_b: F.Column, lo_b: F.Column) -> F.Column:
    """Hamming distance between two packed 64-bit simhashes — the
    near-dup predicate (typically distance ≤ 3 at 64 bits)."""
    return (
        F.bit_count(hi_a.bitwiseXOR(hi_b)) + F.bit_count(lo_a.bitwiseXOR(lo_b))
    ).cast("bigint")


def exact_dedup(docs: DataFrame, on: F.Column, id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on a canonical content hash: keep the lowest id per
    hash group (deterministic keep-first).

    NULL content is NOT duplicable content: sha2(NULL) is NULL and a
    bare hash partition would group EVERY null-content doc together,
    keeping one and silently discarding the rest (1,000 failed
    extractions → 999 documents gone). NULL-hash rows therefore
    partition by their own id — each survives; only real content
    dedupes."""
    from pyspark.sql import Window

    h = F.sha2(on, 256)
    w = Window.partitionBy(
        h, F.when(h.isNull(), F.col(id_col))
    ).orderBy(F.col(id_col).asc())
    return docs.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def incremental_neardups(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dups of an ARRIVING batch against an EXISTING corpus —
    the incremental form of :func:`minhash_lsh_neardups`. Returns
    cross pairs as (doc_a = corpus-only doc, doc_b = batch doc) plus
    pairs where both docs are batch-present as (doc_a < doc_b), with
    (n_common, jaccard) for each — every near-dup pair exactly ONCE
    even when a doc exists in both inputs; a doc arriving with changed
    text is verified against its BATCH profile (re-arrival = update).

    Both profile tables feed the banding and the verify sides, so they
    are persisted MEMORY_AND_DISK, as in :func:`minhash_lsh_neardups`;
    the caches live in the session's CacheManager until the caller
    unpersists them. Shingles hash with sha256, the default of
    :func:`doc_profiles`.

    Why it matters at 100 TB: when a batch lands you must not re-pair
    the corpus against itself (that work is already done); the only new
    pairs are batch×corpus and batch×batch. Here the batch's band
    buckets are BROADCAST against the corpus banding, so the corpus is
    scanned once and no corpus×corpus bucket join happens at all; the
    batch×batch pairs come from a batch-sized self-join (both sides
    broadcastable). The candidate set is bounded by the batch's bucket
    occupancy. In production the corpus profiles/buckets come from the
    stored index of the previous run (they are recomputed here because
    the fixture has no persisted index — the topology is identical).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    corpus_profiles = doc_profiles(corpus, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    batch_profiles = doc_profiles(batch, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    mh_cols = [f"mh{k}" for k in range(N_MINHASH)]
    cb = band_buckets(corpus_profiles.select(id_col, *mh_cols), id_col)
    bb = band_buckets(batch_profiles.select(id_col, *mh_cols), id_col)
    bb_b = bb.select("band_id", "band_key", F.col(id_col).alias("doc_b"))
    batch_ids = bb.select(F.col(id_col).alias("doc_a")).distinct()
    cands_cross = (
        cb.select("band_id", "band_key", F.col(id_col).alias("doc_a"))
        .join(F.broadcast(bb_b), ["band_id", "band_key"])
        # a doc present in both inputs must not pair with itself
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        # pairs where BOTH docs are in the batch belong to cands_batch
        # (canonical a < b orientation): keeping them here would report
        # the pair TWICE, once per orientation — cross candidates are
        # unoriented when a doc exists in corpus AND batch
        .join(F.broadcast(batch_ids), "doc_a", "left_anti")
    )
    # the arriving batch can contain near-dups of ITSELF — those pairs
    # are also new on arrival; batch-sized self-join, oriented
    # doc_a < doc_b like the full pipeline
    cands_batch = (
        bb.select("band_id", "band_key", F.col(id_col).alias("doc_a"))
        .join(F.broadcast(bb_b), ["band_id", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    cands = cands_cross.unionByName(cands_batch).distinct()
    # deterministic profile for a doc in BOTH inputs: the BATCH copy
    # wins (a re-arrival is an update) — a bare dropDuplicates would
    # verify against an arbitrarily chosen profile when the text changed
    w_prof = Window.partitionBy(id_col).orderBy(F.col("__prio").desc())
    profiles = (
        batch_profiles.withColumn("__prio", F.lit(1))
        .unionByName(corpus_profiles.withColumn("__prio", F.lit(0)))
        .withColumn("__rn", F.row_number().over(w_prof))
        .where(F.col("__rn") == 1)
        .drop("__prio", "__rn")
    )
    return verified_jaccard_profiles(cands, profiles, threshold, id_col)


def duplicate_spans(
    docs: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Passage-level duplicate-SPAN detection — the substring-dedup
    granularity of "Deduplicating Training Data Makes Language Models
    Better" (Lee et al., 2022), re-expressed as bucketed DataFrame ops
    instead of a suffix array: a token n-gram occurring in at least
    ``min_docs`` DISTINCT documents marks its position duplicated, and
    overlapping/adjacent duplicated positions merge into maximal spans.
    Returns ``(doc_id, span_start, span_end, dup_tokens)`` with
    half-open 0-based token-index spans — the rows a curation pipeline
    uses to TRIM repeated boilerplate passages rather than drop whole
    near-duplicate documents (doc-level dedup is `minhash_lsh_neardups`;
    this catches the license header / nav bar / quoted-chunk case those
    miss because the surrounding document is unique).

    Plan shape (the scale contract):
      docs → explode positional shingles          (no shuffle; 8-byte
             hashed keys, never shingle strings)
           → groupBy(key): distinct-doc count     (1 corpus shuffle,
             keep keys in ≥ min_docs docs          map-side partial agg,
                                                   uniform hash keys)
           → hash-join positions back to dup keys (same key partitioning
                                                   — AQE-planned)
           → per-doc window: gaps-and-islands      (partitioned by doc,
             merge, one span row per island)        never global)

    Nothing is quadratic: the dup-key table is bounded by the shingle
    vocabulary, spans are bounded by positions, and no stage ever
    pairs documents. The exact-suffix-array construction would find
    arbitrary-length duplicates; the n-gram form finds every duplicate
    span of length ≥ n (standard practice — Lee et al. §4 uses 50-token
    windows the same way) and is embarrassingly parallel.

    The shingle stage is deliberately derived twice (once under the
    key aggregation, once as the probe side) rather than persisted:
    both derivations are map-only column-pruned scans, while caching
    the exploded positions would hold ~n_tokens × 24 bytes per doc in
    the storage tier — at 100 TB the re-scan is the cheaper side of
    that trade (measured linear through ×1000 in the r9 span soak).
    """
    pos_sh = _positional_shingle_keys(docs, n, id_col, text_col)
    dup_keys = (
        pos_sh.groupBy("k")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("k")
    )
    hits = pos_sh.join(dup_keys, "k").select(id_col, "pos")
    return _positions_to_spans(hits, n, id_col)


def _positional_shingle_keys(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, k): one row per token-``n``-gram OCCURRENCE with its
    0-based start position and 8-byte hashed key — the working set of
    every span-dedup variant. Map-only (repartition spreads the
    CPU-bound explode, doc rows cross the wire, never shingle rows)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(par).select(
        id_col, ws_tokens(F.col(text_col)).alias("toks")
    )
    return toks.select(
        F.col(id_col),
        F.posexplode(shingles_from_tokens(F.col("toks"), n)).alias("pos", "s"),
    ).select(id_col, "pos", F.xxhash64("s").alias("k"))


def _positions_to_spans(
    hits: DataFrame, n: int, id_col: str, flag_col: str | None = None
) -> DataFrame:
    """Gaps-and-islands merge of duplicated positions into maximal
    half-open spans ``[span_start, span_end)``. Window is partitioned
    by document — distributed across docs, never global. With
    ``flag_col`` (an int 0/1 provenance marker on each position),
    islands additionally BREAK at provenance changes and the span
    carries ``in_corpus``: merging mixed-provenance positions into one
    span would mark batch-new content adjacent to stored boilerplate
    as in_corpus and trim it from EVERY arrival with no canonical kept
    (permanent content loss — r10 review); splitting keeps the
    corpus-hit sub-span trim-everywhere and gives the batch-new
    sub-span its election. The sub-spans overlap by up to ``n-1``
    tokens at the seam (each position covers n tokens) — the trim is a
    positional union, so overlap is harmless."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    # equal-length intervals [pos, pos+n): merge when the gap to the
    # previous duplicated position is <= n (overlap or exact adjacency)
    adjacent = F.col("pos") - F.lag("pos").over(w) <= n
    if flag_col is not None:
        adjacent = adjacent & (
            F.col(flag_col) == F.lag(flag_col).over(w)
        )
    brk = F.when(adjacent, F.lit(0)).otherwise(F.lit(1))
    islands = hits.withColumn("island", F.sum(brk).over(w))
    aggs = [
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + n).cast("bigint").alias("span_end"),
    ]
    if flag_col is not None:
        aggs.append((F.max(flag_col) == 1).alias("in_corpus"))
    out_cols = [
        id_col,
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    ]
    if flag_col is not None:
        out_cols.append("in_corpus")
    return islands.groupBy(id_col, "island").agg(*aggs).select(*out_cols)


def span_key_index(
    corpus: DataFrame, n: int = 5,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Distinct shingle-key index ``(k: bigint)`` of a corpus — the
    PERSISTED artifact the incremental span path probes (8 bytes per
    distinct shingle; write it bucketed by ``k`` so per-batch probes
    co-locate without shuffling the index)."""
    return _positional_shingle_keys(corpus, n, id_col, text_col).select("k").distinct()


def append_span_keys(
    index_keys: DataFrame,
    batch: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The O(batch) MAINTENANCE path of the persisted
    :func:`span_key_index` (VERDICT r9 #2): the distinct shingle keys
    of a just-processed batch that are NOT yet in the index — append
    them (``write.mode("append")``, bucketed by ``k`` like the index
    itself) and batch N+1's :func:`incremental_duplicate_spans` probe
    sees batch N's passages without a full index rebuild. Same
    lifecycle as `ivf_append` (vectors slot into a trained index) and
    `append_if_new` (content hashes fold per batch).

    Plan shape — the r9 join-direction discipline: the natural
    ``batch_keys ANTI index`` would shuffle the corpus-sized index
    every batch (Spark broadcasts only the RIGHT side, and the index is
    the right side's opposite). Instead the index is probed WITH the
    batch's distinct keys (``index ⋉ batch_keys`` — batch side small,
    AQE broadcasts it, the index is scanned map-side and never
    shuffled), and the anti join runs against that batch-bounded
    ``matched`` set — both sides small. Appending a duplicate key would
    not corrupt the probe (left-semi tolerates duplicates); the anti
    exists to keep the stored index tight at one row per distinct key.
    """
    # one probe implementation repo-wide (r10 review): delegate to the
    # fused core, persist-free — only the new-keys DAG is consumed
    _, new_keys, _ = span_probe_and_new_keys(
        batch, index_keys, n, id_col, text_col, persist=False
    )
    return new_keys


def span_probe_and_new_keys(
    batch: DataFrame,
    corpus_keys: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    flag_corpus_overlap: bool = False,
    persist: bool = True,
) -> tuple[DataFrame, DataFrame, Callable[[], None]]:
    """THE span probe — the one implementation of the double-semi
    index probe, intra-batch dup detection, and new-key anti (r10
    review: three hand-copies had started to accumulate;
    ``incremental_duplicate_spans`` and ``append_span_keys`` now
    delegate here, so a future change to the probe direction or the
    nd>=2 rule cannot silently diverge).

    Fused streaming-sink shape: calling the two public ops separately
    scans the corpus-sized key index TWICE per micro-batch (each
    independently computes ``index ⋉ batch_keys``), doubling the
    per-batch index I/O that the growth soak's flat-cost claim rests
    on. With ``persist=True`` the probe's ``matched`` set
    (batch-bounded) and the batch's distinct keys are PERSISTED, so
    the first action materialises the single index scan and the second
    consumer reuses the cache: spans and new keys from ONE probe.
    ``persist=False`` (the delegating single-consumer ops) skips the
    caching and ``release`` is a no-op.

    Returns ``(spans, new_keys, release)``; call ``release()`` after
    both DataFrames have been consumed (written/collected) to drop the
    cached intermediates — essential in a long-running stream, where
    leaked per-batch caches grow without bound.

    With ``flag_corpus_overlap=True`` the spans carry an ``in_corpus``
    boolean: whether ANY position of the span matched the stored index
    (vs duplicated only within this batch). The streaming
    keep-canonical trim needs it — content already stored must be
    trimmed from EVERY arrival (its canonical survived in an earlier
    batch), while batch-new content keeps its lowest occurrence.
    """
    from pyspark import StorageLevel

    batch_sh = _positional_shingle_keys(batch, n, id_col, text_col)
    batch_keys = batch_sh.select("k").distinct()
    if persist:
        batch_keys = batch_keys.persist(StorageLevel.MEMORY_AND_DISK)
    matched = corpus_keys.join(batch_keys, "k", "left_semi")
    if persist:
        matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
    hits_corpus = batch_sh.join(matched, "k", "left_semi")
    batch_dup = (
        batch_sh.groupBy("k")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("k")
    )
    hits_batch = batch_sh.join(batch_dup, "k", "left_semi")
    if flag_corpus_overlap:
        hits = (
            hits_corpus.select(id_col, "pos", F.lit(1).alias("__corp"))
            .unionByName(
                hits_batch.select(id_col, "pos", F.lit(0).alias("__corp"))
            )
            .groupBy(id_col, "pos")
            .agg(F.max("__corp").alias("__corp"))
        )
        spans = _positions_to_spans(hits, n, id_col, flag_col="__corp")
    else:
        hits = (
            hits_corpus.select(id_col, "pos")
            .unionByName(hits_batch.select(id_col, "pos"))
            .distinct()
        )
        spans = _positions_to_spans(hits, n, id_col)
    new_keys = batch_keys.join(matched, "k", "left_anti")

    def release() -> None:
        if persist:
            matched.unpersist()
            batch_keys.unpersist()

    return spans, new_keys, release


def incremental_duplicate_spans(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_keys: DataFrame | None = None,
) -> DataFrame:
    """Duplicate spans for an ARRIVING BATCH only — the incremental
    companion of :func:`duplicate_spans`, same lifecycle as
    `incremental_neardups`/`assign_cells`: a batch position is
    duplicated when its shingle occurs anywhere in the existing corpus
    OR in another batch document (the batch can duplicate itself), and
    only BATCH spans are emitted. O(batch) span work: the corpus
    contributes one distinct-key index probe, never a re-scan of its
    positions, and nothing corpus-sized flows into the window.

    Pass ``corpus_keys`` (a persisted :func:`span_key_index`, read back
    from storage) to skip re-deriving the index from corpus text — the
    production shape: per-batch cost is then the batch's own shingle
    work plus one probe of the stored key table (and with the index
    written BUCKETED by ``k``, that probe co-locates shuffle-free).
    When only ``corpus`` is given, the index is derived inline because
    the fixture persists none — identical topology, corpus-scan cost
    attached (same note as `incremental_neardups`; the r9 span soak
    measures both forms).
    """
    if corpus_keys is None:
        if corpus is None:
            raise ValueError(
                "incremental_duplicate_spans: pass corpus_keys (stored "
                "span_key_index) or corpus (index derived inline)"
            )
        corpus_keys = span_key_index(corpus, n, id_col, text_col)
    # in-corpus hit, as a DOUBLE SEMI rather than `batch ⋉ index`: Spark
    # can only broadcast the RIGHT side of a left-semi join, so the
    # direct form shuffles the corpus-sized index every batch (measured:
    # the 230M-key SMJ dominated the ×1000 probe in the r9 span soak).
    # Probing the index WITH the batch's distinct keys first keeps both
    # small sides on the right — AQE broadcasts them at runtime — and
    # the index is scanned map-side, never shuffled. One probe
    # implementation repo-wide (r10 review): this delegates to the
    # fused core, persist-free — only the spans DAG is consumed.
    spans, _, _ = span_probe_and_new_keys(
        batch, corpus_keys, n, id_col, text_col, persist=False
    )
    return spans


def non_canonical_spans(
    docs: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The keep-one-canonical TRIM SET: every span row except the
    lowest-(doc_id, span_start) occurrence of each distinct covered
    token sequence. Input spans are deduped on (id, start, end) first —
    idempotence under at-least-once span materialisation (r10 review:
    a replayed span row would get rn=2 at the canonical's exact
    coordinates and trim the survivor). The election windows over a
    fixed-width 64-char sha2-256 content digest (full digest, not a
    truncation: the election merges GROUPS, so a hash collision would
    trim a non-duplicate occurrence). Public: the streaming trim
    composes it with span provenance (ingest.span_dedup_stream)."""
    from pyspark.sql import Window

    spans = spans.dropDuplicates([id_col, "span_start", "span_end"])
    toks_by_doc = docs.select(
        F.col(id_col), ws_tokens(F.col(text_col)).alias("__toks")
    )
    content = spans.join(toks_by_doc, id_col).select(
        id_col,
        "span_start",
        "span_end",
        F.sha2(
            F.array_join(
                F.slice(
                    F.col("__toks"),
                    (F.col("span_start") + 1).cast("int"),
                    (F.col("span_end") - F.col("span_start")).cast("int"),
                ),
                " ",
            ),
            256,
        ).alias("__ch"),
    )
    w = Window.partitionBy("__ch").orderBy(
        F.col(id_col).asc(), F.col("span_start").asc()
    )
    return (
        content.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(id_col, "span_start", "span_end")
    )


def trim_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_canonical: bool = False,
) -> DataFrame:
    """Rewrite each document with its duplicate spans REMOVED — the
    consumer op that makes span detection actionable (Lee et al. 2022
    train on the trimmed corpus). ``spans`` is
    :func:`duplicate_spans`-shaped ``(id, span_start, span_end, ...)``.
    Returns ``(id, text, n_tokens_removed)`` with surviving tokens
    re-joined by single spaces.

    Two deletion semantics (VERDICT r9 #3):

    * ``keep_canonical=False`` (default) — Lee et al.'s aggressive
      ExactSubstr: EVERY occurrence of a duplicated span is removed,
      so duplicated content vanishes from the corpus entirely.
    * ``keep_canonical=True`` — curation semantics: for each distinct
      covered TOKEN SEQUENCE, the canonical occurrence — lowest
      ``(doc_id, span_start)``, the doc-level family's ``is_canonical``
      convention (:func:`neardup_clusters`) — survives the trim, so
      duplicated content is kept exactly once. Occurrences whose
      maximal merged extents differ are different token sequences and
      each keeps its own canonical (the conservative reading: merging
      decided they were different passages).

    Plan shape: spans aggregate to ONE array row per spanned doc (spans
    per doc are few — they merged maximally), broadcast-or-hash joined
    LEFT onto the docs; the removal itself is a positional lambda
    filter over the token array — map-side, no explode, no shuffle of
    token rows. Docs with no spans pass through untouched (empty span
    array), so the output is exactly corpus-sized. The canonical
    election adds one spans-sized join back to docs (to slice each
    span's covered tokens) and a window PARTITIONED BY CONTENT HASH —
    distributed across distinct passages, never global, and the token
    slice crosses the wire as a fixed-width 64-char sha2-256 digest,
    never the unbounded passage text (full digest, not a truncation:
    the election merges GROUPS, so a hash collision would trim a
    non-duplicate occurrence — 256 bits keeps that impossible in
    practice where an 8-byte key would make it merely unlikely).
    """
    if keep_canonical:
        spans = non_canonical_spans(docs, spans, id_col, text_col)
    span_arrays = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__spans")
    )
    toks = ws_tokens(F.col(text_col))
    in_span = lambda i: F.exists(  # noqa: E731
        F.col("__spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
    )
    kept = F.filter(toks, lambda t, i: ~in_span(i))
    return (
        docs.join(span_arrays, id_col, "left")
        .withColumn(
            "__spans",
            F.coalesce(
                F.col("__spans"),
                F.array().cast("array<struct<s:bigint,e:bigint>>"),
            ),
        )
        .select(
            id_col,
            F.array_join(kept, " ").alias(text_col),
            (F.size(toks) - F.size(kept)).cast("bigint").alias(
                "n_tokens_removed"
            ),
        )
    )


def contamination_spans(
    train: DataFrame,
    eval_docs: DataFrame | None = None,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_keys: DataFrame | None = None,
) -> DataFrame:
    """SPAN-level benchmark decontamination: the exact token spans of
    each TRAINING document that overlap the eval corpus (any shared
    token ``n``-gram), merged maximally. Where q59's doc-level count
    says *whether* a train doc is contaminated, this says *where* — the
    output feeds :func:`trim_duplicate_spans` directly, so leaked eval
    passages can be cut without dropping the surrounding document (the
    standard remedy when the contaminated doc is otherwise valuable).

    Pass ``eval_keys`` (a persisted :func:`span_key_index` of the
    benchmark suite) in production — benchmark corpora are small, so
    the key table broadcasts and the train side streams map-side with
    no corpus shuffle before the per-doc span merge. Only train↔eval
    overlap is flagged; train↔train duplication is
    :func:`duplicate_spans`' job.
    """
    if eval_keys is None:
        if eval_docs is None:
            raise ValueError(
                "contamination_spans: pass eval_keys (stored "
                "span_key_index of the benchmark) or eval_docs"
            )
        eval_keys = span_key_index(eval_docs, n, id_col, text_col)
    hits = (
        _positional_shingle_keys(train, n, id_col, text_col)
        .join(eval_keys, "k", "left_semi")
        .select(id_col, "pos")
    )
    return _positions_to_spans(hits, n, id_col)
