"""Similarity search over embedding columns (north-star surface,
BASELINE.json: ANN over ``array<float>``).

One production form per operator, one copy of each shared stage:
- :func:`brute_force_topk` — exact cosine top-k; the correctness
  baseline. O(queries × corpus) but fully distributed: queries
  broadcast, one corpus scan, per-partition partial top-k via window.
- :func:`lsh_topk` — random-hyperplane LSH: sign-bit bucket join
  prunes the corpus to same-bucket candidates before exact scoring —
  the 100 TB path (corpus scanned once, bucket keys uniform, no
  cross join). Hyperplanes are derived deterministically from sha256
  so results are reproducible run-to-run and engine-to-engine.
- :func:`kmeans_cells` / :func:`assign_cells` — the deterministic
  integer-space IVF quantiser. Its Lloyd rounds run on the driver from
  one bounded Arrow collect (on Spark past the bound). Every assignment
  pass runs the one Arrow kernel (:func:`_assign_rows`) against
  driver-held centroids; its pure-SQL spec is a test oracle
  (``tests/ivf_oracles.py``).
- :func:`ivf_search` / :func:`ivf_search_budget` — serving over a
  prebuilt index; both share the probe-d² stage and the scoring join
  and differ only in how a query picks its cells.
- :func:`semantic_dedup` — the per-cell pair max runs in one Arrow
  pair kernel; a cell too big in BYTES for one pandas group falls
  back to the spillable SQL self-join (a memory guard decided from
  the observed cell size, not a kernel option).

Every top-k ranks ``score desc, match_id asc`` through :func:`_top_k`.
Pair scoring hoists the double array and its norm once per ROW
(:func:`vec_side`) and pays one fold per pair (:func:`cosine_hoisted`).
The dot product is ``F.aggregate(F.zip_with(...))`` over doubles —
verified bit-identical to DuckDB's ``list_dot_product`` (element-order
summation), which makes even the floating-point cosine oracle-exact.
"""

from __future__ import annotations

import sys
from collections.abc import Sequence

from pyspark import cloudpickle
from pyspark.sql import DataFrame, Window, functions as F

from football_lakehouse_spark.functions.guards import (
    CONTROL_PLANE_BOUND,
    CollectBoundExceeded,
    bounded_arrow,
    bounded_collect,
    local_frame,
    plan_bytes,
)

# Python workers cannot `import football_lakehouse_spark` (the package is
# not on their path when a driver harness runs from another cwd), so the
# assignment kernel's module-level helpers ship BY VALUE inside its
# mapInPandas closure — the worker-shipping contract of
# operators/multimodal.py.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

DIM = 64


def as_double(v: F.Column) -> F.Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def per_row_scalar(vec: F.Column, scalar: F.Column, f) -> F.Column:
    """Apply ``f(element, scalar)`` to every element of ``vec`` with
    ``scalar`` evaluated ONCE PER ROW: zip the array against
    ``array_repeat(scalar, size(vec))``. Embedding a non-trivial scalar
    (an O(dim) fold like a norm or max-abs scale) inside a
    ``transform`` lambda re-evaluates it per ELEMENT — O(dim²) per row,
    measured 15× slower on the sf0.1 embeddings — and a two-projection
    hoist is not robust because CollapseProject re-inlines any
    single-reference produced column regardless of cost (r14)."""
    return F.zip_with(vec, F.array_repeat(scalar, F.size(vec)), f)


def micro_qvec(vec_col: F.Column, normalize: bool = False) -> F.Column:
    """Micro-quantised integer components (``floor(x·10⁶)`` per
    element, optionally after L2 normalisation) — the exact arithmetic
    space the deterministic k-means runs in, as ONE per-row-safe
    expression (norm via :func:`per_row_scalar`). Value-identical to
    the pre-r14 nested-transform form (same casts, same IEEE divide,
    same floor — verified element-wise on the sf0.1 embeddings)."""
    vd = as_double(vec_col)
    if not normalize:
        return F.transform(vd, lambda x: F.floor(x * 1000000).cast("bigint"))
    nrm = F.sqrt(dot(vd, vd))
    return per_row_scalar(
        vd,
        nrm,
        lambda x, nv: F.floor(
            F.when(nv > 0, x / nv).otherwise(F.lit(0.0)) * 1000000
        ).cast("bigint"),
    )


def vec_side(
    df: DataFrame, id_col: str, vec_col: str,
    id_alias: str, vec_alias: str, nrm_alias: str,
    extra: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """One side of a pair-scoring join: ``(id, vec double[], nrm)``
    with the cast array and its L2 norm materialised ONCE PER ROW (two
    stacked projections — the norm is referenced twice downstream, so
    CollapseProject keeps it materialised instead of re-inlining the
    O(dim) fold). The per-PAIR score is then a single zip_with fold
    (:func:`cosine_hoisted`), where an inline cosine over the raw
    arrays re-folds both self-dots and the casts per pair (~5 folds,
    measured ~4× slower on the sf0.1 embeddings, r14).
    ``extra`` carries additional ``(source, alias)`` columns through
    (labels, payloads) so label-filtered scoring paths can ride the
    same hoist (r15)."""
    vd = as_double(F.col(vec_col))
    return df.select(
        F.col(id_col).alias(id_alias),
        vd.alias(vec_alias),
        F.sqrt(dot(vd, vd)).alias(nrm_alias),
        *[F.col(src).alias(dst) for src, dst in extra],
    )


def cosine_hoisted(
    av: F.Column, bv: F.Column, an: F.Column, bn: F.Column
) -> F.Column:
    """Cosine similarity over pre-materialised double arrays and norms
    (:func:`vec_side`), one fold per pair. NULL when either vector has
    zero norm — the same value DuckDB's x/0 yields, so the oracle twins
    agree, and the engine never ANSI-crashes on a degenerate vector at
    scale. ``an·bn`` is the same double product as
    ``sqrt(dot(a,a))·sqrt(dot(b,b))``, so the value is bit-identical to
    the oracle's per-pair expression."""
    denom = an * bn
    return F.when(denom > 0, dot(av, bv) / denom)


def _top_k(scored: DataFrame, k: int, score: str = "cos_sim") -> DataFrame:
    """The shared top-k tail of every search: per query, rank by
    ``score`` descending with ties to the lower ``match_id`` (so results
    are deterministic), keep ``rank <= k``, and return ``scored``'s
    columns plus ``rank``. The window is WindowGroupLimit-bounded
    map-side."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(*scored.columns, "rank")
    )


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast (the small
    side by contract); ranking is a window over (query, score desc)."""
    # norms hoisted per SIDE (vec_side): the pair stage pays one fold
    q = vec_side(queries, id_col, vec_col, "query_id", "query_vec", "q_nrm")
    # embedding tables pack many rows per file split; the scoring stage is
    # CPU-bound → spread the corpus across executors first
    par = corpus.sparkSession.sparkContext.defaultParallelism
    c = vec_side(
        corpus.repartition(par), id_col, vec_col, "match_id", "match_vec", "m_nrm"
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            cosine_hoisted(
                F.col("query_vec"), F.col("match_vec"),
                F.col("q_nrm"), F.col("m_nrm"),
            ).alias("cos_sim"),
        )
    )
    return _top_k(scored, k)


def quantize_int8_hoisted(vec: F.Column) -> F.Column:
    """Symmetric per-vector int8 quantisation: scale = max|x|, each
    component rounds half-up to ``floor(x·127/scale + 0.5)`` ∈ [-127,
    127] — the embedding STORAGE path, 4-8× smaller than float arrays.
    Quantised components are small integers, so dot products are exact
    in doubles: scoring is order-independent and bit-identical
    cross-engine. Cosine is scale-invariant, so the scale is never
    applied back for ranking. The scale is evaluated once per ROW
    (:func:`per_row_scalar`), not re-folded per component."""
    d = F.transform(vec, lambda x: x.cast("double"))
    s = F.array_max(F.transform(d, lambda x: F.abs(x)))
    return per_row_scalar(
        d, s,
        lambda x, sv: F.floor(x * F.lit(127.0) / sv + F.lit(0.5)).cast("bigint"),
    )


def _qdot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def quantized_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k over int8-quantised vectors — the storage-compressed
    variant of :func:`brute_force_topk`. Output carries the exact
    integer dot product (``qdot``) alongside the quantised cosine;
    ranking ties break on match_id so results are deterministic even if
    two candidates quantise identically."""
    # quantisation + self-norm hoisted per SIDE; the pair stage then
    # pays exactly ONE integer fold (qdot), referenced twice through a
    # stacked projection instead of being inlined twice (r14)
    qq = quantize_int8_hoisted(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        qq.alias("query_vec"),
    ).select(
        "query_id", "query_vec",
        F.sqrt(_qdot(F.col("query_vec"), F.col("query_vec")).cast("double"))
        .alias("q_nrm"),
    )
    par = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.repartition(par).select(
        F.col(id_col).alias("match_id"),
        qq.alias("match_vec"),
    ).select(
        "match_id", "match_vec",
        F.sqrt(_qdot(F.col("match_vec"), F.col("match_vec")).cast("double"))
        .alias("m_nrm"),
    )
    qv, mv = F.col("query_vec"), F.col("match_vec")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            _qdot(qv, mv).alias("qdot"),
            (F.col("q_nrm") * F.col("m_nrm")).alias("__denom"),
        )
        .select(
            "query_id",
            "match_id",
            "qdot",
            (F.col("qdot").cast("double") / F.col("__denom")).alias("cos_q"),
        )
    )
    return _top_k(scored, k, score="cos_q")


def hyperplane(seed: int, dim: int = DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane from sha256 — reproducible
    everywhere, no RNG state."""
    import hashlib

    out = []
    for j in range(dim):
        h = hashlib.sha256(f"hp§{seed}§{j}".encode()).hexdigest()[:8]
        out.append((int(h, 16) % 2001 - 1000) / 1000.0)
    return out


def lsh_bucket(
    vec_col: F.Column, planes: list[list[float]], already_double: bool = False
) -> F.Column:
    """Sign-bit bucket id: bit b = (v · plane_b) >= 0.

    ``already_double=True`` skips the per-plane element cast — pass it
    when ``vec_col`` is a pre-materialised double array (e.g. a
    :func:`vec_side` column): the inline ``as_double`` transform is
    otherwise re-evaluated once PER PLANE (r14)."""
    vd = vec_col if already_double else as_double(vec_col)
    acc = F.lit(0).cast("bigint")
    for b, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(vd, lit_plane) >= 0, F.lit(2 ** b)).otherwise(F.lit(0))
        acc = acc + bit
    return acc


def _quantized_components(
    df: DataFrame, id_out: str, id_col: str, vec_col: str,
    normalize: bool = False,
) -> DataFrame:
    """(id, pos, qx) rows with each component floor-quantised to integer
    micro-units — the exact arithmetic space the deterministic k-means
    runs in (float sums are order-dependent; integer sums are not).

    ``normalize=True`` divides by the L2 norm BEFORE quantising, so
    Euclidean cells become direction (cosine) cells — what semantic
    dedup wants (scaled copies of a vector must land together). The
    norm is the element-order dot — the same expression shape as the
    SQL oracle, so quantisation stays bit-identical cross-engine.
    A ZERO vector has no direction: it quantises to all-zero components
    (guarded — an unguarded x/0 yields NULL components that crash the
    assignment kernel's int64 conversion mid-stage, or silently ride
    NULL arithmetic through a SQL d² sum)."""
    return df.select(
        F.col(id_col).alias(id_out),
        F.posexplode(micro_qvec(F.col(vec_col), normalize)).alias("pos", "qx"),
    )


def _vector_error(rid, length: int | None, dim: int) -> ValueError:
    """The named data error of a NULL (``length`` None) or ragged
    embedding, shared by the assignment kernel and the driver-tier
    Lloyd rounds so both paths fail with one message."""
    got = "NULL" if length is None else f"dim {length}"
    return ValueError(
        f"assign_cells: vector {rid!r} has {got}, centroids have dim "
        f"{dim} — embeddings must be non-null fixed-width arrays"
    )


def _centroid_matrix(crows: Sequence[tuple]):
    """``(cell_ids, cmat)`` from driver-held ``(cell, pos, cq)`` rows:
    cells ascending, so a first-minimum argmin over the columns is the
    lower-cell tie-break."""
    import numpy as np

    if not crows:
        # an empty quantiser means the caller skipped training — a
        # named error beats silently assigning nothing
        raise ValueError("assign_cells: empty centroid table")
    cells = sorted({c for c, _p, _q in crows})
    dim = max(p for _c, p, _q in crows) + 1
    cmat = np.zeros((len(cells), dim), dtype=np.int64)
    cidx = {c: i for i, c in enumerate(cells)}
    for c, p, q in crows:
        cmat[cidx[c], p] = q
    return np.array(cells, dtype=np.int64), cmat


def _nearest(q, cmat, c2):
    """Row index of each vector's nearest centroid and its d², in exact
    int64: ``|q|² + |c|² − 2 q·c``; components ≤ 1e6, so every term is
    ≤ dim·1e12, far under 2^63. ``argmin`` takes the first minimum,
    i.e. the lower cell."""
    import numpy as np

    d2m = (q * q).sum(axis=1)[:, None] + c2[None, :] - 2 * (q @ cmat.T)
    j = d2m.argmin(axis=1)
    return j, d2m[np.arange(len(j)), j]


def _assign_rows(
    vectors: DataFrame, crows: Sequence[tuple], *,
    id_col: str, vec_col: str, id_out: str, normalize: bool,
    with_d2: bool = False, keep_qvec: bool = False,
) -> DataFrame:
    """The assignment kernel, over a DRIVER-HELD centroid list
    ``[(cell, pos, cq), ...]`` (control-plane: n_cells×dim tuples).
    Shared by :func:`assign_cells` (which collects its centroid table
    first) and :func:`kmeans_cells`, which already holds its centroids
    as rows."""
    import numpy as np

    # zero-norm guard (inside micro_qvec — a zero vector "normalizes"
    # to itself): the bare x/nrm twin CRASHED under ANSI on a zero
    # vector (r13 fuzz sweep witness) while the DuckDB oracles return
    # NULL; zero-norm vectors are out-of-contract for the oracle twins
    # (documented there), but the ENGINE must never crash on one at
    # scale. The norm is evaluated once per ROW (per_row_scalar, r14).
    qvecs = vectors.select(
        F.col(id_col).alias(id_out),
        micro_qvec(F.col(vec_col), normalize).alias("qvec"),
    )
    id_field = vectors.schema[id_col].dataType.simpleString()
    cell_ids, cmat = _centroid_matrix(crows)
    dim = cmat.shape[1]
    c2 = (cmat * cmat).sum(axis=1)

    def _assign_batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            # validate before np.stack: a null or ragged embedding
            # otherwise dies inside numpy with an opaque executor
            # traceback instead of a named data error
            for rid, v in zip(pdf[id_out], pdf["qvec"]):
                if v is None or len(v) != dim:
                    raise _vector_error(rid, None if v is None else len(v), dim)
            q = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["qvec"]]
            )
            j, d2 = _nearest(q, cmat, c2)
            out = {
                id_out: pdf[id_out],
                "cell": cell_ids[j].astype("int32"),
            }
            if with_d2:
                out["d2"] = d2
            if keep_qvec:
                out["qvec"] = pdf["qvec"]
            yield pd.DataFrame(out)

    schema = (
        f"{id_out} {id_field}, cell int"
        + (", d2 bigint" if with_d2 else "")
        + (", qvec array<bigint>" if keep_qvec else "")
    )
    return qvecs.mapInPandas(_assign_batches, schema)


def assign_cells(
    vectors: DataFrame, centroids: DataFrame, *,
    id_col: str = "vec_id", vec_col: str = "embedding", id_out: str = "vec_id",
    normalize: bool = False, with_d2: bool = False, keep_qvec: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest FROZEN centroid — the shared
    assignment kernel of :func:`kmeans_cells` (each Lloyd round) and the
    incremental-index append path (q128: new vectors slot into an
    already-trained IVF without retraining).

    One ``mapInPandas`` pass (:func:`_assign_rows`) computing exact
    int64 ``d² = |q|² + |c|² − 2·q@Cᵀ`` with numpy integer matmul
    against the collected centroid matrix (control-plane: n_cells×dim
    rows). Argmin over cell-ascending rows reproduces the lower-cell
    tie-break. This exists because Spark's higher-order lambdas
    (``zip_with``/``aggregate``) evaluate per element OUTSIDE
    whole-stage codegen — measured in the r8 composed rehearsal, the
    fold form made a 200k×160-cell assignment the pipeline bottleneck,
    and at 16 cells the matmul still wins 2.5× (r14); the Arrow form is
    the sanctioned vectorized surface for exactly this dense-numeric
    kernel (same Arrow batching as the multimodal ops; never
    row-at-a-time Python). The pure-expression fold (a packed centroid
    array and ``array_min`` over ``struct(d2, cell)``) is the
    bit-identical reference oracle in ``tests/ivf_oracles.py``.

    ``keep_qvec=True`` additionally returns the quantised ``qvec``
    column — the Lloyd centroid update consumes it directly, so the
    update needs no corpus-keyed join back to the components (r14).

    Exact integer sums, ties to the lower cell id, one narrow pass over
    ``vectors`` regardless of corpus size — the property that makes
    incremental append O(batch), not O(corpus).

    EAGER ACTION at plan-build time (not at the first downstream
    action — same disclosure contract as blocking.assert_candidate_volume):
    one collect of the centroid table (control-plane: n_cells×dim
    rows). An empty centroid table raises ``ValueError`` at build time;
    a NULL or ragged embedding raises a named ``ValueError`` when the
    plan runs.
    """
    crows = [
        (r["cell"], r["pos"], r["cq"])
        for r in bounded_collect(
            centroids.select("cell", "pos", "cq"),
            CONTROL_PLANE_BOUND,
            "assign_cells centroid table",
        )
    ]
    return _assign_rows(
        vectors, crows, id_col=id_col, vec_col=vec_col, id_out=id_out,
        normalize=normalize, with_d2=with_d2, keep_qvec=keep_qvec,
    )


#: driver-tier bound of :func:`kmeans_cells`: the quantised training
#: set it collects (rows × dim × 8 B of int64 components) to run the
#: Lloyd rounds in numpy. Past it the rounds run on Spark. 256 MB is
#: 128× the sf0.1 corpus (2000 × 64) and a small share of a driver heap.
_LLOYD_DRIVER_MAX_BYTES = 256_000_000


def _lloyd_on_driver(
    qtrain: DataFrame, n_cells: int, iters: int, id_out: str
) -> list[tuple] | None:
    """:func:`kmeans_cells`' seeding and Lloyd rounds over ONE bounded
    Arrow collect of the quantised training set ``(id_out, qvec)``;
    the final centroid rows ``[(cell, pos, cq), ...]``, or ``None``
    when the set is past ``_LLOYD_DRIVER_MAX_BYTES``. The arithmetic is
    the Spark rounds', step for step: seeds are the ``n_cells`` lowest
    ids, d² is exact int64 (:func:`_nearest`), ties go to the lower
    cell, the update is ``floor(float(sum) / count)`` and a cell that
    gets no members is dropped. The data errors are the Spark rounds'
    too, raised here at build time."""
    import numpy as np
    import pyarrow.compute as pc

    budget = _LLOYD_DRIVER_MAX_BYTES
    # a parquet source estimates as its compressed bytes, where the
    # collect holds int64 components: double it for float32 embeddings
    # (a float64 corpus is over-counted, which errs toward Spark)
    est = plan_bytes(qtrain)
    if est is not None and 2 * est > budget:
        return None
    try:
        tbl = bounded_arrow(
            qtrain, min(CONTROL_PLANE_BOUND, budget // 8),
            "kmeans_cells training set",
        )
    except CollectBoundExceeded:
        return None
    if tbl.nbytes > budget:
        return None
    tbl = tbl.sort_by([(id_out, "ascending")], null_placement="at_start")
    n = tbl.num_rows
    if n < n_cells:
        raise ValueError(
            f"kmeans_cells: training set has {n} vectors "
            f"< n_cells={n_cells}"
        )
    ids = tbl.column(id_out).to_pylist()
    qv = tbl.column("qvec").combine_chunks()
    lens = pc.list_value_length(qv).fill_null(-1).to_numpy()
    for i in range(n_cells):
        if lens[i] < 0:
            raise ValueError(
                f"kmeans_cells: seed vector {ids[i]!r} has a NULL "
                "embedding — init vectors must be non-null arrays"
            )
    seeds = qv.slice(0, n_cells).to_pylist()
    cells, cmat = _centroid_matrix(
        [(c, p, q) for c, v in enumerate(seeds) for p, q in enumerate(v)]
    )
    dim = cmat.shape[1]
    bad = np.flatnonzero(lens != dim)
    if len(bad):
        i = int(bad[0])
        raise _vector_error(ids[i], None if lens[i] < 0 else int(lens[i]), dim)
    # zero-copy: a NULL component fails loudly here instead of riding
    # into the int64 sums as garbage
    q = qv.flatten().to_numpy().reshape(n, dim)
    # row blocks bound the n × n_cells d² matrix
    step = max(1, (1 << 22) // len(cells))
    for _ in range(iters):
        c2 = (cmat * cmat).sum(axis=1)
        j = np.concatenate([
            _nearest(q[r0:r0 + step], cmat, c2)[0] for r0 in range(0, n, step)
        ])
        order = np.argsort(j, kind="stable")
        js = j[order]
        starts = np.flatnonzero(np.r_[True, js[1:] != js[:-1]])
        sums = np.add.reduceat(q[order], starts, axis=0)
        counts = np.diff(np.r_[starts, n])
        cmat = np.floor(sums / counts[:, None]).astype(np.int64)
        cells = cells[js[starts]]
    return [
        (int(c), p, v)
        for c, row in zip(cells, cmat.tolist())
        for p, v in enumerate(row)
    ]


def kmeans_cells(
    corpus: DataFrame, n_cells: int = 16, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding", id_out: str = "vec_id",
    normalize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """DETERMINISTIC k-means coarse quantiser shared by IVF ANN (q51)
    and semantic dedup (q101): returns ``(assignments, centroids)``
    where assignments is ``(id_out, cell)`` over the whole corpus and
    centroids is ``(cell, pos, cq)`` in micro-quantised integer space.

    Lloyd's algorithm run entirely in integer space: components are
    ``floor(x·1e6)`` bigints, distances are exact integer sums,
    centroid updates are ``floor(sum/count)``, init is the ``n_cells``
    lowest-id vectors, and ties break on the lower cell id. Every step
    is therefore partition-invariant and reproducible in plain SQL —
    unlike ``pyspark.ml`` KMeans, whose k-means|| init samples
    per-partition RNG streams and yields different centers under
    different input partitionings.

    Scale contract: the rounds run on the DRIVER while the quantised
    training set fits ``_LLOYD_DRIVER_MAX_BYTES`` (train rows × dim ×
    8 B): one bounded Arrow collect, then seeding and every Lloyd
    round in numpy with the Spark rounds' exact integer arithmetic —
    one job where the Spark rounds cost one per round plus the seed
    collect (:func:`_lloyd_on_driver`). The bound is checked against
    the optimizer's size estimate before the collect and against the
    collected table's bytes after it. Past it, the rounds run on
    Spark over a persisted, repartitioned corpus: cell assignment is
    one NARROW pass against driver-held centroids, and each round's
    centroid update explodes the already-assigned rows by component
    and partial-aggregates map-side, so the only exchange per round
    carries ≈ n_cells×dim×n_tasks partial rows — never the corpus.
    Both paths give identical centroids (forced-bound tests). Centroid
    sums stay exact below 2^53 (qx ≤ 1e6 per component → safe past 1e9
    members per cell). Either way the returned assignment is the lazy
    :func:`_assign_rows` pass over the corpus as the caller partitioned
    it: past the bound the repartitioned cache is unpersisted before
    returning, so a training leaves no cache behind on either path.

    EAGER ACTIONS at plan-build time. On the driver path a NULL seed,
    a NULL or ragged training vector and a training set smaller than
    ``n_cells`` raise their named ``ValueError`` at build time, even
    with ``iters=0``; on the Spark path a bad non-seed vector raises
    when the first round (or, with ``iters=0``, the returned plan)
    runs.
    """
    spark = corpus.sparkSession

    def quantised(df: DataFrame) -> DataFrame:
        # the exact space the kernel's d² runs in
        return df.select(
            F.col(id_col).alias(id_out),
            micro_qvec(F.col(vec_col), normalize).alias("qvec"),
        )

    def assign(
        vectors: DataFrame, rows: list, keep_qvec: bool = False
    ) -> DataFrame:
        return _assign_rows(
            vectors, rows, id_col=id_col, vec_col=vec_col, id_out=id_out,
            normalize=normalize, keep_qvec=keep_qvec,
        )

    crows = _lloyd_on_driver(quantised(corpus), n_cells, iters, id_out)
    if crows is None:
        # past the driver bound: the rounds run on Spark. Embedding
        # tables pack many rows per file split and every round is
        # CPU-bound → spread the corpus across executors first (same
        # rationale as brute_force_topk). The corpus is the working
        # set of EVERY round (the seed collect, then one assignment
        # pass + centroid update per round) — persist it once so each
        # round reads the cached rows instead of re-scanning and
        # re-decoding the source parquet
        par = spark.sparkContext.defaultParallelism
        train = corpus.repartition(par).persist()
        try:
            # init seeds: the n_cells lowest-id QUANTISED training
            # vectors, cell = 0..n_cells-1 in id order (control-plane:
            # n_cells×dim)
            seed_rows = bounded_collect(
                quantised(train).orderBy(id_out).limit(n_cells),
                n_cells,
                "kmeans_cells init seeds",
            )
            if len(seed_rows) < n_cells:
                raise ValueError(
                    f"kmeans_cells: training set has {len(seed_rows)} vectors "
                    f"< n_cells={n_cells}"
                )
            for r in seed_rows:
                if r["qvec"] is None:
                    raise ValueError(
                        f"kmeans_cells: seed vector {r[id_out]!r} has a NULL "
                        "embedding — init vectors must be non-null arrays"
                    )
            crows = [
                (c, p, int(q))
                for c, r in enumerate(seed_rows)
                for p, q in enumerate(r["qvec"])
            ]
            # each round: ONE job — the assignment carries qvec
            # through, the update explodes the assigned rows and
            # partial-aggregates map-side (≈ n_cells×dim partials per
            # task cross the round's only exchange), and the result is
            # collected straight back to the driver for the next
            # round's kernel
            for _ in range(iters):
                assigned = assign(train, crows, keep_qvec=True)
                upd = (
                    assigned.select(
                        "cell", F.posexplode("qvec").alias("pos", "cq")
                    )
                    .groupBy("cell", "pos")
                    .agg(
                        F.floor(F.sum("cq") / F.count(F.lit(1)))
                        .cast("bigint").alias("cq")
                    )
                )
                crows = sorted(
                    (r["cell"], r["pos"], int(r["cq"]))
                    for r in bounded_collect(
                        upd, CONTROL_PLANE_BOUND, "kmeans_cells centroid update"
                    )
                )
        finally:
            # the cache is consumed by the rounds (or the rounds
            # failed): the returned lazy assignment reads the caller's
            # corpus, not the spread copy
            train.unpersist()
    # the returned centroid TABLE is built once, from the final rows
    # (cell/pos-sorted for a deterministic frame). coalesce(1): the
    # local frame otherwise parallelizes into defaultParallelism slices
    # and every consumer that WRITES it (q294's index persist) emits
    # one near-empty file per slice — it is n_cells×dim rows, one task
    # is the right shape at any scale.
    cent = local_frame(spark, crows, "cell int, pos int, cq bigint").coalesce(1)
    return assign(corpus, crows), cent


def refine_hot_cells(
    corpus: DataFrame, centroids: DataFrame, *,
    max_cell_frac: float = 0.1, n_split: int = 4, iters: int = 1,
    id_col: str = "vec_id", vec_col: str = "embedding",
    normalize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """IVF index maintenance under drift: split every OVERSIZED cell
    (> ``max_cell_frac`` of the corpus) into ``n_split`` sub-cells via
    a nested deterministic Lloyd run, returning the rebalanced
    ``(assignment, centroids)``.

    Why it exists: the static quantiser's lowest-id init adapts cells
    to training density, but the incremental-append path (q128 /
    ``assign_cells``) freezes centroids — a post-training hot cluster
    (today's viral boilerplate page, a new content source) lands
    ENTIRELY in its one nearest cell, and every query probing that cell
    degrades toward brute-force cost (measured in
    ``scripts/soak_ivf_skew.py``). This is the OPTIMIZE-style
    maintenance op an IVF index needs, exactly like compaction for
    small files.

    Determinism: hot cells are detected by exact counts; sub-Lloyd
    inits on the ``n_split`` lowest-id members of EACH hot cell, runs
    the same integer-space rounds GROUPED by parent cell (one
    distributed pass for all hot cells, not one job per cell), and
    ties break low. New cell ids are ``n_base + hot_index·n_split +
    sub`` with ``n_base = max existing cell + 1`` and hot cells ranked
    ascending — reproducible in plain SQL (oracle: q160).

    Scale: detection is one count per cell (map-side partials); the
    nested rounds touch only hot-cell members (≤ corpus, usually a
    small multiple of max_cell_frac). r15 (the kmeans_cells treatment,
    VERDICT r14 #3): the member table carries its quantised ``qvec``
    array and is materialised ONCE; each sub-assignment is a NARROW map
    — all of a parent's sub-centroids packed into one broadcast
    sub-sorted array, argmin via ``array_min`` over ``struct(d2, sub)``
    (identical integer d² and lower-sub tie-break as the old
    ``min(struct(d2, sub))``) — and each sub-Lloyd update explodes the
    assigned rows and partial-aggregates map-side, so the only exchange
    per round carries ≈ parents×n_split×dim partials. (The pre-r15 form
    re-exploded the corpus by component and paid two member-sized
    shuffle joins per round.) The hot set and n_base are the only
    driver-side scalars (control-plane, ≤ 1/max_cell_frac rows).
    """
    # id_out=id_col: the kernel's default id_out is "vec_id", which
    # broke every non-default id_col at the members join below.
    # localCheckpoint: the assignment (a full corpus kernel pass) feeds
    # THREE consumers (hot-cell count, members join, refined left_anti)
    # — materialise once, reclaimable (same rationale as semantic_dedup)
    assigned = assign_cells(
        corpus, centroids, id_col=id_col, vec_col=vec_col,
        id_out=id_col, normalize=normalize,
    ).localCheckpoint(eager=True)
    # assign_cells emits exactly one row per corpus row (a NULL or
    # ragged embedding raises), so the per-cell counts also give the
    # corpus total: one bounded collect, no separate corpus.count() job
    cell_counts = bounded_collect(
        assigned.groupBy("cell").count(),
        CONTROL_PLANE_BOUND,
        "refine_hot_cells per-cell counts",
    )
    total = sum(r["count"] for r in cell_counts)
    hot_cells = sorted(
        r["cell"] for r in cell_counts if r["count"] > max_cell_frac * total
    )
    if not hot_cells:
        return assigned, centroids
    n_base = bounded_collect(
        centroids.agg(F.max("cell")), 1, "refine_hot_cells cell-count probe"
    )[0][0] + 1
    hot = F.broadcast(
        local_frame(
            corpus.sparkSession,
            [(c, i) for i, c in enumerate(hot_cells)],
            "cell int, hix int",
        )
    )

    # member table WITH the quantised array (the exact space the d²
    # runs in), materialised once: every sub-round below consumes it as
    # a narrow map instead of re-deriving corpus×dim exploded
    # components per consumer (r15; member-sized × dim-wide — the same
    # footprint one side of the old per-round join carried)
    qvecs = corpus.select(
        F.col(id_col),
        micro_qvec(F.col(vec_col), normalize).alias("qvec"),
    )
    mq = (
        assigned.join(hot, "cell")
        .select(F.col(id_col), F.col("cell").alias("parent"), "hix")
        .join(qvecs, id_col)
        .localCheckpoint(eager=True)
    )

    # init: per parent, the n_split lowest-id members seed sub
    # 0..n_split-1 (their components verbatim — identical to the old
    # mqx⋈init projection of qx as cq)
    w_init = Window.partitionBy("parent").orderBy(F.col(id_col).asc())
    scent = (
        mq.withColumn("rn", F.row_number().over(w_init))
        .where(F.col("rn") <= n_split)
        .select(
            "parent",
            (F.col("rn") - 1).cast("int").alias("sub"),
            F.posexplode("qvec").alias("pos", "cq"),
        )
        .localCheckpoint(eager=True)
    )

    def _d2(cv: F.Column) -> F.Column:
        return F.aggregate(
            F.zip_with(F.col("qvec"), cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    def sub_assign(sc: DataFrame, keep_qvec: bool = False) -> DataFrame:
        # pack each parent's sub-centroids into ONE sub-sorted array row
        # (control-plane: parents×n_split×dim) and broadcast-join on
        # parent: the argmin is a per-member array_min over
        # struct(d2, sub) — same lexicographic (d2, sub) tie-break as
        # the old min(struct(d2, sub)), zero member-keyed exchanges
        packed = (
            sc.groupBy("parent", "sub")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cq"))),
                    lambda s: s["cq"],
                ).alias("cvec")
            )
            .groupBy("parent")
            .agg(
                F.array_sort(F.collect_list(F.struct("sub", "cvec"))).alias(
                    "__subs"
                )
            )
        )
        best = F.array_min(
            F.transform(
                F.col("__subs"),
                lambda s: F.struct(
                    _d2(s["cvec"]).alias("d2"), s["sub"].alias("sub")
                ),
            )
        )
        cols = [
            F.col(id_col), F.col("parent"), F.col("hix"),
            best["sub"].alias("sub"),
        ]
        if keep_qvec:
            cols.append(F.col("qvec"))
        return mq.join(F.broadcast(packed), "parent").select(*cols)

    for _ in range(iters):
        # assignment keeps qvec through, so the sub-centroid update
        # explodes the assigned rows directly and partial-aggregates
        # map-side — the round's only exchange carries the
        # parents×n_split×dim partials (the kmeans_cells r14 shape)
        sa = sub_assign(scent, keep_qvec=True)
        scent = (
            sa.select("parent", "sub", F.posexplode("qvec").alias("pos", "qx"))
            .groupBy("parent", "sub", "pos")
            .agg(F.floor(F.sum("qx") / F.count(F.lit(1))).cast("bigint").alias("cq"))
            .localCheckpoint(eager=True)
        )
    final_sub = sub_assign(scent)

    new_cell = (F.lit(n_base) + F.col("hix") * n_split + F.col("sub")).cast("int")
    refined_assign = (
        assigned.join(hot.select("cell"), "cell", "left_anti")
        .unionByName(final_sub.select(id_col, new_cell.alias("cell")))
    )
    refined_cent = (
        centroids.join(hot.select("cell"), "cell", "left_anti")
        .unionByName(
            scent.join(hot.withColumnRenamed("cell", "parent"), ["parent"])
            .select(new_cell.alias("cell"), "pos", "cq")
        )
    )
    return refined_assign, refined_cent


def _probe_d2(
    queries: DataFrame, centroids: DataFrame, id_col: str, vec_col: str,
) -> DataFrame:
    """``(query_id, cell, d2)`` — every query's exact integer d² to
    every centroid (queries×n_cells rows, centroids broadcast): the
    front stage of both probe rules (:func:`ivf_probe_cells`,
    :func:`ivf_search_budget`)."""
    qqx = _quantized_components(queries, "query_id", id_col, vec_col)
    diff = F.col("qx") - F.col("cq")
    return (
        qqx.join(F.broadcast(centroids), "pos")
        .groupBy("query_id", "cell")
        .agg(F.sum(diff * diff).alias("d2"))
    )


def ivf_probe_cells(
    queries: DataFrame, centroids: DataFrame, n_probe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Per-query probe list ``(query_id, cell)`` — each query's
    ``n_probe`` nearest cells by exact integer centroid-d². The shared
    candidate-generation front of every IVF consumer: plain search
    (:func:`ivf_search`), and the filtered-candidate flows where the
    caller applies its own predicate before scoring (hard-negative
    mining's label filter, kNN label-noise votes — q281/q282). The
    probe table is queries×n_cells (tiny: centroids broadcast, one
    row per query-cell pair), so downstream joins can broadcast it
    against the corpus-sized assignment table."""
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cell").asc()
    )
    return (
        _probe_d2(queries, centroids, id_col, vec_col)
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "cell")
    )


def ann_mining_candidates(
    queries: DataFrame, corpus: DataFrame,
    assigned: DataFrame, centroids: DataFrame,
    n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-filtered ANN candidate set from a PREBUILT IVF index —
    the hard-negative-mining admission rule (q281; reference analogue:
    contrastive-pair mining over a gold embedding table): probe each
    query's ``n_probe`` nearest cells, join the cell members, drop
    self-matches and SAME-label matches before any scoring. Returns
    ``(query_id, q_label, query_vec, match_id, m_label, match_vec)``
    — one row per candidate the exact-scoring stage will touch, which
    is also the row count the mining soaks report.

    One shared implementation: q281's builder and the ANN-variant soak
    both consume this (three hand-rolled copies drifted before r11 — a
    change to the admission rule must hit every consumer at once).

    Scale contract: probes are queries×n_probe (broadcast); the
    corpus-sized ``assigned`` side never shuffles on the cell key;
    candidates ≈ queries · n_probe · cell_size, never corpus².
    """
    a = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("q_label"),
        F.col(vec_col).alias("query_vec"),
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(label_col).alias("m_label"),
        F.col(vec_col).alias("match_vec"),
    )
    probes = ivf_probe_cells(
        queries, centroids, n_probe, id_col=id_col, vec_col=vec_col
    )
    return (
        assigned.join(F.broadcast(probes), "cell")
        .join(c, "match_id")
        .join(F.broadcast(a), "query_id")
        .where(
            (F.col("match_id") != F.col("query_id"))
            & (F.col("m_label") != F.col("q_label"))
        )
        .select(
            "query_id", "q_label", "query_vec",
            "match_id", "m_label", "match_vec",
        )
    )


def ann_mining_topk(
    queries: DataFrame, corpus: DataFrame,
    assigned: DataFrame, centroids: DataFrame,
    k: int = 3, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Exact-cosine top-``k`` over :func:`ann_mining_candidates` —
    the full mining serve (q281's ANN arm). Returns ``(query_id,
    match_id, cos_sim, rank)``; the top-k window is per-query
    (WindowGroupLimit-bounded map-side, same shape as
    :func:`ivf_search`)."""
    cand = ann_mining_candidates(
        queries, corpus, assigned, centroids, n_probe,
        id_col=id_col, vec_col=vec_col, label_col=label_col,
    )
    # candidates carry RAW vectors (public contract) — stage the double
    # arrays + norms in one projection, score with the single-fold form
    # in the next (an inline cosine would pay ~5 folds per candidate, r14)
    qd, md = as_double(F.col("query_vec")), as_double(F.col("match_vec"))
    staged = cand.select(
        "query_id",
        "match_id",
        qd.alias("qv"),
        md.alias("mv"),
        F.sqrt(dot(qd, qd)).alias("q_nrm"),
        F.sqrt(dot(md, md)).alias("m_nrm"),
    )
    scored = staged.select(
        "query_id",
        "match_id",
        cosine_hoisted(
            F.col("qv"), F.col("mv"), F.col("q_nrm"), F.col("m_nrm")
        ).alias("cos_sim"),
    )
    return _top_k(scored, k)


def ivf_search(
    queries: DataFrame, corpus: DataFrame,
    assigned: DataFrame, centroids: DataFrame,
    k: int = 3, n_probe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Search a PREBUILT IVF index: each query ranks the (broadcast)
    centroids by exact integer d², probes its ``n_probe`` nearest
    cells, and scores only those members exactly. Shared by
    :func:`ivf_topk` (fresh index), the incremental-append flow
    (assign a batch, search immediately) and post-:func:`refine_hot_cells`
    search — index build and search are separate lifecycles at scale,
    exactly like a table and its queries.

    ``assigned`` is ``(id→match side, cell)``; ``centroids`` is
    ``(cell, pos, cq)``. The probe table is queries×n_cells (tiny);
    the candidate join is broadcast-side on ``cell`` (the big
    ``assigned`` side never shuffles on the possibly-skewed cell key);
    the final top-k window is WindowGroupLimit-bounded map-side.
    """
    probes = ivf_probe_cells(
        queries, centroids, n_probe, id_col=id_col, vec_col=vec_col
    )
    return _score_probed(queries, corpus, assigned, probes, k, id_col, vec_col)


def _score_probed(
    queries: DataFrame, corpus: DataFrame, assigned: DataFrame,
    probes: DataFrame, k: int, id_col: str, vec_col: str,
) -> DataFrame:
    """The scoring stage of IVF search: join each query's probed cells
    ``(query_id, cell)`` to their members, score them by exact cosine
    and keep the top ``k``. The probe table broadcasts, so the big
    ``assigned`` side never shuffles on the possibly-skewed cell key;
    double arrays + norms are hoisted per SIDE (:func:`vec_side`), so a
    candidate pays one fold (r14)."""
    c = vec_side(corpus, id_col, vec_col, "match_id", "match_vec", "m_nrm")
    q = vec_side(queries, id_col, vec_col, "query_id", "query_vec", "q_nrm")
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .join(c, "match_id")
        .join(F.broadcast(q), "query_id")
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            cosine_hoisted(
                F.col("query_vec"), F.col("match_vec"),
                F.col("q_nrm"), F.col("m_nrm"),
            ).alias("cos_sim"),
        )
    )
    return _top_k(scored, k)


def ivf_search_budget(
    queries: DataFrame, corpus: DataFrame,
    assigned: DataFrame, centroids: DataFrame,
    k: int = 3, candidate_budget: int = 100,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """ADAPTIVE-probe IVF search: instead of a fixed ``n_probe``, each
    query probes cells in ascending centroid-d² order until the
    CUMULATIVE member count reaches ``candidate_budget`` (the cell that
    crosses the budget is included; empty cells cost nothing).

    Why: fixed n_probe tunes per-query cost in CELLS, but cells are not
    equal — after a :func:`refine_hot_cells` split (or on any skewed
    corpus) a dense region's cells hold many more members than a sparse
    region's, so fixed n_probe over-probes sparse queries and
    under-probes dense ones (the recall cliff measured in
    ``scripts/soak_ivf_skew.py``, SCALING.md round-5 soak finding 4).
    A row budget equalises per-query WORK: every query scores
    ≈ candidate_budget candidates regardless of where it lands — which
    also makes the scoring stage's per-task cost uniform, i.e. the
    straggler-free shape you want on a cluster.

    Plan: :func:`ivf_search`'s probe-d² and scoring stages; only the
    probe rule differs — a running member-count window (per query — the
    probe table is queries×cells, tiny) before the broadcast candidate
    join.
    """
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_sz"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cell").asc()
    )
    cum_w = probe_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    probes = (
        _probe_d2(queries, centroids, id_col, vec_col)
        .join(F.broadcast(sizes), "cell")
        .withColumn("_cum", F.sum("_sz").over(cum_w))
        .where(F.col("_cum") - F.col("_sz") < candidate_budget)
        .select("query_id", "cell")
    )
    return _score_probed(queries, corpus, assigned, probes, k, id_col, vec_col)


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 3, n_cells: int = 16,
    n_probe: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
    iters: int = 2,
) -> DataFrame:
    """IVF-style ANN: the :func:`kmeans_cells` deterministic coarse
    quantiser assigns every corpus vector to a cell; each query probes
    its ``n_probe`` nearest cells (by centroid distance) and scores
    only those members exactly (:func:`ivf_search`).

    Scale contract: quantiser per :func:`kmeans_cells`; the probe
    table is queries×n_cells (tiny, centroids broadcast); exact
    scoring touches ≈ corpus·(n_probe/n_cells). Recall vs brute force
    is asserted in tests.
    """
    assigned, cent = kmeans_cells(
        corpus, n_cells=n_cells, iters=iters,
        id_col=id_col, vec_col=vec_col, id_out="match_id",
    )
    return ivf_search(
        queries, corpus, assigned, cent, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )


def lsh_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 3, n_planes: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding", multiprobe: int = 0,
) -> DataFrame:
    """ANN top-k: candidates share the full sign-bit bucket (all
    n_planes bits). Prunes the corpus ~2^n_planes-fold before exact
    cosine; recall measured against brute force in tests.

    ``multiprobe`` > 0 additionally probes the buckets at Hamming
    distance 1 on the ``multiprobe`` least-significant planes — the
    standard recall/cost dial: candidates grow ×(1+multiprobe), recall
    grows with them, still no corpus re-scan (probing expands the tiny
    QUERY side, never the corpus side)."""
    planes = [hyperplane(s) for s in range(n_planes)]
    # sides carry the double array + norm (vec_side); the bucket then
    # hashes the MATERIALISED double column (already_double — the raw
    # form re-cast the array once per plane) and the pair stage pays a
    # single fold (r14)
    q = vec_side(queries, id_col, vec_col, "query_id", "query_vec", "q_nrm")
    q = q.select(
        "query_id", "query_vec", "q_nrm",
        lsh_bucket(F.col("query_vec"), planes, already_double=True).alias(
            "bucket"
        ),
    )
    if multiprobe > 0:
        probe_buckets = F.array_union(
            F.array(F.col("bucket")),
            F.array(*[
                F.col("bucket").bitwiseXOR(F.lit(2 ** b)) for b in range(multiprobe)
            ]),
        )
        q = q.select(
            "query_id", "query_vec", "q_nrm",
            F.explode(probe_buckets).alias("bucket"),
        )
    par = corpus.sparkSession.sparkContext.defaultParallelism
    c = vec_side(
        corpus.repartition(par), id_col, vec_col, "match_id", "match_vec", "m_nrm"
    )
    c = c.select(
        "match_id", "match_vec", "m_nrm",
        lsh_bucket(F.col("match_vec"), planes, already_double=True).alias(
            "bucket"
        ),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            cosine_hoisted(
                F.col("query_vec"), F.col("match_vec"),
                F.col("q_nrm"), F.col("m_nrm"),
            ).alias("cos_sim"),
        )
    )
    return _top_k(scored, k)


#: row/column block width of the semantic-dedup Arrow kernel: pair
#: blocks are (_PAIR_BLOCK × _PAIR_BLOCK) doubles (r15 — the r14 form
#: blocked columns only, so its accumulator still scaled with the cell:
#: cell_size × _PAIR_BLOCK doubles), so the kernel's working memory is
#: O(block²) + the cell's vector matrix, however big one cell gets
#: (the COMPUTE is O(cell²) either way — the same contract the join
#: form had)
_PAIR_BLOCK = 4096

#: corpus plan-size estimate below which the oversized-cell probe is
#: skipped: when the WHOLE corpus (optimizer estimate, errs large)
#: fits in a fraction of one executor's memory, no cell can exceed it
#: and the probe job would be pure overhead (this is what keeps the
#: bench path at its r14 job count)
_PAIR_GUARD_MIN_BYTES = 256 << 20

#: vector payload (rows × dim × 8 B of float64) above which one cell
#: is too big for the Arrow pair kernel — applyInPandas materialises
#: the whole group as one matrix (plus the Arrow batch), so an
#: adversarial corpus that collapses into one cell must NOT reach the
#: kernel; past this bound semantic_dedup falls back to the
#: bit-identical SQL self-join, which streams and spills (VERDICT r14
#: #5). 256 MB — the old 500k-row bound at 64 dims — is comfortable
#: under an executor task's share. It is a BYTE bound because a row
#: bound lets a 768- or 1536-dim corpus through at 12–24× the payload;
#: the n_cells ∝ corpus contract keeps honest cells far below.
_PAIR_MAX_CELL_BYTES = 256_000_000


def semantic_dedup(
    corpus: DataFrame, threshold: float = 0.4, n_cells: int = 16,
    iters: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the
    deterministic :func:`kmeans_cells` quantiser over L2-NORMALISED
    vectors (direction cells — scaled copies of a vector must land in
    the same cell, which raw Euclidean cells do not guarantee), then
    within each cell drop every vector that is cosine-similar
    (≥ ``threshold``) to ANY lower-id vector in the same cell. The keep rule is the
    parallel-friendly "earlier-id wins" variant: a vector's fate
    depends only on its predecessors, never on whether those
    predecessors were themselves kept — one self-join, no iteration.

    Returns ``(id, cell, max_sim_earlier, is_kept)`` — one row per
    corpus vector; ``max_sim_earlier`` is the floor-quantised maximum
    cosine against lower-id cell-mates (NULL for each cell's first
    vector by id).

    Pair kernel (r14): each cell's pairwise cosines in one vectorized
    ``applyInPandas`` pass whose dot/norm accumulation runs in ELEMENT
    ORDER (one vectorized add per component, never BLAS/pairwise
    summation), so every double equals the SQL fold bit for bit —
    measured 2.5× on the sf0.1 embeddings, where the join form paid
    ~25M interpreted lambda ops. Working memory is bounded by
    ``_PAIR_BLOCK``-square blocks plus the cell's vector matrix. A
    NULL or ragged embedding and a zero-norm vector with a cell-mate
    raise named ``ValueError`` s.

    Scale contract: quantiser per :func:`kmeans_cells`; the pair stage
    is cell-blocked — O(Σ cell_size²) with cells sized corpus/n_cells,
    so n_cells grows with the corpus to bound cell populations exactly
    like IVF. Cliff: an adversarial corpus that collapses into one
    cell re-creates the quadratic. Compute stays quadratic either way,
    but MEMORY is guarded (r15): a cell whose vector payload passes
    ``_PAIR_MAX_CELL_BYTES`` takes the spillable cell-blocked SQL
    self-join instead, so one collapsed cell degrades to slow instead
    of OOMing the executor that would have materialised it as a single
    pandas group. That is a runtime choice from the observed cell
    size, not a caller option.

    Reference parity note: the reference lakehouse has no embedding
    ops at all (SURVEY.md §2.14) — this is north-star surface.
    """
    assigned, centroids = kmeans_cells(
        corpus, n_cells=n_cells, iters=iters,
        id_col=id_col, vec_col=vec_col, id_out=id_col, normalize=True,
    )
    # the pair stage consumes the assignment twice — materialise the
    # narrow (id, cell) map once instead of re-running the quantiser per
    # side (the "persist profiles once" pattern from the minhash path)
    assigned = assigned.localCheckpoint(eager=True)
    # oversized-cell guard (r15, VERDICT r14 #5): the Arrow kernel
    # materialises each cell as ONE pandas group, so a corpus that
    # collapses into one cell must take the spillable SQL join
    # instead. Two-tier to keep the guard free on the common path: a
    # driver-side plan-size estimate first (no job; estimates err
    # LARGE, so the skip direction is safe), and only when the corpus
    # is big enough that one cell COULD exceed a task's memory, one
    # one-row probe of the biggest cell's row count over the
    # checkpointed (id, cell) map beside the dim of the driver-built
    # centroid table.
    est = plan_bytes(corpus)
    fits_kernel = True
    if est is None or est > _PAIR_GUARD_MIN_BYTES:
        biggest, dim = bounded_collect(
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("mx"))
            .crossJoin(centroids.agg((F.max("pos") + 1).alias("dim"))),
            1,
            "semantic_dedup max-cell probe",
        )[0]
        fits_kernel = (
            biggest is None or biggest * dim * 8 <= _PAIR_MAX_CELL_BYTES
        )
    vd = as_double(F.col(vec_col))
    members = assigned.join(corpus.select(id_col, vec_col), id_col).select(
        id_col, "cell", vd.alias("v")
    )
    if not fits_kernel:
        # each vector's norm ONCE: pair scoring then folds the zipped
        # arrays a single time (dot) instead of three times (dot + both
        # self-dots). sqrt(dot(v,v)) is the exact expression the oracle
        # uses per pair, so the floats stay bit-identical.
        v = F.col("v")
        normed = members.select(
            id_col, "cell", "v", F.sqrt(dot(v, v)).alias("nrm")
        )
        a = normed.select(
            "cell", F.col(id_col).alias("a_id"),
            F.col("v").alias("a_vec"), F.col("nrm").alias("a_nrm"),
        )
        b = normed.select(
            "cell", F.col(id_col).alias("b_id"),
            F.col("v").alias("b_vec"), F.col("nrm").alias("b_nrm"),
        )
        cos = dot(F.col("a_vec"), F.col("b_vec")) / (
            F.col("a_nrm") * F.col("b_nrm")
        )
        earlier = (
            a.join(b, "cell")
            .where(F.col("a_id") < F.col("b_id"))
            .select("b_id", cos.alias("cos"))
            .groupBy("b_id")
            .agg(F.max("cos").alias("mx"))
            .withColumnRenamed("b_id", id_col)
        )
    else:
        id_type = corpus.schema[id_col].dataType.simpleString()
        block = _PAIR_BLOCK

        def _cell_pair_max(pdf):
            import numpy as np
            import pandas as pd

            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            n = len(pdf)
            if n < 2:
                return pd.DataFrame({id_col: pdf[id_col][:0], "mx": []})
            # validate before np.stack (r15, ADVICE r14): a NULL or
            # ragged embedding otherwise dies inside numpy with an
            # opaque executor traceback — mirror the assign kernel's
            # named per-row check
            dim = None
            for rid, v in zip(pdf[id_col], pdf["v"]):
                if v is None or (dim is not None and len(v) != dim):
                    got = "NULL" if v is None else f"dim {len(v)}"
                    raise ValueError(
                        f"semantic_dedup: vector {rid!r} has {got}, "
                        f"cell-mates have dim {dim} — embeddings must "
                        "be non-null fixed-width arrays"
                    )
                if dim is None:
                    dim = len(v)
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            d = X.shape[1]
            # norms/dots accumulate one COMPONENT at a time — the same
            # add order as the zip_with fold and DuckDB's
            # list_dot_product, so the doubles match bit for bit
            # (np.dot/BLAS would re-associate the sums)
            nrm = np.zeros(n)
            for k in range(d):
                nrm = nrm + X[:, k] * X[:, k]
            nrm = np.sqrt(nrm)
            # zero-norm = the SQL form's double division by zero, which
            # RAISES under Spark 4 ANSI — the r14 kernel instead let
            # 0/0 → NaN ride the max and silently dropped the later
            # row (ADVICE r14, medium). Fail as loud as the spec path.
            if not np.all(nrm > 0):
                bad = pdf[id_col].values[int(np.argmin(nrm))]
                raise ValueError(
                    f"semantic_dedup: vector {bad!r} has zero L2 norm — "
                    "cosine against a cell-mate is undefined (the SQL "
                    "pair form raises DIVIDE_BY_ZERO under ANSI); drop "
                    "or repair zero-norm embeddings before dedup"
                )
            out_ids, out_mx = [], []
            for c0 in range(1, n, block):
                c1 = min(c0 + block, n)
                # per-column running max over ROW blocks (r15): the
                # accumulator is block×block instead of n×block, so one
                # giant cell no longer scales the kernel's working set.
                # max-of-maxes is order-insensitive for doubles, and a
                # NaN (inf/inf from pathological magnitudes — zero
                # norms raise above) still propagates exactly like
                # Spark's MAX (NaN sorts greatest).
                colmax = np.full(c1 - c0, -np.inf)
                for r0 in range(0, c1, block):
                    r1 = min(r0 + block, c1)
                    acc = np.zeros((r1 - r0, c1 - c0))
                    for k in range(d):
                        acc = acc + np.multiply.outer(
                            X[r0:r1, k], X[c0:c1, k]
                        )
                    cosm = acc / np.multiply.outer(nrm[r0:r1], nrm[c0:c1])
                    # a strictly earlier than b (ids sorted asc): mask
                    # rows at/after each column's global index
                    rows = np.arange(r0, r1)[:, None]
                    cosm[rows >= np.arange(c0, c1)[None, :]] = -np.inf
                    colmax = np.maximum(colmax, cosm.max(axis=0))
                out_ids.append(pdf[id_col].values[c0:c1])
                out_mx.append(colmax)
            return pd.DataFrame(
                {id_col: np.concatenate(out_ids), "mx": np.concatenate(out_mx)}
            )

        earlier = members.groupBy("cell").applyInPandas(
            _cell_pair_max, f"{id_col} {id_type}, mx double"
        )
    return (
        members.select(id_col, "cell")
        .join(earlier, [id_col], "left")
        .select(
            id_col,
            "cell",
            (F.floor(F.col("mx") * 10000).cast("double") / 10000).alias(
                "max_sim_earlier"
            ),
            F.coalesce(F.col("mx") < F.lit(threshold), F.lit(True)).alias("is_kept"),
        )
    )
