"""The pure-SQL reference form of ``operators/similarity.assign_cells``,
kept as a test oracle for the package's one assignment kernel (the
Arrow integer matmul, :func:`~football_lakehouse_spark.operators.similarity._assign_rows`).

:func:`assign_cells_sql` computes the same exact integer d² as a
``zip_with`` fold over the quantised arrays, against ONE packed,
broadcast, cell-sorted centroid-array row, and takes the argmin with
``array_min`` over ``struct(d2, cell)`` — the same lexicographic
(d2, cell) order as the kernel's lower-cell tie-break. It is a narrow
map (no corpus exchange) and every step is auditable in plain SQL.
Unlike the kernel, an empty centroid table yields an empty result and
a NULL or ragged vector rides NULL arithmetic instead of raising.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from football_lakehouse_spark.operators.similarity import micro_qvec


def assign_cells_sql(
    vectors: DataFrame, centroids: DataFrame, *,
    id_col: str = "vec_id", vec_col: str = "embedding", id_out: str = "vec_id",
    normalize: bool = False, with_d2: bool = False, keep_qvec: bool = False,
) -> DataFrame:
    qvecs = vectors.select(
        F.col(id_col).alias(id_out),
        micro_qvec(F.col(vec_col), normalize).alias("qvec"),
    )
    # (cell, pos, cq) → (cell, cvec) with components in pos order, then
    # all centroids packed into one cell-sorted array row
    cvecs = centroids.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cq"))),
            lambda s: s["cq"],
        ).alias("cvec")
    )
    packed = cvecs.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cell", "cvec"))).alias("__cents")
    )

    def _d2(cv: F.Column) -> F.Column:
        return F.aggregate(
            F.zip_with(F.col("qvec"), cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    best = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda s: F.struct(_d2(s["cvec"]).alias("d2"), s["cell"].alias("cell")),
        )
    )
    scored = (
        qvecs.crossJoin(F.broadcast(packed))
        .where(F.size(F.col("__cents")) > 0)
        .select(F.col(id_out), F.col("qvec"), best.alias("__best"))
    )
    cols = [F.col(id_out), F.col("__best")["cell"].alias("cell")]
    if with_d2:
        cols.append(F.col("__best")["d2"].alias("d2"))
    if keep_qvec:
        cols.append(F.col("qvec"))
    return scored.select(*cols)
