"""ML surface — reference SURVEY.md §2.11 M1-M3 (declared stubs
``notebooks/05_ml/51_feature_pipeline.py`` / ``52_train_points_model.py``
/ ``53_score_and_recommend_transfer.py``; spec docs/backlog.md:84-93).

M1 feature pipeline = multi-way joins + aggregates into a per-entity
training table (pure DataFrame ops, oracle-checkable). M2/M3 =
``pyspark.ml`` GBT regressor train + score — "interpretable baseline
(e.g. GBT regressor)" per the backlog — deterministic via fixed seed,
checked rows-only (model outputs are not SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from football_lakehouse_spark.functions.guards import local_frame


def customer_features(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """M1: assemble the modelling-grain feature table — per customer:
    order history aggregates + dimensions (reference: dims + price
    snapshots + fixture difficulty → training set)."""
    from football_lakehouse_spark.functions.scalars import money_avg, money_sum

    hist = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_avg(F.col("o_totalprice"), 4).alias("avg_order_value"),
        money_sum(F.col("o_totalprice")).alias("lifetime_value"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n_finished"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order_date"),
    )
    return (
        customer.join(hist, customer.c_custkey == hist.o_custkey, "left")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_mktsegment",
            "n_name",
            F.col("c_acctbal"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("avg_order_value", F.lit(0.0)).alias("avg_order_value"),
            F.coalesce("lifetime_value", F.lit(0.0)).alias("lifetime_value"),
            F.coalesce("n_finished", F.lit(0)).alias("n_finished"),
            "last_order_date",
        )
    )


#: hyperparameters of the M2 baseline model — module-level so the
#: run-log (MLflow-parity params) and the trainer can never drift
GBT_PARAMS = {"max_iter": 5, "max_depth": 3, "seed": 42}
FEATURE_COLS = ["c_acctbal", "n_orders", "avg_order_value", "n_finished",
                "segment_ix", "nation_ix"]


def _fit(features: DataFrame, seed: int):
    """Fit the M2 pipeline; returns (model, split-tagged input)."""
    from pyspark.ml.feature import StringIndexer, VectorAssembler
    from pyspark.ml.pipeline import Pipeline
    from pyspark.ml.regression import GBTRegressor

    df = features.withColumn("is_train", (F.col("c_custkey") % 5 != 0))
    stages = [
        StringIndexer(inputCol="c_mktsegment", outputCol="segment_ix", handleInvalid="keep"),
        StringIndexer(inputCol="n_name", outputCol="nation_ix", handleInvalid="keep"),
        VectorAssembler(inputCols=FEATURE_COLS, outputCol="features_vec"),
        GBTRegressor(
            featuresCol="features_vec",
            labelCol="lifetime_value",
            predictionCol="predicted_value",
            maxIter=GBT_PARAMS["max_iter"],
            maxDepth=GBT_PARAMS["max_depth"],
            seed=seed,
        ),
    ]
    return Pipeline(stages=stages).fit(df.where("is_train")), df


def fit(features: DataFrame, seed: int = 42) -> tuple:
    """Public fit: returns ``(model, assembled_df)`` for reuse across
    :func:`train_and_score` and :func:`training_run_log` — one GBT fit
    per logical run instead of one per consumer."""
    return _fit(features, seed)


def train_and_score(
    features: DataFrame, seed: int = 42, fitted: tuple | None = None
) -> DataFrame:
    """M2+M3: GBT regression of lifetime value from behavioural +
    dimensional features; returns per-customer predictions plus a
    holdout-RMSE summary row appended as metadata columns.

    Deterministic: fixed seed, fixed maxIter/depth, deterministic
    train/test split on the key (not random split). Pass ``fitted``
    (from :func:`fit`) to share one training pass with
    :func:`training_run_log`."""
    model, df = fitted if fitted is not None else _fit(features, seed)
    scored = model.transform(df)
    return scored.select(
        "c_custkey",
        "is_train",
        F.round("predicted_value", 2).alias("predicted_value"),
        F.round(F.col("predicted_value") - F.col("lifetime_value"), 2).alias("residual"),
    )


def training_run_log(
    features: DataFrame, seed: int = 42, fitted: tuple | None = None
) -> DataFrame:
    """M2 metric/artefact logging (MLflow parity — the reference backlog
    says "log metrics + artefacts (MLflow)", docs/backlog.md:89-91): one
    row per logged item of a training run, long-format
    ``(kind, key, value)`` exactly like an MLflow run's params+metrics
    tab, so the log is itself a queryable table that can be appended to
    a ``LakehouseTable`` run store.

    Logged: every hyperparameter (kind='param'), the split recipe and
    label (params), split sizes, integer-exact error sums in cents
    (metrics — cents, not RMSE, so the cross-engine check is exact),
    and the GBT feature importances per input feature scaled to
    parts-per-million bigints (kind='importance'). Deterministic for a
    fixed fixture + seed; values are model state, so the oracle pins
    them as literals (same policy as q69).

    Scale: metric aggregation is one job over the scored table
    (map-side partials); the log itself is O(params + features) rows —
    control-plane sized at any corpus scale."""
    # reuse a model already fitted by train_and_score when provided —
    # refitting the identical GBT pipeline doubles the dominant cost of
    # a score+log run for no change in output (fixed seed, fixed split)
    model, df = fitted if fitted is not None else _fit(features, seed)
    scored = model.transform(df).select(
        "is_train",
        F.round(F.col("predicted_value") - F.col("lifetime_value"), 2).alias("residual"),
    )
    from football_lakehouse_spark.functions.guards import bounded_collect

    m = bounded_collect(scored.agg(
        F.sum(F.when(F.col("is_train"), 1).otherwise(0)).cast("bigint").alias("n_train"),
        F.sum(F.when(~F.col("is_train"), 1).otherwise(0)).cast("bigint").alias("n_test"),
        F.sum(
            F.when(F.col("is_train"), F.abs(F.round(F.col("residual") * 100).cast("bigint")))
            .otherwise(0)
        ).cast("bigint").alias("train_abs_resid_cents"),
        F.sum(
            F.when(~F.col("is_train"), F.abs(F.round(F.col("residual") * 100).cast("bigint")))
            .otherwise(0)
        ).cast("bigint").alias("test_abs_resid_cents"),
    ), 1, "training_run_log metrics")[0]
    gbt = model.stages[-1]
    importances = gbt.featureImportances.toArray()
    rows = [
        ("param", "model", "gbt_regressor"),
        ("param", "label", "lifetime_value"),
        ("param", "split", "c_custkey_mod_5"),
        ("param", "max_iter", str(GBT_PARAMS["max_iter"])),
        ("param", "max_depth", str(GBT_PARAMS["max_depth"])),
        ("param", "seed", str(seed)),
        ("metric", "n_train", str(m["n_train"])),
        ("metric", "n_test", str(m["n_test"])),
        ("metric", "train_abs_resid_cents", str(m["train_abs_resid_cents"])),
        ("metric", "test_abs_resid_cents", str(m["test_abs_resid_cents"])),
    ] + [
        ("importance", feat, str(int(round(imp * 1_000_000))))
        for feat, imp in zip(FEATURE_COLS, importances)
    ]
    spark = features.sparkSession
    return local_frame(spark, rows, "kind string, key string, value string")
