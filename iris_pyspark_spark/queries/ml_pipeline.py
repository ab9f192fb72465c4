"""N7: the reference's own capability — a classification pipeline.

The reference class of program (minhtule/iris-pyspark) is an MLlib
classification demo: features → assembled vector → multiclass logistic
regression → predictions + accuracy. Re-expressed here on the engine's
`embeddings` table (64-dim float vectors, 10 classes) instead of the
150-row Iris CSV, same pipeline shape:

    array_to_vector → LogisticRegression → evaluate

No SQL oracle exists for model output (driver records the weaker
rows-only check); tests/test_ml.py asserts a train-accuracy floor
instead. (Holdout accuracy is chance by construction: the synthetic
labels are noise — verified with nearest-centroid at every SF — so
train-set fit is the only meaningful learning signal on this data.)

Determinism: train/test split by `vec_id % 5` (not randomSplit), fixed
LR seed; L-BFGS on a fixed partition layout is reproducible enough for
a rows-only gate.

Scale notes: `array_to_vector` is a JVM expression (no Python);
LogisticRegression training is MLlib's distributed treeAggregate —
the one driver↔executor sync per iteration is inherent to L-BFGS.
Scoring is a pure map (model broadcast to executors).
"""

from __future__ import annotations

from pyspark.ml.classification import LogisticRegression
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register


def fit_and_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit LR on the %5!=0 slice, score the %5==0 holdout; returns
    per-row (vec_id, label, prediction, correct)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    train = emb.filter(F.col("vec_id") % 5 != 0)
    test = emb.filter(F.col("vec_id") % 5 == 0)
    lr = LogisticRegression(
        maxIter=30, regParam=0.01, elasticNetParam=0.0, family="multinomial"
    )
    model = lr.fit(train)
    return model.transform(test).select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        F.col("prediction").cast("int").alias("prediction"),
        (F.col("prediction") == F.col("label")).cast("int").alias("correct"),
    )


def fit_train_accuracy(spark: SparkSession, sf_dir: str) -> float:
    """Train-set accuracy of an unregularized fit — the learning signal
    the tests gate on (holdout is chance; see module docstring)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    model = LogisticRegression(maxIter=50, regParam=0.0, family="multinomial").fit(emb)
    pred = model.transform(emb)
    return pred.filter("prediction = label").count() / pred.count()


@register("ml_classification_pipeline", oracle=None, tags=("N7",))
def ml_classification_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout confusion summary: per true label, prediction counts and
    accuracy numerator — stable 10-row schema for the rows-only gate.

    Rows-only self-validation (no SQL oracle exists for model output,
    so the result carries its own invariants): `holdout_total` is the
    same window-sum on every row and must equal ceil(|embeddings|/5)
    (the vec_id%5==0 split), and `counts_ok` asserts 0 ≤ n_correct ≤
    n_examples per row — a reader of the sweep output can check both
    without re-running the pipeline."""
    from pyspark.sql.window import Window

    scored = fit_and_score(spark, sf_dir)
    summary = (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_examples"),
            F.sum("correct").alias("n_correct"),
        )
    )
    everything = Window.partitionBy()  # 10 rows: a trivial final window
    return (
        summary.withColumn("holdout_total", F.sum("n_examples").over(everything))
        .withColumn(
            "counts_ok",
            (F.col("n_correct") >= 0) & (F.col("n_correct") <= F.col("n_examples")),
        )
        .orderBy("label")
    )


@register("ml_kmeans_ivf_cells", oracle=None, tags=("N4", "N7"))
def ml_kmeans_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned IVF cells: MLlib KMeans (fixed seed) clusters the corpus
    into 16 cells — the trained counterpart of n_ivf_knn's deterministic
    modulo centroids. Emits per-cell occupancy; at scale these cells are
    the ANN index partitioning (cell id = shuffle key), so balanced
    occupancy here is what keeps candidate-generation shuffles flat."""
    from pyspark.ml.clustering import KMeans

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    km = KMeans(k=16, seed=42, maxIter=10)
    model = km.fit(emb)
    assigned = model.transform(emb)
    # Rows-only self-validation: `total_ok` asserts the window-sum of
    # per-cell counts equals |embeddings| IN-ROW (every vector lands in
    # exactly one cell — none dropped or double-assigned by the index
    # build), and `cell_ok` pins each cell id to the trained range
    # [0, 16). Both booleans must be true on every row; a reader of the
    # sweep output needs no external count to check them.
    from pyspark.sql.window import Window

    from pyspark.sql.functions import broadcast

    corpus_n = emb.agg(F.count(F.lit(1)).alias("corpus_total"))
    return (
        assigned.groupBy(F.col("prediction").alias("cell_id"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .withColumn("assigned_total", F.sum("n_vectors").over(Window.partitionBy()))
        .crossJoin(broadcast(corpus_n))
        .withColumn("total_ok", F.col("assigned_total") == F.col("corpus_total"))
        .withColumn("cell_ok", (F.col("cell_id") >= 0) & (F.col("cell_id") < 16))
        .drop("corpus_total")
        .orderBy("cell_id")
    )


@register("ml_als_recommender", oracle=None, tags=("N7", "J1", "A1"))
def ml_als_recommender(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative-filtering recommender: MLlib ALS factorizes the
    customer x part quantity matrix (ratings from orders ⋈ lineitem).
    Completes the N7 ML surface with the third canonical MLlib
    workload next to classification (LR) and clustering (KMeans) —
    distributed alternating least squares, the matrix-factorization
    engine every large-scale recommender starts from.

    Rows-only self-validation (factor matrices have no SQL oracle):
    the single summary row carries the exact rating-matrix shape
    (n_users/n_items/n_ratings — deterministic, data-derived) plus
    train-set RMSE of the model next to the RMSE of the
    predict-the-global-mean baseline, and `beats_baseline_ok` asserts
    the factorization actually learned structure (model RMSE strictly
    below baseline by ≥10%). `shape_ok` pins n_ratings ≥ n_users.

    Determinism: fixed seed, fixed rank/iters; the deterministic
    rating aggregation feeds ALS the same matrix at any partition
    layout. Scale notes: ALS is MLlib's blocked factorization — the
    ratings shuffle by user/item block, factors update with
    treeAggregate joins; ids are cast to int (the ALS API contract —
    at >2^31 key spaces, dictionary-encode ids into a dense int
    domain first). Scoring is a broadcast-factor join."""
    from pyspark.ml.recommendation import ALS

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    ratings = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.least(F.sum("l_quantity"), F.lit(100.0)).alias("rating"))
    )
    als = ALS(
        rank=8,
        maxIter=8,
        regParam=0.05,
        seed=42,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
        nonnegative=True,
    )
    model = als.fit(ratings)
    scored = model.transform(ratings)
    err = scored.select(
        "rating",
        (F.col("rating") - F.col("prediction")).alias("e"),
    )
    summary = err.agg(
        F.count(F.lit(1)).alias("n_ratings"),
        F.sqrt(F.avg(F.col("e") * F.col("e"))).alias("rmse_model"),
        F.sqrt(
            F.avg(F.col("rating") * F.col("rating"))
            - F.avg("rating") * F.avg("rating")
        ).alias("rmse_mean_baseline"),
    )
    shape = ratings.agg(
        F.count_distinct("user").alias("n_users"),
        F.count_distinct("item").alias("n_items"),
    )
    return summary.crossJoin(F.broadcast(shape)).select(
        "n_users",
        "n_items",
        "n_ratings",
        F.round("rmse_model", 4).alias("rmse_model"),
        F.round("rmse_mean_baseline", 4).alias("rmse_mean_baseline"),
        (F.col("rmse_model") < 0.9 * F.col("rmse_mean_baseline")).alias(
            "beats_baseline_ok"
        ),
        (F.col("n_ratings") >= F.col("n_users")).alias("shape_ok"),
    )


@register("ml_linreg_normal_eq_check", oracle=None, tags=("N7", "A1", "F3"))
def ml_linreg_normal_eq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib LinearRegression (solver='normal', no regularization)
    cross-checked against the engine's OWN exact closed-form OLS
    (`a_ols_two_feature`'s Cramer solve on exact-integer sufficient
    statistics): both fit price_cents ~ quantity + discount_pct on the
    full lineitem table, and the output carries per-coefficient
    `*_ok` agreement flags — a library-vs-arithmetic consistency gate
    that catches either an MLlib regression (solver change, silent
    standardization) or a mistake in our sufficient-statistics algebra.
    Rows-only by necessity (model output has no SQL oracle), but the
    in-row invariants make it self-validating: the normal-equation
    solver is algebraically the same math, so agreement to 1e-4 cents
    is the expected outcome, not a tuned threshold.

    Scale notes: the exact side is ONE combinable aggregation; the
    MLlib side is WeightedLeastSquares' single treeAggregate pass over
    the same rows (normal solver — no iterations); both are linear
    scans at any SF."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    li = load_table(spark, sf_dir, "lineitem")
    obs = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("double").alias("y"),
        F.round(F.col("l_quantity")).cast("double").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("double").alias("x2"),
    )
    # VectorAssembler records the vector's size in the column's ML
    # metadata; without it `fit` runs a `head()` job to count features.
    train = VectorAssembler(inputCols=["x1", "x2"], outputCol="features").transform(
        obs.withColumnRenamed("y", "label")
    )
    model = LinearRegression(
        solver="normal", regParam=0.0, elasticNetParam=0.0
    ).fit(train)
    b1_ml, b2_ml = float(model.coefficients[0]), float(model.coefficients[1])
    b0_ml = float(model.intercept)

    s = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("sx1x2"),
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2").cast("decimal(38,0)") * F.col("y")).alias("sx2y"),
    )
    nd = F.col("n").cast("double")
    m = s.select(
        "n",
        "sx1",
        "sx2",
        "sy",
        (nd * F.col("sx1x1") - F.col("sx1").cast("double") * F.col("sx1"))
        .alias("s11"),
        (nd * F.col("sx1x2") - F.col("sx1").cast("double") * F.col("sx2"))
        .alias("s12"),
        (nd * F.col("sx2x2") - F.col("sx2").cast("double") * F.col("sx2"))
        .alias("s22"),
        (
            nd * F.col("sx1y").cast("double")
            - F.col("sx1").cast("double") * F.col("sy").cast("double")
        ).alias("sy1"),
        (
            nd * F.col("sx2y").cast("double")
            - F.col("sx2").cast("double") * F.col("sy").cast("double")
        ).alias("sy2"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s22") * F.col("sy1") - F.col("s12") * F.col("sy2")) / det
    b2 = (F.col("s11") * F.col("sy2") - F.col("s12") * F.col("sy1")) / det
    b0 = (
        F.col("sy").cast("double") - b1 * F.col("sx1") - b2 * F.col("sx2")
    ) / F.col("n")
    tol = 1e-4
    return m.select(
        "n",
        F.round(b1, 6).alias("b_qty_exact"),
        F.lit(round(b1_ml, 6)).alias("b_qty_mllib"),
        F.round(b2, 6).alias("b_disc_exact"),
        F.lit(round(b2_ml, 6)).alias("b_disc_mllib"),
        F.round(b0, 6).alias("b0_exact"),
        F.lit(round(b0_ml, 6)).alias("b0_mllib"),
        (
            F.abs(b1 - F.lit(b1_ml))
            <= tol + 1e-6 * F.abs(b1)
        ).alias("agree_qty_ok"),
        (
            F.abs(b2 - F.lit(b2_ml))
            <= tol + 1e-6 * F.abs(b2)
        ).alias("agree_disc_ok"),
        (
            F.abs(b0 - F.lit(b0_ml))
            <= tol + 1e-6 * F.abs(b0)
        ).alias("agree_intercept_ok"),
    )


@register("ml_isotonic_calibration", oracle=None, tags=("N7", "A8", "W3"))
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression score calibration — the standard monotone
    recalibration applied to quality-classifier outputs before they
    gate a training corpus (PAV: pool-adjacent-violators). Feature =
    document length, label = a deterministic Bernoulli whose success
    probability RISES with length (hash-derived, seedless), so the true
    relation is monotone and the fit is meaningful.

    Rows-only by design (MLlib's distributed PAV has no SQL oracle);
    self-validation: `monotone_ok` pins the defining property — fitted
    probabilities never decrease as the feature grows — and `range_ok`
    pins predictions to [0, 1]. Scale: PAV parallelizes as per-partition
    pools + a single merge of the boundary pools (MLlib's
    implementation), so the fit is one pass plus a small driver merge.
    """
    from pyspark.ml.regression import IsotonicRegression
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("feature"),
        # P(label=1) grows with n_chars: threshold a 0..999 hash lane
        # against a length-scaled cutoff — deterministic on both reruns.
        F.when(
            (F.col("doc_id") * 48271) % 1000
            < F.least(F.lit(900), F.col("n_chars") / 3),
            1.0,
        )
        .otherwise(0.0)
        .alias("label"),
    )
    data = d.select(
        "label",
        array_to_vector(F.array(F.col("feature"))).alias("features"),
        F.col("feature"),
    )
    iso = IsotonicRegression(featureIndex=0)
    model = iso.fit(data)
    scored = model.transform(data).select(
        "feature", F.col("prediction").alias("calibrated")
    )
    out = (
        scored.groupBy("feature")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("calibrated").alias("calibrated"),
        )
        .withColumn(
            "prev_cal",
            F.lag("calibrated").over(Window.orderBy("feature")),
        )
        .withColumn(
            "monotone_ok",
            F.col("prev_cal").isNull()
            | (F.col("calibrated") >= F.col("prev_cal")),
        )
        .withColumn(
            "range_ok",
            (F.col("calibrated") >= 0.0) & (F.col("calibrated") <= 1.0),
        )
        .drop("prev_cal")
        .orderBy("feature")
        .limit(50)
    )
    return out.select(
        F.col("feature").cast("bigint").alias("n_chars"),
        "n_docs",
        F.round("calibrated", 6).alias("calibrated"),
        "monotone_ok",
        "range_ok",
    )
