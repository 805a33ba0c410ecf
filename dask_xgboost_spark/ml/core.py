"""Distributed gradient-boosted-tree train/predict (SURVEY.md §2F).

Re-expresses the reference's entire ML surface on Spark MLlib:

- ``train(params, df, ...)`` mirrors ``dask_xgboost.train``
  (reference core.py:268-321): blocking call, returns a fitted model.
  The reference's orchestration — partition triads, who_has locality
  pinning, Rabit tracker bootstrap, gang scheduling, rank-0 result
  dedup (core.py:164-265, tracker.py) — is subsumed by MLlib's
  ``.fit()``, which runs gang execution and tree-aggregated gradient
  sync internally and returns one model to the driver. Placement is
  the one part ``train`` does itself: where the reference gives each
  worker one task over its local partitions (core.py:164-231) and
  ``xgboost.spark`` repartitions its input to ``num_workers``, ``train``
  narrows the fit input to the estimator's columns and spreads it over
  ``defaultParallelism`` partitions, so no scan layout leaves cores idle.
- ``predict(model, df)`` mirrors ``dask_xgboost.predict``
  (core.py:340-384): lazy, per-partition, model broadcast by Spark
  (replacing closure serialization of the Booster, core.py:367).
- ``XGBRegressor`` / ``XGBClassifier`` mirror the sklearn-style
  estimators (core.py:387-631) including param-name translation,
  class discovery (core.py:561-566) and the binary→multiclass objective
  switch (core.py:580-586; MLlib GBT is binary-only so multiclass goes
  through OneVsRest).

Backend: MLlib GBT (same algorithm family). Where ``xgboost.spark`` is
installed, ``SparkXGBClassifier``/``SparkXGBRegressor`` can be swapped
in via ``backend='xgboost'`` — kept behind an import guard because this
environment has no xgboost package.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # optional backend (not present in this environment)
    from xgboost.spark import SparkXGBClassifier, SparkXGBRegressor  # noqa: F401

    HAS_XGBOOST = True
except Exception:  # pragma: no cover
    HAS_XGBOOST = False

FEATURES_COL = "features"

# Reference param names (xgboost) → MLlib GBT params. Mirrors the
# translation the reference does at core.py:466 (n_estimators →
# num_boost_round) and the sklearn param plumbing of core.py:387/487.
_PARAM_MAP = {
    "n_estimators": "maxIter",
    "num_boost_round": "maxIter",
    "max_depth": "maxDepth",
    "eta": "stepSize",
    "learning_rate": "stepSize",
    "subsample": "subsamplingRate",
    "random_state": "seed",
    "seed": "seed",
}


def translate_params(params: dict[str, Any]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    for k, v in params.items():
        if k in _PARAM_MAP:
            out[_PARAM_MAP[k]] = v
    return out


def assemble_features(df: DataFrame, feature_col: str = "embedding") -> DataFrame:
    """Feature column → MLlib vector ``features`` column, dispatching on
    the input type the way the reference's ``concat`` dispatches on
    partition container (core.py:67-80: ndarray / DataFrame / csr_matrix
    / pydata sparse all accepted):

    - ``array<numeric>`` → dense vector (``array_to_vector``, JVM-side).
    - MLlib ``VectorUDT`` (dense OR sparse) → passed through unchanged.
    - ``struct<size:int, indices:array<int>, values:array<double>>`` —
      the row-wise encoding of a ``scipy.sparse.csr_matrix``
      (reference test_core.py:415-441 ``test_scipy_sparse``/``test_sparse``)
      → ``SparseVector`` per row, O(nnz), never densified.

    Replaces the reference's partition-triad alignment (core.py:182-231):
    in a single DataFrame, features/label/weight travel on the same row,
    so co-location is free.
    """
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import VectorUDT
    from pyspark.sql.types import ArrayType, StructType

    dtype = df.schema[feature_col].dataType
    if isinstance(dtype, VectorUDT):
        if feature_col == FEATURES_COL:
            return df
        return df.withColumn(FEATURES_COL, F.col(feature_col))
    if isinstance(dtype, StructType):
        names = {f.name for f in dtype.fields}
        if not {"size", "indices", "values"} <= names:
            raise ValueError(
                f"sparse feature struct must have size/indices/values "
                f"fields, got {sorted(names)}"
            )
        return df.withColumn(
            FEATURES_COL,
            _make_sparse_vector(
                F.col(f"{feature_col}.size"),
                F.col(f"{feature_col}.indices"),
                F.col(f"{feature_col}.values"),
            ),
        )
    if isinstance(dtype, ArrayType):
        return df.withColumn(
            FEATURES_COL,
            array_to_vector(F.col(feature_col).cast("array<double>")),
        )
    raise ValueError(
        f"unsupported feature column type for {feature_col!r}: {dtype}"
    )


def _sparse_vector_udf():
    """(size, indices, values) → SparseVector. A Python UDF is the only
    construction path for the VectorUDT user-defined type — pandas_udf
    cannot return UDTs (verified on this Spark build: the worker rejects
    VectorUDT as a pandas_udf return type) — but ``useArrow=True`` moves
    the data transfer onto Arrow record batches, so only the per-row
    SparseVector construction stays in Python while serialization is
    columnar (ArrowEvalPython, not pickled-row BatchEvalPython).
    O(nnz) per row and, critically, the vector stays SPARSE end-to-end:
    a 1e6-dim one-hot row costs its nnz, not 8 MB of dense doubles.
    MLlib's tree learners consume SparseVector natively downstream."""
    from pyspark.ml.linalg import SparseVector, VectorUDT

    return F.udf(
        lambda s, i, v: SparseVector(s, i or [], v or []),
        VectorUDT(),
        useArrow=True,
    )


def _make_sparse_vector(size_col, indices_col, values_col):
    return _sparse_vector_udf()(size_col, indices_col, values_col)


def sparse_features(
    df: DataFrame,
    size_col: str = "size",
    indices_col: str = "indices",
    values_col: str = "values",
) -> DataFrame:
    """Three flat columns (CSR row decomposition) → ``features``
    SparseVector column. The distributed mirror of handing the reference
    a ``scipy.sparse.csr_matrix`` (test_core.py:415-441)."""
    return df.withColumn(
        FEATURES_COL,
        _make_sparse_vector(
            F.col(size_col).cast("int"),
            F.col(indices_col).cast("array<int>"),
            F.col(values_col).cast("array<double>"),
        ),
    )


def compute_impute_means(
    df: DataFrame, missing: float, features_col: str = FEATURES_COL
) -> list[float]:
    """Per-dimension means of the non-sentinel values — ONE distributed
    aggregate (posexplode → groupBy(pos)); only the dim-sized mean table
    is collected. Computed on the TRAINING frame and reused everywhere
    (eval frames, predict) so there is no train/serve skew."""
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col(features_col))
    means_rows = (
        df.select(F.posexplode(arr).alias("pos", "v"))
        .filter(F.col("v") != missing)
        .groupBy("pos")
        .agg(F.avg("v").alias("m"))
        .collect()  # bounded: one row per feature dimension
    )
    means = {r["pos"]: r["m"] for r in means_rows}
    dim = int(df.select(F.size(arr).alias("d")).first()["d"])
    return [float(means.get(i, 0.0)) for i in range(dim)]


def apply_impute(
    df: DataFrame,
    missing: float,
    means: list[float],
    features_col: str = FEATURES_COL,
) -> DataFrame:
    """Replace sentinel feature slots with the given per-dimension means
    (pure column algebra, no shuffle)."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    arr = vector_to_array(F.col(features_col))
    mean_arr = F.array(*[F.lit(m) for m in means])
    fixed = F.zip_with(
        arr, mean_arr, lambda x, m: F.when(x == missing, m).otherwise(x)
    )
    return df.withColumn(features_col, array_to_vector(fixed))


def replace_missing(
    df: DataFrame, missing: float, features_col: str = FEATURES_COL
) -> DataFrame:
    """Train-time missing-value sentinel (reference
    ``dmatrix_kwargs['missing']``, core.py:300/test_core.py:366-382):
    feature slots equal to ``missing`` are replaced by the per-dimension
    mean of the non-missing values (computed on ``df`` itself — inside
    ``train`` the means come from the training frame only, via
    ``compute_impute_means`` + ``apply_impute``).

    Documented divergence: xgboost routes missing values through tree
    default directions; MLlib GBT has no missing-value routing, so the
    Spark-idiomatic equivalent is mean imputation (the same strategy as
    MLlib's ``Imputer``, applied inside the assembled vector).
    """
    return apply_impute(
        df, missing, compute_impute_means(df, missing, features_col), features_col
    )


def train(
    params: dict[str, Any],
    df: DataFrame,
    label_col: str = "label",
    features_col: str = FEATURES_COL,
    sample_weight_col: str | None = None,
    eval_df: DataFrame | None = None,
    evals_result: dict | None = None,
    sample_weight_eval_set: list[str] | None = None,
    eval_metric: Any = None,
    missing: float | None = None,
    **kwargs: Any,
):
    """Blocking distributed GBT training (reference train, core.py:268-321).

    ``params['objective']`` picks the task exactly like xgboost params:
    ``reg:*`` → GBTRegressor, ``binary:*`` → GBTClassifier,
    ``multi:*`` → OneVsRest(GBTClassifier).

    eval_df: validation frame (reference eval_set, core.py:138-151) —
    implemented with MLlib's validationIndicatorCol (union + indicator),
    which also enables early stopping via validationTol.

    evals_result: dict filled in place with per-iteration validation loss
    (reference evals_result/history, core.py:120,259-260) via MLlib's
    ``evaluateEachIteration``; keys follow the reference's
    ``validation_0`` naming (core.py:148).

    sample_weight_eval_set: weight-column names zipped against the eval
    frames (reference core.py:138-151; zip truncation semantics per
    test_core.py:166-170 — extra entries are ignored, an empty list means
    unweighted). This engine takes one eval frame, so the first entry
    names the weight column in ``eval_df``; it weights both the
    early-stopping validation signal (via weightCol on the union) and the
    reported eval history.

    eval_metric: a *callable* metric is accepted and dropped with a
    warning, exactly like the reference (core.py:454-458: custom
    callables can't cross the distributed boundary).

    missing: train-time sentinel (reference dmatrix_kwargs['missing'],
    test_core.py:366-382) — sentinel feature slots are mean-imputed via
    ``replace_missing`` before fitting (see its docstring for the
    documented divergence from xgboost's tree-routing semantics).
    """
    import warnings

    from pyspark.ml.classification import GBTClassifier, OneVsRest
    from pyspark.ml.regression import GBTRegressor

    params = dict(params)
    if eval_metric is None:
        eval_metric = params.pop("eval_metric", None)
    else:
        params.pop("eval_metric", None)
    if callable(eval_metric):
        warnings.warn(
            "callable eval_metric is not supported across the distributed "
            "boundary and is ignored (reference behavior, core.py:454-458)",
            UserWarning,
            stacklevel=2,
        )
        eval_metric = None
    if missing is None:
        missing = params.pop("missing", None)
    else:
        params.pop("missing", None)

    objective = params.get("objective", "reg:squarederror")
    mlp = translate_params({**params, **kwargs})
    mlp.setdefault("seed", 42)
    common = dict(featuresCol=features_col, labelCol=label_col, **mlp)
    if sample_weight_col is not None:
        common["weightCol"] = sample_weight_col

    impute_means: list[float] | None = None
    if missing is not None:
        # Means come from the TRAINING frame only and are reused for the
        # eval frame and (via attributes stamped on the returned model)
        # at predict time — same statistics at train and serve, exactly
        # like xgboost's missing routing applying to both.
        impute_means = compute_impute_means(df, missing, features_col)
        df = apply_impute(df, missing, impute_means, features_col)
        if eval_df is not None:
            eval_df = apply_impute(eval_df, missing, impute_means, features_col)

    # zip-truncate: first weight spec pairs with the single eval frame
    eval_weight_col = (
        sample_weight_eval_set[0]
        if sample_weight_eval_set and eval_df is not None
        else None
    )

    fit_df = df
    if eval_df is not None:
        # Distributed eval sets are first-class here (the reference must
        # reject them, core.py:154-161, because its eval sets ride inside
        # the per-worker closure; a Spark indicator column needs no such
        # restriction).
        train_part = df.withColumn("_is_val", F.lit(False))
        val_part = eval_df.withColumn("_is_val", F.lit(True))
        if eval_weight_col is not None:
            # one weight column across the union: train rows keep their
            # weights (or 1.0), val rows carry the eval-set weights
            train_w = (
                F.col(sample_weight_col) if sample_weight_col else F.lit(1.0)
            )
            train_part = train_part.withColumn("_w", train_w.cast("double"))
            val_part = val_part.withColumn(
                "_w", F.col(eval_weight_col).cast("double")
            )
            common["weightCol"] = "_w"
        fit_df = train_part.unionByName(val_part, allowMissingColumns=True)
        common["validationIndicatorCol"] = "_is_val"

    if objective.startswith("reg"):
        est = GBTRegressor(**common)
    elif objective.startswith("binary"):
        est = GBTClassifier(**common)
    elif objective.startswith("multi"):
        base = GBTClassifier(
            featuresCol=features_col, labelCol=label_col, **mlp
        )
        est = OneVsRest(
            classifier=base,
            featuresCol=features_col,
            labelCol=label_col,
            parallelism=4,
        )
        if sample_weight_col is not None:
            est.setWeightCol(sample_weight_col)
    else:
        raise ValueError(f"unsupported objective: {objective}")
    # Narrow to the columns the estimator reads, then spread the rows over
    # every core: a scan's layout (one parquet row group → one non-empty
    # partition) would otherwise run every histogram pass on one task.
    # OneVsRest reads sample_weight_col even when the eval union's ``_w``
    # is the weightCol. Not persisted: caching the narrow frame saves
    # MLlib's second materialization of the exchange (logDataset's
    # ``dataset.rdd``) but raised the perfbench gbt_fit peak_mem_mb on
    # 4 cores from ~1,190 MB to 1,412-1,645 MB (MEMORY_AND_DISK) or
    # ~1,389 MB (DISK_ONLY).
    keep = [features_col, label_col, common.get("weightCol"),
            sample_weight_col, common.get("validationIndicatorCol")]
    fit_df = fit_df.select(*dict.fromkeys(c for c in keep if c)).repartition(
        fit_df.sparkSession.sparkContext.defaultParallelism
    )
    model = est.fit(fit_df)
    if impute_means is not None:
        # stamp the imputation contract on the model so predict()/
        # predict_proba() apply the SAME training-frame means
        model._impute_missing = missing
        model._impute_means = impute_means
    if evals_result is not None and eval_df is not None:
        if eval_weight_col is not None and hasattr(model, "trees"):
            evals_result["validation_0"] = {
                "loss": _weighted_eval_history(
                    model,
                    eval_df,
                    weight_col=eval_weight_col,
                    label_col=label_col,
                    features_col=features_col,
                    is_classifier=not objective.startswith("reg"),
                )
            }
        elif hasattr(model, "evaluateEachIteration"):
            try:
                history = list(model.evaluateEachIteration(eval_df))
            except TypeError:  # the regression variant requires a loss name
                history = list(model.evaluateEachIteration(eval_df, "squared"))
            evals_result["validation_0"] = {"loss": history}
    return model


def _weighted_eval_history(
    model,
    eval_df: DataFrame,
    weight_col: str,
    label_col: str,
    features_col: str,
    is_classifier: bool,
) -> list[float]:
    """Per-iteration WEIGHTED validation loss (reference plumbs
    sample_weight_eval_set into the eval DMatrix so the reported metric is
    weighted, core.py:138-151). MLlib's ``evaluateEachIteration`` is
    unweighted, so the cumulative GBT score is rebuilt tree by tree:
    score_k = Σ_{i≤k} treeWeight_i · tree_i(x) — one distributed transform
    per boosting round (bounded by maxIter), no driver-side row loops.
    Each round's accumulated frame is ``localCheckpoint``-ed so round k
    evaluates ONLY tree k over materialized scores (O(k) total tree
    evaluations, not O(k²) re-execution of the transform chain), and the
    lineage stays flat. Loss: weighted RMSE (regression) / weighted error
    rate (binary margin > 0, classification) — note this is a DIFFERENT
    metric than the unweighted ``evaluateEachIteration`` path (logLoss /
    variance), so weighted and unweighted histories are not directly
    comparable.
    """
    import math

    cur = eval_df.withColumn("_acc", F.lit(0.0))
    if features_col != FEATURES_COL:
        cur = cur.withColumnRenamed(features_col, FEATURES_COL)
    w = F.col(weight_col).cast("double")
    y = F.col(label_col).cast("double")
    losses: list[float] = []
    for tree, tw in zip(model.trees, model.treeWeights):
        cur = (
            tree.transform(cur)
            .withColumn("_acc", F.col("_acc") + F.lit(float(tw)) * F.col("prediction"))
            .drop("prediction")
            .localCheckpoint()
        )
        if is_classifier:
            wrong = F.when((F.col("_acc") > 0).cast("double") != y, w).otherwise(F.lit(0.0))
            num, den = F.sum(wrong), F.sum(w)
            row = cur.select((num / den).alias("loss")).first()
            losses.append(float(row["loss"]))
        else:
            se = w * (F.col("_acc") - y) * (F.col("_acc") - y)
            row = cur.select((F.sum(se) / F.sum(w)).alias("mse")).first()
            losses.append(math.sqrt(float(row["mse"])))
    return losses


def _local_features_frame(data):
    """Local numpy array / pandas frame / list-of-rows → (Spark frame with
    ``features`` vector + ``_row_idx`` order column, row count)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("local-data predict needs an active SparkSession")
    try:
        import scipy.sparse as ss
    except ImportError:  # same guard as the reference (core.py:23-26)
        ss = None
    if ss is not None and ss.issparse(data):
        # local CSR in → SparseVector rows, never densified (reference
        # accepts csr_matrix blocks, core.py:67-70 / test_core.py:415-441)
        csr = data.tocsr()
        n, dim = csr.shape
        pdf = pd.DataFrame(
            {
                "_row_idx": range(n),
                "size": [dim] * n,
                "indices": [
                    csr.indices[csr.indptr[r]:csr.indptr[r + 1]].tolist()
                    for r in range(n)
                ],
                "values": [
                    csr.data[csr.indptr[r]:csr.indptr[r + 1]].astype(
                        "float64"
                    ).tolist()
                    for r in range(n)
                ],
            }
        )
        sdf = spark.createDataFrame(
            pdf, "_row_idx long, size int, indices array<int>, values array<double>"
        )
        return (
            sparse_features(sdf).drop("size", "indices", "values"),
            n,
        )
    if isinstance(data, pd.DataFrame):
        arr = data.to_numpy(dtype="float64")
    else:
        arr = np.asarray(data, dtype="float64")
    if arr.ndim != 2:
        raise ValueError(f"expected 2-D feature data, got shape {arr.shape}")
    pdf = pd.DataFrame(
        {"_row_idx": range(len(arr)), "_arr": [row.tolist() for row in arr]}
    )
    sdf = spark.createDataFrame(pdf)
    return assemble_features(sdf, feature_col="_arr").drop("_arr"), len(arr)


def _maybe_impute(model, df: DataFrame) -> DataFrame:
    """Apply the training-time missing-sentinel imputation (training-frame
    means stamped on the model by ``train``) at serve time — without this,
    sentinel-bearing inference rows would flow raw into the trees while
    training rows were imputed (train/serve skew)."""
    missing = getattr(model, "_impute_missing", None)
    if missing is None:
        return df
    return apply_impute(df, missing, model._impute_means)


def predict(model, data, features_col: str = FEATURES_COL):
    """Distributed inference (reference predict, core.py:340-384):
    ``model.transform`` adds prediction/probability columns; nothing runs
    until an action — same laziness the reference documents (P7).

    Like the reference (core.py:378-382), non-distributed input is also
    accepted: a numpy 2-D array / pandas frame / list of feature rows is
    lifted into a Spark frame and the predictions come back as a local
    numpy array (local in → local out).

    If the model was trained with a ``missing`` sentinel, the same
    training-frame means are applied here (see ``_maybe_impute``).
    """
    import numpy as np

    if isinstance(data, DataFrame):
        if features_col != FEATURES_COL:
            data = data.withColumnRenamed(features_col, FEATURES_COL)
        return model.transform(_maybe_impute(model, data))
    sdf, _ = _local_features_frame(data)
    sdf = _maybe_impute(model, sdf)
    out = model.transform(sdf).select("_row_idx", "prediction").orderBy("_row_idx")
    # bounded: local-predict API contract — input was a local array
    return np.asarray(out.toPandas()["prediction"], dtype="float64")


class XGBRegressor:
    """sklearn-style facade (reference core.py:387-484)."""

    def __init__(
        self,
        n_estimators: int = 100,
        max_depth: int = 3,
        learning_rate: float = 0.1,
        random_state: int = 42,
        **kwargs: Any,
    ):
        self.params = {
            "objective": "reg:squarederror",
            "n_estimators": n_estimators,
            "max_depth": max_depth,
            "learning_rate": learning_rate,
            "random_state": random_state,
            **kwargs,
        }
        self.model_ = None

    def fit(
        self,
        df: DataFrame,
        label_col: str = "label",
        sample_weight_col: str | None = None,
        eval_df: DataFrame | None = None,
        sample_weight_eval_set: list[str] | None = None,
    ):
        self.evals_result_: dict = {}
        self.model_ = train(
            self.params,
            df,
            label_col=label_col,
            sample_weight_col=sample_weight_col,
            eval_df=eval_df,
            sample_weight_eval_set=sample_weight_eval_set,
            evals_result=self.evals_result_,
        )
        _stamp_best_attrs(self, eval_df)
        return self

    def predict(self, df):
        if not isinstance(df, DataFrame):
            # local in → local numpy out (reference core.py:378-382)
            return predict(self.model_, df)
        return predict(self.model_, df).select(*df.columns, "prediction")

    @property
    def feature_importances_(self):
        """Per-feature importances as a numpy array (reference asserts
        this attribute, test_core.py:57); MLlib's impurity-based
        ``featureImportances`` vector."""
        return _feature_importances(self.model_)


class XGBClassifier:
    """sklearn-style facade (reference core.py:487-631).

    Class discovery runs a distributed distinct (reference
    core.py:561-566: da.unique + compute); n_classes > 2 switches the
    objective binary:logistic → multi:softprob (core.py:580-586).
    """

    def __init__(
        self,
        n_estimators: int = 100,
        max_depth: int = 3,
        learning_rate: float = 0.1,
        random_state: int = 42,
        **kwargs: Any,
    ):
        self.params = {
            "objective": "binary:logistic",
            "n_estimators": n_estimators,
            "max_depth": max_depth,
            "learning_rate": learning_rate,
            "random_state": random_state,
            **kwargs,
        }
        self.model_ = None
        self.classes_: list[int] | None = None

    def fit(
        self,
        df: DataFrame,
        label_col: str = "label",
        classes: list[int] | None = None,
        sample_weight_col: str | None = None,
        eval_df: DataFrame | None = None,
        sample_weight_eval_set: list[str] | None = None,
    ):
        if classes is None:
            # eager distributed distinct, like the reference (core.py:566)
            # bounded: |classes| rows
            classes = sorted(
                r[0] for r in df.select(label_col).distinct().collect()
            )
        self.classes_ = classes
        params = dict(self.params)
        if len(classes) > 2 and params["objective"].startswith("binary"):
            params["objective"] = "multi:softprob"
            params["num_class"] = len(classes)
        # mirrors the reference stamping the resolved objective/num_class
        # on the trained model (core.py:262-264, 580-586)
        self.objective_ = params["objective"]
        self.n_classes_ = len(classes)
        self.evals_result_: dict = {}
        self.model_ = train(
            params,
            df,
            label_col=label_col,
            sample_weight_col=sample_weight_col,
            eval_df=eval_df,
            sample_weight_eval_set=sample_weight_eval_set,
            evals_result=self.evals_result_,
        )
        _stamp_best_attrs(self, eval_df)
        return self

    def predict(self, df):
        """Hard labels (reference core.py:617-624: argmax / 0.5 threshold —
        both already inside MLlib's ``prediction`` column). Local input
        returns a local numpy array (reference core.py:378-382)."""
        if not isinstance(df, DataFrame):
            return predict(self.model_, df)
        return predict(self.model_, df).select(*df.columns, "prediction")

    def predict_proba(self, df):
        """Probabilities as array<double> (reference core.py:626-631).
        Binary → MLlib's calibrated ``probability`` vector; multiclass →
        sum-normalized per-class OvR probabilities (sklearn's
        OneVsRestClassifier convention — each binary model's P(class|x),
        renormalized to 1; argmax agrees with ``predict`` because the
        per-model probability is the same monotone transform of the raw
        margin OvR itself argmaxes over). Local input returns an
        (n, n_classes) numpy array."""
        import numpy as np

        from pyspark.ml.functions import vector_to_array

        local = not isinstance(df, DataFrame)
        sdf = _local_features_frame(df)[0] if local else df
        out = predict(self.model_, sdf)
        if "probability" in out.columns:
            proba = vector_to_array("probability")
        elif hasattr(self.model_, "models"):
            out = _ovr_proba_frame(self.model_, _maybe_impute(self.model_, sdf))
            proba = F.col("_ovr_proba")
        else:
            raise NotImplementedError(
                "predict_proba requires a probabilistic backend"
            )
        if local:
            pdf = (
                out.select("_row_idx", proba.alias("proba"))
                .orderBy("_row_idx")
                .toPandas()  # bounded: local-predict API contract
            )
            return np.array(pdf["proba"].tolist(), dtype="float64")
        return out.select(*df.columns, proba.alias("proba"))

    @property
    def feature_importances_(self):
        """Per-feature importances as a numpy array (reference asserts
        this attribute on the classifier, test_core.py:57). Binary →
        MLlib ``featureImportances``; multiclass (OneVsRest) → mean of
        the per-class binary models' importances."""
        return _feature_importances(self.model_)


def _ovr_proba_frame(model, df: DataFrame) -> DataFrame:
    """OneVsRestModel probabilities: run each per-class binary model's
    transform (k distributed passes, k = n_classes), take its P(positive),
    and renormalize across classes into one ``_ovr_proba`` array<double>
    column. All column work stays JVM-side."""
    from pyspark.ml.functions import vector_to_array

    out = df
    cols = []
    for i, sub in enumerate(model.models):
        sub = sub.copy()
        sub.setPredictionCol(f"_ovr_pred_{i}")
        sub.setRawPredictionCol(f"_ovr_raw_{i}")
        sub.setProbabilityCol(f"_ovr_p_{i}")
        out = sub.transform(out)
        cols.append(F.element_at(vector_to_array(f"_ovr_p_{i}"), 2))
    total = sum(cols[1:], cols[0])
    arr = F.array(*[c / total for c in cols])
    drop = [c for c in out.columns if c.startswith("_ovr_pred_")
            or c.startswith("_ovr_raw_") or c.startswith("_ovr_p_")]
    return out.withColumn("_ovr_proba", arr).drop(*drop)


def _stamp_best_attrs(est, eval_df) -> None:
    """Mirror the reference's early-stopping attributes (core.py:477-479:
    ``best_score`` / ``best_iteration`` / ``best_ntree_limit`` stamped on
    the estimator after fitting with an eval set). Here the eval history
    comes from ``evals_result_`` (validationIndicatorCol implies MLlib's
    validationTol early stopping), ``best_iteration`` is the argmin of
    the per-iteration validation loss, and ``best_ntree_limit`` follows
    xgboost's convention of best_iteration + 1."""
    if eval_df is None:
        return
    history = est.evals_result_.get("validation_0", {}).get("loss", [])
    if not history:
        return
    est.best_score = min(history)
    est.best_iteration = history.index(est.best_score)
    est.best_ntree_limit = est.best_iteration + 1


def _feature_importances(model):
    import numpy as np

    if model is None:
        raise AttributeError("model is not fitted")
    if hasattr(model, "featureImportances"):
        return np.asarray(model.featureImportances.toArray())
    if hasattr(model, "models"):  # OneVsRestModel: average the OvR binaries
        return np.mean(
            [np.asarray(m.featureImportances.toArray()) for m in model.models],
            axis=0,
        )
    raise AttributeError(f"{type(model).__name__} exposes no featureImportances")
