"""ML layer tests — transplants of the reference's test strategy
(SURVEY.md §5: dask_xgboost/tests/test_core.py patterns)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dask_xgboost_spark.ml.core import (
    XGBClassifier,
    XGBRegressor,
    assemble_features,
    predict,
    train,
    translate_params,
)

PARAMS = dict(n_estimators=8, max_depth=3, learning_rate=0.5, random_state=42)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from dask_xgboost_spark.sources import load

    df = assemble_features(load(spark, sf_dir, "embeddings"))
    df = df.withColumn("y", (F.col("label") < 5).cast("double")).cache()
    df.count()
    return df


def test_param_translation():
    # reference core.py:466: n_estimators → boosting rounds
    out = translate_params({"n_estimators": 7, "eta": 0.3, "max_depth": 4, "unknown_param": 1})
    assert out == {"maxIter": 7, "stepSize": 0.3, "maxDepth": 4}


def test_classifier_accuracy_and_determinism(spark, emb):
    # pattern: test_classifier (test_core.py:42-58) — distributed training
    # reaches sane accuracy; "we can do this twice" (test_core.py:348).
    clf = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    preds = clf.predict(emb).select("vec_id", "prediction").toPandas()
    truth = emb.select("vec_id", "y").toPandas()
    j = preds.merge(truth, on="vec_id")
    acc = (j["prediction"] == j["y"]).mean()
    assert acc >= 0.8, f"train accuracy {acc}"

    clf2 = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    preds2 = clf2.predict(emb).select("vec_id", "prediction").toPandas()
    assert preds.sort_values("vec_id").reset_index(drop=True).equals(
        preds2.sort_values("vec_id").reset_index(drop=True)
    ), "same seed must give identical models"


def test_classifier_predict_proba_consistency(spark, emb):
    # pattern: test_predict_proba (test_core.py:478-505): argmax(proba)
    # agrees with predict; binary threshold at 0.5 (core.py:623).
    clf = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    out = clf.predict_proba(emb).join(
        clf.predict(emb).select("vec_id", "prediction"), "vec_id"
    )
    bad = out.filter(
        (F.element_at("proba", 2) > 0.5) != (F.col("prediction") == 1.0)
    ).count()
    assert bad == 0


def test_classes_discovery_and_multiclass(spark, emb):
    # reference core.py:561-566 (distributed unique) + 580-586 (objective
    # switch); shape assert pattern of test_classifier_multi (:233-265).
    df = emb.withColumn("ym", F.col("label").cast("double"))
    clf = XGBClassifier(n_estimators=3, max_depth=2).fit(df, label_col="ym")
    assert clf.classes_ == [float(i) for i in range(10)]
    assert clf.objective_ == "multi:softprob"
    assert clf.n_classes_ == 10
    preds = clf.predict(df).select("prediction").distinct().toPandas()
    assert set(preds["prediction"]) <= set(float(i) for i in range(10))


def test_regressor_rmse_and_determinism(spark, emb):
    # pattern: test_regressor (test_core.py:268-279)
    df = emb.withColumn("target", F.element_at("embedding", 1).cast("double"))
    reg = XGBRegressor(**PARAMS).fit(df, label_col="target")
    out = reg.predict(df).withColumn("err", F.col("prediction") - F.col("target"))
    rmse = out.agg(F.sqrt(F.avg(F.col("err") * F.col("err")))).collect()[0][0]
    std = df.agg(F.stddev("target")).collect()[0][0]
    assert rmse < std, f"rmse {rmse} should beat the target stddev {std}"


def test_sample_weight_changes_model(spark, emb):
    # pattern: test_validation_weights_* (test_core.py:173-337): weighting
    # must change predictions.
    df = emb.withColumn("w", (1 + F.col("vec_id") % 2 * 10).cast("double"))
    base = XGBClassifier(**PARAMS).fit(df, label_col="y")
    weighted = XGBClassifier(**PARAMS).fit(df, label_col="y", sample_weight_col="w")
    a = base.predict_proba(df).select("vec_id", F.element_at("proba", 2).alias("p"))
    b = weighted.predict_proba(df).select(
        "vec_id", F.element_at("proba", 2).alias("p2")
    )
    diff = (
        a.join(b, "vec_id")
        .agg(F.sum(F.abs(F.col("p") - F.col("p2"))).alias("d"))
        .collect()[0]["d"]
    )
    assert diff > 0, "weights must affect the model"


def test_eval_set_validation(spark, emb):
    # pattern: _package_evals / evals_result (core.py:138-151, 259-260):
    # validation frame is accepted and training still converges.
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    va = emb.filter(F.col("vec_id") % 5 == 0)
    clf = XGBClassifier(**PARAMS).fit(tr, label_col="y", eval_df=va)
    # the validation-indicator path must produce a model that still fits
    # the training data (the fixture embeddings generalize weakly, so the
    # assertable bar is train-set fit + val predictions materializing)
    jt = clf.predict(tr)  # carries tr's columns incl. y, plus prediction
    acc_tr = jt.filter(F.col("prediction") == F.col("y")).count() / jt.count()
    assert acc_tr >= 0.7
    assert clf.predict(va).count() == va.count()


def test_train_predict_functional_api(spark, emb):
    # the non-estimator API (reference train/predict, core.py:268/340)
    model = train(
        {"objective": "binary:logistic", **PARAMS}, emb, label_col="y"
    )
    out = predict(model, emb)
    assert "prediction" in out.columns
    assert out.count() == emb.count()


def test_one_partition_input_fits_on_every_core(spark, emb):
    # reference core.py:164-231 gives every worker a task; here train()
    # spreads even a single-partition input over defaultParallelism, so
    # every per-level histogram stage runs one task per core
    sc = spark.sparkContext
    group = "test_ml_one_partition_fit"
    sc.setJobGroup(group, group)
    try:
        train({"objective": "binary:logistic", **PARAMS}, emb.coalesce(1), label_col="y")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = [
        st.getStageInfo(s)
        for j in st.getJobIdsForGroup(group)
        for s in st.getJobInfo(j).stageIds
    ]
    hist = {s.stageId: s.numTasks for s in stages if s and "RandomForest.scala" in s.name}
    assert hist, "no histogram stages recorded for the fit"
    assert set(hist.values()) == {sc.defaultParallelism}, hist


def test_extra_columns_do_not_change_model(spark, emb):
    # train() narrows its input before the repartition, so the columns a
    # caller happens to carry cannot move rows between partitions.
    # Subsampling seeds per partition, which makes the model sensitive to
    # which rows land in which partition.
    import numpy as np

    params = {"objective": "binary:logistic", **PARAMS, "subsample": 0.5}
    wide = train(params, emb, label_col="y")
    narrow = train(params, emb.select("features", "y"), label_col="y")

    def scored(model):
        from pyspark.ml.functions import vector_to_array

        return (
            predict(model, emb)
            .select("vec_id", "prediction", vector_to_array("probability").alias("p"))
            .toPandas()
            .sort_values("vec_id")
            .reset_index(drop=True)
        )

    a, b = scored(wide), scored(narrow)
    assert a["prediction"].equals(b["prediction"])
    assert np.array_equal(np.stack(a["p"]), np.stack(b["p"]))


def test_multiclass_sample_weight_survives_narrowing(spark, emb):
    # the OneVsRest weight path (est.setWeightCol) reads a column that
    # train() must keep when it narrows the fit input
    import numpy as np

    df = emb.withColumn("ym", F.col("label").cast("double")).withColumn(
        "w", (1 + F.col("vec_id") % 2 * 10).cast("double")
    )
    base = XGBClassifier(n_estimators=3, max_depth=2).fit(df, label_col="ym")
    weighted = XGBClassifier(n_estimators=3, max_depth=2).fit(
        df, label_col="ym", sample_weight_col="w"
    )
    assert weighted.objective_ == "multi:softprob"

    def proba(clf):
        pdf = clf.predict_proba(df).select("vec_id", "proba").toPandas()
        return np.stack(pdf.sort_values("vec_id")["proba"])

    assert not np.array_equal(proba(base), proba(weighted)), (
        "weights must affect the multiclass model"
    )


def test_bad_objective_raises(spark, emb):
    with pytest.raises(ValueError, match="unsupported objective"):
        train({"objective": "rank:pairwise"}, emb, label_col="y")


def test_evals_result_history(spark, emb):
    # reference evals_result/history (core.py:120,259-260; pattern
    # test_core.py:508-533): per-iteration validation loss is recorded
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    va = emb.filter(F.col("vec_id") % 5 == 0)
    history: dict = {}
    train(
        {"objective": "binary:logistic", **PARAMS},
        tr,
        label_col="y",
        eval_df=va,
        evals_result=history,
    )
    losses = history["validation_0"]["loss"]
    # validationIndicatorCol implies early stopping (validationTol), so
    # the history covers the trees actually built, ≤ n_estimators —
    # matching the reference where best_ntree_limit ≤ num_boost_round
    assert 1 <= len(losses) <= PARAMS["n_estimators"]
    assert all(isinstance(v, float) for v in losses)


def test_input_type_matrix(spark, sf_dir):
    # reference §1.2 type grid (numpy/pandas/scipy-sparse partitions,
    # test_core.py:400-441): dense arrays, pandas-constructed frames, and
    # SparseVector features all train.
    import numpy as np
    import pandas as pd
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.types import DoubleType, StructField, StructType

    rng = np.random.RandomState(42)
    X = rng.rand(120, 6)
    y = (X[:, 0] > 0.5).astype(float)

    # pandas → Spark (reference: dd.from_pandas, test_core.py:345)
    pdf = pd.DataFrame({"f" + str(j): X[:, j] for j in range(6)})
    pdf["y"] = y
    dense = spark.createDataFrame(pdf).repartition(4)
    dense = dense.withColumn(
        "features_arr", F.array(*[F.col(f"f{j}") for j in range(6)])
    )
    from dask_xgboost_spark.ml.core import assemble_features

    dense = assemble_features(dense, feature_col="features_arr")
    m1 = train({"objective": "binary:logistic", "n_estimators": 4}, dense, label_col="y")
    assert m1.transform(dense).count() == 120

    # scipy-CSR analogue: SparseVector column (reference test_core.py:415)
    rows = [
        (Vectors.sparse(6, [(j, float(v)) for j, v in enumerate(X[i]) if v > 0.6]),
         float(y[i]))
        for i in range(120)
    ]
    sparse = spark.createDataFrame(
        rows, StructType([StructField("features", VectorUDT()), StructField("y", DoubleType())])
    )
    m2 = train({"objective": "binary:logistic", "n_estimators": 4}, sparse, label_col="y")
    assert m2.transform(sparse).count() == 120


def test_feature_importances(spark, emb):
    # reference test_core.py:57: the fitted classifier exposes
    # feature_importances_; nonneg, feature-dim length, sums to ~1
    import numpy as np

    clf = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    imp = clf.feature_importances_
    dim = len(emb.select("embedding").first()["embedding"])
    assert imp.shape == (dim,)
    assert (imp >= 0).all() and imp.sum() > 0

    reg = XGBRegressor(**PARAMS).fit(
        emb.withColumn("t", F.element_at("embedding", 1).cast("double")),
        label_col="t",
    )
    assert reg.feature_importances_.shape == (dim,)


def test_local_data_predict_matches_distributed(spark, emb):
    # reference core.py:378-382: predict accepts non-distributed input;
    # local in → local numpy out, equal to the distributed path
    import numpy as np

    clf = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    sample = emb.orderBy("vec_id").limit(20).toPandas()
    local_X = np.array(sample["embedding"].tolist(), dtype="float64")

    got = clf.predict(local_X)
    assert isinstance(got, np.ndarray) and got.shape == (20,)
    want = (
        clf.predict(emb.orderBy("vec_id").limit(20))
        .orderBy("vec_id")
        .toPandas()["prediction"]
        .to_numpy()
    )
    assert (got == want).all()

    proba = clf.predict_proba(local_X)
    assert proba.shape == (20, 2)
    assert np.allclose(proba.sum(axis=1), 1.0)
    assert ((proba[:, 1] > 0.5) == (got == 1.0)).all()


def test_weighted_eval_history_differs(spark, emb):
    # reference core.py:138-151 + test_core.py:166-170: eval-set weights
    # flow into the reported validation history (zip-truncation: extra
    # weight specs are ignored)
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    va = emb.filter(F.col("vec_id") % 5 == 0).withColumn(
        "vw", (1 + (F.col("vec_id") % 3) * 9).cast("double")
    )
    plain: dict = {}
    train({"objective": "binary:logistic", **PARAMS}, tr, label_col="y",
          eval_df=va, evals_result=plain)
    weighted: dict = {}
    train({"objective": "binary:logistic", **PARAMS}, tr, label_col="y",
          eval_df=va, evals_result=weighted,
          sample_weight_eval_set=["vw", "ignored_extra_entry"])
    h0 = plain["validation_0"]["loss"]
    h1 = weighted["validation_0"]["loss"]
    assert h0 and h1
    # the weighted validation signal changes the history — values and/or
    # the early-stopping point (validationIndicatorCol stops on the
    # weighted signal)
    assert h0 != h1, "eval-set weights must change the reported history"


def test_callable_eval_metric_accepted_and_dropped(spark, emb):
    # reference core.py:454-458: callable metrics are accepted with a
    # warning and dropped (they cannot cross the distributed boundary)
    with pytest.warns(UserWarning, match="callable eval_metric"):
        model = train(
            {"objective": "binary:logistic", **PARAMS},
            emb,
            label_col="y",
            eval_metric=lambda y, p: 0.0,
        )
    assert predict(model, emb).count() == emb.count()


def test_missing_sentinel_at_train(spark, emb):
    # reference dmatrix_kwargs['missing'] (test_core.py:366-382): the
    # sentinel changes training. Poison one feature slot with -999 on
    # every 3rd row: trained WITH missing=-999 (mean-imputed) must differ
    # from trained without, and imputation must erase the sentinel.
    import numpy as np

    from dask_xgboost_spark.ml.core import replace_missing
    from pyspark.ml.functions import vector_to_array

    poisoned = assemble_features(
        emb.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    (i == 0) & (F.col("vec_id") % 3 == 0), F.lit(-999.0)
                ).otherwise(x.cast("double")),
            ),
        )
    )
    fixed = replace_missing(poisoned, -999.0)
    mn = (
        fixed.select(F.array_min(vector_to_array("features")).alias("m"))
        .agg(F.min("m"))
        .collect()[0][0]
    )
    assert mn > -999.0, "sentinel slots must be imputed away"

    naive = train({"objective": "binary:logistic", **PARAMS}, poisoned, label_col="y")
    aware = train(
        {"objective": "binary:logistic", **PARAMS},
        poisoned,
        label_col="y",
        missing=-999.0,
    )
    a = predict(naive, poisoned).select("vec_id", "prediction").toPandas()
    b = predict(aware, poisoned).select("vec_id", "prediction").toPandas()
    assert not a.merge(b, on="vec_id").query("prediction_x != prediction_y").empty


def test_missing_sentinel_no_train_serve_skew(spark, emb):
    # The training-frame means must be stamped on the model and applied at
    # predict time: predicting on sentinel-bearing data through predict()
    # must equal a raw transform over the explicitly pre-imputed frame
    # (same means), NOT a raw transform over the un-imputed frame.
    from dask_xgboost_spark.ml.core import apply_impute

    poisoned = assemble_features(
        emb.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    (i == 0) & (F.col("vec_id") % 3 == 0), F.lit(-999.0)
                ).otherwise(x.cast("double")),
            ),
        )
    )
    model = train(
        {"objective": "binary:logistic", **PARAMS},
        poisoned,
        label_col="y",
        missing=-999.0,
    )
    assert model._impute_missing == -999.0
    assert isinstance(model._impute_means, list) and len(model._impute_means) > 0

    via_predict = predict(model, poisoned).select("vec_id", "prediction").toPandas()
    pre_imputed = apply_impute(poisoned, -999.0, model._impute_means)
    expected = model.transform(pre_imputed).select("vec_id", "prediction").toPandas()
    m = via_predict.merge(expected, on="vec_id")
    assert m.query("prediction_x != prediction_y").empty, (
        "predict() must impute with the training means"
    )
    # and the serve-side imputation actually fires: the features reaching
    # the trees through _maybe_impute contain no sentinel
    from dask_xgboost_spark.ml.core import _maybe_impute
    from pyspark.ml.functions import vector_to_array

    mn = (
        _maybe_impute(model, poisoned)
        .select(F.array_min(vector_to_array("features")).alias("m"))
        .agg(F.min("m"))
        .collect()[0][0]
    )
    assert mn > -999.0, "sentinel must be gone at serve time"


def test_multiclass_predict_proba_ovr(spark, emb):
    # reference core.py:626-631 returns softprob for multiclass; the OvR
    # equivalent is sum-normalized per-class probabilities whose argmax
    # agrees with predict()
    import numpy as np

    df = emb.withColumn("ym", F.col("label").cast("double"))
    clf = XGBClassifier(n_estimators=3, max_depth=2).fit(df, label_col="ym")
    out = (
        clf.predict_proba(df)
        .join(clf.predict(df).select("vec_id", "prediction"), "vec_id")
        .select("vec_id", "proba", "prediction")
        .toPandas()
    )
    proba = np.array(out["proba"].tolist())
    assert proba.shape[1] == 10
    assert np.allclose(proba.sum(axis=1), 1.0)
    assert (proba.argmax(axis=1) == out["prediction"].to_numpy()).all()


def test_model_save_load_roundtrip(spark, emb, tmp_path):
    # model persistence (MLlib native writer — the engine's equivalent of
    # pickling a Booster): reloaded model must predict identically
    from pyspark.ml.classification import GBTClassificationModel

    clf = XGBClassifier(**PARAMS).fit(emb, label_col="y")
    path = str(tmp_path / "gbt_model")
    clf.model_.write().overwrite().save(path)
    loaded = GBTClassificationModel.load(path)

    a = clf.predict(emb).select("vec_id", "prediction").toPandas().sort_values("vec_id")
    b = (
        predict(loaded, emb)
        .select("vec_id", "prediction")
        .toPandas()
        .sort_values("vec_id")
    )
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_cross_validator_deterministic(spark, emb):
    # M-TRAIN-07: same seed → same fold split → same chosen params and
    # identical per-candidate metrics across runs
    from dask_xgboost_spark.registry import load_all

    fn = load_all()["M-TRAIN-07"].fn
    a = fn(spark, "/root/testdata/sf0.001").collect()
    b = fn(spark, "/root/testdata/sf0.001").collect()
    assert a == b
    assert sum(r["is_best"] for r in a) == 1
    assert all(0.0 <= r["avg_auc"] <= 1.0 for r in a)


def test_best_attrs_after_eval_fit(spark, emb):
    # reference core.py:448,477-479: fitting with an eval set stamps
    # evals_result_, best_score, best_iteration, best_ntree_limit
    tr = emb.filter(F.col("vec_id") % 5 != 0)
    va = emb.filter(F.col("vec_id") % 5 == 0)
    clf = XGBClassifier(**PARAMS).fit(tr, label_col="y", eval_df=va)
    hist = clf.evals_result_["validation_0"]["loss"]
    assert len(hist) >= 1
    assert clf.best_score == min(hist)
    assert hist[clf.best_iteration] == clf.best_score
    assert clf.best_ntree_limit == clf.best_iteration + 1
    # and a fit WITHOUT an eval set must not invent the attributes
    clf2 = XGBClassifier(**PARAMS).fit(tr, label_col="y")
    assert clf2.evals_result_ == {}
    assert not hasattr(clf2, "best_score")


def test_categorical_encoding_matches_stringindexer(spark, sf_dir):
    """M-PREP-03's declarative frequencyDesc window must reproduce MLlib
    StringIndexer's default encoding exactly (same index per category)."""
    from pyspark.ml.feature import StringIndexer

    from dask_xgboost_spark.registry import load_all
    from dask_xgboost_spark.sources import load

    ours = load_all()["M-PREP-03"].fn(spark, sf_dir).toPandas()
    cust = load(spark, sf_dir, "customer")
    si = StringIndexer(inputCol="c_mktsegment", outputCol="mllib_idx").fit(cust)
    theirs = (
        si.transform(cust)
        .select("c_custkey", F.col("mllib_idx").cast("int").alias("mllib_idx"))
        .toPandas()
    )
    m = ours.merge(theirs, on="c_custkey")
    assert len(m) == len(ours) > 0
    assert (m.seg_index == m.mllib_idx).all()


def test_sparse_struct_and_flat_ingestion_match_dense(spark):
    """Sparse ingestion parity (reference test_sparse/test_scipy_sparse,
    test_core.py:415-441): the SAME data handed over in a sparse container
    must train to the SAME model as the dense hand-over."""
    import numpy as np

    from dask_xgboost_spark.ml.core import sparse_features

    rng = np.random.RandomState(7)
    X = rng.rand(150, 5)
    X[X < 0.4] = 0.0  # real zeros so the sparse encoding is exercised
    y = (X[:, 0] + X[:, 3] > 0.9).astype(float)

    rows = [
        (
            int(i),
            [float(v) for v in X[i]],
            5,
            [int(j) for j in np.nonzero(X[i])[0]],
            [float(v) for v in X[i][np.nonzero(X[i])]],
            float(y[i]),
        )
        for i in range(150)
    ]
    df = spark.createDataFrame(
        rows,
        "_row_idx long, arr array<double>, size int, "
        "indices array<int>, values array<double>, y double",
    ).repartition(4)

    dense = assemble_features(df, feature_col="arr")
    flat = sparse_features(df)
    struct = assemble_features(
        df.withColumn("sp", F.struct("size", "indices", "values")),
        feature_col="sp",
    )

    params = {"objective": "binary:logistic", "n_estimators": 4, "random_state": 0}
    preds = []
    for frame in (dense, flat, struct):
        m = train(params, frame, label_col="y")
        out = (
            m.transform(frame)
            .select("_row_idx", "prediction")
            .orderBy("_row_idx")
            .toPandas()
        )
        preds.append(out["prediction"].to_numpy())
    assert (preds[0] == preds[1]).all()
    assert (preds[1] == preds[2]).all()

    # and the constructed vectors really are sparse (nnz storage, not dim)
    v = flat.select("features").first()["features"]
    from pyspark.ml.linalg import SparseVector

    assert isinstance(v, SparseVector)
    assert len(v.indices) < v.size


def test_sparse_struct_rejects_bad_fields(spark):
    df = spark.createDataFrame([(1,)], "x int").withColumn(
        "sp", F.struct(F.lit(1).alias("a"), F.lit(2).alias("b"))
    )
    with pytest.raises(ValueError, match="size/indices/values"):
        assemble_features(df, feature_col="sp")


def test_scipy_csr_local_predict():
    """Local CSR in → local predictions out (reference predict on
    csr_matrix partitions, core.py:378-384). Skips where scipy is absent —
    the distributed sparse path is covered above either way."""
    scipy_sparse = pytest.importorskip("scipy.sparse")
    import numpy as np

    from dask_xgboost_spark.ml.core import _local_features_frame

    X = np.eye(6, dtype="float64") * 3.0
    sdf, n = _local_features_frame(scipy_sparse.csr_matrix(X))
    assert n == 6
    v = sdf.orderBy("_row_idx").select("features").collect()[2]["features"]
    from pyspark.ml.linalg import SparseVector

    assert isinstance(v, SparseVector)
    assert v[2] == 3.0 and v.numNonzeros() == 1
