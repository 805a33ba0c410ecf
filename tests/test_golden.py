"""Golden / tolerance checks for the non-hash-mode specs (SURVEY.md §2C/§2G):
approx aggregates, LSH recall, SimHash, sampling, streaming watermarks."""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_xgboost_spark.registry import load_all

SPECS = load_all()


def test_approx_count_distinct_tolerance(spark, sf_dir):
    out = SPECS["Q-AGG-08"].fn(spark, sf_dir).toPandas()
    rel_err = (out["approx_cust"] - out["exact_cust"]).abs() / out["exact_cust"]
    assert (rel_err <= 0.05).all(), out


def test_approx_percentile_tolerance(spark, sf_dir):
    out = SPECS["Q-AGG-12"].fn(spark, sf_dir).toPandas()
    rel = (out["approx_median"] - out["exact_median"]).abs() / out["exact_median"]
    assert (rel <= 0.05).all(), out


def test_sample_deterministic(spark, sf_dir):
    a = SPECS["Q-SAMPLE-01"].fn(spark, sf_dir).toPandas()
    b = SPECS["Q-SAMPLE-01"].fn(spark, sf_dir).toPandas()
    # content-hash sampling is partitioning-independent → exactly stable
    assert a["sample_rows"][0] == b["sample_rows"][0]
    assert a["sample_qty_c"][0] == b["sample_qty_c"][0]
    n = a["sample_rows"][0]
    assert 0.05 <= n / 60000 <= 0.15, "≈10% of sf0.01 lineitem"


def test_bernoulli_sample_api(spark, sf_dir):
    # .sample(seed) API coverage lives here since the r12 Q-SAMPLE-01
    # golden→hash upgrade: seeded Bernoulli is deterministic only for a
    # FIXED partitioning (never oracle-checkable), so pin within-session
    # stability and the rate, not values
    from dask_xgboost_spark.sources import load

    li = load(spark, sf_dir, "lineitem")
    n1 = li.sample(fraction=0.1, seed=42).count()
    n2 = li.sample(fraction=0.1, seed=42).count()
    assert n1 == n2, "same seed + same partitioning must be stable"
    assert 0.05 <= n1 / 60000 <= 0.15, "≈10% of sf0.01 lineitem"


def test_minhash_lsh_recall_on_planted_dups(spark, sf_dir):
    # Plant near-duplicates (copy a doc, perturb one token) and assert
    # the LSH pipeline recalls the planted pairs.
    from dask_xgboost_spark.operators.dedup import minhash_candidates

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(100)
    )
    planted = docs.limit(20).selectExpr(
        "doc_id + 100000 AS doc_id",
        "concat('zzz ', substr(text, 5)) AS text",  # drop head, add a token
    )
    out = minhash_candidates(docs.union(planted), dist_threshold=0.6).toPandas()
    got = set(map(tuple, out[["d1", "d2"]].values))
    want = {(i, i + 100000) for i in range(20)}
    recall = len(got & want) / len(want)
    assert recall >= 0.9, f"LSH recall {recall} of planted near-dups"


def test_simhash_deterministic_and_discriminative(spark, sf_dir):
    fp1 = SPECS["L-DEDUP-04"].fn(spark, sf_dir).toPandas()
    fp2 = SPECS["L-DEDUP-04"].fn(spark, sf_dir).toPandas()
    assert fp1.equals(fp2), "simhash must be deterministic"
    # identical texts must collide on the fingerprint
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    m = fp1.merge(docs.toPandas(), on="doc_id")
    by_text = m.groupby("text")["simhash"].nunique()
    assert (by_text == 1).all(), "equal text ⇒ equal simhash"


def test_ann_recall_vs_exact(spark, sf_dir):
    exact = SPECS["L-SIM-01"].fn(spark, sf_dir).toPandas()
    want = set(map(tuple, exact[["qid", "cid"]].values))
    for ann_id in ("L-SIM-02", "L-SIM-03", "L-SIM-07"):
        ann = SPECS[ann_id].fn(spark, sf_dir).toPandas()
        got = set(map(tuple, ann[["qid", "cid"]].values))
        recall = len(got & want) / len(want)
        assert recall >= 0.9, f"{ann_id} recall {recall}"


def test_cosine_neardup_finds_planted_pairs(spark, sf_dir):
    out = SPECS["L-DEDUP-05"].fn(spark, sf_dir).toPandas()
    got = set(map(tuple, out[["v1", "v2"]].values))
    want = {(i, i + 100000) for i in range(20)}
    assert want <= got, f"missing planted pairs: {sorted(want - got)[:5]}"
    assert (out["cosine"] >= 0.95).all()


def test_tfidf_deterministic(spark, sf_dir):
    a = SPECS["L-TEXT-04"].fn(spark, sf_dir).toPandas()
    b = SPECS["L-TEXT-04"].fn(spark, sf_dir).toPandas()
    assert a.equals(b)
    # carrier-consistency: every identity the integer core must obey
    assert (a["n_tok"] >= a["n_terms"]).all()
    assert (a["max_tf"] ** 2 <= a["tf_sq_sum"]).all()
    assert (a["tf_sq_sum"] <= a["max_tf"] * a["n_tok"]).all()
    # df >= 1 for every term the doc contains, df <= N for all
    assert (a["df_checksum"] >= a["n_tok"]).all()
    assert (a["df_checksum"] <= a["n_tok"] * a["n_docs"]).all()


def test_tfidf_core_is_what_mllib_consumes(spark, sf_dir):
    """L-TEXT-04 (hash-upgraded r11): the registry pins the exact
    integer TF/DF core; this closes the float loop — MLlib's IDF model
    fitted on the same exact-vocabulary counts must observe the SAME
    per-term document frequencies (IDFModel.docFreq), so the pinned
    core is literally the input of the standard TF-IDF weighting
    ln((N+1)/(df+1))+1, which is pure post-arithmetic on it."""
    from pyspark.ml.feature import IDF, CountVectorizer

    from dask_xgboost_spark.sources import load

    docs = load(spark, sf_dir, "documents").withColumn(
        "tokens",
        F.filter(F.split(F.lower("text"), " "), lambda w: w != ""),
    )
    cv = CountVectorizer(inputCol="tokens", outputCol="tf_vec").fit(docs)
    idf_model = IDF(inputCol="tf_vec", outputCol="tfidf").fit(cv.transform(docs))
    mllib_df = dict(zip(cv.vocabulary, idf_model.docFreq))

    tok = docs.select("doc_id", F.explode("tokens").alias("term"))
    ours = {
        r["term"]: r["df"]
        for r in tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    assert set(ours) == set(mllib_df)
    mismatches = {t for t in ours if ours[t] != mllib_df[t]}
    assert not mismatches, sorted(mismatches)[:5]


def test_multimodal_plumbing(spark, sf_dir):
    out = SPECS["L-MM-02"].fn(spark, sf_dir)
    assert dict(out.dtypes) == {
        "doc_id": "bigint", "width": "bigint", "height": "bigint",
        "maxval": "bigint", "raster_md5": "string",
    }
    pdf = out.toPandas()
    assert (pdf["height"] == 1).all() and (pdf["maxval"] == 255).all()
    assert pdf["raster_md5"].str.len().eq(32).all()


def test_bigram_exprs_survive_single_token_docs(spark):
    """Regression (r6 review): Spark's sequence(1, 0) is DESCENDING, so
    the unguarded bigram transform indexed out of bounds on any 1-token
    document — a latent crash the ≥10-token fixtures never hit, while
    DuckDB's end-exclusive range() sailed through. Both bigram ops must
    now return zero bigrams for degenerate docs, not abort the job."""
    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two tokens")], "doc_id bigint, text string"
    )
    df.createOrReplaceTempView("documents_tiny")

    from dask_xgboost_spark.operators.text import l_text_02, l_text_20

    import dask_xgboost_spark.operators.text as textmod
    from unittest import mock

    with mock.patch.object(textmod, "load", lambda spark, sf, t: df):
        rows = {r["doc_id"]: r["n_bigrams"] for r in l_text_02(spark, "x").collect()}
        assert rows == {1: 0, 2: 0, 3: 1}
        # PMI miner: degenerate docs contribute no bigrams, no crash
        assert l_text_20(spark, "x").count() == 0  # no pair reaches support


def test_extract_features_over_pgm(spark, sf_dir):
    """The generic decode→featurize API (extract_features) runs the
    REAL codec path: PGM payloads decode inside mapInPandas and the
    chunked-pixel-mean features come out typed and deterministic."""
    from pyspark.sql import functions as F

    from dask_xgboost_spark.operators.multimodal import (
        FEATURE_DIM,
        encode_pgm,
        extract_features,
    )

    rows = [
        (1, encode_pgm(b"hello world!", width=12, height=1)),
        (2, encode_pgm(bytes(range(64)), width=8, height=8)),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = {r["doc_id"]: r["features"] for r in extract_features(df).collect()}
    assert len(out[1]) == len(out[2]) == FEATURE_DIM
    # chunked means of known rasters are exactly predictable
    import numpy as np

    arr = np.frombuffer(b"hello world!", dtype=np.uint8).astype(float)
    want = [float(c.mean()) for c in np.array_split(arr, FEATURE_DIM)]
    assert out[1] == want


def test_pgm_codec_round_trip():
    """The codec itself: arbitrary bytes (including 0x00/0xff and bytes
    that look like header whitespace) survive encode→decode, comments
    and multi-whitespace headers parse, corrupt payloads raise."""
    import pytest

    from dask_xgboost_spark.operators.multimodal import (
        decode_media,
        decode_pgm,
        encode_pgm,
    )

    raster = bytes(range(256)) * 2
    blob = encode_pgm(raster, width=64, height=8)
    img = decode_pgm(blob)
    assert (img["width"], img["height"], img["maxval"]) == (64, 8, 255)
    assert img["raster"] == raster

    # hand-written header: comments between tokens, CRLF-ish whitespace
    manual = b"P5\n#c1\n 3 #c2\n 2\n255\n" + bytes(6)
    img2 = decode_pgm(manual)
    assert (img2["width"], img2["height"]) == (3, 2)
    assert img2["raster"] == bytes(6)

    with pytest.raises(ValueError):
        decode_pgm(b"P5\n3 2\n255\n\x00\x00")  # truncated raster
    with pytest.raises(ValueError):
        encode_pgm(b"abc", width=2, height=2)  # size mismatch
    with pytest.raises(NotImplementedError):
        decode_media(b"xx")  # no codec for unknown magic


def test_early_stopping_builds_fewer_trees(spark, sf_dir):
    out = SPECS["M-TRAIN-06"].fn(spark, sf_dir).toPandas()
    assert out["trees_built"][0] <= out["trees_requested"][0]


def test_synthetic_generation_partition_independent(spark):
    from dask_xgboost_spark.sources.synthetic import make_timeseries

    a = make_timeseries(spark, 500, num_partitions=2).orderBy("ts").toPandas()
    b = make_timeseries(spark, 500, num_partitions=16).orderBy("ts").toPandas()
    assert a.equals(b), "hash-seeded generation must not depend on partitioning"
    assert set(a.columns) == {"series_id", "ts", "name", "x", "y"}
    assert a["x"].between(-1, 1).all()


def test_compaction_preserves_rows(spark, sf_dir):
    out = SPECS["G-COMPACT-01"].fn(spark, sf_dir).toPandas()
    assert out["files_before"][0] == 32
    assert out["files_after"][0] == 4
    assert out["rows"][0] == 10000


def test_streaming_restart_is_exactly_once(spark, sf_dir):
    # re-starting an availableNow stream on the SAME checkpoint must not
    # re-process anything (file-sink exactly-once via the sink log)
    import os
    import tempfile

    from pyspark.sql import functions as SF

    out_dir = tempfile.mkdtemp(prefix="dxs_once_")
    ckpt = tempfile.mkdtemp(prefix="dxs_once_ckpt_")
    # one fixed source dir — the checkpoint binds to it across restarts
    src_dir = tempfile.mkdtemp(prefix="dxs_once_src_")
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(src_dir, "events.parquet"))
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def run_once():
        from dask_xgboost_spark.sources.tables import normalize_events_ts

        ev = normalize_events_ts(
            spark.readStream.schema(schema).parquet(src_dir)
        ).select("event_id")
        q = (
            ev.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).count()

    first = run_once()
    second = run_once()
    assert first == 10000
    assert second == first, "restart on same checkpoint must add nothing"


def test_watermark_drops_only_closed_windows(spark, sf_dir):
    # S-WM-01: appended windows must be a strict prefix of the batch
    # rollup (only watermark-finalized windows are emitted), and counts
    # must agree with the batch result on that prefix.
    stream = SPECS["S-WM-01"].fn(spark, sf_dir).toPandas()
    batch = (
        SPECS["Q-DATE-02"]
        .fn(spark, sf_dir)
        .select(F.col("h"), F.col("n"))
        .toPandas()
    )
    assert 0 < len(stream) < len(batch)
    m = stream.merge(batch, on="h", suffixes=("_s", "_b"))
    assert len(m) == len(stream), "every emitted window exists in batch"
    assert (m["n_s"] == m["n_b"]).all(), "emitted windows are complete"


def test_jaccard_rare_token_blocking_exact_and_smaller(spark):
    # Skewed corpus: every doc shares 3 hot filler tokens (df = n_docs);
    # near-dup pairs share 7 of 8 rare tokens. With max_token_df between
    # the two regimes, blocking must (a) return exactly the unblocked
    # result — every true pair shares rare tokens — and (b) shrink the
    # posting-list self-join input quadratically on the hot tokens.
    from pyspark.sql import functions as F

    from dask_xgboost_spark.operators.dedup import jaccard_pairs

    rows = []
    for i in range(30):
        rare = " ".join(f"tok{i}_{j}" for j in range(8))
        rows.append((2 * i, f"the a of {rare}"))
        # near-dup: one rare token replaced
        rows.append((2 * i + 1, f"the a of {rare.replace(f'tok{i}_7', f'tok{i}_x')}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    unblocked = jaccard_pairs(docs, threshold=0.6).toPandas()
    blocked = jaccard_pairs(docs, threshold=0.6, max_token_df=10).toPandas()
    assert len(unblocked) == 30, unblocked
    assert blocked.values.tolist() == unblocked.values.tolist()

    # posting-join work ∝ Σ df² per token; blocking must cut it hard
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w")).distinct()
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    work_all = dfreq.agg(F.sum(F.col("df") * F.col("df"))).collect()[0][0]
    work_blocked = (
        dfreq.filter(F.col("df") <= 10).agg(F.sum(F.col("df") * F.col("df"))).collect()[0][0]
    )
    assert work_blocked * 5 < work_all, (work_blocked, work_all)


def test_connected_components_chain_and_isolates(spark):
    # a 6-node path (diameter 5 — exercises multiple propagation rounds),
    # a triangle, and a 2-clique; labels must be the per-component min
    from dask_xgboost_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "a long, b long",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    want = {(n, 1) for n in range(1, 7)} | {(n, 10) for n in (10, 11, 12)} | {
        (20, 20), (21, 20)
    }
    assert got == want


def test_hll_sketch_union_tolerance(spark, sf_dir):
    out = SPECS["Q-AGG-17"].fn(spark, sf_dir).toPandas()
    rel = (out["approx_cust"] - out["exact_cust"]).abs() / out["exact_cust"]
    assert (rel <= 0.05).all(), out
    # the merged (union) estimate must track the true global distinct
    exact_total = (
        SPECS["Q-AGG-02"].fn(spark, sf_dir).toPandas()  # distinct custs per prio
    )
    from dask_xgboost_spark.sources import load

    true_total = load(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    approx_total = out["approx_total"].iloc[0]
    assert abs(approx_total - true_total) / true_total <= 0.05, (approx_total, true_total)


def test_ivf_persisted_index_recall_and_pruning(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from dask_xgboost_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        build_ivf_index,
        search_ivf,
    )
    from dask_xgboost_spark.sources import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_cells=16)

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    got = search_ivf(spark, path, q, nprobe=10, k=TOP_K)

    # partition pruning: the vectors scan must carry a partition filter
    # on cell (only probed directories are listed)
    from dask_xgboost_spark.plans import explain_string

    p = explain_string(got)
    assert "PartitionFilters" in p and "cell" in p.split("PartitionFilters", 1)[1][:200], (
        p[:2000]
    )

    # recall vs exact top-k (same contract as L-SIM-03)
    exact = SPECS["L-SIM-01"].fn(spark, sf_dir).toPandas()
    exact = exact[exact["qid"] < N_QUERIES]
    gp = got.toPandas()
    want = set(map(tuple, exact[["qid", "cid"]].values))
    have = set(map(tuple, gp[["qid", "cid"]].values))
    recall = len(want & have) / len(want)
    assert recall >= 0.9, f"IVF recall {recall}"


def test_count_min_sketch_bounds(spark, sf_dir):
    # Q-AGG-19: CMS estimates are one-sided (est >= exact) and within
    # eps*N with the configured confidence
    from dask_xgboost_spark.registry import load_all
    from dask_xgboost_spark.sources import load

    rows = load_all()["Q-AGG-19"].fn(spark, sf_dir).collect()
    n_total = load(spark, sf_dir, "events").count()
    assert len(rows) == 5
    for r in rows:
        assert r["est"] >= r["exact"]
        assert r["est"] <= r["exact"] + 0.001 * n_total


def test_hash_mode_hll_estimator_accuracy(spark, sf_dir):
    """Q-AGG-27: the register table is hash-pinned; this test closes
    the loop by deriving the actual HLL estimate from the exact-int64
    carrier columns (α_64·m²·2^R / harm_num, linear counting below
    2.5m with zero registers) and checking it against exact_cust.
    m=64 → standard error 1.04/√64 = 13%; the 35% gate is ~2.7σ."""
    import math

    rows = SPECS["Q-AGG-27"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    alpha = 0.7213 / (1 + 1.079 / 64)
    for r in rows:
        # internal consistency of the carrier columns
        assert r["m"] == 64
        assert r["n_regs"] + r["zero_regs"] == 64
        assert r["harm_num"] >= r["n_regs"]  # every 2^(R-reg) term >= 1
        est = alpha * 64 * 64 * (2.0 ** r["max_reg"]) / r["harm_num"]
        if est <= 2.5 * 64 and r["zero_regs"] > 0:
            est = 64 * math.log(64 / r["zero_regs"])
        rel = abs(est - r["exact_cust"]) / r["exact_cust"]
        assert rel <= 0.35, (r["o_orderpriority"], est, r["exact_cust"])


def test_hash_mode_cms_one_sided(spark, sf_dir):
    """Q-AGG-28: every counter-derived estimate must dominate the true
    count (CMS never underestimates — the property that makes it safe
    for heavy-hitter gating), and the estimate can never exceed the
    total increment mass that landed in one counter row."""
    from dask_xgboost_spark.sources import load

    rows = SPECS["Q-AGG-28"].fn(spark, sf_dir).collect()
    n_total = load(spark, sf_dir, "orders").count()
    assert len(rows) == 16
    for r in rows:
        assert r["overcount"] == r["est"] - r["exact"]
        assert r["overcount"] >= 0, r
        assert r["est"] <= n_total


def test_hash_mode_histogram_quantile_bound(spark, sf_dir):
    """Q-AGG-29: the carriers are hash-pinned; this closes the loop on
    the estimator. Deterministic: the interpolated estimate lies inside
    its landing bucket. Accuracy: |est − exact continuous median| is
    within 1.5 bucket widths (the rank-⌈n/2⌉ value is IN the bucket —
    a ≤1-width guarantee — and the continuous median adds at most the
    upper-median's excursion, ≤0.5 width on data this dense)."""
    from dask_xgboost_spark.operators.relational import _A29_W

    rows = SPECS["Q-AGG-29"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        lo = r["bucket_p50"] * _A29_W
        # lo <= (not <): the interpolation (offset*W) DIV cnt floors to
        # 0 (est == lo) whenever a single bucket holds more rows than
        # the bucket width — unreachable at fixture SFs but a legal
        # outcome of the estimator at scale.
        assert lo <= r["est_cents"] <= lo + _A29_W, r
        exact = r["exact_x2c"] / 2
        assert abs(r["est_cents"] - exact) <= 1.5 * _A29_W, r
        assert r["n_buckets"] >= 2  # histogram is non-degenerate


def test_grouped_model_fit_matches_driver_ols(spark, sf_dir):
    """U-GAPPLY-02 (hash-upgraded r11): the registry pins the exact
    int64 moments and rational coefficient carriers; this closes the
    model-fit loop — a driver-side numpy lstsq on the SAME cents-rounded
    data must reproduce the derived closed-form coefficients to float
    precision (lstsq solves the identical normal equations via SVD), and
    the carriers must obey the rational identity."""
    import numpy as np

    from dask_xgboost_spark.registry import load_all
    from dask_xgboost_spark.sources import load

    fn = load_all()["U-GAPPLY-02"].fn
    got = {r["event_type"]: r for r in fn(spark, sf_dir).collect()}
    assert set(got) == {"click", "error", "purchase", "signup", "view"}

    pdf = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .selectExpr(
            "CAST(hour(ts) AS DOUBLE) AS x",
            "CAST(FLOOR(value * 100 + 0.5) AS DOUBLE) AS yc",
        )
        .toPandas()
    )
    A = np.stack([np.ones(len(pdf)), pdf["x"].to_numpy()], axis=1)
    coef, *_ = np.linalg.lstsq(A, pdf["yc"].to_numpy(), rcond=None)
    r = got["click"]
    assert r["n"] == len(pdf)
    # rational identity between the carriers
    assert r["slope_num"] == r["n"] * r["sxy"] - r["sx"] * r["syc"]
    assert r["slope_den"] == r["n"] * r["sxx"] - r["sx"] * r["sx"]
    assert r["icept_num"] == r["syc"] * r["sxx"] - r["sx"] * r["sxy"]
    # SVD fit == closed form on identical inputs
    np.testing.assert_allclose(r["slope_c"], coef[1], rtol=1e-9)
    np.testing.assert_allclose(r["icept_c"], coef[0], rtol=1e-9)
    assert fn(spark, sf_dir).collect() == fn(spark, sf_dir).collect()


def test_state_v2_fold_and_capability_gate(spark, sf_dir):
    """S-STATE-03's processor: _fold_batch is exact over int64 cents, the
    TWS capability gate matches the environment, and the StatefulProcessor
    class is constructible (only the runtime worker needs protobuf)."""
    import importlib.util

    import pandas as pd

    from dask_xgboost_spark.streaming import state_v2

    # fold two chunks == fold the concatenation (associativity across batches)
    a = pd.DataFrame({"value": [1.005, 2.344, 9.99]})
    b = pd.DataFrame({"value": [0.01, 123.455]})
    st = state_v2._fold_batch(a, 0, None, None)
    st = state_v2._fold_batch(b, *st)
    whole = state_v2._fold_batch(pd.concat([a, b]), 0, None, None)
    # cents = FLOOR(x*100+0.5): min 0.01→1, max 123.455→12346
    assert st == whole == (5, 1, 12346)
    proc = state_v2.MinMaxCountProcessor()
    assert hasattr(proc, "handleInputRows")
    has_pb = importlib.util.find_spec("google") is not None and (
        importlib.util.find_spec("google.protobuf") is not None
    )
    assert state_v2.HAS_TWS == has_pb


def test_boilerplate_removal_strips_exactly_planted_segment(spark, sf_dir):
    """L-DEDUP-10 must be load-bearing, not vacuously zero: every 5th doc
    carries the head-aligned planted boilerplate segment and must lose at
    least that segment. A small tail of organic docs also loses segments
    — the fixture's planted exact/near-duplicate doc groups share aligned
    8-token segments across ≥3 docs, which is precisely what the C4 rule
    is supposed to strip — but the vast majority must pass untouched."""
    out = SPECS["L-DEDUP-10"].fn(spark, sf_dir).toPandas()
    planted = out[out.doc_id % 5 == 0]
    organic = out[out.doc_id % 5 != 0]
    assert len(planted) > 0 and (planted.n_removed >= 1).all()
    assert (organic.n_removed == 0).mean() >= 0.9


def test_swm02_drop_accounting_matches_batch(spark, sf_dir):
    """S-WM-02's dropped-updates metric must equal the batch-computed
    number of distinct hour-windows among the planted late rows, and the
    emitted window set must exclude every late-only window below the
    final watermark (no silent partial acceptance)."""
    from dask_xgboost_spark.registry import load_all
    from dask_xgboost_spark.sources import load

    row = load_all()["S-WM-02"].fn(spark, sf_dir).first()
    ev = load(spark, sf_dir, "events").orderBy("ts")
    expected_dropped = (
        ev.limit(64).select(F.date_trunc("hour", "ts")).distinct().count()
    )
    assert row.dropped_updates == expected_dropped
    assert row.n_windows > 0


def test_gapfill_semantics_constructed(spark):
    """gapfill() contract on a hand-built series (operators/timeseries.py):
    leading holes NULL under both modes, LOCF carries forward, interp is
    the exact integer lerp, trailing holes NULL under interp / carried
    under LOCF."""
    import datetime as dt

    from dask_xgboost_spark.operators.timeseries import gapfill

    H = lambda i: dt.datetime(2026, 1, 1, i, 0, 0)
    # key "a": observed at hours 1, 4 (values 100, 400) within spine 0..5
    # (hour 0 and 5 come from key "b" widening the global bounds)
    rows = [
        ("a", H(1), 100),
        ("a", H(4), 400),
        ("b", H(0), 7),
        ("b", H(5), 13),
    ]
    obs = spark.createDataFrame(rows, "k string, h timestamp, v bigint")

    locf = {
        (r["k"], r["h"].hour): (r["v_locf"], r["observed"])
        for r in gapfill(obs, ["k"], "h", "v", how="locf").collect()
    }
    assert locf[("a", 0)] == (None, 0)          # leading hole: NULL
    assert locf[("a", 1)] == (100, 1)
    assert locf[("a", 2)] == (100, 0)           # carried forward
    assert locf[("a", 3)] == (100, 0)
    assert locf[("a", 4)] == (400, 1)
    assert locf[("a", 5)] == (400, 0)           # trailing carried
    assert locf[("b", 2)] == (7, 0)

    interp = {
        (r["k"], r["h"].hour): (r["v_interp"], r["observed"])
        for r in gapfill(obs, ["k"], "h", "v", how="interp").collect()
    }
    assert interp[("a", 0)] == (None, 0)        # leading hole: NULL
    assert interp[("a", 2)] == (200, 0)         # 100 + (400-100)*1/3
    assert interp[("a", 3)] == (300, 0)
    assert interp[("a", 5)] == (None, 0)        # trailing hole: NULL
    assert interp[("b", 1)] == ((7 * 4 + 13 * 1) // 5, 0)  # floor lerp
    assert interp[("b", 4)] == ((7 * 1 + 13 * 4) // 5, 0)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="locf"):
        gapfill(obs, ["k"], "h", "v", how="nope").collect()


def test_observe_metrics_match_batch(spark, sf_dir):
    """G-OBS-01: the Observation's in-flight metrics (computed on the scan
    that feeds the query) must equal an independent batch recomputation."""
    from dask_xgboost_spark.operators.analytics import observed_balance_gate

    out, obs = observed_balance_gate(spark, sf_dir)
    gated = out.toPandas()  # action → observation becomes available
    m = obs.get

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    expect = c.agg(
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum((F.col("c_acctbal") <= 0).cast("long")).alias("rows_gated"),
        F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")).alias(
            "bal_cents"
        ),
    ).collect()[0]
    assert m["rows_seen"] == expect["rows_seen"]
    assert m["rows_gated"] == expect["rows_gated"]
    assert m["bal_cents"] == expect["bal_cents"]
    # and the observed totals reconcile with the gated result itself
    assert int(gated["n_pass"].sum()) == m["rows_seen"] - m["rows_gated"]


def test_python_datasource_partition_per_file(spark, sf_dir):
    """Q-SCAN-11 plumbing: the custom Python source must expose one input
    partition per file (executor-parallel ingest), and absent JSON keys
    must surface as NULL, matching the native reader's schema contract."""
    import json
    import os
    import tempfile

    from dask_xgboost_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    base = tempfile.mkdtemp(prefix="dxs_pysrc_test")
    for i in range(4):
        with open(os.path.join(base, f"part-{i:05d}.json"), "w") as fh:
            fh.write(json.dumps({"doc_id": 2 * i, "lang": "en", "text": "a b"}) + "\n")
            fh.write(json.dumps({"doc_id": 2 * i + 1, "lang": "de"}) + "\n")
    df = (
        spark.read.format("pyjsonl")
        .schema("doc_id bigint, lang string, text string")
        .option("path", base)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    pdf = df.orderBy("doc_id").toPandas()
    assert len(pdf) == 8
    assert pdf["doc_id"].tolist() == list(range(8))
    # absent "text" key on odd rows → NULL
    assert pdf["text"].isna().tolist() == [i % 2 == 1 for i in range(8)]


def test_pyrangestream_restart_resumes_exactly_once(spark):
    """S-GEN-02 offset-replay contract: kill the query mid-stream, restart
    a NEW query (fresh reader instance) on the same checkpoint — the
    source resumes from the committed offset and the parquet sink ends
    with values 0..999 exactly once (no gaps, no duplicates)."""
    import os
    import tempfile
    import time

    from dask_xgboost_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    ckpt = tempfile.mkdtemp(prefix="dxs_pyrs_ckpt")
    out = tempfile.mkdtemp(prefix="dxs_pyrs_out")
    state = tempfile.mkdtemp(prefix="dxs_pyrs_state")

    def start_query():
        src = (
            spark.readStream.format("pyrangestream")
            .option("rowsPerBatch", 100)
            .option("maxRows", 1000)
            .option("numPartitions", 2)
            .option("stateDir", state)
            .load()
        )
        return (
            src.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start_query()
    # wait until at least one batch is committed, then kill mid-stream
    deadline = time.time() + 60
    while time.time() < deadline:
        p = q.lastProgress
        if p and p.get("sink", {}).get("numOutputRows", -1) > 0:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    n_before = spark.read.parquet(out).count()
    assert 0 < n_before, "first run must commit at least one batch"

    q2 = start_query()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    vals = sorted(r.value for r in spark.read.parquet(out).collect())
    assert vals == list(range(1000)), (
        f"restart must resume exactly-once: got {len(vals)} rows, "
        f"first-run rows {n_before}"
    )


def test_jdbc_partitioned_read_splits_tasks(spark, sf_dir):
    """Q-SCAN-13 plumbing: the partitioned JDBC read must expose one
    input partition per key-range slice (the option set that makes JDBC
    ingest parallel); the registered query's final sort coalesces, so
    assert on the raw scan."""
    from dask_xgboost_spark.sources import load

    url = "jdbc:derby:memory:dxs_jdbc_test;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_t")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    raw = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_t")
        .option("driver", driver)
        .option("partitionColumn", "n_nationkey")
        .option("lowerBound", "0")
        .option("upperBound", "25")
        .option("numPartitions", "4")
        .load()
    )
    assert raw.rdd.getNumPartitions() == 4
    assert raw.count() == 25


def test_streaming_observe_metrics_accumulate_across_batches(spark, sf_dir):
    """Streaming twin of G-OBS-01: df.observe on a streaming query
    surfaces per-micro-batch metrics in StreamingQueryProgress
    (observedMetrics); summed across batches they must equal the batch
    recomputation — in-flight ingest accounting with no second pass."""
    import tempfile
    import uuid

    from dask_xgboost_spark.streaming.core import events_stream

    sev = events_stream(spark, sf_dir, n_files=4, max_files_per_trigger=1)
    observed = sev.observe(
        "ingest",
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum((F.col("value") > 3).cast("long")).alias("rows_high"),
    )
    agg = observed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = "dxs_sobs_" + uuid.uuid4().hex[:12]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="dxs_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    seen = high = 0
    for p in q.recentProgress:
        m = p.get("observedMetrics", {}).get("ingest")
        if m:
            seen += m["rows_seen"]
            high += m["rows_high"]

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    expect = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("value") > 3).cast("long")).alias("h"),
    ).collect()[0]
    assert seen == expect["n"]
    assert high == expect["h"]


def test_g_mask_01_no_released_group_below_k(spark, sf_dir):
    """The k-anonymity contract itself: after suppression, every
    RELEASED quasi-identifier group (day_bucket not folded to NULL)
    must still hold ≥ k DISTINCT SUBJECTS — rows would be a weaker
    gate, since the keyed pseudonym keeps one subject's events
    linkable (r5 advisor finding) — and the suppressed residual per
    event_type absorbs the rest: nothing is dropped."""
    from pyspark.sql import functions as F

    from dask_xgboost_spark.registry import load_all
    from dask_xgboost_spark.sources import load

    out = load_all()["G-MASK-01"].fn(spark, sf_dir)
    rows = out.collect()
    released = [r for r in rows if r["day_bucket"] is not None]
    assert released, "expected released groups"
    assert all(r["n_subjects"] >= 5 for r in released)
    total = sum(r["n_rows"] for r in rows)
    assert total == load(spark, sf_dir, "events").count()


def test_l_sim_12_mmr_diversifies_and_respects_relevance(spark, sf_dir):
    """MMR's two semantic contracts on the fixture (the oracle proves
    engine parity; this proves the operator DOES something): (a) rank 1
    is always the pure-relevance argmax — MMR never trades away the
    best hit; (b) across the query set, at least one selection departs
    from pure relevance order — the diversity penalty is load-bearing,
    not a no-op reweighting; (c) picks are distinct per query."""
    import collections

    from dask_xgboost_spark.registry import load_all

    rows = load_all()["L-SIM-12"].fn(spark, sf_dir).collect()
    byq = collections.defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.qid, r.rank)):
        byq[r.qid].append(r)
    assert len(byq) == 3
    reordered = 0
    for q, sel in byq.items():
        assert [r.rank for r in sel] == [1, 2, 3, 4]
        assert len({r.cid for r in sel}) == 4
        rels = [r.rel for r in sel]
        assert rels[0] == max(rels), "rank 1 must be the relevance argmax"
        if rels != sorted(rels, reverse=True):
            reordered += 1
    assert reordered >= 1, "diversity penalty never fired on any query"


def test_wav_codec_round_trip_and_dispatch():
    """WAV/PCM16 codec contract: encode→decode is lossless, the
    chunk-walker tolerates extra chunks and odd-length word-aligned
    padding, decode_media dispatches on the RIFF magic, and non-PCM
    contracts fail loudly instead of returning garbage."""
    import struct

    import pytest as _pytest

    from dask_xgboost_spark.operators.multimodal import (
        decode_media,
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    samples = [0, 1, -1, 32767, -32768, 123, -456]
    wav = encode_wav_pcm16(samples, rate=16000)
    out = decode_media(wav)  # magic-number dispatch
    assert out["rate"] == 16000
    assert list(out["samples"]) == samples

    # inject an unknown odd-length chunk between fmt and data: real
    # encoders emit LIST/INFO chunks; the walker must skip + word-align
    pos = wav.index(b"data")
    extra = b"LIST" + struct.pack("<I", 3) + b"xyz" + b"\x00"
    patched = wav[:pos] + extra + wav[pos:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert list(decode_wav_pcm16(patched)["samples"]) == samples

    # stereo payload violates the mono contract → loud failure
    stereo = wav.replace(
        struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16),
        struct.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16),
    )
    with _pytest.raises(ValueError):
        decode_wav_pcm16(stereo)

    with _pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff\xe0 fake jpeg")


def test_y4m_codec_round_trip_and_dispatch():
    """Y4M/Cmono codec contract: encode→decode is lossless, the header
    tokenizer tolerates unknown parameter tags in any order,
    decode_media dispatches on the YUV4MPEG2 magic, and non-mono
    colorspaces fail loudly."""
    import pytest as _pytest

    from dask_xgboost_spark.operators.multimodal import (
        decode_media,
        decode_y4m_mono,
        encode_y4m_mono,
    )

    frames = [bytes(range(12)), bytes(reversed(range(12))), bytes(12)]
    vid = encode_y4m_mono(frames, width=4, height=3)
    out = decode_media(vid)  # magic-number dispatch
    assert (out["width"], out["height"]) == (4, 3)
    assert [bytes(f) for f in out["frames"]] == frames

    # unknown tag + reordered params must parse (the Y4M grammar allows
    # arbitrary X-prefixed extensions and any tag order)
    reordered = vid.replace(
        b"YUV4MPEG2 W4 H3 F25:1 Ip A1:1 Cmono\n",
        b"YUV4MPEG2 Cmono XCOLORRANGE=FULL H3 W4 F25:1\n",
    )
    assert [bytes(f) for f in decode_y4m_mono(reordered)["frames"]] == frames

    # chroma-bearing colorspace violates the Cmono contract
    c420 = vid.replace(b"Cmono", b"C420 ")
    with _pytest.raises(ValueError):
        decode_y4m_mono(c420)


def test_compression_matrix_survives_empty_part_files(spark):
    """Q-SCAN-15 regression (r8 shuffle-audit find): when
    files.maxPartitionBytes splits the fixture's single-row-group file
    into more tasks than row groups, the extra tasks write EMPTY part
    files, and one of those can glob first — the uncompressed-codec
    footer assert must union codecs across ALL parts, not read
    files[0]."""
    from dask_xgboost_spark.registry import load_all

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # force byte-range splits well beyond the row-group count
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        rows = load_all()["Q-SCAN-15"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(rows) == 4 and {r["codec"] for r in rows} == {
            "none", "snappy", "gzip", "zstd"
        }
        assert len({r["qty_sum"] for r in rows}) == 1  # codecs agree
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_events_stream_directory_source_streams_all_rows(spark, sf_dir, tmp_path):
    """A Spark-WRITTEN events.parquet is itself a DIRECTORY of part
    files (the xN-replica layout the scale tools build), while the
    driver fixtures are single files. events_stream's single-file fast
    path used to symlink the directory whole into the stream dir, where
    the file source — which lists only plain files and never descends
    into subdirectories — silently produced an EMPTY stream: 0 rows,
    0 batches, no error (r13 measured footgun, caught by the
    BASELINE.md §8 micro-batch A/B's K=1 run returning groups=0). The fix links each
    part file; this pins the directory-source row count end to end."""
    from dask_xgboost_spark.sources import load
    from dask_xgboost_spark.streaming.core import events_stream, run_to_memory

    rep_dir = tmp_path / "rep"
    rep_dir.mkdir()
    (
        load(spark, sf_dir, "events")
        .limit(200)
        .repartition(3)
        .write.parquet(str(rep_dir / "events.parquet"))
    )
    sev = events_stream(spark, str(rep_dir), n_files=1)
    out = run_to_memory(
        sev.groupBy().agg(F.count(F.lit(1)).alias("n")), "complete"
    )
    assert out.collect()[0]["n"] == 200


def test_events_stream_directory_source_partial_write_guard(
    spark, sf_dir, tmp_path
):
    """ADVICE r13: the directory fast path must refuse a Spark-written
    layout (part-* names) whose _SUCCESS marker is missing — the listing
    may be a partial task-commit set, and symlinking it would stream an
    UNDERCOUNTED row set with no error. Non-Spark layouts (no part-*
    names, e.g. pyarrow-written) have no committer marker to wait for
    and must still stream."""
    import os

    import pytest

    from dask_xgboost_spark.sources import load
    from dask_xgboost_spark.streaming.core import events_stream, run_to_memory

    rep_dir = tmp_path / "rep"
    rep_dir.mkdir()
    src = rep_dir / "events.parquet"
    load(spark, sf_dir, "events").limit(50).repartition(2).write.parquet(
        str(src)
    )
    os.remove(src / "_SUCCESS")
    with pytest.raises(FileNotFoundError, match="_SUCCESS"):
        events_stream(spark, str(rep_dir), n_files=1)
    # pyarrow-style layout: same rows, non-part file names, no marker
    pa_dir = tmp_path / "pa"
    pa_dir.mkdir()
    pa_src = pa_dir / "events.parquet"
    pa_src.mkdir()
    for i, part in enumerate(sorted(src.glob("part-*.parquet"))):
        os.symlink(part, pa_src / f"chunk_{i}.parquet")
    sev = events_stream(spark, str(pa_dir), n_files=1)
    out = run_to_memory(
        sev.groupBy().agg(F.count(F.lit(1)).alias("n")), "complete"
    )
    assert out.collect()[0]["n"] == 50
