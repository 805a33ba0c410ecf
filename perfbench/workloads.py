"""The benchmark workloads.

Each workload is a closed loop with one client: the next op starts when
the previous one (and its correctness check) has finished. The benchmark
calls only the package's public functions (``session.get_spark``,
``sources.load``, ``ml.core.train`` / ``ml.core.predict``, the registry
spec functions) and Spark's own result-fetch calls, and times each call
from outside.

- ``gbt_fit``: the paper's training call, ``dxgb.train``. Many passes over
  a small input (sf0.1 lineitem, 600k rows, one row group): stresses
  per-tree-level job scheduling, input handling inside ``train`` and
  executor parallelism. Holdout scoring is a small share.
- ``sql_headline``: the five registry headline queries, one fresh plan
  each. Shuffle-, join-, window- and sort-heavy with few jobs per query;
  bypasses ``ml`` entirely.
"""

from __future__ import annotations

import hashlib
import math
import time

import pyarrow.parquet as pq
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import functions as F

from dask_xgboost_spark.caching import release_rollups
from dask_xgboost_spark.ml import core
from dask_xgboost_spark.registry import load_all
from dask_xgboost_spark.sources import load
from tests.oracle import canon_cell, duck_to_pandas, frame_hash

import datagen

GBT_PARAMS = {"objective": "binary:logistic", "n_estimators": 10, "max_depth": 4, "eta": 0.3}
N_TREES = GBT_PARAMS["n_estimators"]
# the fit must beat the best constant predictor's holdout logloss by this
# share, or the op fails its correctness check
LOGLOSS_MARGIN = 0.25
# fixed-point scale of the probability checksums: an integer sum is
# exact and independent of partition order
CHECKSUM_SCALE = 1e9

# the headline queries and the tables each scans
QUERY_TABLES = {
    "Q-AGG-01": ["lineitem"],
    "Q-JOIN-02": ["lineitem", "orders", "customer", "nation"],
    "Q-WIN-01": ["orders"],
    "Q-SORT-02": ["lineitem"],
    "Q-DATE-02": ["events"],
}
HEADLINE = list(QUERY_TABLES)
HEADLINE_TABLES = list(dict.fromkeys(t for ts in QUERY_TABLES.values() for t in ts))


def qid(name: str) -> str:
    return name.lower().replace("-", "_")


def frame_hash_rows(pdf) -> str:
    """``tests.oracle.frame_hash`` without building a Series per row, its
    cost on the 45k-row Q-WIN-01 result. ``iterrows`` yields the rows of
    ``DataFrame.values`` (one common dtype), so iterating those rows gives
    ``canon_cell`` exactly the values it sees there."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(canon_cell(v) for v in row) for row in pdf[cols].values)
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


class CheckFailed(AssertionError):
    """An op's output is wrong."""


def _features(df):
    return VectorAssembler(inputCols=datagen.FEATURES, outputCol=core.FEATURES_COL).transform(df)


def _p1():
    return vector_to_array(F.col("probability"))[1]


def _checksum(p):
    return F.sum(F.floor(p * F.lit(CHECKSUM_SCALE)).cast("long"))


class Workload:
    """``setup`` prepares everything an op needs; ``op`` runs one timed
    op and returns ``(timed_seconds, output)``; ``check`` raises
    :class:`CheckFailed` on a wrong output. The warm-up ops (``warm=True``)
    run in set-up and are checked like timed ones."""

    name = ""
    train_rows = 0
    warm_ops = 2

    def __init__(self, spark, data_dir: str, rows: dict[str, int], tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.rows = rows
        self.tr = tracer
        self.info: dict = {}

    def load(self, name: str):
        with self.tr.span("sources.load"):
            return load(self.spark, self.data_dir, name)


class GbtFit(Workload):
    """The warm-up op is a full-size fit: its holdout checksum is the
    reference every timed fit must repeat, so a run with one timed op
    still compares two fits."""

    name = "gbt_fit"
    warm_ops = 1

    def setup(self):
        self.load("lineitem")
        li = pq.read_table(f"{self.data_dir}/lineitem.parquet", columns=["label", "holdout"])
        hold = li.column("holdout").to_numpy()
        self.train_rows = int((~hold).sum())
        y = li.column("label").to_numpy()[hold]
        base = float(y.mean())
        self.const_logloss = -(base * math.log(base) + (1 - base) * math.log(1 - base))
        self.info.update(train_rows=self.train_rows, holdout_rows=int(hold.sum()),
                         constant_logloss=self.const_logloss)
        self.reference = None

    def op(self, warm: bool = False):
        frame = _features(self.load("lineitem"))
        train_df = frame.filter(~F.col("holdout"))
        hold_df = frame.filter(F.col("holdout"))
        t = time.perf_counter()
        with self.tr.span("ml.train", jobs=True):
            model = core.train(GBT_PARAMS, train_df)
        fit_s = time.perf_counter() - t
        with self.tr.span("ml.predict", jobs=True, fetch=True):
            p = F.least(F.greatest(_p1(), F.lit(1e-15)), F.lit(1 - 1e-15))
            y = F.col("label")
            row = (
                core.predict(model, hold_df)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(-(y * F.log(p) + (1 - y) * F.log(1 - p))).alias("loss"),
                    _checksum(_p1()).alias("checksum"),
                )
                .collect()[0]
            )
        return fit_s, {"n": row["n"], "logloss": row["loss"] / row["n"], "checksum": row["checksum"]}

    def check(self, out, warm: bool = False):
        if out["n"] != self.info["holdout_rows"]:
            raise CheckFailed(f"holdout scored {out['n']} rows, expected {self.info['holdout_rows']}")
        limit = (1 - LOGLOSS_MARGIN) * self.const_logloss
        if not out["logloss"] < limit:
            raise CheckFailed(f"holdout logloss {out['logloss']:.4f} does not beat {limit:.4f}")
        if warm and self.reference is None:
            self.reference = out["checksum"]
            return
        if self.reference is None:
            raise CheckFailed("no reference checksum: the warm-up fit did not run")
        if out["checksum"] != self.reference:
            raise CheckFailed(f"holdout checksum {out['checksum']} differs from {self.reference}")
        self.info["holdout_logloss"] = out["logloss"]


class SqlHeadline(Workload):
    name = "sql_headline"

    def setup(self):
        import duckdb

        self.specs = load_all()
        for t in HEADLINE_TABLES:
            self.load(t)
        con = duckdb.connect()
        try:
            for t in HEADLINE_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')")
            self.oracle = {q: frame_hash(duck_to_pandas(con, self.specs[q].sql)) for q in HEADLINE}
        finally:
            con.close()

    def op(self, warm: bool = False):
        out = {}
        t = time.perf_counter()
        for q in HEADLINE:
            with self.tr.span(f"operators.{qid(q)}", jobs=True, fetch=True):
                with self.tr.span(f"operators.{qid(q)}.build"):
                    df = self.specs[q].fn(self.spark, self.data_dir)
                out[q] = df.toPandas()
        wall = time.perf_counter() - t
        return wall, out

    def check(self, out, warm: bool = False):
        try:
            for q in HEADLINE:
                h = frame_hash_rows(out[q])
                if h != self.oracle[q]:
                    raise CheckFailed(f"{q}: frame hash {h[:12]} != DuckDB oracle {self.oracle[q][:12]}")
        finally:
            release_rollups()


WORKLOADS = {w.name: w for w in (GbtFit, SqlHeadline)}
