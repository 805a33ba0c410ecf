#!/usr/bin/env python
"""Benchmark harness — times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
``$SPARK_GRAFT_CPUS`` defaults to the cores this process may run on
(``session.default_parallelism``).

Methodology (BASELINE.md §3-4, revised round 4): warm the session + JIT
with one untimed run per query, then report THREE tiers per query:

- ``queries`` (headline): median of 5 FULL re-executions of the prepared
  plan — ``df.select("*")`` forces a fresh QueryExecution so every
  stage, scan included, re-runs. This is the number comparable to
  DuckDB's ``.df()``, which also fully re-executes.
- ``stage_reuse_queries``: median of 5 repeated actions on the SAME
  DataFrame object. Spark memoizes the RDD DAG, so materialized shuffle
  map outputs are REUSED and only the final stage re-executes
  (accumulator-proven, BASELINE.md §3). This is the incremental /
  warm-dashboard execution model — reported because it is a real and
  useful Spark behavior, NOT as query execution time. (Rounds 1-3
  reported this tier as the headline; that was a measurement error,
  corrected and documented in round 4.)
- ``fresh_plan_queries``: rebuild the DataFrame in Python + optimize +
  execute — adds the per-query-TEXT py4j/analysis cost that amortizes
  across executions and is invariant to data scale.

``fixed_overhead_per_job_sec`` measures the per-execution floor (trivial
2-stage query over 8 cached rows, fully re-executed): job submission,
stage scheduling, and result fetch. Each headline number ≈ this floor +
the query's work term; the floor is per-QUERY (scale-invariant), the
work term per-BYTE — the decomposition that maps sf0.1 latencies to the
100 TB design point. Result delivery is symmetric: Spark `toPandas()`
(Arrow batches) vs DuckDB `.df()` (Arrow → pandas). The DuckDB oracle is
re-measured in the SAME run over the same parquet (BASELINE.md §3:
refresh, don't trust pinned numbers) and reported alongside. Prints ONE JSON line.

Honest-lever notes:
- Dimension tables (region/nation/customer/supplier — the broadcast
  sides) are cached once per session before warmup; fact tables
  (lineitem/orders/events) are scanned from parquet on every timed run.
- The fixture parquet has ONE row group per file, so a Spark scan is a
  single task no matter how small maxPartitionBytes is — splits cannot
  cross row groups. Split size is therefore left at a value that yields
  exactly one (non-empty) split per file instead of manufacturing no-op
  tasks. This single-threaded-decode floor is quantified in the output
  (see "scan_floor") and in BASELINE.md §4.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "Q-AGG-01",   # TPC-H Q1-shape scan-agg
    "Q-JOIN-02",  # 4-table join, revenue by nation
    "Q-WIN-01",   # window top-3 per customer
    "Q-SORT-02",  # top-k by extendedprice
    "Q-DATE-02",  # hourly events rollup
]

_DIM_TABLES = ["region", "nation", "customer", "supplier"]

# Session conf of every bench run (and of tools/ab.py, so an A/B is
# measured under exactly the bench's settings).
BENCH_CONF = {
    # fixed initial shuffle width, independent of the core count
    "spark.sql.shuffle.partitions": "8",
    # one (non-empty) split per single-row-group file — small
    # splits cannot parallelize a one-row-group scan, they only
    # add empty tasks
    "spark.sql.files.maxPartitionBytes": "256m",
    # small-result benchmark: let AQE coalesce shuffle stages hard
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Arrow result fetch (symmetric with DuckDB's .df())
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local-mode lever (A/B-measured round 4, ~10% on the
    # shuffle-heavy headliners): local shuffles land in the page
    # cache, so lz4 costs CPU and saves nothing. On a REAL
    # cluster shuffle compression is usually a win (network/disk
    # bound) — this is a bench-machine setting, not engine
    # guidance.
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
}


def _median_timed(fn, runs: int = 3) -> float:
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _timed_full(df, runs: int = 5) -> float:
    """Median wall-clock of FULL re-executions of a prepared plan.

    ``df.select("*")`` wraps the already-analyzed plan in a fresh JVM
    Dataset (one ~9 ms py4j call), giving each run a fresh
    QueryExecution — so EVERY stage, scan included, re-executes.
    Repeating an action on the SAME DataFrame object does NOT do this:
    Spark memoizes the RDD DAG, materialized shuffle map outputs are
    reused, and only the post-shuffle final stage re-runs. Proven by
    accumulator instrumentation (BASELINE.md §3): a counting UDF in the
    scan stage fires once across N repeated ``toPandas()`` calls, and N
    times under this helper. The stage-reuse number is still reported —
    as the warm-dashboard tier, not as query execution time."""
    df.select("*").toPandas()  # clone-path warm
    return _median_timed(lambda: df.select("*").toPandas(), runs=runs)


def _shuffle_metrics(spark, df, tag: str) -> dict[str, int]:
    """Shuffle rows/bytes WRITTEN by one full re-execution of ``df``.

    Wall-clock at sf0.1 is noise-bound on this box (±35% run-to-run,
    r5/r6 verdicts) while plan improvements like the r6 Q-TPCH-05
    rewrite move shuffled rows 5× — so the headline/TPC-H tiers carry
    the shuffle volume as the noise-immune plan metric (VERDICT r6
    item 4). Mechanism: run the query once under a job group, then sum
    shuffle-WRITE records/bytes (write side only — read would double-
    count) over the group's stages from the JVM AppStatusStore. AQE
    materialization jobs inherit the group, so exchange stages are
    captured; a stage id whose attempt never ran (skipped) is absent
    from the store and contributes zero."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        df.select("*").toPandas()
    finally:
        try:
            sc._jsc.clearJobGroup()
        except Exception:
            pass
    st = sc.statusTracker()
    stage_ids = sorted(
        {
            s
            for j in st.getJobIdsForGroup(tag)
            for s in st.getJobInfo(j).stageIds
        }
    )
    store = sc._jsc.sc().statusStore()
    rows = nbytes = 0
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # stage skipped before any attempt
            continue
        rows += sd.shuffleWriteRecords()
        nbytes += sd.shuffleWriteBytes()
    return {"rows": int(rows), "bytes": int(nbytes)}


# Q1-shape scale-growth probe, shared with tools/scale_curve.py so the
# per-round 1x/10x points and the one-off 1x/10x/100x curve can never
# drift apart methodologically.
Q1_SQL = (
    "SELECT l_returnflag, l_linestatus, SUM(l_quantity) sq, "
    "SUM(l_extendedprice) sp, AVG(l_discount) ad, COUNT(*) n "
    "FROM read_parquet('{path}') WHERE l_shipdate <= '1998-09-02' "
    "GROUP BY 1,2 ORDER BY 1,2"
)


def q1_shape(df):
    from pyspark.sql import functions as F

    return (
        df.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sq"),
            F.sum("l_extendedprice").alias("sp"),
            F.avg("l_discount").alias("ad"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def smoke() -> None:
    """Preflight mode (SPARK_GRAFT_BENCH_SMOKE=1): one untimed run of every
    headline query + the driver's entry() — catches environment drift
    (regenerated fixtures, schema changes) in ~1 min without the full
    timed matrix. Exits non-zero on any failure."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dask_xgboost_spark.registry import load_all
    from dask_xgboost_spark.session import get_spark

    spark = get_spark(app_name="dxs-bench-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    for name in BENCH_QUERIES:
        n = len(specs[name].fn(spark, sf_dir).toPandas())
        print(f"smoke {name}: {n} rows", file=sys.stderr)
    import __spark_entry__

    n = len(__spark_entry__.entry(spark).toPandas())
    print(f"smoke entry(): {n} rows", file=sys.stderr)
    print('{"smoke": "ok"}')


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dask_xgboost_spark.registry import load_all
    from dask_xgboost_spark.session import get_spark
    from dask_xgboost_spark.sources import load

    spark = get_spark(app_name="dxs-bench", extra_conf=BENCH_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    # cache the broadcast-side dims once per session (honest: these are
    # the tables a warm production session would pin in memory)
    for t in _DIM_TABLES:
        load(spark, sf_dir, t).cache().count()

    # three honest tiers per headline query (BASELINE.md §3):
    #   results      — FULL re-execution of the prepared plan (every
    #                  stage re-runs; the headline number)
    #   stage_reuse  — repeated action on one DataFrame: shuffle map
    #                  stages reused, final stage only (the incremental/
    #                  warm-dashboard execution model — NOT comparable
    #                  to DuckDB's full re-execution)
    #   fresh_plan   — Python plan rebuild + optimize + execute (adds
    #                  the per-query-TEXT py4j/analysis cost)
    results: dict[str, float] = {}
    stage_reuse: dict[str, float] = {}
    fresh_plan: dict[str, float] = {}
    shuffle_headline: dict[str, dict[str, int]] = {}
    for name in BENCH_QUERIES:
        fn = specs[name].fn
        key = name.lower().replace("-", "_")
        fn(spark, sf_dir).toPandas()  # warm: JIT, codegen, file listing
        fresh_plan[key] = round(
            _median_timed(lambda: fn(spark, sf_dir).toPandas(), runs=3), 4
        )
        df = fn(spark, sf_dir)
        df.toPandas()
        results[key] = round(_timed_full(df, runs=5), 4)
        stage_reuse[key] = round(_median_timed(lambda: df.toPandas(), runs=5), 4)
        # drop caches BEFORE the shuffle metric, not only after the
        # query: operators that persist() an intermediate (Q-TPCH-15's
        # revenue view) would otherwise serve InMemoryTableScan to the
        # metric run and the shuffle FEEDING the cache would count zero
        # — exactly the regression class the metric exists to pin. The
        # metric run below re-executes every stage cache-cold. (Also
        # keeps one query's cache from skewing the next one's timings
        # and bounds executor storage over the sweep, ADVICE r4.)
        spark.catalog.clearCache()
        # tier-unique tag: Q-AGG-01 also runs in the TPC-H loop, and
        # getJobIdsForGroup over a REUSED tag returns both executions'
        # jobs (double-counted rows/bytes, reproduced)
        shuffle_headline[key] = _shuffle_metrics(spark, df, f"shuf_hl_{key}")
        spark.catalog.clearCache()  # drop what the metric run re-cached

    # fixed per-job floor: a trivial 2-stage (shuffle) query over 8
    # cached rows, fully re-executed — pure job-submission + stage
    # scheduling + result-fetch latency with a no-op work term. Every
    # headline number above ≈ this floor + the query's actual work; the
    # floor is per-QUERY (scale-invariant), the work term is per-BYTE.
    from pyspark.sql import functions as F

    tiny = spark.range(8).select((F.col("id") % 2).alias("k")).cache()
    tiny.count()
    tiny_agg = tiny.groupBy("k").count()
    tiny_agg.toPandas()
    fixed_overhead = round(_timed_full(tiny_agg, runs=5), 4)
    tiny.unpersist()

    # single-row-group scan floor: full 7-column lineitem decode + a
    # no-group aggregate — the irreducible single-task cost that bounds
    # every lineitem-scanning query on this fixture layout
    li = load(spark, sf_dir, "lineitem")
    floor_df = li.selectExpr(
        "sum(l_quantity)", "sum(l_extendedprice)", "sum(l_discount)",
        "sum(l_tax)", "count(l_returnflag)", "count(l_linestatus)",
        "max(l_shipdate)",
    )
    floor_df.toPandas()
    scan_floor = round(_timed_full(floor_df), 4)

    # DuckDB oracle, same run, same parquet, same queries (median of 3
    # after one warm run)
    import duckdb

    from tests.oracle import duck_con

    con = duck_con(sf_dir)
    duck: dict[str, float] = {}
    for name in BENCH_QUERIES:
        sql = specs[name].sql
        con.execute(sql).df()
        duck[name.lower().replace("-", "_")] = round(
            _median_timed(lambda: con.execute(sql).df()), 4
        )

    # join-strategy sweep on the 4-table headliner: broadcast-hash (the
    # default under the 64m threshold) vs shuffle-based sort-merge with
    # broadcasting disabled — the measured cost of losing dim broadcast
    join_spec = specs["Q-JOIN-02"]
    # disable BOTH the planner threshold and AQE's runtime re-conversion,
    # otherwise AQE silently turns the "SMJ" run back into broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    smj_df = join_spec.fn(spark, sf_dir)
    smj_df.toPandas()
    smj_t = round(_timed_full(smj_df, runs=3), 4)
    # shuffle-hash: no sort on either side, but both sides still shuffle;
    # preferred over SMJ when the build side fits per-partition memory
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    shj_df = join_spec.fn(spark, sf_dir)
    shj_df.toPandas()
    join_strategies = {
        "bhj_broadcast_dims": results["q_join_02"],
        "smj_no_broadcast": smj_t,
        "shj_no_broadcast": round(_timed_full(shj_df, runs=3), 4),
    }
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    # skew lever: join a synthesized hot-key fact (30% of rows collapse
    # onto one key) against a dim, with AQE skew handling OFF, plain vs
    # salted — quantifies what the salting strategy buys when runtime
    # skew splitting is unavailable (plans/scale.py::salted_join)
    from pyspark.sql import functions as F

    from dask_xgboost_spark.plans.scale import salted_join

    li = load(spark, sf_dir, "lineitem")
    skewed = li.select(
        F.when(F.pmod(F.col("l_orderkey"), F.lit(10)) < 3, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        "l_quantity",
    )
    dim = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    plain = skewed.join(dim, "k").groupBy("o_orderpriority").count()
    salted = salted_join(skewed, dim, on="k", num_salts=8).groupBy(
        "o_orderpriority"
    ).count()
    plain.toPandas()
    salted.toPandas()
    skew = {
        "plain_join": round(_timed_full(plain, runs=3), 4),
        "salted_join": round(_timed_full(salted, runs=3), 4),
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    # bloom semi-join reduction lever (Q-JOIN-13's mechanism): shuffled
    # fact⋈dim join with and without the DIY bloom pre-filter, broadcast
    # disabled so the shuffle is real. Reports the fact-side selectivity
    # the 8 KB filter buys and both steady-state wall-clocks. NOTE the
    # timed plan embeds the already-built filter literal — the one-off
    # O(dim) build job (runs once per query compile) is excluded, the
    # same accounting as the cached dims; at toy SF that build dominates,
    # at scale it amortizes and the per-shuffled-byte saving is the point.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    orders_all = load(spark, sf_dir, "orders")
    bl_keys = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    plain_bl = (
        orders_all.join(bl_keys.hint("shuffle_hash"),
                        orders_all.o_custkey == bl_keys.c_custkey)
        .groupBy("o_orderpriority").count()
    )
    bloom_df = specs["Q-JOIN-13"].fn(spark, sf_dir)
    plain_bl.toPandas()
    bloom_df.toPandas()
    from dask_xgboost_spark.operators.relational import (
        _BLOOM_M_BITS as _bm, _BLOOM_SEEDS as _bs,
    )
    n_orders = orders_all.count()
    n_match = orders_all.join(
        F.broadcast(bl_keys), orders_all.o_custkey == bl_keys.c_custkey, "left_semi"
    ).count()
    bloom_lever = {
        "plain_shuffle_join": round(_timed_full(plain_bl, runs=3), 4),
        "bloom_prefiltered_join": round(_timed_full(bloom_df, runs=3), 4),
        "fact_rows": n_orders,
        "fact_rows_matching": n_match,
        "prefilter_keeps_fraction": round(n_match / max(n_orders, 1), 4),
        "filter_bits": _bm,
        "hashes": len(_bs),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.catalog.clearCache()

    # full TPC-H sweep: all 22 shapes (Q1 ≡ Q-AGG-01), prepared-plan
    # execution vs DuckDB in the same run — the suite-level ratio is the
    # honest summary of relational-engine throughput at this SF
    tpch_names = ["Q-AGG-01"] + [f"Q-TPCH-{i:02d}" for i in range(2, 23)]
    tpch_spark: dict[str, float] = {}
    tpch_duck: dict[str, float] = {}
    shuffle_tpch: dict[str, dict[str, int]] = {}
    for name in tpch_names:
        key = name.lower().replace("-", "_")
        df = specs[name].fn(spark, sf_dir)
        df.toPandas()  # warm: plan, codegen, file listing
        tpch_spark[key] = round(_timed_full(df, runs=3), 4)
        spark.catalog.clearCache()  # cache-cold metric; see headline loop
        shuffle_tpch[key] = _shuffle_metrics(spark, df, f"shuf_tpch_{key}")
        sql = specs[name].sql
        con.execute(sql).df()
        tpch_duck[key] = round(_median_timed(lambda: con.execute(sql).df()), 4)
        spark.catalog.clearCache()  # see BENCH_QUERIES loop note

    # 10× shuffle tripwire (VERDICT r8 item 4): re-measure the shuffle
    # volume of the headline + TPC-H tiers on 10×-replicated facts
    # (same id-shifted replication as tools/suite_scale.py — shared so
    # the methodologies can't drift). This is the one regression signal
    # wall-clock noise can't fake AND sf0.1 alone can't see: a plan that
    # silently flips strategy with input size (broadcast → shuffle join
    # past a threshold, a lost keyset prune whose cost scales with the
    # fact) shows as a rows jump HERE while the sf0.1 totals stay flat.
    # Shuffle volume only (one execution per query, no timing tiers):
    # the wall-clock scale curve lives in tools/suite_scale.py.
    import shutil as _sh10

    shuffle_headline_10x: dict[str, dict[str, int]] = {}
    shuffle_tpch_10x: dict[str, dict[str, int]] = {}
    scaled10 = None
    try:
        # degrade, don't die: the tripwire is an extra signal — a
        # failure anywhere in it (module load, replica build, one
        # query) must not cost the round its primary bench record.
        # Per-query failures record a rows=-1 sentinel and keep every
        # measurement already taken; build/load failures leave both
        # tiers empty (build_scaled_dir cleans its own partial dir).
        from tools.suite_scale import build_scaled_dir

        scaled10 = build_scaled_dir(spark, sf_dir, 10)
        for tier, names, sink in (
            ("hl", BENCH_QUERIES, shuffle_headline_10x),
            ("tpch", tpch_names, shuffle_tpch_10x),
        ):
            for name in names:
                key = name.lower().replace("-", "_")
                try:
                    df = specs[name].fn(spark, scaled10)
                    spark.catalog.clearCache()  # cache-cold, headline loop
                    sink[key] = _shuffle_metrics(
                        spark, df, f"shuf10_{tier}_{key}"
                    )
                except Exception as e:  # noqa: BLE001 — keep the sweep
                    sink[key] = {"rows": -1, "bytes": -1}
                    print(
                        f"10x tripwire: {name} failed: {e!r}",
                        file=sys.stderr,
                    )
                finally:
                    spark.catalog.clearCache()
    except Exception as e:  # noqa: BLE001 — report, keep the bench
        print(f"10x shuffle tripwire failed (degrading): {e!r}", file=sys.stderr)
    finally:
        if scaled10:
            _sh10.rmtree(scaled10, ignore_errors=True)

    # data-skipping lever: same 16 files, four clusterings; how many
    # files' footer stats overlap a selective (p95) predicate on EACH
    # column — the fraction of the table a filtered scan must read.
    # Lower = better; scattered is the no-layout baseline, range is
    # single-column-optimal, Morton/Hilbert trade a little per-column
    # tightness for multi-column coverage.
    import glob
    import tempfile as _tf

    import pyarrow.parquet as _pq

    from dask_xgboost_spark.plans.scale import (
        write_hilbert_layout,
        write_range_layout,
        write_zorder_layout,
    )

    ev = load(spark, sf_dir, "events").select("user_id", "value")
    u_cut, v_cut = ev.agg(
        F.expr("percentile(user_id, 0.95)"), F.expr("percentile(value, 0.95)")
    ).first()
    lay_base = _tf.mkdtemp(prefix="dxs_layouts_")
    lay_paths = {name: f"{lay_base}/{name}" for name in
                 ("scattered", "range_user", "zorder", "hilbert")}
    ev.repartition(16).write.mode("overwrite").parquet(lay_paths["scattered"])
    write_range_layout(ev, lay_paths["range_user"], "user_id", n_ranges=16)
    write_zorder_layout(ev, lay_paths["zorder"], ["user_id", "value"], n_files=16)
    write_hilbert_layout(ev, lay_paths["hilbert"], ["user_id", "value"], n_files=16)

    def _files_hit(path: str, col: str, cut: float) -> tuple[int, int]:
        hits, files = 0, 0
        for f in glob.glob(path + "/*.parquet"):
            md = _pq.ParquetFile(f).metadata
            files += 1
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            fmax = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            if fmax > cut:
                hits += 1
        return hits, files

    layout_skipping = {}
    for name, path in lay_paths.items():
        hu, nf = _files_hit(path, "user_id", u_cut)
        hv, _ = _files_hit(path, "value", v_cut)
        layout_skipping[name] = {
            "files": nf, "hit_user_id_p95": hu, "hit_value_p95": hv
        }

    # streaming throughput: events replayed through the file source in 8
    # micro-batches into the windowed-count aggregate (S-WIN-02 shape),
    # end-to-end wall clock from stream start to final state — the
    # steady-state ingest rate of the streaming family at this SF
    from dask_xgboost_spark.streaming.core import events_stream, run_to_memory

    t0 = time.perf_counter()
    sev = events_stream(spark, sf_dir, n_files=8, max_files_per_trigger=1)
    sagg = sev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    sout = run_to_memory(sagg, "complete")
    s_rows = load(spark, sf_dir, "events").count()
    s_wall = time.perf_counter() - t0
    streaming = {
        "input_rows": int(s_rows),
        "micro_batches": 8,
        "wall_sec": round(s_wall, 4),
        "rows_per_sec": int(s_rows / s_wall),
        "result_groups": sout.count(),
    }

    # Python-boundary cost ladder: the SAME computation (net price sum
    # over lineitem) through every Python hook tier vs the JVM built-in.
    # This quantifies the engine's "UDFs are the slow path" design rule:
    # builtin (whole-stage codegen) < mapInArrow (RecordBatch + C++
    # kernels) ≈ pandas_udf (Arrow + pandas) < arrow-optimized row UDF
    # < pickled row UDF. Production guidance: the built-in tier for
    # everything expressible; Arrow tiers only for genuinely custom
    # logic; the pickled tier never.
    import pandas  # noqa: F401 — resolvable target for the UDF type hints
    import pyarrow as _pa
    import pyarrow.compute as _pc
    from pyspark.sql.functions import pandas_udf as _pandas_udf, udf as _udf

    # 5M generated rows, cached: isolates the Python-boundary cost from
    # the (single-row-group) fixture scan floor that would otherwise
    # dominate every tier equally at this SF.
    li_b = (
        spark.range(5_000_000)
        .select(
            (F.col("id") % 100000 / 100.0).alias("l_extendedprice"),
            (F.col("id") % 11 / 100.0).alias("l_discount"),
        )
        .cache()
    )
    li_b.count()

    def _net_pd_fn(p: "pandas.Series", d: "pandas.Series") -> "pandas.Series":
        return p * (1.0 - d)

    _net_pd_fn.__annotations__ = {
        "p": pandas.Series, "d": pandas.Series, "return": pandas.Series
    }
    _net_pd = _pandas_udf(_net_pd_fn, "double")

    @_udf("double", useArrow=True)
    def _net_arrow_row(p, d):
        return p * (1.0 - d)

    @_udf("double", useArrow=False)
    def _net_pickle_row(p, d):
        return p * (1.0 - d)

    def _net_map_arrow(batches):
        for b in batches:
            net = _pc.multiply(
                b.column("l_extendedprice"),
                _pc.subtract(_pa.scalar(1.0), b.column("l_discount")),
            )
            yield _pa.RecordBatch.from_arrays([net], ["net"])

    tiers = {
        "builtin_codegen": li_b.select(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("s")
        ),
        "map_in_arrow": li_b.mapInArrow(_net_map_arrow, "net double").agg(
            F.sum("net").alias("s")
        ),
        "pandas_udf": li_b.select(
            F.sum(_net_pd("l_extendedprice", "l_discount")).alias("s")
        ),
        "row_udf_arrow": li_b.select(
            F.sum(_net_arrow_row("l_extendedprice", "l_discount")).alias("s")
        ),
        "row_udf_pickled": li_b.select(
            F.sum(_net_pickle_row("l_extendedprice", "l_discount")).alias("s")
        ),
    }
    python_boundary: dict[str, float] = {}
    for tier_name, tdf in tiers.items():
        tdf.toPandas()  # warm
        python_boundary[tier_name] = round(_timed_full(tdf, runs=3), 4)
    li_b.unpersist()

    # scale-growth: the same Q1-shape aggregate at 1× (fixture, one
    # row group → one task) and 10× (6M rows, 32 files → parallel scan),
    # full re-execution, both engines. The point being measured: Spark's
    # time is FLAT across the 10× growth (constants dominate, work
    # absorbs into parallel slack) — per-query cost is amortizing
    # exactly as the 100 TB design assumes. The 100× point (60M rows:
    # Spark 0.85 s = 70M rows/s, DuckDB 0.24 s, ratio 3.5× and falling)
    # is measured once and recorded in BASELINE.md §4 — too expensive to
    # regenerate per round.
    import shutil as _sh
    import tempfile as _tf2

    li_sg = load(spark, sf_dir, "lineitem")
    sg_dir = _tf2.mkdtemp(prefix="dxs_scale10x_")
    (
        li_sg.crossJoin(spark.range(10).select(F.col("id").alias("rep")))
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * 10_000_000)
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(sg_dir)
    )

    sg_spark_1x = round(_timed_full(q1_shape(li_sg), runs=3), 4)
    sg_spark_10x = round(_timed_full(q1_shape(spark.read.parquet(sg_dir)), runs=3), 4)

    # low-core scaling PROBE (VERDICT r14 item 2): the driver re-runs
    # this bench at a lower $SPARK_GRAFT_CPUS and ratios the `queries`
    # entries; every sf0.1 headline wall is dominated by the ~0.1-0.2 s
    # per-job floor and single-row-group scans, so those ratios measure
    # the floor, not parallelism (r14's false "cpus ignored" alarm).
    # The 10× Q1-shape alone carries only ~1 core-second of parallel
    # work — still floor-bound (measured 8→32-core ratio 1.38; 12-way
    # union 1.85). A 24-way self-union of the SAME 10× replica scans
    # 144M rows (~22 core-seconds of genuinely parallel
    # scan+aggregate, ~150 ns/row measured) with zero extra build
    # cost, and the probe drops q1_shape's trailing 2-row orderBy (a
    # pure fixed-cost stage — the probe measures the parallel scan,
    # not presentation): the probe's 8→32 ratio is the one entry in
    # `queries` where the core count, not the job floor, dominates.
    import functools as _ft

    probe_df = (
        _ft.reduce(lambda a, b: a.union(b), [spark.read.parquet(sg_dir)] * 24)
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sq"),
            F.sum("l_extendedprice").alias("sp"),
            F.avg("l_discount").alias("ad"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    probe_df.toPandas()  # warm: plan, codegen
    sg_probe_144m = round(_timed_full(probe_df, runs=3), 4)

    def _duck_med(path):
        q = Q1_SQL.format(path=path)
        con.execute(q).df()
        return round(_median_timed(lambda: con.execute(q).df(), runs=3), 4)

    scale_growth = {
        "rows_1x": 600_000 if sf_dir.endswith("0.1") else None,
        "spark_1x": sg_spark_1x,
        "spark_10x": sg_spark_10x,
        "duckdb_1x": _duck_med(f"{sf_dir}/lineitem.parquet"),
        "duckdb_10x": _duck_med(f"{sg_dir}/*.parquet"),
    }
    _sh.rmtree(sg_dir, ignore_errors=True)

    # ``value`` stays the sum of the FIVE headline queries (round-over-
    # round comparable since r4); the probe is an ADDED entry (the
    # contract allows additions), not a headline re-definition.
    total = round(
        sum(results[n.lower().replace("-", "_")] for n in BENCH_QUERIES), 4
    )
    # the 144M-row parallel probe measured above, reported under the
    # `queries` key space the driver ratios across core counts (an
    # ADDED entry per the contract; first shipped this round, so no
    # prior driver artifact references the name)
    results["q1_scale_probe_144m"] = sg_probe_144m
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Full detail blob goes to a SIDECAR FILE plus an early stdout line;
    # the compact line (headline + per-TPC-H times + shuffle totals)
    # prints LAST — the driver keeps only the stdout tail and parses the
    # final line. r7 lost the per-TPC-H wall times because they lived
    # only in the big blob and its line outgrew the tail capture
    # (VERDICT r7 #3); now the final line itself carries them.
    detail_blob = json.dumps(
        {
                "metric": "sum of median full-re-execution wall-clock of headline queries",
                "value": total,
                "unit": "sec",
                "queries": results,
                "sf": float(sf),
                "duckdb_same_run": duck,
                "duckdb_total": round(sum(duck.values()), 4),
                "duckdb_version": duckdb.__version__,
                "stage_reuse_queries": stage_reuse,
                "stage_reuse_total": round(sum(stage_reuse.values()), 4),
                "fixed_overhead_per_job_sec": fixed_overhead,
                "fresh_plan_queries": fresh_plan,
                "fresh_plan_total": round(sum(fresh_plan.values()), 4),
                "scan_floor_lineitem_sec": scan_floor,
                "join_strategy_q_join_02": join_strategies,
                "skew_join_hot_key": skew,
                "bloom_semi_join_reduction": bloom_lever,
                "shuffle_headline": shuffle_headline,
                "tpch_suite": tpch_spark,
                "tpch_suite_total": round(sum(tpch_spark.values()), 4),
                "tpch_suite_duckdb": tpch_duck,
                "tpch_suite_duckdb_total": round(sum(tpch_duck.values()), 4),
                "shuffle_tpch": shuffle_tpch,
                "shuffle_headline_10x": shuffle_headline_10x,
                "shuffle_tpch_10x": shuffle_tpch_10x,
                "layout_file_skipping": layout_skipping,
                "python_boundary_net_price_sum": python_boundary,
                "scale_growth_q1": scale_growth,
                "streaming_ingest": streaming,
        }
    )
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_detail.json"),
            "w",
        ) as fh:
            fh.write(detail_blob + "\n")
    except OSError:
        pass  # read-only checkout: stdout line below still has the blob
    print(detail_blob)
    duck_total = round(sum(duck.values()), 4)
    tpch_total = round(sum(tpch_spark.values()), 4)
    tpch_duck_total = round(sum(tpch_duck.values()), 4)
    # COMPACT contract line (VERDICT r14 item 2): r13's one-line JSON
    # outgrew the driver's stdout-tail capture (BENCH_r13 parsed: null —
    # the round-over-round PERF comparison was lost to truncation), so
    # the final line now carries ONLY the headline `queries`, totals,
    # same-run ratios, and the shuffle-tripwire TOTALS (≈0.6 KB). Every
    # per-query tier dict (tpch_suite walls, same-run DuckDB walls,
    # per-query shuffle rows/bytes at 1× and 10×) lives in
    # bench_detail.json + the preceding stdout line, unchanged. No key
    # the driver reads (metric/value/unit/queries/sf) is removed or
    # renamed; per-TPC-H regression tracking reads bench_detail.json.
    print(
        json.dumps(
            {
                "metric": "sum of median full-re-execution wall-clock of headline queries",
                "value": total,
                "unit": "sec",
                "queries": results,
                "sf": float(sf),
                "duckdb_total": duck_total,
                "ratio_vs_duckdb": round(total / duck_total, 3) if duck_total else None,
                "tpch_suite_total": tpch_total,
                "tpch_suite_duckdb_total": tpch_duck_total,
                "tpch_ratio": round(tpch_total / tpch_duck_total, 3)
                if tpch_duck_total
                else None,
                "tpch_shuffle_rows_total": sum(
                    v["rows"] for v in shuffle_tpch.values()
                ),
                "tpch_shuffle_bytes_total": sum(
                    v["bytes"] for v in shuffle_tpch.values()
                ),
                # 10× tripwire totals (VERDICT r8 item 4): a plan
                # regression that only manifests at scale shows as a
                # rows jump here while the sf0.1 totals stay flat.
                # Sum only successful queries: the rows=-1 failure
                # sentinel must not DEFLATE the exact total the
                # tripwire watches; failures are counted explicitly so
                # a degraded run is visible here, not just on stderr
                "tpch_shuffle_rows_total_10x": sum(
                    v["rows"] for v in shuffle_tpch_10x.values()
                    if v["rows"] >= 0
                ),
                "tpch_shuffle_bytes_total_10x": sum(
                    v["bytes"] for v in shuffle_tpch_10x.values()
                    if v["bytes"] >= 0
                ),
                "shuffle_10x_failed": sum(
                    1
                    for tier in (shuffle_headline_10x, shuffle_tpch_10x)
                    for v in tier.values()
                    if v["rows"] < 0
                ),
                "detail": "bench_detail.json + the preceding stdout line",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    if os.environ.get("SPARK_GRAFT_BENCH_SMOKE") == "1":
        smoke()
    else:
        main()
