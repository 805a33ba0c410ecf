#!/usr/bin/env python
"""A/B two forms of a query under the bench's own session conf.

Each side is a registry spec name (``Q-JOIN-02``) or an importable
``module:fn`` with the registry signature ``fn(spark, sf_dir) ->
DataFrame`` — the way to measure a candidate rewrite against the
shipped operator without forking it into the package. At every data
point (the sf dir, then one ``tools/suite_scale.build_scaled_dir``
replica per factor) both sides must return identical rows by
``tests.oracle.frame_hash``; the tool then reports each side's
full-re-execution wall (``bench._timed_full``, median of 5) and shuffle
write (``bench._shuffle_metrics``, the noise-immune plan metric).

Run: python tools/ab.py SIDE_A SIDE_B SF_DIR [factor ...]
  python tools/ab.py Q-JOIN-02 Q-JOIN-08 SF_DIR
  PYTHONPATH=. python tools/ab.py Q-TPCH-05 my_forms:q5_old SF_DIR 10
Exits non-zero when the two sides' outputs differ.

Earlier A/B results (each measured by a one-off script kept in git
history) are recorded in OPTIMIZATION_r14.md, OPTIMIZATION_r15.md and
BASELINE.md §5-§8.
"""

from __future__ import annotations

import importlib
import itertools
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_CONF, _shuffle_metrics, _timed_full
from dask_xgboost_spark.registry import load_all
from dask_xgboost_spark.session import get_spark
from tests.oracle import frame_hash
from tools.suite_scale import build_scaled_dir

# job-group tags must be unique per run: _shuffle_metrics over a reused
# tag sums every earlier run's jobs too
_RUN_IDS = itertools.count()


def resolve(side: str):
    """Registry spec name or ``module:fn`` -> ``fn(spark, sf_dir)``."""
    if ":" in side:
        module, fn = side.split(":", 1)
        return getattr(importlib.import_module(module), fn)
    return load_all()[side].fn


def compare(spark, side_a: str, side_b: str, sf_dir: str) -> dict:
    """Assert both sides' outputs are identical at ``sf_dir``, then
    measure each side. Raises AssertionError on differing outputs."""
    sides = [(side, resolve(side)(spark, sf_dir)) for side in (side_a, side_b)]
    pdfs = [df.toPandas() for _, df in sides]
    hash_a, hash_b = map(frame_hash, pdfs)
    if hash_a != hash_b:
        raise AssertionError(
            f"outputs differ at {sf_dir}: {side_a} {len(pdfs[0])} rows "
            f"({hash_a[:12]}) vs {side_b} {len(pdfs[1])} rows ({hash_b[:12]})"
        )
    run = next(_RUN_IDS)
    measured = []
    for i, (side, df) in enumerate(sides):
        wall = _timed_full(df)
        # cache-cold metric run, as in bench.main: an operator that
        # persists an intermediate must count the shuffle feeding it
        spark.catalog.clearCache()
        shuffle = _shuffle_metrics(spark, df, f"ab{run}_{i}")
        spark.catalog.clearCache()
        measured.append({
            "side": side,
            "wall_s": round(wall, 4),
            "shuffle_rows": shuffle["rows"],
            "shuffle_bytes": shuffle["bytes"],
        })
    return {"rows": len(pdfs[0]), "hash": hash_a, "sides": measured}


def report(label: str, result: dict) -> None:
    print(f"{label}: identical output ({result['rows']} rows, "
          f"frame_hash {result['hash'][:12]})")
    for m in result["sides"]:
        print(f"  {m['side']:<28} wall {m['wall_s']:.4f}s  shuffle "
              f"{m['shuffle_rows']:,} rows / {m['shuffle_bytes']:,} B")


def main(side_a: str, side_b: str, sf_dir: str, *factors: str) -> None:
    spark = get_spark(app_name="ab", extra_conf=BENCH_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        report("1x", compare(spark, side_a, side_b, sf_dir))
        for factor in map(int, factors):
            scaled = build_scaled_dir(spark, sf_dir, factor)
            try:
                report(f"{factor}x", compare(spark, side_a, side_b, scaled))
            finally:
                shutil.rmtree(scaled, ignore_errors=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    main(*sys.argv[1:])
