#!/usr/bin/env python
"""Registry-wide fact-broadcast-build audit at 10x / 64 MB threshold.

The r15 §11 defect (OPTIMIZATION_r15.md): when a footer gate refuses a
broadcast hint on a join-OUTPUT build side, a free Catalyst compared
that side's OVERSHOOTING propagated estimate against the fact scan's
accurate estimate and flipped the broadcast build onto the FACT —
a linearly-growing HashedRelation rebuilt per execution, invisible to
the shuffle-write metric. The §11 sweep closed the class for the 22
TPC-H + headline join queries; this tool extends the sweep to EVERY
batch operator in the registry.

Method: build the suite_scale 10x replica (facts replicated, dims
shared), plan every batch operator against it under the bench's 64 MB
threshold, parse each formatted plan's tree, and for every
BroadcastExchange classify the PATH down to each fact-table scan in
its subtree:

- ``cached``: an InMemoryTableScan on the path — the fact scan belongs
  to a persist_rollup relation's inlined build plan (runs once per
  query, byte-accurate size statistics on the cached relation). OK.
- ``agg_bounded``: an Aggregate on the path — the build is a rollup of
  the fact, its cardinality is the rollup grain, and its estimate
  comes from the aggregate. OK (e.g. Q17's 130-part threshold).
- ``join_output``: a Join on the path with NO aggregate above it —
  the §11 defect class: join-output estimates OVERSHOOT, and an
  overshooting estimate is exactly what flipped the r15 §2 build onto
  the raw fact. ERROR — the audit exits non-zero.
- ``scan_slice``: only Project/Filter on the path — a directly
  broadcast (possibly filtered) fact slice chosen on the scan's own
  linear, footer-derived estimate; it stops firing when the slice
  outgrows the threshold (the accepted Q4 post-refusal behavior).
  Reported with the ReadSchema width for review.
- ``raw_fact``: an UNFILTERED projected lineitem scan on the path —
  still scan-sourced and linear (it cannot produce the §11 flip, and
  the threshold refuses it as data grows: at the production-default
  10 MB threshold the 10x estimate already refuses), but listed
  separately because nothing except the threshold bounds the build.
  Reviewed r15: only Q-TPCH-21's decorrelated semi/anti build sides,
  documented in that operator's r12 disposition.

Scan-sourced estimates UNDERSHOOT the in-memory HashedRelation size
(compressed parquet bytes × column fraction vs ~40 B/row built), so an
admitting threshold T can build up to ~12T of relation — a memory
headroom concern bounded by the threshold config, not a correctness or
scale-correctness defect; the ERROR class stays reserved for
join-output builds, whose OVERSHOOTING estimates caused the r15 §11
build-side flip onto the raw fact.

Run: python tools/fact_build_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import shutil
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from dask_xgboost_spark.registry import load_all
from dask_xgboost_spark.session import get_spark
from tools.suite_scale import build_scaled_dir

FACTS = ("lineitem", "orders", "events")


def parse_tree(plan: str):
    """Return [(node_id, name, depth)] from a formatted plan's tree."""
    nodes = []
    for line in plan.splitlines():
        m = re.match(r"^([ :+|-]*)([A-Za-z][\w ]*?) \((\d+)\)\s*$", line)
        if not m:
            if line.startswith("== Physical Plan =="):
                continue
            if line.strip() == "" or line.startswith("("):
                break  # details section begins
            continue
        prefix, name, nid = m.groups()
        nodes.append((int(nid), name.strip(), len(prefix) // 3))
    return nodes


def scan_locations(plan: str):
    """node_id -> (parquet file name, ReadSchema column count)."""
    locs = {}
    cur = None
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) Scan parquet", line)
        if m:
            cur = int(m.group(1))
            locs[cur] = ["?", -1]
        elif cur is not None and line.startswith("Location:"):
            mm = re.search(r"/(\w+)\.parquet\]?", line)
            locs[cur][0] = mm.group(1) if mm else line.strip()
        elif cur is not None and line.startswith("ReadSchema:"):
            body = line.split("struct<", 1)[-1]
            locs[cur][1] = body.count(":")
            cur = None
    return locs


def fact_builds(plan: str):
    """[(table, ncols, cls)] for every fact scan under a BroadcastExchange.

    cls ∈ {cached, agg_bounded, join_output, scan_slice} by the PATH
    from the BroadcastExchange down to the scan (module docstring)."""
    nodes = parse_tree(plan)
    locs = scan_locations(plan)
    out = []
    for i, (nid, name, depth) in enumerate(nodes):
        if "BroadcastExchange" not in name:
            continue
        # stack of (depth, name) giving the path from the exchange down
        path = []
        for nid2, name2, depth2 in nodes[i + 1:]:
            if depth2 <= depth:
                break
            while path and path[-1][0] >= depth2:
                path.pop()
            if name2.startswith("Scan parquet") and nid2 in locs:
                t, ncols = locs[nid2]
                if t in FACTS:
                    pnames = [p[1] for p in path]
                    if any("InMemoryTableScan" in p for p in pnames):
                        cls = "cached"
                    elif any("Aggregate" in p for p in pnames):
                        cls = "agg_bounded"
                    elif any("Join" in p for p in pnames):
                        cls = "join_output"
                    elif t == "lineitem" and not any(
                        p.startswith("Filter") for p in pnames
                    ):
                        cls = "raw_fact"
                    else:
                        cls = "scan_slice"
                    out.append((t, ncols, cls))
            path.append((depth2, name2))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(
        app_name="fact-build-audit",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
            "spark.sql.autoBroadcastJoinThreshold": "64m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()

    scaled = build_scaled_dir(spark, sf_dir, 10)

    n_ok = n_fail = 0
    errors = []
    reported = []
    try:
        for name, spec in specs.items():
            if spec.mode == "stream" or name.startswith(("M-TRAIN", "M-PRED")):
                continue
            try:
                df = spec.fn(spark, scaled)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            except Exception as e:  # noqa: BLE001 — audit must finish
                n_fail += 1
                print(f"PLAN FAIL {name}: {e!r}", file=sys.stderr)
                continue
            n_ok += 1
            for t, ncols, cls in set(fact_builds(plan)):
                if cls == "join_output":
                    errors.append((name, t, ncols, cls))
                else:
                    reported.append((name, t, ncols, cls))
    finally:
        shutil.rmtree(scaled, ignore_errors=True)
        spark.stop()

    print(f"audited {n_ok} plans at 10x/64m, {n_fail} plan failures")
    for name, t, ncols, cls in sorted(reported):
        print(f"  {cls}: {name} broadcasts {t} ({ncols} cols)")
    if errors:
        print("OVERSHOOTING JOIN-OUTPUT BROADCAST BUILDS (the §11 defect):")
        for name, t, ncols, cls in sorted(errors):
            print(f"  ERROR {cls}: {name} broadcasts {t} ({ncols} cols)")
        sys.exit(1)
    print("zero join-output broadcast builds — §11 class closed registry-wide")


if __name__ == "__main__":
    main()
