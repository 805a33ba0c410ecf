"""Self-tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime
import decimal
import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

import datagen
import run
import spans as tr

ROOT = Path(__file__).resolve().parent.parent
BENCHMARK_JSON = ROOT / "BENCHMARK.json"


# ---------------------------------------------------------------- self time


def _span(id, start, end, parent=None, name="x"):
    return tr.Span(id=id, name=name, start=start, end=end, parent=parent, op=1)


def test_union_length_merges_overlaps_and_ignores_empty():
    assert tr.union_length([]) == 0
    assert tr.union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == pytest.approx(3.0)
    assert tr.union_length([(2, 3), (0, 10)]) == pytest.approx(10.0)


def test_clip_drops_outside_and_trims_edges():
    assert tr.clip([(-1, 1), (2, 3), (9, 12), (20, 30)], 0, 10) == [(0, 1), (2, 3), (9, 10)]


def test_self_time_subtracts_union_of_children_only():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 6.0, parent=1),  # overlaps its sibling: covered once
        _span(4, 2.0, 3.0, parent=2),  # grandchild: not subtracted from the root
        _span(5, 9.0, 12.0, parent=1),  # runs past its parent: clipped
    ]
    selfs = tr.self_times(spans)
    assert selfs[1] == pytest.approx(10 - 5 - 1)
    assert selfs[2] == pytest.approx(3 - 1)
    assert selfs[3] == pytest.approx(3)
    assert selfs[4] == pytest.approx(1)
    # self times of a properly nested tree (siblings disjoint) add up to the root's wall
    nested = [spans[0], spans[1], _span(3, 5.0, 6.0, parent=1), spans[3]]
    assert sum(tr.self_times(nested).values()) == pytest.approx(10.0)


def test_tracer_nests_job_groups_and_restores_the_outer_one():
    calls = []
    t = tr.Tracer("w", enabled=True, set_group=calls.append)
    t.op = 3
    with t.span("op", jobs=True, always=True) as root:
        with t.span("inner", jobs=True) as inner:
            with t.span("leaf"):
                pass
    assert calls == [root.group, inner.group, root.group, None]
    assert {s.name: s.parent for s in t.spans} == {"leaf": inner.id, "inner": root.id, "op": None}
    assert all(s.op == 3 for s in t.spans)


def test_disabled_tracer_records_only_always_spans():
    t = tr.Tracer("w", enabled=False)
    with t.span("op", jobs=True, always=True):
        with t.span("inner", jobs=True) as inner:
            assert inner is None
    assert [s.name for s in t.spans] == ["op"]


def test_fetch_span_runs_from_last_stage_end_to_return():
    t = tr.Tracer("w", enabled=True)
    s = _span(7, 100.0, 110.0)
    s.fetch = True
    s.attrs["stage_intervals"] = [(101.0, 104.0), (104.5, 108.0)]
    spans = [s]
    t.add_fetch_spans(spans)
    f = spans[-1]
    assert (f.name, f.parent, f.start, f.end) == ("fetch", 7, 108.0, 110.0)


# ---------------------------------------------------------------- percentiles


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    samples = list(range(1, 31))  # 30 samples
    t = tr.tail(samples)
    assert t["value"] == 20
    assert t["beyond"] == 10 == sum(x > t["value"] for x in samples)
    assert t["percentile"] == pytest.approx(100 * 20 / 30)
    t11 = tr.tail(list(range(11)))
    assert (t11["value"], t11["beyond"]) == (0, 10)


def test_tail_without_ten_samples_beyond_reports_the_maximum():
    t = tr.tail([3.0, 1.0, 2.0])
    assert t == {"value": 3.0, "percentile": 100.0, "beyond": 0, "n": 3}
    assert tr.tail(list(range(10)))["value"] == 9


def test_median():
    assert tr.median([3, 1, 2]) == 2
    assert tr.median([4, 1, 2, 3]) == 2.5


# ---------------------------------------------------------------- seeded inputs


def _keys(n=50_000, seed=5):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 150_000, n), rng.integers(1, 8, n).astype(np.int32)


def test_label_and_split_repeat_for_a_seed_and_change_with_it():
    ok, ln = _keys()
    rng = np.random.default_rng(9)
    q, d, p = rng.integers(1, 51, len(ok)) * 1.0, rng.integers(0, 11, len(ok)) / 100, rng.uniform(900, 105_000, len(ok))
    a = datagen.make_label(1, ok, ln, q, d, p)
    assert np.array_equal(a, datagen.make_label(1, ok, ln, q, d, p))
    assert not np.array_equal(a, datagen.make_label(2, ok, ln, q, d, p))
    flipped = (a != datagen.clean_label(q, d, p)).mean()
    assert flipped == pytest.approx(datagen.FLIP_PER_10K / 10_000, abs=0.01)
    h = datagen.make_holdout(1, ok, ln)
    assert np.array_equal(h, datagen.make_holdout(1, ok, ln))
    assert not np.array_equal(h, datagen.make_holdout(2, ok, ln))
    assert h.mean() == pytest.approx(datagen.HOLDOUT_PER_10 / 10, abs=0.01)
    # split and flips are keyed independently
    assert abs(np.corrcoef(h, a != datagen.clean_label(q, d, p))[0, 1]) < 0.02


def test_clean_label_needs_more_than_one_feature():
    q = np.array([25.0, 25.0, 1.0, 1.0])
    d = np.array([0.05, 0.05, 0.0, 0.0])
    p = np.array([1_000.0, 90_000.0, 1_000.0, 90_000.0])
    assert datagen.clean_label(q, d, p).tolist() == [True, False, False, True]


def test_generated_tables_repeat_for_a_seed():
    for name in ("lineitem", "events", "orders"):
        assert datagen.TABLES[name](3).equals(datagen.TABLES[name](3))
        assert not datagen.TABLES[name](3).equals(datagen.TABLES[name](4))
    li = datagen.lineitem(3)
    assert li.num_rows == datagen.N_LINEITEM
    keys = li.select(["l_orderkey", "l_linenumber"]).to_pandas()
    assert not keys.duplicated().any()
    assert keys["l_linenumber"].between(1, 7).all()


def _fixture_schemas() -> dict[str, dict[str, str]]:
    """Table -> column -> parquet type, from the tables of FIXTURES.md §2."""
    out: dict[str, dict[str, str]] = {}
    table = None
    for line in (ROOT / "FIXTURES.md").read_text().splitlines():
        if line.startswith("## "):
            table = None
        elif line.startswith("### "):
            table = out.setdefault(line.split()[1], {})
        elif table is not None and line.startswith("| ") and not line.startswith("| column"):
            cells = [c.strip() for c in line.strip("|").split("|")]
            table[cells[0]] = cells[1]
    return out


def test_generated_schemas_match_the_fixtures():
    fixtures = _fixture_schemas()
    for name, make in datagen.TABLES.items():
        schema = make(1).schema
        got = {f.name: str(f.type) for f in schema if f.name not in ("label", "holdout")}
        assert got == fixtures[name], name


# ---------------------------------------------------------------- gbt_fit check


def _gbt_fit():
    sys.path.insert(0, str(ROOT))
    from workloads import GbtFit

    w = GbtFit.__new__(GbtFit)
    w.const_logloss = 0.69
    w.info = {"holdout_rows": 100}
    w.reference = None
    return w


def test_a_single_timed_fit_is_compared_with_the_warm_up_fit():
    from workloads import CheckFailed

    w = _gbt_fit()
    w.check({"n": 100, "logloss": 0.4, "checksum": 7}, warm=True)
    with pytest.raises(CheckFailed, match="checksum 8 differs"):
        w.check({"n": 100, "logloss": 0.4, "checksum": 8})
    w.check({"n": 100, "logloss": 0.4, "checksum": 7})


def test_a_timed_fit_without_a_reference_fails():
    from workloads import CheckFailed

    w = _gbt_fit()
    with pytest.raises(CheckFailed, match="no reference"):
        w.check({"n": 100, "logloss": 0.4, "checksum": 7})


def test_a_fit_that_does_not_beat_the_constant_predictor_fails():
    from workloads import CheckFailed

    w = _gbt_fit()
    with pytest.raises(CheckFailed, match="does not beat"):
        w.check({"n": 100, "logloss": 0.6, "checksum": 7}, warm=True)


# ---------------------------------------------------------------- eviction


class FakeStatus:
    def __init__(self, groups, jobs, stages):
        self.groups, self.jobs, self.stages = groups, jobs, stages

    def job_ids(self, group):
        return self.groups.get(group, [])

    def job(self, jid):
        return self.jobs.get(jid)

    def stage(self, sid):
        return self.stages.get(sid)


def _stage(sid, status="COMPLETE", **kw):
    d = {k: 0 for k in tr.STAGE_SUMS}
    d.update(id=sid, status=status, submissionTime=1000 * sid, completionTime=1000 * sid + 500, numTasks=2, **kw)
    if status == "SKIPPED":
        d.update(submissionTime=None, completionTime=None)
    return d


def _status():
    return FakeStatus(
        groups={"a": [5, 6], "b": [7]},
        jobs={
            5: {"id": 5, "stageIds": [10]},
            6: {"id": 6, "stageIds": [10, 11]},  # stage 10 reused: recorded once
            7: {"id": 7, "stageIds": [12, 13]},
        },
        stages={
            10: _stage(10, inputRecords=100),
            11: _stage(11),
            12: _stage(12, status="SKIPPED"),
            13: _stage(13, numFailedTasks=1),
        },
    )


def test_capture_keeps_executed_stages_and_skips_skipped_ones():
    cap = tr.capture(_status(), ["a", "b"], after_job=4)
    assert cap["last_job"] == 7
    a = tr.stage_summary(**cap["groups"]["a"])
    b = tr.stage_summary(**cap["groups"]["b"])
    assert (a["jobs"], a["stages"], a["numTasks"], a["inputRecords"], a["scan_partitions"]) == (2, 2, 4, 100, 2)
    assert (b["jobs"], b["stages"], b["numFailedTasks"]) == (1, 1, 1)
    assert b["stage_intervals"] == [(13.0, 13.5)]


def test_capture_fails_on_an_evicted_stage():
    st = _status()
    del st.stages[11]
    with pytest.raises(tr.EvictedRecords, match="stage 11"):
        tr.capture(st, ["a", "b"], after_job=4)


def test_capture_fails_on_an_evicted_job():
    st = _status()
    del st.jobs[6]
    with pytest.raises(tr.EvictedRecords, match="job 6"):
        tr.capture(st, ["a", "b"], after_job=4)


def test_capture_fails_when_the_ops_first_jobs_are_gone():
    st = _status()
    st.groups["a"] = [6]  # job 5 dropped from the group listing
    with pytest.raises(tr.EvictedRecords, match="consecutive"):
        tr.capture(st, ["a", "b"], after_job=4)
    tr.capture(st, ["a", "b"], after_job=5)


# ---------------------------------------------------------------- memory


class FakePool:
    def __init__(self, name, kind, peak_mb):
        self.name, self.kind, self.peak = name, kind, peak_mb * 2**20

    def getName(self):
        return self.name

    def getType(self):
        return type("MemoryType", (), {"name": lambda _: self.kind})()

    def getPeakUsage(self):
        return type("MemoryUsage", (), {"getUsed": lambda _: self.peak})()

    def resetPeakUsage(self):
        self.peak = 0


def _fake_jvm(pools):
    from types import SimpleNamespace

    factory = SimpleNamespace(getMemoryPoolMXBeans=lambda: pools)
    return SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(management=SimpleNamespace(ManagementFactory=factory))))


def test_jvm_peak_counts_the_pools_that_outlive_a_young_collection():
    pools = [
        FakePool("G1 Eden Space", "HEAP", 900),
        FakePool("G1 Old Gen", "HEAP", 300),
        FakePool("G1 Survivor Space", "HEAP", 20),
        FakePool("Metaspace", "NON_HEAP", 100),
    ]
    mem = tr.JvmMemory(_fake_jvm(pools))
    peak = mem.peak()
    assert (peak["heap_mb"], peak["nonheap_mb"]) == (320, 100)
    mem.reset_peaks()
    assert all(p.peak == 0 for p in pools)


# ---------------------------------------------------------------- result hash


@pytest.mark.parametrize(
    "columns",
    [
        # all numeric: iterrows upcasts the int columns to float64
        {"k": [3, 1, 2], "p": [1.5, float("nan"), -0.0], "rn": np.array([1, 2, 3], dtype=np.int32)},
        # mixed with strings: object rows keep each cell's own type
        {"s": ["b", None, "a"], "n": [7, 8, 9], "x": [0.1, 0.2, 0.3]},
        {
            "ts": pd.to_datetime(["2024-01-01 00:00:01.000002", None, "2023-12-31 00:00:00.000000"]),
            "d": [decimal.Decimal("1.50"), decimal.Decimal("0"), None],
            "day": [datetime.date(2020, 1, 2)] * 3,
            "b": [True, False, True],
        },
        {"only_int": np.array([5, 5, -1], dtype=np.int64)},
    ],
)
def test_row_hash_equals_the_oracle_frame_hash(columns):
    sys.path.insert(0, str(ROOT))
    from tests.oracle import frame_hash
    from workloads import frame_hash_rows

    pdf = pd.DataFrame(columns)
    assert frame_hash_rows(pdf) == frame_hash(pdf)
    assert frame_hash_rows(pdf.iloc[::-1]) == frame_hash(pdf)


# ---------------------------------------------------------------- metric table


def test_benchmark_json_names_what_the_code_reports():
    spec = json.loads(BENCHMARK_JSON.read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    sys.path.insert(0, str(ROOT))
    import workloads

    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_per_layer_names_follow_the_workload_constants():
    sys.path.insert(0, str(ROOT))
    import workloads

    assert run.HEADLINE_IDS == [workloads.qid(q) for q in workloads.HEADLINE]
    assert workloads.HEADLINE_TABLES == ["lineitem", "orders", "customer", "nation", "events"]


def test_layer_values_only_emit_declared_metrics():
    root = _span(1, 0.0, 10.0, name="op")
    train = _span(2, 0.0, 6.0, parent=1, name="ml.train")
    q = _span(3, 6.0, 9.0, parent=1, name="operators.q_agg_01")
    build = _span(4, 6.0, 6.5, parent=3, name="operators.q_agg_01.build")
    fetch = _span(5, 8.5, 9.0, parent=3, name="fetch")
    summary = tr.stage_summary(jobs=[{"id": 1}], stages=[_stage(7, inputRecords=50)])
    summary["stage_intervals"] = [(1.0, 5.0)]
    train.attrs.update(summary)
    q.attrs.update({**summary, "stage_intervals": [(7.0, 8.0)]})
    vals = run.layer_values([root, train, q, build, fetch], {"cpus": 4, "n_trees": 10, "train_rows": 25})
    assert set(vals) <= set(run.PER_LAYER)
    assert vals["ml.train.driver_gap_s"] == pytest.approx(2.0)
    assert vals["ml.train.scan_passes"] == pytest.approx(2.0)
    assert vals["operators.q_agg_01.build_s"] == pytest.approx(0.5)
    # build, stage and fetch time are not driver gap
    assert vals["operators.q_agg_01.driver_gap_s"] == pytest.approx(3 - 0.5 - 1 - 0.5)
    assert vals["fetch.s"] == pytest.approx(0.5)
    assert vals["sources.input_rows"] == 100
