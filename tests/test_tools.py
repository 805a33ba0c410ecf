"""The retained ``tools/`` scripts: every one imports cleanly, and the
A/B harness (``tools/ab.py``) proves output identity before it measures."""

from __future__ import annotations

import glob
import importlib
import os

import pytest

from tests.conftest import SF_SMALL

_TOOLS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
_TOOLS = sorted(os.path.basename(p)[:-3] for p in glob.glob(os.path.join(_TOOLS_DIR, "*.py")))


@pytest.mark.parametrize("name", _TOOLS)
def test_tool_imports(name):
    """A retained tool that still imports a deleted helper (or runs its
    workload at import time) fails here, not on its next manual run."""
    importlib.import_module(f"tools.{name}")


def _q_join_02_minus_first_row(spark, sf):
    from dask_xgboost_spark.registry import load_all

    return load_all()["Q-JOIN-02"].fn(spark, sf).orderBy("n_name").offset(1)


def test_ab_identical_pair_reports_wall_and_shuffle(spark, capsys):
    """Q-JOIN-02 and Q-JOIN-08 are the same SQL without and with the
    broadcast hints: identical output, both sides measured."""
    from tools import ab

    result = ab.compare(spark, "Q-JOIN-02", "Q-JOIN-08", SF_SMALL)
    assert result["rows"] > 0
    assert [m["side"] for m in result["sides"]] == ["Q-JOIN-02", "Q-JOIN-08"]
    for m in result["sides"]:
        assert m["wall_s"] > 0
        assert m["shuffle_rows"] > 0 and m["shuffle_bytes"] > 0
    ab.report("1x", result)
    out = capsys.readouterr().out
    assert f"1x: identical output ({result['rows']} rows" in out
    assert "Q-JOIN-02" in out and "Q-JOIN-08" in out and "shuffle" in out


def test_ab_differing_pair_raises(spark):
    """A ``module:fn`` side that drops a row must fail the comparison."""
    from tools import ab

    with pytest.raises(AssertionError, match="outputs differ"):
        ab.compare(
            spark, "Q-JOIN-02", "tests.test_tools:_q_join_02_minus_first_row", SF_SMALL
        )
