"""tools/perf.py ``ab``: the collect-and-compare equality gate runs before
any timing, so a fast-but-wrong candidate can never produce a speedup."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import perf  # noqa: E402

SF = "/root/testdata/sf0.001"
QUERY = "p1_projection_rename_cast"


def _first_row_only(spark, sf_dir):
    """Same schema as the query, different rows."""
    return perf.all_specs()[QUERY].fn(spark, sf_dir).limit(1)


def test_ab_refuses_a_different_result_before_timing(spark, monkeypatch):
    def no_timing(*_args, **_kw):
        raise AssertionError("timed before the equality gate passed")

    monkeypatch.setattr(perf, "timed", no_timing)
    with pytest.raises(perf.ResultMismatch, match="rows differ"):
        perf.ab(spark, QUERY, f"{__name__}:_first_row_only", SF, reps=1)
    # a schema change is refused the same way
    with pytest.raises(perf.ResultMismatch, match="schema differs"):
        perf.ab(
            spark, QUERY,
            "datalakejson_spark.operators.relational:p9_distinct_projection",
            SF, reps=1,
        )


def test_ab_passes_a_query_against_itself(spark):
    out = perf.ab(
        spark, QUERY,
        f"datalakejson_spark.operators.relational:{QUERY}", SF, reps=1,
    )
    assert out["rows"] > 0
    assert len(out["a_s"]) == len(out["b_s"]) == 1
