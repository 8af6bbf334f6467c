"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from perfbench import checks, gen, run
from perfbench.common import Outcome
from perfbench.harness import tree_digest

CHECKOUT = Path(__file__).resolve().parents[2]


# -- generators --------------------------------------------------------------
def test_tables_are_byte_identical_for_a_seed(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5, 0.001)
    gen.write_tables(str(tmp_path / "b"), 5, 0.001)
    gen.write_tables(str(tmp_path / "c"), 6, 0.001)
    assert sorted(p.name for p in (tmp_path / "a").iterdir()) == sorted(
        f"{t}.parquet" for t in gen.TABLES
    )
    assert tree_digest(tmp_path / "a") == tree_digest(tmp_path / "b")
    assert tree_digest(tmp_path / "a") != tree_digest(tmp_path / "c")


def test_landing_and_dedup_inputs_are_identical_for_a_seed(tmp_path):
    plans = [
        gen.write_landing(str(tmp_path / d), 9, 12, 5, 4) for d in ("a", "b")
    ]
    assert tree_digest(tmp_path / "a") == tree_digest(tmp_path / "b")
    assert plans[0].partitions == plans[1].partitions
    assert gen.dedup_plan(9, 50, 2, 20, 0.25).digest() == gen.dedup_plan(
        9, 50, 2, 20, 0.25
    ).digest()
    assert gen.dedup_plan(9, 50, 2, 20, 0.25).digest() != gen.dedup_plan(
        10, 50, 2, 20, 0.25
    ).digest()


def test_expected_lake_counts_match_what_the_generator_planted(tmp_path):
    plan = gen.write_landing(str(tmp_path), 3, 16, 7, 4)
    good = corrupt = 0
    corrupt_files, partitions = set(), {}
    for f in sorted(tmp_path.rglob("*.json")):
        assert f.parent.parent.name == "2024" and f.parent.name.startswith("week")
        for line in f.read_text().splitlines():
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                corrupt += 1
                corrupt_files.add(str(f))
                continue
            good += 1
            day = pd.Timestamp(rec["event_timestamp"])
            key = (day.year, day.month, day.day, rec["MODE"])
            partitions[key] = partitions.get(key, 0) + 1
    want = checks.expected_lake(plan)
    assert want.curated_rows == good == 16 * 7
    assert want.dlq_rows == corrupt == 4
    assert want.quarantined == len(corrupt_files) == 4
    assert want.succeeded == 12
    assert want.partitions == partitions
    assert sorted(plan.files) == sorted(str(p) for p in tmp_path.rglob("*.json"))


def test_dedup_plan_plants_copies_of_corpus_documents_only():
    plan = gen.dedup_plan(4, 40, 3, 20, 0.25)
    corpus = set(plan.corpus.column("text").to_pylist())
    assert len(corpus) == 40  # tagged documents are all distinct
    for delta, copies, novel in zip(plan.deltas, plan.planted_copies, plan.novel):
        texts = dict(zip(delta.column("doc_id").to_pylist(), delta.column("text").to_pylist()))
        assert len(copies) == 5 and len(novel) == 15
        assert set(texts) == copies | novel
        assert all(texts[i] in corpus for i in copies)
        assert not any(texts[i] in corpus for i in novel)


# -- statistics --------------------------------------------------------------
def test_tail_percentile_keeps_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]  # shuffled order must not matter
    tail = checks.tail_percentile(list(reversed(xs)))
    assert (tail.value, tail.percentile, tail.n) == (90.0, 90.0, 100)
    assert sum(x > tail.value for x in xs) == 10
    assert checks.tail_percentile(xs[:10]) is None
    short = checks.tail_percentile(xs[:11])
    assert short.value == 1.0 and sum(x > short.value for x in xs[:11]) == 10
    assert checks.tail_percentile(xs[:25]).percentile == 60.0


def test_cpu_clock_counts_the_processes_a_run_starts():
    from perfbench.harness import tree_cpu_s

    before = tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(3 * 10**7))"], check=True)
    assert tree_cpu_s(os.getpid()) - before > 0.2


# -- output checks -----------------------------------------------------------
def _frame():
    return pd.DataFrame(
        {
            "k": ["a", "b", "c"],
            "n": [1, 2, 3],
            "x": [0.1, 2.5, 1e6 / 3],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-02", None]),
        }
    )


def test_digest_ignores_row_and_column_order():
    a = _frame()
    b = a.iloc[[2, 0, 1]][["x", "ts", "k", "n"]]
    assert checks.digest(a) == checks.digest(b)
    assert checks.compare_frames(b, a) is None


def test_comparison_catches_one_changed_row():
    a, b = _frame(), _frame()
    b.loc[1, "n"] = 7
    assert checks.digest(a) != checks.digest(b)
    assert "rows differ" in checks.compare_frames(b, a)
    c = _frame()
    c.loc[0, "x"] = 0.1 * (1 + 1e-6)
    assert "rows differ" in checks.compare_frames(c, a)
    assert "row count" in checks.compare_frames(a.iloc[:2], a)


def test_missing_timestamps_canonicalise_like_missing_values():
    assert checks._canon(pd.NaT) == checks._canon(None) == checks._canon(float("nan"))
    a = _frame()
    b = a.copy()
    b["ts"] = b["ts"].astype(object).where(b["ts"].notna(), None)
    assert checks.digest(a) == checks.digest(b)


def test_comparison_tolerates_last_digit_float_noise():
    a, b = _frame(), _frame()
    b.loc[2, "x"] = a.loc[2, "x"] * (1 + 1e-12)
    assert checks.compare_frames(b, a) is None


# -- traced layer split ------------------------------------------------------
def test_layer_split_accounts_for_the_wall_time():
    from perfbench.queries import split_problem, split_query

    parts = split_query(1.0, 0.2, 0.01, 0.05, 0.78)
    assert parts["operators.build_s"] == pytest.approx(0.19)
    assert parts["catalyst.plan_s"] == pytest.approx(0.06)
    assert parts["execution.run_s"] == pytest.approx(0.73)
    assert parts["unattributed_s"] == pytest.approx(0.02)
    assert split_problem(parts) is None


def test_layer_split_fails_when_the_parts_do_not_add_up():
    from perfbench.queries import split_problem, split_query

    # an event of another, shorter execution leaves most of the wall unexplained
    assert "unattributed" in split_problem(split_query(1.0, 0.2, 0.01, 0.05, 0.3))
    # phases longer than the execution they are said to run inside
    assert "negative execution.run_s" in split_problem(split_query(1.0, 0.2, 0.01, 0.9, 0.78))


# -- exit status -------------------------------------------------------------
class _FakeSession:
    class sc:
        defaultParallelism = 4

    def versions(self):
        return {}

    def stop(self):
        pass


def test_a_failed_output_check_makes_the_run_exit_nonzero(monkeypatch, tmp_path, capsys):
    from perfbench import harness, queries

    def fake_run(ctx):
        out = Outcome(session=_FakeSession())
        out.attempted = 12
        out.fail("g3_flagship_pricing_summary: output differs from the DuckDB oracle")
        out.e2e = {"setup_s": 1.0, "pass_s": 2.0, "pass_cpu_s": 5.0}
        return out

    monkeypatch.setattr(harness, "prepare_env", lambda work: None)
    monkeypatch.setattr(run.signal, "signal", lambda *args: None)
    monkeypatch.setattr(harness, "OUT_DIR", tmp_path)
    monkeypatch.setattr(queries, "run", fake_run)
    code = run.main(["--workload", "query_sf002", "--seed", "1", "--seconds", "1"])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1
    assert last["correct"] is False and last["failed"] == 1 and last["attempted"] == 12
    assert set(last["metrics"]) == set(run.END_TO_END)


def test_the_run_fails_without_a_result_where_the_program_is_missing(tmp_path):
    shutil.copytree(CHECKOUT / "perfbench", tmp_path / "perfbench")
    shutil.copy(CHECKOUT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_writes",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode not in (0, None)
    assert '"correct"' not in proc.stdout


def test_every_declared_metric_is_reported():
    declared = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    assert [m["name"] for m in declared["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in declared["per_layer"]} == run.layer_units()
    assert [w["name"] for w in declared["workloads"]] == list(run.WORKLOADS)
