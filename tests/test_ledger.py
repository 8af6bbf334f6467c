"""Parquet-snapshot ledger: Spark-job budget of the driver-side operations,
the straggler-sweep key lookup on both ledger backends, and compatibility
with snapshots written by Spark (INT96 timestamps)."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from datalakejson_spark.plans.ingest import discover
from datalakejson_spark.plans.ledger import LEDGER_SCHEMA, Ledger, LedgerStatus


def _synth_files(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("s3://lake/f"), F.lpad(F.col("id").cast("string"), 3, "0")).alias(
            "s3_key"
        ),
        F.lit(100).cast("long").alias("file_size_bytes"),
    )


def _jobs(spark, label, fn):
    """(fn(), number of Spark jobs it ran), read from statusTracker under
    its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(label))


def test_ledger_ops_job_budget(spark, tmp_path, ingest_conf):
    """Every ledger read-modify-write runs on the driver: claims, commits,
    list-keyed transitions and lookups launch no Spark job; register and a
    DataFrame-keyed transition run only the one job that collects their
    input; a whole discover runs at most one."""
    led = Ledger(spark, str(tmp_path / "led"))
    files = _synth_files(spark, 0, 40)

    n, jobs = _jobs(spark, "ledger-register", lambda: led.register(files))
    assert n == 40 and jobs <= 1, jobs
    n, jobs = _jobs(spark, "ledger-reregister", lambda: led.register(files))
    assert n == 0 and jobs <= 1, jobs

    claimed, jobs = _jobs(spark, "ledger-claim", lambda: led.claim_batch(10, "r1"))
    assert len(claimed) == 10 and jobs == 0, jobs

    outcomes = [
        (claimed[:6], LedgerStatus.SUCCEEDED, None),
        (claimed[6:8], LedgerStatus.QUARANTINED, "corrupt"),
        (claimed[8:], LedgerStatus.FAILED, "lost"),
    ]
    fenced, jobs = _jobs(
        spark, "ledger-commit", lambda: led.apply_outcomes(outcomes, run_id="r1")
    )
    assert fenced == [] and jobs == 0, jobs
    ptr = json.loads((tmp_path / "led" / "_LATEST").read_text())
    assert len(ptr["terminal"]) == 1  # 8 of 40 terminal: split, not deferred

    # list-keyed: a fenced-out transition and a terminal re-enqueue (the
    # full-compaction path)
    fenced, jobs = _jobs(
        spark,
        "ledger-set-fenced",
        lambda: led.set_status(claimed[:2], LedgerStatus.FAILED, fence_run_id="other"),
    )
    assert sorted(fenced) == sorted(claimed[:2]) and jobs == 0, jobs
    _, jobs = _jobs(
        spark,
        "ledger-set-requeue",
        lambda: led.set_status([claimed[0]], LedgerStatus.FAILED),
    )
    assert jobs == 0, jobs

    keyed = _synth_files(spark, 30, 40).select("s3_key")
    _, jobs = _jobs(
        spark, "ledger-set-df", lambda: led.set_status(keyed, LedgerStatus.FAILED)
    )
    assert jobs <= 1, jobs

    looked, jobs = _jobs(
        spark,
        "ledger-lookups",
        lambda: (
            led.counts(),
            led.owned_by(claimed, "r1"),
            led.keys_with_status(claimed, LedgerStatus.SUCCEEDED),
        ),
    )
    counts, owned, done = looked
    assert jobs == 0, jobs
    assert counts == {
        LedgerStatus.PENDING: 20,
        LedgerStatus.SUCCEEDED: 5,
        LedgerStatus.QUARANTINED: 2,
        LedgerStatus.FAILED: 13,
    }
    assert owned == set(claimed)  # r1 stamped every committed row
    assert sorted(done) == sorted(claimed[1:6])

    for i in range(2):  # first discover registers, the second finds nothing new
        n, jobs = _jobs(spark, f"discover-{i}", lambda: discover(spark, ingest_conf))
        assert n == (4 if i == 0 else 0) and jobs <= 1, jobs


@pytest.mark.parametrize("backend", ["parquet", "jdbc"])
def test_keys_with_status_both_backends(spark, tmp_path, monkeypatch, backend):
    """Discover's straggler sweep lookup: the subset of the given keys in
    one status, unknown keys ignored, on either ledger backend (the JDBC
    side in IN-list chunks)."""
    from datalakejson_spark.plans import jdbc_ledger

    if backend == "jdbc":
        monkeypatch.setattr(jdbc_ledger, "_BATCH", 2)  # several IN-list chunks
        led = jdbc_ledger.JdbcLedger(spark, f"jdbc:derby:{tmp_path}/db;create=true")
    else:
        led = Ledger(spark, str(tmp_path / "led"))
    led.register(_synth_files(spark, 0, 6))
    claimed = led.claim_batch(4, "r1")
    led.apply_outcomes(
        [
            (claimed[:3], LedgerStatus.SUCCEEDED, None),
            (claimed[3:], LedgerStatus.FAILED, "x"),
        ],
        run_id="r1",
    )
    asked = ["s3://lake/unknown", *claimed, "s3://lake/f005"]
    done = led.keys_with_status(asked, LedgerStatus.SUCCEEDED)
    assert sorted(done) == sorted(claimed[:3])
    assert led.keys_with_status(asked, LedgerStatus.FAILED) == claimed[3:]
    assert led.keys_with_status(asked, LedgerStatus.PENDING) == ["s3://lake/f005"]
    assert led.keys_with_status([], LedgerStatus.PENDING) == []


def _spark_written(spark, root, rows, legacy_pointer: bool) -> None:
    """A ledger laid out by the Spark writer the ledger used before: INT96
    timestamps, Spark part files. ``legacy_pointer``: one dir holding every
    status behind a bare-name pointer; otherwise a split layout with a
    pre-deferral JSON pointer (no deferred_terminal / publish_seq)."""
    df = spark.createDataFrame(rows, LEDGER_SCHEMA)
    root.mkdir(parents=True)
    if legacy_pointer:
        df.repartition(2).write.parquet(str(root / "v1"))
        (root / "_LATEST").write_text("v1")
        return
    terminal = F.col("status").isin(LedgerStatus.SUCCEEDED, LedgerStatus.QUARANTINED)
    df.filter(~terminal).write.parquet(str(root / "v1"))
    df.filter(terminal).write.parquet(str(root / "t1"))
    (root / "_LATEST").write_text(json.dumps({"active": "v1", "terminal": ["t1"]}))


def _ts_physical_types(d):
    return {
        pq.ParquetFile(f).schema.column(i).physical_type
        for f in d.glob("*.parquet")
        for i in (5, 6)  # first_discovered_at, last_updated_at
    }


def test_spark_written_snapshots_keep_working(spark, tmp_path):
    """Snapshots written by Spark (INT96 timestamps), behind either a legacy
    bare-name pointer or a split pointer, go through register, claim and
    commit: untouched rows read back identical (to the microsecond), the
    touched ones carry their transitions, and every dir the new pointer
    names reads back through Spark with LEDGER_SCHEMA."""
    t0 = datetime(2024, 3, 1, 12, 0, 0, 123456)
    rows = [
        # key, size, status, retry, error, first, last, run_id
        ("s3://lake/a0", 10, LedgerStatus.SUCCEEDED, 1, None, t0, t0 + timedelta(seconds=5), "r0"),
        ("s3://lake/a1", 11, LedgerStatus.QUARANTINED, 1, "corrupt", t0, t0, "r0"),
        ("s3://lake/a2", 12, LedgerStatus.FAILED, 2, "lost", t0 + timedelta(microseconds=7), t0, "r0"),
        ("s3://lake/a3", 13, LedgerStatus.PENDING, 0, None, t0 - timedelta(days=1), t0, None),
        ("s3://lake/a4", None, LedgerStatus.PENDING, 0, None, t0 + timedelta(days=1), t0, None),
    ]
    for legacy in (True, False):
        root = tmp_path / ("legacy" if legacy else "split")
        _spark_written(spark, root, rows, legacy_pointer=legacy)
        assert _ts_physical_types(root / "v1") == {"INT96"}
        led = Ledger(spark, str(root))
        before = {r.s3_key: r for r in led.read().collect()}
        assert len(before) == 5

        new = spark.createDataFrame(
            [("s3://lake/a0", 10), ("s3://lake/b0", 20)], "s3_key string, file_size_bytes long"
        )
        assert led.register(new) == 1  # a0 is terminal: not re-registered
        # oldest first: a3 (day -1), then a2 (t0 + 7 us, FAILED), not a4
        claimed = led.claim_batch(2, "run-new")
        assert claimed == ["s3://lake/a3", "s3://lake/a2"]
        assert led.apply_outcomes(
            [(claimed, LedgerStatus.SUCCEEDED, None)], run_id="run-new"
        ) == []

        after = {r.s3_key: r for r in led.read().collect()}
        assert set(after) == set(before) | {"s3://lake/b0"}
        for key in ("s3://lake/a0", "s3://lake/a1", "s3://lake/a4"):
            assert after[key] == before[key]
        for key in claimed:
            got, was = after[key], before[key]
            assert got.status == LedgerStatus.SUCCEEDED and got.run_id == "run-new"
            assert got.retry_count == was.retry_count + 1
            assert got.first_discovered_at == was.first_discovered_at
            assert got.last_updated_at > was.last_updated_at
        assert after["s3://lake/b0"].status == LedgerStatus.PENDING
        assert led.counts() == {LedgerStatus.SUCCEEDED: 3, LedgerStatus.QUARANTINED: 1,
                                LedgerStatus.PENDING: 2}

        ptr = json.loads((root / "_LATEST").read_text())
        for name in [ptr["active"], *ptr["terminal"]]:
            df = spark.read.schema(LEDGER_SCHEMA).parquet(str(root / name))
            assert df.count() >= 1
            if name != "t1":  # rewritten by the driver-side writer
                assert _ts_physical_types(root / name) == {"INT64"}
        # the split layout keeps the Spark-written segment as it is
        assert ("t1" in ptr["terminal"]) == (not legacy)


def test_terminal_history_streams_batch_by_batch(spark, tmp_path, monkeypatch):
    """A segment fold, a full compaction and counts() stream terminal
    history batch by batch: no unkeyed read of a terminal segment builds a
    whole-history table, the folded segment is written one batch per row
    group, and no row is lost, duplicated or changed."""
    from datalakejson_spark.plans import ledger as L

    monkeypatch.setattr(L, "_BATCH_ROWS", 3)
    monkeypatch.setattr(L, "MAX_TERMINAL_SEGMENTS", 2)
    loads = []
    real_load = Ledger._load

    def spy(self, names, columns=None, keys=None):
        loads.append((list(names), keys))
        return real_load(self, names, columns, keys)

    monkeypatch.setattr(Ledger, "_load", spy)
    root = tmp_path / "led"
    led = Ledger(spark, str(root))
    led.register(_synth_files(spark, 0, 30))
    for i in range(3):  # one segment per batch; the third folds (3 > 2)
        claimed = led.claim_batch(10, f"r{i}")
        led.apply_outcomes([(claimed, LedgerStatus.SUCCEEDED, None)], run_id=f"r{i}")
    (folded,) = json.loads((root / "_LATEST").read_text())["terminal"]
    (part,) = (root / folded).glob("*.parquet")
    assert pq.ParquetFile(part).metadata.num_row_groups >= 10
    assert led._seg_range(folded) == ("s3://lake/f000", "s3://lake/f029")
    assert led.counts() == {LedgerStatus.SUCCEEDED: 30}
    before = {r.s3_key: r for r in led.read().collect()}

    victim = "s3://lake/f017"  # re-enqueue a terminal row: full compaction
    led.set_status([victim], LedgerStatus.FAILED, error_message="requeued")
    ptr = json.loads((root / "_LATEST").read_text())
    assert len(ptr["terminal"]) == 1 and ptr["terminal"][0] != folded
    after = {r.s3_key: r for r in led.read().collect()}
    assert set(after) == set(before)
    assert {k for k in after if after[k] != before[k]} == {victim}
    assert after[victim].status == LedgerStatus.FAILED
    assert after[victim].error_message == "requeued"
    assert led.counts() == {LedgerStatus.SUCCEEDED: 29, LedgerStatus.FAILED: 1}
    assert led.claim_batch(5, "r9") == [victim]

    history = [(names, keys) for names, keys in loads if any(n.startswith("t") for n in names)]
    assert history and all(keys is not None for _, keys in history)
