"""Stale-stage sweep fences (round 15, third pass): the garbage sweep
ages a stage by the NEWEST mtime in its tree (a live stager's deep
parquet writes keep it fresh — the top dir's mtime alone froze at
creation, so a >1h batch write could be reclaimed mid-flight), reclaims
by atomic rename-then-recheck (a commit racing the sweep is restored
whole or fails loudly, never half-deleted), and ``_COMMITTED`` carries a
file manifest the publisher verifies — a partially destroyed committed
stage becomes a loud "corrupt" outcome, never a silent partial publish.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyspark.sql.functions as F
import pytest

from datalakejson_spark.functions.index_maintenance import (
    commit_stage,
    publish_staged,
    settle_committed_replay,
)
from datalakejson_spark.functions.ivf import (
    assign_cells,
    build_ivf_index,
    load_ivf_meta,
)

_SCHEMA = "vec_id bigint, embedding array<double>"


def _rows(n, start=0):
    return [
        (start + i, [float((start + i) % 7), float((start + i) % 11)])
        for i in range(n)
    ]


def _build(spark, tmp_path, n=100, n_cells=2):
    idx = str(tmp_path / "ivf")
    build_ivf_index(
        spark.createDataFrame(_rows(n), _SCHEMA), idx, n_cells=n_cells
    )
    return idx


def _stage_batch(spark, idx, token, n=10, start=5000, commit=True):
    """Hand-stage an append batch the way ivf_index_append does."""
    stage = os.path.join(idx, "_staging", token)
    meta = load_ivf_meta(idx)
    rows = spark.createDataFrame(_rows(n, start=start), _SCHEMA)
    assign_cells(rows, meta["centroids"]).repartition("cell").write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(os.path.join(stage, "cells"))
    if commit:
        commit_stage(stage, "cells")
    return stage


def _backdate(path, age_s):
    old = time.time() - age_s
    for root, dirs, files in os.walk(path):
        for n in dirs + files:
            os.utime(os.path.join(root, n), (old, old))
    os.utime(path, (old, old))


def test_live_stager_is_not_swept_by_tree_mtime(spark, tmp_path):
    """An uncommitted stage whose TOP dir mtime is ancient but whose deep
    files are fresh (a live Spark write in progress) survives the sweep —
    the age basis is the newest mtime in the tree."""
    idx = _build(spark, tmp_path)
    stage = _stage_batch(spark, idx, "inflight", commit=False)
    # backdate everything, then refresh ONE deep file (the live write)
    _backdate(stage, 2 * 3600)
    for root, _dirs, files in os.walk(stage):
        for n in files:
            if n.endswith(".parquet"):
                os.utime(os.path.join(root, n), None)
                break
    publish_staged(idx, "cells", "_IVF.json")
    assert os.path.isdir(stage), "live stage was swept"


def test_quiescent_uncommitted_stage_is_swept(spark, tmp_path):
    """A fully quiescent uncommitted stage (every mtime past the grace)
    is reclaimed — and reclaimed WHOLE: no half-deleted remnant, no
    lingering _SWEEP claim."""
    idx = _build(spark, tmp_path)
    stage = _stage_batch(spark, idx, "crashed", commit=False)
    _backdate(stage, 2 * 3600)
    publish_staged(idx, "cells", "_IVF.json")
    staging = os.path.join(idx, "_staging")
    leftover = [t for t in os.listdir(staging) if "crashed" in t]
    assert leftover == [], leftover


def test_sweep_claim_with_commit_is_rescued(spark, tmp_path):
    """A _SWEEP- claim holding a _COMMITTED marker is a committed stage a
    dead sweeper left in trash-limbo (it renamed, then died before the
    re-check): the next publish pass renames it back and rolls it
    forward — the rows land, exactly once."""
    idx = _build(spark, tmp_path)
    stage = _stage_batch(spark, idx, "batch-limbo", n=10, start=7000)
    staging = os.path.join(idx, "_staging")
    os.rename(stage, os.path.join(staging, "_SWEEP-batch-limbo"))
    publish_staged(idx, "cells", "_IVF.json")  # rescues the claim
    out = publish_staged(idx, "cells", "_IVF.json")  # publishes the stage
    assert out.get("batch-limbo") == "published", out
    cells = spark.read.parquet(os.path.join(idx, "cells"))
    planted = cells.filter(F.col("vec_id") >= 7000)
    assert planted.count() == 10
    assert planted.groupBy("vec_id").count().filter("count > 1").count() == 0


def test_sweep_claim_without_commit_is_cleared(spark, tmp_path):
    idx = _build(spark, tmp_path)
    stage = _stage_batch(spark, idx, "garbage", commit=False)
    staging = os.path.join(idx, "_staging")
    os.rename(stage, os.path.join(staging, "_SWEEP-garbage"))
    publish_staged(idx, "cells", "_IVF.json")
    assert not any("garbage" in t for t in os.listdir(staging))


def test_corrupt_committed_stage_refuses_to_publish(spark, tmp_path):
    """A committed stage whose manifest names a file missing from both
    the stage and the live layout (a half-destroyed stage) must NOT
    publish the surviving subset — outcome 'corrupt', stage removed,
    live data untouched."""
    idx = _build(spark, tmp_path)
    n_before = spark.read.parquet(os.path.join(idx, "cells")).count()
    stage = _stage_batch(spark, idx, "batch-torn", n=10, start=8000)
    # destroy one staged parquet after the commit
    gone = None
    for root, _dirs, files in os.walk(os.path.join(stage, "cells")):
        for n in files:
            if n.endswith(".parquet"):
                gone = os.path.join(root, n)
                break
        if gone:
            break
    os.remove(gone)
    out = publish_staged(idx, "cells", "_IVF.json")
    assert out.get("batch-torn") == "corrupt", out
    assert not os.path.isdir(stage)
    cells = spark.read.parquet(os.path.join(idx, "cells"))
    assert cells.count() == n_before
    assert cells.filter(F.col("vec_id") >= 8000).count() == 0


def test_settle_raises_on_corrupt_committed_replay(spark, tmp_path):
    """The replay settle path refuses to treat a corrupt committed stage
    as applied OR to silently re-stage it — loud RuntimeError."""
    idx = _build(spark, tmp_path)
    stage = _stage_batch(spark, idx, "batch-r2", n=10, start=8100)
    with open(os.path.join(stage, "_BATCH.json"), "w") as fh:
        json.dump({"batch_id": "r2"}, fh)
    for root, _dirs, files in os.walk(os.path.join(stage, "cells")):
        for n in files:
            if n.endswith(".parquet"):
                os.remove(os.path.join(root, n))
    with pytest.raises(RuntimeError, match="manifest"):
        settle_committed_replay(idx, stage, "cells", "_IVF.json")


def test_half_moved_replay_passes_manifest_check(spark, tmp_path):
    """A replayed publish of a stage whose files are partly MOVED already
    (crash mid-publish) is not corrupt — moved files verify at their
    destination — and completes exactly-once."""
    idx = _build(spark, tmp_path)
    stage = _stage_batch(spark, idx, "batch-half", n=10, start=9000)
    manifest = json.load(open(os.path.join(stage, "_COMMITTED")))["files"]
    rel = manifest[0]
    dst = os.path.join(idx, "cells", rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(os.path.join(stage, "cells", rel), dst)
    out = publish_staged(idx, "cells", "_IVF.json")
    assert out.get("batch-half") == "published", out
    planted = spark.read.parquet(os.path.join(idx, "cells")).filter(
        F.col("vec_id") >= 9000
    )
    assert planted.count() == 10
    assert planted.groupBy("vec_id").count().filter("count > 1").count() == 0


def test_legacy_ok_marker_publishes_unverified(spark, tmp_path):
    """Stages committed by pre-manifest code ('ok' marker) still roll
    forward — mid-upgrade compatibility."""
    idx = _build(spark, tmp_path)
    stage = _stage_batch(spark, idx, "batch-legacy", n=5, start=9500, commit=False)
    with open(os.path.join(stage, "_COMMITTED"), "w") as fh:
        fh.write("ok")
    out = publish_staged(idx, "cells", "_IVF.json")
    assert out.get("batch-legacy") == "published", out
    assert (
        spark.read.parquet(os.path.join(idx, "cells"))
        .filter(F.col("vec_id") >= 9500)
        .count()
        == 5
    )


def test_dedup_plane_sweep_uses_tree_mtime(spark, tmp_path):
    """The dedup index publisher shares the fences: a live-looking stage
    (fresh deep file) survives, a quiescent one is reclaimed whole."""
    from datalakejson_spark.functions.incremental_dedup import _publish_staged

    root = str(tmp_path / "dedup")
    staging = os.path.join(root, "_staging")
    live = os.path.join(staging, "live-stage")
    dead = os.path.join(staging, "dead-stage")
    for stage in (live, dead):
        os.makedirs(os.path.join(stage, "exact"), exist_ok=True)
        with open(os.path.join(stage, "exact", "part-0.parquet"), "w") as fh:
            fh.write("x")
        _backdate(stage, 2 * 3600)
    os.utime(os.path.join(live, "exact", "part-0.parquet"), None)
    _publish_staged(root)
    assert os.path.isdir(live)
    assert not any("dead-stage" in t for t in os.listdir(staging))


def test_concurrent_meta_writers_never_tear_the_meta(tmp_path):
    """Two publishers may legitimately roll the SAME stage forward (the
    own-token re-entry rule), so concurrent write_index_meta calls are a
    designed state. With a fixed tmp name, one writer's os.replace could
    publish the other's half-written tmp — the cross-JVM soak crashed on
    a torn 188 KB _IVF.json exactly this way. Unique per-write tmps keep
    every published inode a complete document: readers must never see
    invalid JSON, no matter the interleaving."""
    import threading

    from datalakejson_spark.functions.index_maintenance import (
        load_index_meta,
        write_index_meta,
    )

    idx = str(tmp_path / "idx")
    # a soak-sized meta (~200 KB): big enough that a torn write is
    # overwhelmingly likely to be caught by the reader loop
    meta = {"centroids": [[float(i)] * 32 for i in range(900)], "gen": 0}
    write_index_meta(idx, meta, "_META.json")
    stop = threading.Event()
    errors: list[str] = []

    def writer(seed: int) -> None:
        g = 0
        while not stop.is_set():
            g += 1
            write_index_meta(
                idx, {**meta, "gen": g, "writer": seed}, "_META.json"
            )

    def reader() -> None:
        while not stop.is_set():
            try:
                m = load_index_meta(idx, "_META.json", "test")
            except ValueError as exc:  # JSONDecodeError is a ValueError
                errors.append(f"torn meta: {exc}")
                return
            if len(m["centroids"]) != 900:
                errors.append(f"short meta: {len(m['centroids'])}")
                return

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
    threads += [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    import time as _t

    _t.sleep(4.0)
    stop.set()
    for t in threads:
        t.join(timeout=30)
    assert errors == [], errors


def test_vanished_stage_reads_as_fresh(tmp_path):
    """A concurrent runner may remove a stage between a publisher's listing
    and its age check; the age basis must then read "fresh" (now), so the
    sweep leaves it alone instead of raising."""
    from datalakejson_spark.functions.incremental_dedup import stage_newest_mtime

    before = time.time()
    assert stage_newest_mtime(str(tmp_path / "vanished-stage")) >= before
