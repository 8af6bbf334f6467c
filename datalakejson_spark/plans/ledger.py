"""File-processing ledger: a row-per-file state machine.

Reference parity: the PostgreSQL ``file_processing_status`` table
(/root/reference/sudo_code.txt:25-49) with status enum PENDING → PROCESSING →
SUCCEEDED | FAILED (sudo_code.txt:35), ``retry_count`` incremented per claim
(sudo_code.txt:141), idempotent registration via ``ON CONFLICT (s3_key) DO
NOTHING`` (sudo_code.txt:90), and batch claims ``status IN
('PENDING','FAILED') ORDER BY created_at LIMIT n`` (sudo_code.txt:132).

RDS-free redesign (SURVEY.md §7.0): the ledger is a directory of immutable
parquet snapshots plus a ``_LATEST`` pointer file. Updates write a new
snapshot and atomically swap the pointer (single-file os.replace — POSIX
atomic), so a crash mid-update leaves the previous snapshot intact: the
reference's transactional UPDATE+COMMIT becomes snapshot-and-swap.

Driver-side read-modify-write: a ledger is metadata (one small row per
file), so every operation reads the snapshot parts it needs with
``pyarrow.parquet``, does its anti-join, ordered claim, lease check and
fenced transition with ``pyarrow.compute``, and writes each new directory as
ONE parquet file. No ledger operation launches a Spark job, except the one
collect of a caller-supplied DataFrame (``register`` and the DataFrame form
of ``set_status``) — the same bounded collect ``JdbcLedger.register`` does.
Every Spark action pays analysis, planning and job/stage scheduling (plus a
job per exchange under AQE); on a table of a few dozen rows that overhead
would be nearly all of the ledger's cost. Terminal history is never held on
the driver as a whole: probes filter it batch by batch, and a segment fold,
a full compaction and ``counts()`` stream it file by file, batch by batch,
so driver memory is the active part plus one ``_BATCH_ROWS`` batch.
``read()`` still returns a Spark DataFrame for the monitor and ops
consumers. Snapshots are written with ``timestamp[us, tz=UTC]`` columns:
Spark reads them back row-identical through ``LEDGER_SCHEMA``, and
Spark-written snapshots (INT96 timestamps) are read as the same UTC
instants.

Status-partitioned snapshot (round 8 — the measured fix for the ~4x10^6-file
crossover in SCALE.md's ledger curve): the state is split into an ACTIVE part
(PENDING/PROCESSING/FAILED — the working set, fully rewritten per batch) and
append-only TERMINAL segments (SUCCEEDED/QUARANTINED — the steady-state
majority, written once when a row completes and never rewritten). The
``_LATEST`` pointer names both parts in one JSON line, so the swap is still a
single atomic os.replace. A steady batch therefore writes O(active)+O(batch)
instead of O(all files); claims read ONLY the active part (the reference's
``idx_processing_status``, sudo_code.txt:49). The rare operational move of a
key OUT of a terminal segment (e.g. re-enqueueing a SUCCEEDED file as FAILED)
falls back to one full compaction write; segment count is bounded by
compaction at MAX_TERMINAL_SEGMENTS. Legacy single-snapshot pointers are read
transparently and migrate to the split layout on their next write.

Multi-runner semantics: the reference serializes concurrent claims with
``FOR UPDATE SKIP LOCKED`` (psuedo_code.txt:170-181). The filesystem analogue
here is a lock file (O_CREAT|O_EXCL — atomic on POSIX and NFSv4+) held only
for the duration of each ledger read-modify-write: a claim marks its files
PROCESSING before releasing the lock, so a second runner's claim sees them
and skips them — exactly SKIP LOCKED. Locks abandoned by a dead runner are
broken after ``LOCK_STALE_S``. Files orphaned in PROCESSING by a hard crash
(SIGKILL between claim and commit) are reclaimed at claim time once their
``last_updated_at`` is older than the processing lease.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import shutil
import threading
import time
import uuid
from datetime import datetime, timezone
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from datalakejson_spark.session import local_df


class LedgerStatus:
    PENDING = "PENDING"
    PROCESSING = "PROCESSING"
    SUCCEEDED = "SUCCEEDED"
    FAILED = "FAILED"
    # Declared in the reference's enum (sudo_code.txt:35) for rows whose file
    # was corrupt in its entirety and routed to the DLQ.
    QUARANTINED = "QUARANTINED"


# Snapshot split: completed rows go to append-only segments, never rewritten
# in steady state; every other status is the working set (the active part,
# rewritten per batch).
TERMINAL_STATUSES = (LedgerStatus.SUCCEEDED, LedgerStatus.QUARANTINED)

# One terminal segment is appended per completing batch; above this many the
# next write folds them into one (amortized O(terminal/64) per batch).
MAX_TERMINAL_SEGMENTS = 64

# Adaptive split deferral (round 9 — the backfill-phase fix): while terminal
# rows are at most this fraction of the active dir, a write keeps them IN
# the active part (one plain write, exactly the legacy cost model) instead of
# paying the split + segment append. The reference's opening act is an
# all-PENDING backfill where the terminal fraction is ~0 and the split bought
# nothing (r8: 9.0 vs legacy 6.7 s at 10^6); once deferred terminal rows
# exceed the threshold — or the working set shrinks toward the
# terminal-majority steady state, where each batch's completions easily
# exceed it — the next write splits ALL accumulated terminal rows out in one
# segment write and the active part returns to the pure working set. Write
# amplification of deferral is bounded by the threshold itself (each
# deferred rewrite carries <= 5% extra rows).
TERMINAL_SPLIT_MIN_FRAC = 0.05


# Mirrors sudo_code.txt:25-49 minus DB-isms (SERIAL id -> none needed;
# TIMESTAMP WITH TIME ZONE -> TimestampType, session tz pinned UTC).
LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("s3_key", T.StringType(), False),
        T.StructField("file_size_bytes", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("first_discovered_at", T.TimestampType(), False),
        T.StructField("last_updated_at", T.TimestampType(), False),
        T.StructField("run_id", T.StringType(), True),
    ]
)

# The same schema as the driver-side snapshot reader/writer sees it
# (TimestampType -> timestamp[us, tz=UTC]).
_ARROW_SCHEMA = to_arrow_schema(LEDGER_SCHEMA)
_TS = _ARROW_SCHEMA.field("last_updated_at").type

# Rows per batch when a snapshot file is read (and per row group when a
# segment is streamed out): bounds the driver memory of a fold, a full
# compaction or a history scan to one batch instead of all history.
_BATCH_ROWS = 1 << 18


# A runner that dies holding the lock must not wedge the fleet: locks whose
# mtime is older than this are broken. A LIVE holder heartbeats the lockfile
# mtime every LOCK_HEARTBEAT_S from a daemon thread, so lock age is decoupled
# from how long the critical section runs (a snapshot write of a large ledger
# can far exceed any fixed budget under GC/FS stalls) — only a dead process
# stops touching its lock. 600 s therefore means "no heartbeat for 10
# minutes", not "critical section slower than 10 minutes".
LOCK_STALE_S = 600.0
LOCK_HEARTBEAT_S = 5.0

# PROCESSING rows whose last_updated_at is older than this are considered
# orphaned by a crashed runner and become claimable again (the reference's
# crash story relies on its DB transaction rollback; a snapshot ledger needs
# an explicit lease).
PROCESSING_LEASE_S = 1800.0


def _schema(columns: list[str] | None) -> pa.Schema:
    """_ARROW_SCHEMA, or just its ``columns``."""
    if columns is None:
        return _ARROW_SCHEMA
    return pa.schema([_ARROW_SCHEMA.field(c) for c in columns])


def _collect(df: DataFrame, columns: list[str]) -> pa.Table:
    """A caller's DataFrame on the driver as an Arrow table with the
    ledger's types for ``columns`` (one Spark job)."""
    return df.toArrow().cast(_schema(columns))


def _key_array(paths: list[str] | DataFrame) -> pa.Array:
    """Distinct keys, first occurrence first (a DataFrame's first column)."""
    if isinstance(paths, DataFrame):
        keys = _collect(paths.select(F.col(paths.columns[0]).alias("s3_key")), ["s3_key"])
        return pc.unique(keys["s3_key"])
    return pc.unique(pa.array(paths, pa.string()))


def _key_range(keys) -> tuple[str | None, str | None]:
    """(min, max) of a key column; (None, None) when empty."""
    if len(keys) == 0:
        return None, None
    mm = pc.min_max(keys)
    return mm["min"].as_py(), mm["max"].as_py()


def _is_terminal(table: pa.Table):
    return pc.is_in(table["status"], value_set=pa.array(TERMINAL_STATUSES))


def _n_true(mask) -> int:
    return pc.sum(mask).as_py() or 0


def _carries(table: pa.Table, run_id: str):
    """Rows whose run_id equals ``run_id`` (a NULL run_id never does)."""
    return pc.fill_null(pc.equal(table["run_id"], run_id), False)


def _utc_now() -> pa.TimestampScalar:
    return pa.scalar(datetime.now(timezone.utc), _TS)


def _transition(
    table: pa.Table,
    keys: pa.Array,
    statuses: pa.Array,
    errors: pa.Array,
    now: pa.Scalar,
    run_id: str | None,
    increment_retry: bool = False,
    fence_run_id: str | None = None,
) -> pa.Table:
    """``table`` with the rows whose s3_key is ``keys[i]`` moved to
    ``statuses[i]`` / ``errors[i]`` at ``now`` (and stamped with ``run_id``
    when given). ``fence_run_id``: a row transitions ONLY if its current
    ``run_id`` equals the fence (a NULL run_id never matches)."""
    idx = pc.index_in(table["s3_key"], value_set=keys)
    hit = pc.is_valid(idx)
    if fence_run_id is not None:
        hit = pc.and_(hit, _carries(table, fence_run_id))
    new = {
        "status": pc.take(statuses, idx),
        "error_message": pc.take(errors, idx),
        "last_updated_at": now,
    }
    if increment_retry:
        new["retry_count"] = pc.add(table["retry_count"], pa.scalar(1, pa.int32()))
    if run_id is not None:
        new["run_id"] = pa.scalar(run_id, pa.string())
    for name, value in new.items():
        i = table.schema.get_field_index(name)
        table = table.set_column(
            i, table.schema.field(i), pc.if_else(hit, value, table[name])
        )
    return table


class LedgerLockLost(RuntimeError):
    """The mutex token vanished mid-critical-section: a stale-break racer
    renamed our fresh lock away and its restore lost to a new acquirer
    (see ``_break_if_stale``). ``_publish`` raises this BEFORE the pointer
    swap — nothing was published — and ``register`` retries its whole
    read-modify-write under a fresh acquisition."""


class Ledger:
    """Parquet-snapshot ledger with atomic pointer swap and a lock-file mutex
    serializing concurrent runners' read-modify-write cycles."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self._held = threading.local()  # token while inside _mutex, per thread

    # -- multi-runner mutex --------------------------------------------------
    @property
    def _lockfile(self) -> Path:
        return self.root / "_LOCK"

    @contextlib.contextmanager
    def _mutex(self, timeout_s: float = 60.0):
        """Exclusive inter-process lock around a ledger read-modify-write.

        O_CREAT|O_EXCL is the atomic acquisition primitive. Three hardenings
        over a naive lockfile (each closes a real race):

        - **Ownership token**: the lockfile body is a unique token. Release
          unlinks only if the body still matches (``_unlink_if_owner``), so a
          holder whose lock was broken while it ran can never delete the NEW
          holder's lock from its ``finally``.
        - **Heartbeat**: while held, a daemon thread touches the lockfile
          mtime every LOCK_HEARTBEAT_S. A live-but-slow holder (long Spark
          job, GC pause) therefore never looks stale; only a dead process
          goes quiet for LOCK_STALE_S.
        - **Atomic stale-break**: a waiter that observes a stale lock breaks
          it by ``os.rename()`` to a unique name, re-verifies staleness on
          the renamed inode, then unlinks THAT file. Rename captures exactly
          one inode — when two waiters race, the loser's rename fails ENOENT
          instead of blindly unlinking the path (which could by then hold the
          winner's brand-new lock)."""
        token = f"pid={os.getpid()} token={uuid.uuid4().hex}"
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                fd = os.open(self._lockfile, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, token.encode())
                os.close(fd)
                break
            except FileExistsError:
                if self._break_if_stale():
                    continue  # lock broken (or vanished) — retry immediately
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"ledger lock {self._lockfile} held for >{timeout_s}s"
                    ) from None
                time.sleep(0.05)
        stop = threading.Event()
        beat = threading.Thread(
            target=self._heartbeat, args=(stop, token), daemon=True
        )
        beat.start()
        self._held.token = token
        try:
            yield
        finally:
            self._held.token = None
            stop.set()
            beat.join(timeout=2 * LOCK_HEARTBEAT_S)
            self._unlink_if_owner(token)

    def _break_if_stale(self) -> bool:
        """Break the current lock iff its heartbeat stopped LOCK_STALE_S ago.
        Returns True when the caller should retry acquisition right away
        (lock broken or already gone)."""
        try:
            age = time.time() - self._lockfile.stat().st_mtime
        except FileNotFoundError:
            return True  # holder released between open and stat
        if age <= LOCK_STALE_S:
            return False
        wreck = self.root / f"_LOCK.stale.{uuid.uuid4().hex[:12]}"
        try:
            os.rename(self._lockfile, wreck)  # atomic: captures ONE inode
        except FileNotFoundError:
            return True  # another breaker (or the holder) got there first
        try:
            still_stale = time.time() - wreck.stat().st_mtime > LOCK_STALE_S
        except FileNotFoundError:
            return True
        if still_stale:
            wreck.unlink(missing_ok=True)  # confirmed dead — bury it
            return True
        # Rare race: the path held a FRESH lock by rename time (old holder
        # released and a new one acquired between our stat and rename).
        # Restore it atomically; link() fails EEXIST rather than clobbering
        # if yet another acquirer already took the slot.
        try:
            os.link(wreck, self._lockfile)
        except (FileExistsError, OSError):
            pass
        wreck.unlink(missing_ok=True)
        return False

    def _heartbeat(self, stop: threading.Event, token: str) -> None:
        """Touch the lockfile mtime while the critical section runs, so a
        live holder never ages past LOCK_STALE_S. Stops heartbeating if the
        lock no longer carries our token (stolen/broken) — run_id fencing at
        commit is the data-integrity guard for that case."""
        while not stop.wait(LOCK_HEARTBEAT_S):
            try:
                if self._lockfile.read_text() != token:
                    return  # not ours anymore — never touch someone else's lock
                os.utime(self._lockfile)
            except OSError:
                continue  # transiently renamed by a staleness probe — retry

    def _unlink_if_owner(self, token: str) -> None:
        """Release only a lock we still own. If the body is not our token,
        the lock was broken and re-acquired by someone else — leave it."""
        try:
            if self._lockfile.read_text() == token:
                self._lockfile.unlink(missing_ok=True)
        except OSError:
            pass

    # -- snapshot plumbing --------------------------------------------------
    @property
    def _pointer(self) -> Path:
        return self.root / "_LATEST"

    def _pointer_meta(self) -> dict | None:
        """The split-format pointer dict, or None (missing/legacy)."""
        try:
            txt = self._pointer.read_text().strip()
        except FileNotFoundError:
            return None
        if txt.startswith("{"):
            return json.loads(txt)
        return None

    def _current_parts(self) -> tuple[str | None, list[str]]:
        """(active_version, terminal_segments). A legacy pointer (pre-split:
        one bare version name) reads as the active part holding ALL rows —
        including terminal ones — and migrates to the split layout on its
        next write (``_commit`` moves its terminal rows out as soon as they
        exceed TERMINAL_SPLIT_MIN_FRAC)."""
        try:
            txt = self._pointer.read_text().strip()
        except FileNotFoundError:
            return None, []
        if not txt:
            return None, []
        if txt.startswith("{"):
            d = json.loads(txt)
            return d.get("active"), list(d.get("terminal", []))
        return txt, []

    def read(self) -> DataFrame:
        """The whole ledger as a Spark DataFrame (monitor/ops surface)."""
        active, segs = self._current_parts()
        paths = [str(self.root / n) for n in ([active] if active else []) + segs]
        if not paths:
            return local_df(self.spark, [], LEDGER_SCHEMA)
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(*paths)

    def _batches(
        self,
        names: list[str],
        columns: list[str] | None = None,
        keys: pa.Array | None = None,
    ):
        """The rows of the named snapshot dirs, file by file, as Arrow
        tables of at most _BATCH_ROWS rows (only ``columns``; with ``keys``,
        only rows whose s3_key is in ``keys``). Batches are conformed to
        _ARROW_SCHEMA: a Spark-written file's INT96 timestamps come back
        naive, and they are UTC instants."""
        schema = _schema(columns)
        for name in names:
            for f in sorted((self.root / name).iterdir()):  # a pruned dir raises
                if f.suffix != ".parquet" or f.name.startswith(("_", ".")):
                    continue
                with pq.ParquetFile(f, coerce_int96_timestamp_unit="us") as pf:
                    for b in pf.iter_batches(_BATCH_ROWS, columns=schema.names):
                        t = pa.Table.from_batches([b]).select(schema.names).cast(schema)
                        if keys is not None:
                            t = t.filter(pc.is_in(t["s3_key"], value_set=keys))
                        yield t

    def _load(
        self,
        names: list[str],
        columns: list[str] | None = None,
        keys: pa.Array | None = None,
    ) -> pa.Table:
        """``_batches`` as one Arrow table: for the active part and for
        key probes, never for all of terminal history."""
        parts = list(self._batches(names, columns, keys))
        return pa.concat_tables(parts) if parts else _schema(columns).empty_table()

    def _load_active(self) -> tuple[pa.Table, list[str]]:
        """(the active dir's rows, the terminal segment names). Under a
        legacy pointer the active dir still holds terminal rows until the
        next write migrates them."""
        active, segs = self._current_parts()
        return self._load([active] if active else []), segs

    def _lookup(self, keys: pa.Array, columns: list[str]) -> pa.Table:
        """Lock-free point read: the rows for ``keys`` from the active part
        and the terminal segments whose key range can contain one."""
        active, segs = self._current_parts()
        names = ([active] if active else []) + self._segs_for_keys(
            segs, *_key_range(keys)
        )
        return self._load(names, columns, keys)

    def _write(self, name: str, table: pa.Table) -> None:
        """One snapshot dir holding one parquet file."""
        d = self.root / name
        d.mkdir(exist_ok=True)
        pq.write_table(table, d / "part-00000.parquet")

    def _write_segment(
        self,
        name: str,
        tables,
        key_range: tuple[str, str] | None = None,
    ) -> int:
        """Stream ``tables`` into the terminal segment dir ``name`` (one
        parquet file, written table by table) with its ``_RANGE.json``:
        ``key_range`` when the caller knows it, else the min/max over the
        tables. Returns the rows written; an empty segment is removed."""
        d = self.root / name
        d.mkdir(exist_ok=True)
        n, lo, hi = 0, None, None
        with pq.ParquetWriter(d / "part-00000.parquet", _ARROW_SCHEMA) as w:
            for t in tables:
                if not t.num_rows:
                    continue
                w.write_table(t)
                n += t.num_rows
                if key_range is None:
                    kmin, kmax = _key_range(t["s3_key"])
                    lo = kmin if lo is None else min(lo, kmin)
                    hi = kmax if hi is None else max(hi, kmax)
        if not n:
            shutil.rmtree(d, ignore_errors=True)
            return 0
        self._write_seg_range(name, *(key_range or (lo, hi)))
        return n

    # -- per-segment key-range sidecars (round 9) ----------------------------
    # Written INSIDE the segment dir as ``_RANGE.json`` (the leading
    # underscore makes parquet readers treat it as metadata), so the
    # sidecar travels with the segment through folds and prunes. Advisory:
    # a missing/corrupt sidecar merely means the probe must include that
    # segment (legacy segments keep working). This is the reference's
    # ``idx_processing_status``+pkey analogue for the terminal majority: a
    # register or commit over 10^8 terminal rows touches only segments whose
    # [min,max] s3_key range can contain one of its keys, so its cost tracks
    # batch locality instead of total history.
    def _write_seg_range(self, seg: str, kmin: str | None, kmax: str | None) -> None:
        if kmin is None or kmax is None:
            return  # empty segment (never published in practice) — no sidecar
        from datalakejson_spark.fsutil import atomic_write_json

        try:
            atomic_write_json(
                str(self.root / seg / "_RANGE.json"),
                {"min": kmin, "max": kmax},
            )
        except OSError:
            pass  # advisory — probe stays conservative

    def _seg_range(self, seg: str) -> tuple[str, str] | None:
        try:
            d = json.loads((self.root / seg / "_RANGE.json").read_text())
            return str(d["min"]), str(d["max"])
        except (OSError, ValueError, KeyError, TypeError):
            # TypeError covers valid-but-non-dict JSON (null/list/scalar):
            # ANY unreadable sidecar degrades to a conservative scan.
            return None

    def _segs_for_keys(
        self, segs: list[str], kmin: str | None, kmax: str | None
    ) -> list[str]:
        """Segments whose key range can intersect [kmin, kmax]; segments
        without a sidecar are conservatively included."""
        if kmin is None or kmax is None:
            return []  # no keys — nothing can hit
        out = []
        for s in segs:
            r = self._seg_range(s)
            if r is None or (r[0] <= kmax and kmin <= r[1]):
                out.append(s)
        return out

    def _owns_lock(self) -> bool:
        """Does the lockfile still carry this thread's mutex token? Outside a
        mutex (direct publish in tests/tools) there is nothing to verify."""
        token = getattr(self._held, "token", None)
        if token is None:
            return True
        try:
            return self._lockfile.read_text() == token
        except OSError:
            return False  # renamed/unlinked — dispossessed either way

    def _commit(self, table: pa.Table, segments: list[str]) -> None:
        """Publish ``table`` as the new active part. Rows whose status is
        terminal move to one appended segment when they exceed
        TERMINAL_SPLIT_MIN_FRAC of the table.

        Adaptive deferral (round 9): below that fraction — the all-PENDING
        backfill phase, or a fully fenced-out / no-match commit whose
        terminal delta is ZERO rows (ADVICE r8: such a commit used to append
        an EMPTY segment per batch, burning segment slots) — the commit is
        one plain write and terminal rows ride along in the active part
        until the fraction crosses the threshold, at which point one segment
        write drains them all. The table is in memory, so the decision uses
        the exact terminal count, and the pointer records it."""
        terminal = _is_terminal(table)
        if _n_true(terminal) > TERMINAL_SPLIT_MIN_FRAC * table.num_rows:
            seg = f"t{time.time_ns()}"  # never empty: > 0 terminal rows
            self._write_segment(seg, [table.filter(terminal)])
            self._publish(table.filter(pc.invert(terminal)), [*segments, seg])
        else:
            self._publish(table, segments)

    def _compact(self, move, active: pa.Table, segments: list[str]) -> None:
        """Full compaction, for a transition that touches a terminal row:
        every row of the active part and of every segment goes through
        ``move``; the terminal ones stream into ONE new segment, file by
        file, and the rest (the active part plus any row that left a
        terminal status) become the new active part."""
        rest: list[pa.Table] = []

        def terminal_rows():
            for t in itertools.chain([active], self._batches(segments)):
                t = move(t)
                done = _is_terminal(t)
                rest.append(t.filter(pc.invert(done)))
                yield t.filter(done)

        seg = f"t{time.time_ns()}c"
        segs = [seg] if self._write_segment(seg, terminal_rows()) else []
        self._publish(pa.concat_tables(rest), segs)

    def _publish(self, active: pa.Table, segments: list[str]) -> None:
        """Write the active part, fold the segments into one (streamed,
        batch by batch) when over MAX_TERMINAL_SEGMENTS, then atomically
        swap the pointer and prune unreferenced dirs.

        Dispossession guard (the _break_if_stale restore race): immediately
        before the pointer swap, re-verify the lockfile still carries our
        token. A holder whose fresh lock was renamed away by a staleness
        probe and lost to a new acquirer must NOT publish — its snapshot is
        last-writer-wins and would erase the new holder's transitions.
        Raising here (nothing published yet; the orphan directories are
        pruned by later publishes) lets the operation retry its whole
        read-modify-write under a fresh acquisition."""
        ns = time.time_ns()
        version = f"v{ns}"
        self._write(version, active)
        segs = list(segments)
        if len(segs) > MAX_TERMINAL_SEGMENTS:
            merged = f"t{ns}c"
            ranges = [self._seg_range(s) for s in segs]
            known = None  # the sidecars' union; any missing → per-batch
            if all(ranges):
                known = min(r[0] for r in ranges), max(r[1] for r in ranges)
            folded = self._write_segment(merged, self._batches(segs), known)
            segs = [merged] if folded else []
        if not self._owns_lock():
            raise LedgerLockLost(
                f"ledger lock {self._lockfile} stolen mid-write; snapshot "
                f"{version} aborted before publish"
            )
        # Monotonic publish counter: read-increment under the mutex, so it
        # advances by exactly one per publish REGARDLESS of which machine's
        # clock minted the version name — the retirement grace counts these,
        # never wall-clock-derived names (see _prune).
        meta = self._pointer_meta() or {}
        seq = int(meta.get("publish_seq", 0)) + 1
        from datalakejson_spark.fsutil import unique_tmp

        tmp = self.root / unique_tmp("_LATEST")
        tmp.write_text(
            json.dumps(
                {
                    "active": version,
                    "terminal": segs,
                    # terminal rows riding in the active dir (deferral)
                    "deferred_terminal": _n_true(_is_terminal(active)),
                    "publish_seq": seq,
                }
            )
        )
        os.replace(tmp, self._pointer)  # atomic commit point
        self._prune(keep=3, current=version, segments=segs, seq=seq)

    def _retrying(self, body, attempts: int = 5):
        """Run ``body`` inside the mutex, retrying the whole read-modify-write
        when the lock was stolen mid-flight (LedgerLockLost aborts before any
        state is published, so a retry is a clean re-application on whatever
        the winning holder committed)."""
        last: LedgerLockLost | None = None
        for _ in range(attempts):
            try:
                with self._mutex():
                    return body()
            except LedgerLockLost as exc:
                last = exc
        raise last

    def _prune(
        self, keep: int, current: str, segments: list[str], seq: int
    ) -> None:
        """Delete old active versions (keep the newest ``keep`` so lock-free
        readers holding a slightly stale pointer never lose their dirs) and
        RETIRED terminal segments after the same grace window.

        A segment's own timestamp says when it was CREATED, not when it was
        dropped from the pointer (a fold retires segments that are many
        publishes old), so deletion-by-age would yank dirs out from under a
        lock-free reader holding the immediately-previous pointer
        (monitor counts, owned_by, _finish_interrupted_archives). Instead,
        an unreferenced segment is first recorded in the advisory
        ``_RETIRED`` journal with the pointer's ``publish_seq`` at
        retirement, and deleted only once at least ``keep`` further
        publishes have happened — the identical grace the active versions
        get. The counter is incremented read-modify-write under the mutex,
        so the grace is genuinely publish-COUNT-based: version names are
        minted by whichever runner machine publishes, and under
        cross-machine clock skew a name-comparison grace (the first cut of
        this fix) could still collapse to one publish — a skewed-behind
        runner's version name sorts below every kept name immediately. A
        monotonic counter has no such failure mode. The journal is advisory
        (corruption → grace restarts, segments merely linger) and written
        atomically (tmp + os.replace) so a crash mid-write can never
        truncate it."""
        snaps = sorted(
            (p for p in self.root.iterdir() if p.is_dir() and p.name.startswith("v")),
            key=lambda p: p.name,
        )
        for stale in snaps[:-keep]:
            if stale.name != current:
                shutil.rmtree(stale, ignore_errors=True)
        referenced = set(segments)
        retired_path = self.root / "_RETIRED"
        try:
            retired: dict[str, object] = json.loads(retired_path.read_text())
        except (FileNotFoundError, ValueError):
            retired = {}
        changed = False
        live = set()
        for p in self.root.iterdir():
            if not (p.is_dir() and p.name.startswith("t")):
                continue
            live.add(p.name)
            if p.name in referenced:
                if p.name in retired:  # defensive: re-referenced
                    retired.pop(p.name)
                    changed = True
                continue
            stamp = retired.get(p.name)
            stamp_seq = stamp.get("seq") if isinstance(stamp, dict) else None
            if not isinstance(stamp_seq, int):
                # New retirement — or a legacy entry (r8 timestamp int / r9.0
                # version-name string), whose grace restarts under the
                # counter scheme (advisory: the segment merely lingers a few
                # more publishes).
                retired[p.name] = {"seq": seq}  # grace starts at retirement
                changed = True
            elif seq - stamp_seq >= keep:
                # >= ``keep`` publishes since retirement: no lock-free
                # reader can still hold a pointer naming this segment.
                shutil.rmtree(p, ignore_errors=True)
                retired.pop(p.name)
                changed = True
        for name in list(retired):  # drop entries whose dir is gone
            if name not in live:
                retired.pop(name)
                changed = True
        if changed:
            from datalakejson_spark.fsutil import atomic_write_json

            atomic_write_json(str(retired_path), retired)

    # -- reference operations ----------------------------------------------
    def register(self, discovered: DataFrame) -> int:
        """Idempotent insert of (s3_key, file_size_bytes) rows as PENDING —
        the ``ON CONFLICT DO NOTHING`` anti-join (J1; sudo_code.txt:90).
        Returns the number of newly registered files.

        The discovered frame is collected once, outside the mutex (the
        JdbcLedger bound). The anti-join checks the active part plus only
        the terminal segments whose ``_RANGE.json`` can contain a discovered
        key (a completed file must not re-register); the write touches only
        the active part (new rows are all PENDING)."""
        found = _collect(
            discovered.select("s3_key", "file_size_bytes"), ["s3_key", "file_size_bytes"]
        )
        keys = pc.unique(found["s3_key"])
        if len(keys) < found.num_rows:  # first row per key
            found = found.take(
                pc.index_in(keys, value_set=found["s3_key"].combine_chunks())
            )
        if not found.num_rows:
            return 0

        def body() -> int:
            active, segs = self._load_active()
            known = pa.concat_tables(
                [
                    active.select(["s3_key"]),
                    self._load(
                        self._segs_for_keys(segs, *_key_range(keys)), ["s3_key"], keys
                    ),
                ]
            )["s3_key"].combine_chunks()
            fresh = found.filter(
                pc.invert(pc.is_in(found["s3_key"], value_set=known))
            )
            n_new = fresh.num_rows
            if n_new:
                now = _utc_now()
                rows = pa.table(
                    {
                        "s3_key": fresh["s3_key"],
                        "file_size_bytes": fresh["file_size_bytes"],
                        "status": pa.repeat(LedgerStatus.PENDING, n_new),
                        "retry_count": pa.repeat(pa.scalar(0, pa.int32()), n_new),
                        "error_message": pa.nulls(n_new, pa.string()),
                        "first_discovered_at": pa.repeat(now, n_new),
                        "last_updated_at": pa.repeat(now, n_new),
                        "run_id": pa.nulls(n_new, pa.string()),
                    },
                    schema=_ARROW_SCHEMA,
                )
                self._commit(pa.concat_tables([active, rows]), segs)
            return n_new

        return self._retrying(body)

    def claim_batch(
        self,
        batch_size: int,
        run_id: str,
        stale_lease_s: float = PROCESSING_LEASE_S,
    ) -> list[str]:
        """Claim up to ``batch_size`` claimable files oldest-first and mark
        them PROCESSING with retry_count+1 (sudo_code.txt:132,141).
        Returns the claimed paths (driver-side list, bounded by batch_size —
        the same bounded collect the reference does).

        SKIP LOCKED semantics (psuedo_code.txt:170-181): select-and-mark runs
        under the ledger mutex, so a concurrent runner's claim sees this
        batch already PROCESSING and takes the next files instead. PROCESSING
        rows whose lease expired (runner died between claim and commit) are
        claimable again — nothing is stranded by a SIGKILL.

        Reads ONLY the active part of the split snapshot — the terminal
        majority never participates in a claim (the reference's
        ``idx_processing_status`` index, sudo_code.txt:49)."""
        with self._mutex():
            active, segs = self._load_active()
            now = _utc_now()
            cutoff = pa.scalar(now.value - int(stale_lease_s) * 1_000_000, _TS)
            status = active["status"]
            claimable = active.filter(
                pc.or_(
                    pc.is_in(
                        status,
                        value_set=pa.array([LedgerStatus.PENDING, LedgerStatus.FAILED]),
                    ),
                    pc.and_(
                        pc.equal(status, LedgerStatus.PROCESSING),
                        pc.less(active["last_updated_at"], cutoff),
                    ),
                )
            )
            if not claimable.num_rows:
                return []
            order = [("first_discovered_at", "ascending"), ("s3_key", "ascending")]
            picked = claimable.take(
                pc.select_k_unstable(claimable, k=batch_size, sort_keys=order)
            )["s3_key"].combine_chunks()
            n = len(picked)
            self._commit(
                _transition(
                    active,
                    picked,
                    pa.repeat(LedgerStatus.PROCESSING, n),
                    pa.nulls(n, pa.string()),
                    now,
                    run_id,
                    increment_retry=True,
                ),
                segs,
            )
            return picked.to_pylist()

    def set_status(
        self,
        paths: list[str] | DataFrame,
        status: str,
        error_message: str | None = None,
        run_id: str | None = None,
        increment_retry: bool = False,
        fence_run_id: str | None = None,
    ) -> list[str]:
        """Transition the given files to ``status`` (sudo_code.txt:141,
        psuedo_code.txt:207,241).

        ``fence_run_id``: when set, a row transitions ONLY if its current
        ``run_id`` equals the fence — the snapshot-ledger analogue of the
        reference's transactional ``UPDATE ... WHERE id = ?`` inside the
        claim's DB transaction. A slow runner whose PROCESSING lease expired
        and whose files were reclaimed by another runner is fenced out here
        instead of silently overwriting the new owner's state. Returns the
        fenced-out (lost-claim) paths; empty when not fencing."""
        keys = _key_array(paths)
        n = len(keys)
        with self._mutex():
            return self._update(
                keys,
                pa.repeat(pa.scalar(status, pa.string()), n),
                pa.repeat(pa.scalar(error_message, pa.string()), n),
                run_id=run_id,
                increment_retry=increment_retry,
                fence_run_id=fence_run_id,
            )

    def apply_outcomes(
        self,
        outcomes: list[tuple[list[str], str, str | None]],
        run_id: str,
        fence: bool = True,
    ) -> list[str]:
        """Apply several status transitions in ONE snapshot write:
        ``outcomes`` is [(paths, status, error_message), ...]. A batch's
        commit touches the ledger once instead of once per status group —
        the ledger write amplification is O(1) per batch, not O(states).

        ``fence=True`` (default): each transition applies only where the
        row's current ``run_id`` equals ``run_id`` — i.e. this runner still
        owns the claim. Reclaimed rows (lease expired, another runner took
        over) are left untouched and returned as lost-claim paths so the
        caller can abort their side effects (see ingest_batch)."""
        first: dict[str, tuple[str, str | None]] = {}
        for paths, status, msg in outcomes:
            for p in paths:
                first.setdefault(p, (status, msg))
        if not first:
            return []
        with self._mutex():
            return self._update(
                pa.array(list(first), pa.string()),
                pa.array([s for s, _ in first.values()], pa.string()),
                pa.array([m for _, m in first.values()], pa.string()),
                run_id=run_id,
                fence_run_id=run_id if fence else None,
            )

    def _update(
        self,
        keys: pa.Array,
        statuses: pa.Array,
        errors: pa.Array,
        run_id: str | None,
        increment_retry: bool = False,
        fence_run_id: str | None = None,
    ) -> list[str]:
        """Shared body of set_status / apply_outcomes (mutex held). Returns
        the fenced-out keys: requested keys whose current row does NOT carry
        the fence run_id (lost claims).

        The commit reads the active part plus only the terminal segments
        whose ``_RANGE.json`` can contain a batch key (a reclaimed row may
        already sit in a terminal segment), so it stays O(active + touched
        segments), not O(all history). If a requested key lives in a
        terminal segment AND its transition can apply, the operation takes
        the rare full-compaction path (a terminal row is genuinely being
        transitioned). Under a fence only terminal rows CARRYING the fence
        run_id can transition — a row reclaimed-and-completed by another
        runner carries that runner's id, is fenced out untouched, and must
        NOT trigger a spurious O(N) rewrite (a routine lease-expiry race,
        not an operator action)."""
        if not len(keys):
            return []
        active, segs = self._load_active()
        touched = self._load(
            self._segs_for_keys(segs, *_key_range(keys)), ["s3_key", "run_id"], keys
        )
        fenced_out: list[str] = []
        if fence_run_id is not None:
            state = pa.concat_tables(
                [
                    active.select(["s3_key", "run_id"]).filter(
                        pc.is_in(active["s3_key"], value_set=keys)
                    ),
                    touched,
                ]
            )
            fenced_out = state.filter(
                pc.invert(_carries(state, fence_run_id))
            )["s3_key"].to_pylist()
            touched = touched.filter(_carries(touched, fence_run_id))
        move = functools.partial(
            _transition,
            keys=keys,
            statuses=statuses,
            errors=errors,
            now=_utc_now(),
            run_id=run_id,
            increment_retry=increment_retry,
            fence_run_id=fence_run_id,
        )
        if touched.num_rows:  # a terminal row transitions: full compaction
            self._compact(move, active, segs)
        else:
            self._commit(move(active), segs)
        return fenced_out

    def owned_by(self, paths: list[str], run_id: str) -> set[str]:
        """The subset of ``paths`` whose ledger row currently carries
        ``run_id`` — i.e. claims this runner still holds. Read-only (no
        mutex needed: the authoritative check re-runs inside the fenced
        commit); used to skip side effects for already-reclaimed files."""
        if not paths:
            return set()
        rows = self._lookup(_key_array(paths), ["s3_key", "run_id"])
        return set(rows.filter(_carries(rows, run_id))["s3_key"].to_pylist())

    def keys_with_status(self, keys: list[str], status: str) -> list[str]:
        """The subset of ``keys`` whose ledger row has ``status``. Read-only
        point lookup (no mutex, no Spark job)."""
        if not keys:
            return []
        rows = self._lookup(_key_array(keys), ["s3_key", "status"])
        return rows.filter(pc.equal(rows["status"], status))["s3_key"].to_pylist()

    def counts(self) -> dict[str, int]:
        """Rows per status, accumulated batch by batch."""
        active, segs = self._current_parts()
        out: dict[str, int] = {}
        for t in self._batches(([active] if active else []) + segs, ["status"]):
            for r in pc.value_counts(t["status"]).to_pylist():
                out[r["values"]] = out.get(r["values"], 0) + r["counts"]
        return out
