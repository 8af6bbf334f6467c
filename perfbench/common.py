"""What a workload receives (:class:`Context`) and returns (:class:`Outcome`)."""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    work: Path  # private scratch directory, deleted after the run
    inputs: dict = field(default_factory=dict)  # input name -> SHA-256


@dataclass
class Outcome:
    """Counts, metrics and notes of one workload run."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    #: the gated end-to-end metrics (BENCHMARK.json ``end_to_end``)
    e2e: dict[str, float] = field(default_factory=dict)
    #: every end-to-end figure of the workload, name -> (value, unit)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: per-layer metrics (traced run only)
    layers: dict[str, float] = field(default_factory=dict)
    record: dict = field(default_factory=dict)
    session: object = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def attempt(self, what: str, fn, *args, **kwargs):
        """Run one operation; a raise counts it failed (traceback kept) and
        returns None. Returns (result, wall seconds) otherwise."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — one failed operation, keep going
            self.fail(f"{what}: raised\n{traceback.format_exc(limit=8)}")
            return None
        return out, time.perf_counter() - t0


def sum_bytes(root: Path, data_only: bool = True) -> tuple[int, int]:
    """(file count, total bytes) under ``root``. ``data_only`` skips names
    starting with ``_`` or ``.`` (committer markers, sidecars, checksums)."""
    n = total = 0
    if not root.exists():
        return 0, 0
    for p in root.rglob("*"):
        if p.is_file() and not (data_only and p.name.startswith(("_", "."))):
            n += 1
            total += p.stat().st_size
    return n, total
