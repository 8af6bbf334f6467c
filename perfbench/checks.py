"""Output checks and summary statistics, free of Spark so they test fast.

- :func:`digest` / :func:`compare_frames`: order-insensitive comparison of a
  query result with its DuckDB oracle: row count, column names, then a
  SHA-256 digest over canonicalised rows. When the digests differ the rows
  are compared value by value with :data:`FLOAT_RTOL`, so a last-digit
  float difference is tolerated and anything larger is a mismatch.
- :func:`tail_percentile`: the highest percentile with at least ten samples
  beyond it.
- :func:`expected_lake`: the ingest outcome a landing plan implies.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import statistics
from dataclasses import dataclass

#: Relative float tolerance of the value comparison (absolute below 1.0).
FLOAT_RTOL = 1e-9
#: Samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10


def _canon(v) -> str:
    if v is None or type(v).__name__ == "NaTType":  # NaT is a datetime subclass
        return "null"
    if isinstance(v, float):
        return "null" if math.isnan(v) else format(v, ".9g")
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
        if not isinstance(v, list):
            return _canon(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dt.datetime):  # also pandas Timestamp
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    return str(v)


def rows_of(pdf) -> tuple[list[str], list[tuple]]:
    """(sorted column names, rows as tuples in that column order)."""
    cols = sorted(pdf.columns)
    return cols, list(pdf[cols].itertuples(index=False, name=None))


def _sort_key(row: tuple) -> tuple:
    return tuple(_canon(v) for v in row)


def digest(pdf) -> str:
    """Order-insensitive SHA-256 of a result frame (columns sorted by name,
    rows sorted after canonicalisation; floats at 9 significant digits)."""
    cols, rows = rows_of(pdf)
    h = hashlib.sha256(("|".join(cols) + "\n").encode())
    for line in sorted("\t".join(_sort_key(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= FLOAT_RTOL * max(1.0, abs(fa), abs(fb))
    return _canon(a) == _canon(b)


def compare_frames(got, want) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g_cols, g_rows = rows_of(got)
    w_cols, w_rows = rows_of(want)
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if digest(got) == digest(want):
        return None
    bad = 0
    first = None
    for g, w in zip(sorted(g_rows, key=_sort_key), sorted(w_rows, key=_sort_key)):
        if not all(_close(a, b) for a, b in zip(g, w)):
            bad += 1
            first = first or (g, w)
    if bad:
        return f"{bad} rows differ beyond rtol {FLOAT_RTOL}, e.g. {first[0]} != {first[1]}"
    return None


# --------------------------------------------------------------------------
# Statistics
# --------------------------------------------------------------------------
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


@dataclass(frozen=True)
class Tail:
    value: float
    percentile: float  # share of samples at or below ``value``, in %
    n: int  # sample count


def tail_percentile(xs, beyond: int = TAIL_BEYOND) -> Tail | None:
    """The highest percentile that still has ``beyond`` samples above it:
    the ``n - beyond``-th smallest sample. None when there are too few
    samples for any percentile to have that many beyond it."""
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond  # 1-based rank of the reported sample
    return Tail(sorted(xs)[k - 1], 100.0 * k / n, n)


# --------------------------------------------------------------------------
# Expected ingest outcome
# --------------------------------------------------------------------------
@dataclass(frozen=True)
class LakeExpectation:
    succeeded: int
    quarantined: int
    curated_rows: int
    dlq_rows: int
    partitions: dict


def expected_lake(plan) -> LakeExpectation:
    """What ingesting a :class:`gen.LandingPlan` must produce: files with a
    corrupt line are QUARANTINED (their good rows are still curated), every
    other file SUCCEEDED; each corrupt line lands in the DLQ once."""
    quarantined = len(plan.corrupt_files)
    return LakeExpectation(
        succeeded=len(plan.files) - quarantined,
        quarantined=quarantined,
        curated_rows=plan.good_rows,
        dlq_rows=plan.corrupt_lines,
        partitions=dict(plan.partitions),
    )
