"""Benchmark entry point.

    python3 perfbench/run.py --workload query_sf002 --seed 1 --seconds 5 --trace 0

Runs one workload (``query_sf002`` or ``lake_writes``) in one process with
one SparkSession from the package's ``session.get_spark`` on
``local[nproc]``, one closed-loop client. Inputs are generated from
``--seed`` inside a private work directory of the checkout. With
``--trace 0`` the last stdout line carries the gated end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run. The
lines before it name every end-to-end figure of the workload with its unit.
A run record (machine, versions, input checksums, seed, code identity) is
written to ``.bench_out/`` with every result, and the spans of a traced run
next to it.

Exit status: 0 when every operation succeeded and every output check
passed; 1 when any failed (the result line is still printed, with
``"correct": false``); 2 when the program cannot be imported or the run
cannot start, with no result line.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
if str(CHECKOUT) not in sys.path:
    sys.path.insert(0, str(CHECKOUT))

WORKLOADS = ("query_sf002", "lake_writes")
END_TO_END = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}
#: Layer metrics that every workload reports (zero where not exercised).
COMMON_LAYERS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    from perfbench import lake, queries

    units = dict(COMMON_LAYERS)
    for name in queries.layer_names() + list(lake.LAYERS):
        family = name
        if name.rsplit(".", 1)[-1] in queries.HEADLINE.values():
            family = name.rsplit(".", 1)[0]  # per-query suffix
        if family.endswith("_s"):
            unit = "s"
        elif family.endswith("bytes_per_row"):
            unit = "bytes/row"
        elif family.endswith(("_bytes", ".bytes")):
            unit = "bytes"
        elif family.endswith("_ratio"):
            unit = "ratio"
        else:
            unit = "count"
        units[name] = unit
    return units


def result_line(out, trace: bool) -> dict:
    """The contract's final JSON object."""
    if trace:
        metrics = {
            name: {"value": float(out.layers.get(name, 0.0)), "unit": unit}
            for name, unit in layer_units().items()
        }
    else:
        metrics = {
            name: {"value": float(out.e2e[name]), "unit": unit}
            for name, unit in END_TO_END.items()
        }
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench import harness

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = CHECKOUT / ".bench_work" / run_id
    harness.prepare_env(work)
    try:
        import datalakejson_spark  # noqa: F401
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        harness.remove(work)
        return 2

    from perfbench import lake, queries
    from perfbench.common import Context

    ctx = Context(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), work=work)
    module = queries if args.workload == "query_sf002" else lake
    t0 = time.perf_counter()
    out = None
    try:
        out = module.run(ctx)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": harness.cpu_count(),
            "spark_cores": out.session.sc.defaultParallelism,
            "versions": out.session.versions(),
            "inputs_sha256": ctx.inputs,
            "code": harness.code_identity(),
            "wall_s": time.perf_counter() - t0,
            "attempted": out.attempted,
            "failed": out.failed,
            "failures": out.failures,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in out.report.items()},
            **{k: v for k, v in out.record.items() if k != "tracer"},
        }
        if args.trace:
            record["layers"] = out.layers
    except Exception:  # noqa: BLE001 — the run itself broke: no result line
        traceback.print_exc()
        return 2
    finally:
        if out is not None and out.session is not None:
            out.session.stop()
        elif "pyspark" in sys.modules:
            _stop_any_session()
        harness.remove(work)

    harness.OUT_DIR.mkdir(exist_ok=True)
    with open(harness.OUT_DIR / f"{run_id}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    tracer = out.record.get("tracer")
    if tracer is not None:
        tracer.dump(harness.OUT_DIR / f"{run_id}.spans.jsonl")

    for failure in out.failures:
        print(f"FAILED: {failure}", file=sys.stderr)
    for name, (value, unit) in out.report.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    if args.trace:
        for name, value in out.layers.items():
            print(f"{args.workload} layer {name} = {value:.6g}")
    print(json.dumps(result_line(out, bool(args.trace))))
    return 0 if out.failed == 0 else 1


def _stop_any_session() -> None:
    """Stop a session a failed workload left behind, and its JVM."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is None:
        return
    from perfbench.harness import Session

    sess = Session.__new__(Session)
    sess.spark, sess.sc = active, active.sparkContext
    sess.stop()


if __name__ == "__main__":
    sys.exit(main())
