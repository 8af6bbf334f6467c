"""Registry-driven performance evidence: executed plans, executed-plan
metrics, and gated A/B timings. Query names come from the registry
(``registry.all_specs()``); the default query set is ``bench.HEADLINE``.

Usage:
    python tools/perf.py plans [--tag TAG] [query ...]
        Regenerates PLANS.md (sf0.01 fixture; the annotated queries in
        NOTES plus the AQE skew-join split). With --tag, also writes
        plans/<TAG>/<query>.txt at sf0.1, the bench tier, for each query
        (default: bench.HEADLINE).
    python tools/perf.py metrics [SF_DIR ...]
        Regenerates METRICS.md: the plans/metrics.py rollup of each
        headline query's executed plan, per tier (default sf0.1).
    python tools/perf.py ab QUERY MODULE:FUNCTION [--sf SF_DIR] [--reps N]
        Interleaved A/B of a registry query (A) against a candidate
        ``(spark, sf_dir) -> DataFrame`` (B). Both results are collected
        and compared first; a candidate whose rows or schema differ is
        refused (exit status 1) before any timing.

Every plan is captured from an EXECUTED query: the query is collected
first, then explained, so AQE's runtime re-planning is in the dump
(``AdaptiveSparkPlan isFinalPlan=true``) — the plan that actually ran, not
the pre-execution guess. Queries that return a checkpointed result and
expose only a pre-execution ``plan_fn`` (the l3e/l3f/l3g/l3h scratch-index
pattern) are refused rather than captured.
"""

from __future__ import annotations

import argparse
import importlib
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from datalakejson_spark.registry import all_specs  # noqa: E402

FIXTURE_SF = "/root/testdata/sf0.01"
BENCH_SF = "/root/testdata/sf0.1"

#: PLANS.md: query -> the scale-critical property its plan demonstrates
NOTES = [
    ("g3_flagship_pricing_summary",
     "date filter pushed to parquet (PushedFilters), 7-column ReadSchema, "
     "two-phase hash aggregate (partial_sum before the Exchange)"),
    ("j3_star_join_revenue",
     "customer→nation→region dimension chain collapsed into one broadcast; "
     "lineitem pre-aggregated to the ORDER grain (r15, scaled-int sums are "
     "associative) so the orders join carries ~4× fewer, narrower fact "
     "rows — its one exchange moves the order-grain aggregate, never raw "
     "lines"),
    ("w5_topn_per_group",
     "rank filter pushed into the window sort (WindowGroupLimit): each "
     "partition retains only N rows"),
    ("o1_order_limit_claim",
     "order+limit planned as TakeOrderedAndProject — no global sort"),
    ("sq4_correlated_scalar",
     "correlated scalar subquery decorrelated to aggregate + join — no "
     "per-row re-execution"),
    ("l2_minhash_lsh_pairs",
     "all four LSH bands come from one explode over the signature table; the "
     "band self-join is forced to sort-merge so both sides share one "
     "hashpartitioning Exchange — AQE's final plan shows ReusedExchange and "
     "the shingle+md5+aggregate pipeline executes once (asserted in "
     "tests/test_plans.py::test_minhash_pipeline_executes_once)"),
    ("l2f_simhash_pairs",
     "64-bit SimHash as four 16-bit md5 lanes, banded BY lane (65536 bucket "
     "values per band — candidate pairs stay O(collisions); the 4-bit-nibble "
     "banding this replaced went quadratic, caught by tools/scale_smoke.py); "
     "merge-hinted self-join: the 64-vote signature aggregate executes once "
     "(ReusedExchange, tests/test_plans.py::test_simhash_pipeline_executes_once)"),
    ("w1b_distributed_ranking",
     "two-phase ranking for low-cardinality window partitions: "
     "rangepartitioning Exchange over (key, order keys) → per-(chunk, key) "
     "window (parallelism num_chunks × keys instead of exactly keys) → "
     "chunk-count offsets and partition totals joined back as "
     "BroadcastExchanges; w1's single-key WindowExec sorts each priority "
     "class on ONE task"),
    ("l7c_decontamination_lsh",
     "the 100 TB decontamination shape: corpus and eval embeddings bucket "
     "via random-hyperplane LSH, the (table, bucket) equi-join prunes the "
     "candidate space, the cosine is scored MAP-SIDE so the aggregate "
     "shuffle carries only (vec_id, cos) scalars — max() is duplicate-"
     "invariant, so multi-table collisions need no pair dedupe (A/B'd 30% "
     "faster than the dedupe-first form at sf1)"),
    ("l21_repetition_signals",
     "r15 row-local form: ONE documents scan, the only Exchange is the "
     "adaptive spread_scan (a no-op on real-scale inputs), and the whole "
     "signal battery evaluates inside a one-row Generate barrier — the "
     "3-leg explode→aggregate→join shape (3 scans, 3 shuffles of gram "
     "strings) is gone"),
    ("l22_quality_gate",
     "signals struct + shape rules composed in one projection over the "
     "same single scan: no join, no aggregate — the gate is a pure map "
     "over the corpus"),
    ("l7_decontamination",
     "the benchmark shingle set is distinct'd then BROADCAST "
     "(BroadcastExchange under the join's build side): the corpus scan is "
     "never shuffled on text, only the tiny eval-suite side moves"),
    ("l8_token_shards",
     "two-phase distributed prefix sum: the one RangePartitioning Exchange "
     "runs inside the lineage-truncating checkpoint job; the packing itself "
     "is a vectorized per-partition MapInPandas over the sorted ranges — no "
     "Window, no second (pid-hash) Exchange, no single-task stage"),
    ("j9b_range_join_bucketed",
     "the range join's 100 TB form: the interval side explodes into coarse "
     "time buckets, the event side computes its bucket map-side, and the "
     "join is a plain equi-join on the manufactured key with the exact "
     "range predicate as residual — no BroadcastNestedLoopJoin anywhere"),
    ("j11_salted_hot_key_join",
     "deterministic salt appended to a 5-distinct-value join key: the "
     "exchange partitions on (event_type, _salt), spreading each hot key "
     "over 8 reducers; result proven equal to the unsalted join by the "
     "DuckDB oracle"),
    ("l15_incremental_dedup",
     "cross-batch dedup as two semi-join probes against persisted indexes: "
     "exact on md5(text), near on LSH (band, band_hash) buckets — document "
     "text never crosses either exchange; per-batch cost is O(delta + "
     "collisions), independent of corpus size"),
    ("f9_variant_extraction",
     "VARIANT path extraction runs entirely inside WholeStageCodegen "
     "(parse_json + variant_get are JVM expressions) — no Python eval, no "
     "per-path re-parse of the JSON string"),
    ("w8_sessionization",
     "gap-rule sessionization: lag, running session counter, and the "
     "per-session rollup all reuse ONE hashpartitioning(user_id) exchange — "
     "three logical passes, one shuffle"),
]

#: per-node detail lines PLANS.md leaves out (the tree, the scan details and
#: AdaptiveSparkPlan's isFinalPlan argument stay)
_TRIMMED = ("Input", "Output", "Arguments", "Results", "Aggregate Attributes",
            "Functions", "Keys", "Condition", "Join condition")


def headline() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


def executed_plan(spark, name: str, sf_dir: str) -> str:
    """The formatted plan of ``name`` after it ran to completion."""
    spec = all_specs()[name]
    if spec.plan_fn is not None:
        raise ValueError(
            f"{name} returns a checkpointed result: its plan_fn exposes only "
            "the pre-execution probe plan, which is not an executed plan"
        )
    df = spec.fn(spark, sf_dir)
    df.collect()  # finalizes the adaptive plan on this QueryExecution
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    if "isFinalPlan=false" in plan:
        raise RuntimeError(f"{name}: adaptive plan not final after collect")
    return plan


# ------------------------------------------------------------------ plans --
def capture(spark, tag: str, names: list[str]) -> None:
    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        plan = executed_plan(spark, name, BENCH_SF)
        (out_dir / f"{name}.txt").write_text(plan)
        print(f"wrote plans/{tag}/{name}.txt ({len(plan)} chars)")


def plans_md(spark) -> str:
    lines = [
        "# PLANS — physical-plan evidence for the headline queries\n",
        "Generated by `python tools/perf.py plans` (sf0.01 inputs). Every",
        "plan is captured AFTER the query ran to completion, so it is the",
        "final adaptive plan (`isFinalPlan=true`): AQE's runtime conversions",
        "— e.g. sort-merge→broadcast for small runtime sizes, coalesced",
        "shuffle reads — are in the dump.\n",
    ]
    for name, why in NOTES:
        kept = [
            ln for ln in executed_plan(spark, name, FIXTURE_SF).splitlines()
            if not ln.startswith(_TRIMMED) or "isFinalPlan=" in ln
        ]
        lines += [f"## {name}\n", f"*{why}*\n", "```", *kept, "```", ""]
    return "\n".join(lines + _skew_join_section(spark))


def _skew_join_section(spark) -> list[str]:
    """Executed-plan evidence that AQE skew-join splitting actually fires.
    Same scenario as tests/test_scale_patterns.py::
    test_aqe_splits_skewed_join_partition, thresholds lowered so a
    test-sized skew trips the same machinery that guards 100 TB joins."""
    lowered = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in lowered}
    for k, v in lowered.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).selectExpr(
            "CASE WHEN id % 20 != 0 THEN 0 ELSE id % 1000 END AS k",
            "md5(CAST(id AS STRING)) AS pad",
        )
        right = spark.range(1_000).selectExpr("id AS k", "id * 2 AS v")
        joined = left.join(right.hint("merge"), "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "skew=true" in final, "skew split did not fire"
        return [
            "## aqe_skew_join_split (executed, not a registry query)\n",
            "*95% of a 200k-row side lands on one join key; AQE detects the "
            "oversized shuffle partition at runtime and SPLITS it across "
            "tasks (SortMergeJoin ... skew=true, AQEShuffleRead skewed) "
            "instead of serializing the hot key — the runtime guard for "
            "skewed 100 TB joins, also asserted in tests/"
            "test_scale_patterns.py*\n",
            "```",
            *final.splitlines(),
            "```",
            "",
        ]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------- metrics --
def _fmt_bytes(n: float) -> str:
    for unit in ("B", "KiB", "MiB", "GiB"):
        if n < 1024 or unit == "GiB":
            return f"{n:.0f} {unit}" if unit == "B" else f"{n:.1f} {unit}"
        n /= 1024
    return str(n)


def metrics_md(spark, sf_dirs: list[str]) -> str:
    from datalakejson_spark.plans.metrics import executed_summary

    specs = all_specs()
    lines = [
        "# METRICS — executed-plan SQLMetrics (generated by `python tools/perf.py metrics`)",
        "",
        "Measured counterpart to PLANS.md's plan shapes: what actually crossed",
        "each exchange, what spilled (nothing should), how selective the pushed",
        "scan was, and the per-operator memory high-water mark. AQE-aware walk",
        "(plans/metrics.py) — the numbers come from the final adaptive plan.",
        f"Session: local[{spark.sparkContext.defaultParallelism}], package defaults.",
        "",
    ]
    for sf_dir in sf_dirs:
        lines += [
            f"## {sf_dir}",
            "",
            "| query | out rows | scans (files / rows / bytes) | exchanges "
            "(n / records / bytes) | broadcasts | spill | peak op mem |",
            "|---|---|---|---|---|---|---|",
        ]
        for name in headline():
            df = specs[name].fn(spark, sf_dir)
            n_out = len(df.collect())
            s = executed_summary(df)
            # out rows from the actual collect: the plan-walk heuristic
            # (topmost operator with row accounting) under-reads a
            # Union-rooted plan (it sees only the first branch)
            lines.append(
                f"| {name} | {n_out} "
                f"| {s['scan_files']} / {s['scan_rows']} / {_fmt_bytes(s['scan_bytes'])} "
                f"| {s['n_exchanges']} / {s['shuffle_records']} / {_fmt_bytes(s['shuffle_bytes'])} "
                f"| {s['n_broadcasts']} | {_fmt_bytes(s['spill_bytes'])} "
                f"| {_fmt_bytes(s['peak_memory_bytes'])} |"
            )
        lines.append("")
    return "\n".join(lines)


# --------------------------------------------------------------------- ab --
class ResultMismatch(AssertionError):
    """The candidate's result differs from the registry query's."""


def resolve(target: str):
    """``package.module:function`` -> the function."""
    module, _, attr = target.partition(":")
    if not attr:
        raise ValueError(f"candidate must be MODULE:FUNCTION, got {target!r}")
    return getattr(importlib.import_module(module), attr)


def check_equal(spark, a_fn, b_fn, sf_dir: str) -> int:
    """Collect both results and compare schema and rows, order-insensitively;
    returns the row count or raises :class:`ResultMismatch`."""
    a, b = a_fn(spark, sf_dir), b_fn(spark, sf_dir)
    sa = [(f.name, f.dataType) for f in a.schema.fields]
    sb = [(f.name, f.dataType) for f in b.schema.fields]
    if sa != sb:
        raise ResultMismatch(f"schema differs:\nA={a.schema}\nB={b.schema}")

    def key(row):
        return tuple((v is None, v) for v in row)

    ra = sorted(map(tuple, a.collect()), key=key)
    rb = sorted(map(tuple, b.collect()), key=key)
    if ra != rb:
        first = next(((x, y) for x, y in zip(ra, rb) if x != y), None)
        raise ResultMismatch(
            f"rows differ: {len(ra)} vs {len(rb)}; first difference: {first}"
        )
    return len(ra)


def timed(spark, label: str, fn, sf_dir: str) -> float:
    """Wall seconds of one full execution through the noop sink."""
    spark.sparkContext.setJobDescription(label)
    try:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0
    finally:
        spark.sparkContext.setJobDescription(None)


def ab(spark, query: str, candidate: str, sf_dir: str, reps: int = 5) -> dict:
    """Equality gate, one warm-up each, then ``reps`` A/B pairs alternated
    so drift and position effects hit both sides alike."""
    a_fn, b_fn = all_specs()[query].fn, resolve(candidate)
    n_rows = check_equal(spark, a_fn, b_fn, sf_dir)
    print(f"== {query} (A) vs {candidate} (B) @ {sf_dir}: results equal ({n_rows} rows)")
    timed(spark, f"{query}:warmA", a_fn, sf_dir)
    timed(spark, f"{query}:warmB", b_fn, sf_dir)
    ta, tb = [], []
    for _ in range(reps):
        ta.append(timed(spark, f"{query}:A", a_fn, sf_dir))
        tb.append(timed(spark, f"{query}:B", b_fn, sf_dir))
    print(f"  A: min={min(ta):.3f} all={[round(t, 3) for t in ta]}")
    print(f"  B: min={min(tb):.3f} all={[round(t, 3) for t in tb]}")
    print(f"  speedup min/min: {min(ta) / min(tb):.2f}x")
    return {"rows": n_rows, "a_s": ta, "b_s": tb}


# ------------------------------------------------------------------- main --
def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    pp = sub.add_parser("plans", help="executed plans -> PLANS.md [+ plans/<tag>/]")
    pp.add_argument("--tag")
    pp.add_argument("queries", nargs="*")
    pm = sub.add_parser("metrics", help="executed-plan metrics -> METRICS.md")
    pm.add_argument("sf_dirs", nargs="*", default=[BENCH_SF])
    pa = sub.add_parser("ab", help="gated interleaved A/B of a registry query")
    pa.add_argument("query")
    pa.add_argument("candidate", help="MODULE:FUNCTION, (spark, sf_dir) -> DataFrame")
    pa.add_argument("--sf", default=BENCH_SF)
    pa.add_argument("--reps", type=int, default=5)
    args = p.parse_args(argv)
    if args.cmd == "plans" and args.queries and not args.tag:
        p.error("plans: naming queries needs --tag (they go to plans/<tag>/)")
    named = args.queries if args.cmd == "plans" else [args.query] if args.cmd == "ab" else []
    unknown = [q for q in named if q not in all_specs()]
    if unknown:
        p.error(f"not in the registry: {', '.join(unknown)}")

    from datalakejson_spark.session import get_spark

    spark = get_spark(f"perf-{args.cmd}")
    try:
        if args.cmd == "plans":
            if args.tag:
                capture(spark, args.tag, args.queries or headline())
            (REPO / "PLANS.md").write_text(plans_md(spark))
            print(f"PLANS.md written ({len(NOTES) + 1} plans)")
        elif args.cmd == "metrics":
            (REPO / "METRICS.md").write_text(metrics_md(spark, args.sf_dirs) + "\n")
            print(f"METRICS.md written ({len(args.sf_dirs)} tier(s))")
        else:
            try:
                ab(spark, args.query, args.candidate, args.sf, args.reps)
            except ResultMismatch as e:
                sys.exit(f"refused: {args.candidate} does not reproduce {args.query}: {e}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
