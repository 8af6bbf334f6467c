"""Workload ``query_sf002``: the twelve headline queries over a generated
sf0.02 tier, one closed-loop client, each execution through the ``noop``
sink.

Run shape:
1. input generation (excluded from ``setup_s``): the ten tables at sf0.02
   from the seed, and each query's DuckDB oracle result on them;
2. set-up: ``get_spark``, then the warm-up: the output-check pass (every
   query executed once and collected), then one untimed ``noop`` pass. On 4
   cores the cold pass took 21-33 s against 6-8 s for a warm one, and the
   first ``noop`` pass after it still ran 1.1-1.3 times the next one;
3. timed: full passes, each in an order drawn from the seed, until
   ``--seconds`` have elapsed; ``pass_s`` is their median;
4. the collected results are compared with the oracle.

The traced run alternates an untraced and a traced pass instead; the traced
pass splits each query's wall time into build, Catalyst and execution.
"""

from __future__ import annotations

import random
import time

from perfbench import checks, gen
from perfbench.common import Context, Outcome
from perfbench.harness import Session, cpu_count, tree_digest

SF = 0.02
#: The headline queries, by registry name, with their per-layer suffixes.
#: Kept here (not imported from bench.py) so the workload cannot drift.
HEADLINE = {
    "g3_flagship_pricing_summary": "g3",
    "j3_star_join_revenue": "j3",
    "j5_left_outer_join": "j5",
    "g4_count_distinct_users": "g4",
    "g6_rollup_time_hierarchy": "g6",
    "w1_ranking": "w1",
    "w3_running_sum": "w3",
    "f3_json_extraction": "f3",
    "t4_tumbling_window": "t4",
    "l1_exact_dedup": "l1",
    "l2_minhash_lsh_pairs": "l2",
    "l3_cosine_topk": "l3",
}
#: Per-query layer families (``<family>.<query>``) and summed-only ones.
PER_QUERY = (
    "operators.build_s",
    "catalyst.plan_s",
    "scheduler.jobs",
    "execution.run_s",
    "execution.shuffle_bytes",
)
SUMMED = (
    "operators.build_s",
    "catalyst.plan_s",
    "scheduler.jobs",
    "scheduler.stages",
    "scheduler.tasks",
    "execution.run_s",
    "execution.shuffle_bytes",
    "execution.scan_rows",
    "execution.spill_bytes",
    "execution.tasks_failed",
)


def layer_names() -> list[str]:
    names = list(SUMMED)
    for fam in PER_QUERY:
        names += [f"{fam}.{q}" for q in HEADLINE.values()]
    return names


def oracle_results(specs, data_dir: str, tmp: str) -> dict:
    """Each query's DuckDB oracle result, at most ``nproc`` threads."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={cpu_count()}")
        con.execute(f"SET temp_directory='{tmp}'")
        for t in gen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {name: con.execute(specs[name].sql).fetchdf() for name in HEADLINE}
    finally:
        con.close()


def _noop(spark, spec, data_dir: str) -> None:
    spec.fn(spark, data_dir).write.mode("overwrite").format("noop").save()


#: Largest share of a traced query's wall time that build + Catalyst + run
#: may leave unexplained before the traced execution counts as failed.
MAX_UNATTRIBUTED = 0.10


def split_query(wall: float, build_span: float, analysis: float, write_phases: float,
                write_duration: float) -> dict[str, float]:
    """Split one traced query into build, Catalyst and execution.

    ``build_span`` is the Python wall time of ``QuerySpec.fn``, which includes
    the frame's own analysis phase (``analysis``). ``write_phases`` are the
    Catalyst phases of the noop writer's ``QueryExecution`` and
    ``write_duration`` is that execution's duration as Spark measured it; its
    Catalyst phases run inside it. What the three parts leave of ``wall``
    (py4j round trips, the write command's own analysis) is unattributed.
    """
    parts = {
        "operators.build_s": build_span - analysis,
        "catalyst.plan_s": analysis + write_phases,
        "execution.run_s": write_duration - write_phases,
    }
    parts["wall_s"] = wall
    parts["unattributed_s"] = wall - sum(
        parts[k] for k in ("operators.build_s", "catalyst.plan_s", "execution.run_s")
    )
    return parts


def split_problem(parts: dict[str, float]) -> str | None:
    """Why a traced query's split cannot be trusted, or None."""
    negative = [k for k in ("operators.build_s", "catalyst.plan_s", "execution.run_s")
                if parts[k] < 0]
    if negative:
        return f"negative {', '.join(negative)}"
    share = abs(parts["unattributed_s"]) / parts["wall_s"]
    if share > MAX_UNATTRIBUTED:
        return f"{share:.1%} of the wall time unattributed (limit {MAX_UNATTRIBUTED:.0%})"
    return None


class _TracedPass:
    """One traced pass: per-query spans, job counts, Catalyst phases and
    executed-plan metrics."""

    def __init__(self, sess: Session, tracer, jobs):
        self.sess, self.tracer, self.jobs = sess, tracer, jobs
        self.passes: list[dict] = []

    def run(self, specs, order, data_dir: str, out: Outcome) -> float:
        from perfbench.trace import PlanListener, analysis_ms

        spark = self.sess.spark
        listener = PlanListener(spark)
        per: dict[str, dict] = {}
        t_pass = time.perf_counter()
        try:
            with self.tracer.span("pass", traced=True):
                for name in order:
                    short = HEADLINE[name]
                    out.attempted += 1
                    try:
                        with self.jobs.group(short) as cnt:
                            with self.tracer.span(f"query.{short}"):
                                with self.tracer.span("operators.build") as b_span:
                                    df = specs[name].fn(spark, data_dir)
                                # Read before the write: the writer's own analysis
                                # extends the frame's analysis phase.
                                analysis = analysis_ms(df) / 1000.0
                                listener.arm()
                                with self.tracer.span("execution.write") as w_span:
                                    df.write.mode("overwrite").format("noop").save()
                    except Exception as exc:  # noqa: BLE001 — one failed operation
                        listener.take()
                        out.fail(f"{name} (traced): {exc!r}")
                        continue
                    events = [e for e in listener.take() if "summary" in e]
                    if len(events) != 1:
                        out.fail(f"{name} (traced): {len(events)} write events")
                        continue
                    ev = events[0]
                    build_s = self.tracer.duration(b_span)
                    parts = split_query(
                        # the query's wall time, without the tracer's reads
                        build_s + self.tracer.duration(w_span),
                        build_s,
                        analysis,
                        sum(ev["phases"].values()) / 1000.0,
                        ev["duration_s"],
                    )
                    why = split_problem(parts)
                    if why:
                        out.fail(f"{name} (traced): layer split {why}: {parts}")
                        continue
                    per[short] = {
                        **parts,
                        "scheduler.jobs": cnt["jobs"],
                        "scheduler.stages": cnt["stages"],
                        "scheduler.tasks": cnt["tasks"],
                        "execution.tasks_failed": cnt["tasks_failed"],
                        "execution.shuffle_bytes": ev["summary"]["shuffle_bytes"],
                        "execution.scan_rows": ev["summary"]["scan_rows"],
                        "execution.spill_bytes": ev["summary"]["spill_bytes"],
                    }
        finally:
            listener.close()
        self.passes.append(per)
        return time.perf_counter() - t_pass

    def layers(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for fam in SUMMED:
            out[fam] = checks.median([sum(q[fam] for q in p.values()) for p in self.passes])
        for fam in PER_QUERY:
            for short in HEADLINE.values():
                out[f"{fam}.{short}"] = checks.median(
                    [p[short][fam] for p in self.passes if short in p]
                )
        shares = [
            abs(q["unattributed_s"]) / q["wall_s"] for p in self.passes for q in p.values()
        ]
        out["trace.unattributed_share"] = max(shares) if shares else 0.0
        return out


def run(ctx: Context) -> Outcome:
    from datalakejson_spark.registry import all_specs

    out = Outcome()
    data_dir = ctx.work / f"sf{SF}"
    t0 = time.perf_counter()
    gen.write_tables(str(data_dir), ctx.seed, SF)
    ctx.inputs[data_dir.name] = tree_digest(data_dir)
    specs = all_specs()
    oracle = oracle_results(specs, str(data_dir), str(ctx.work / "tmp"))
    out.record["input_prep_s"] = time.perf_counter() - t0

    sess = out.session = Session("perfbench-query_sf002")
    spark = sess.spark
    # Warm-up: the output-check pass (collect), then one untimed noop pass.
    t0 = time.perf_counter()
    results = {}
    for name in HEADLINE:
        got = out.attempt(name, lambda n=name: specs[n].fn(spark, str(data_dir)).toPandas())
        if got is not None:
            results[name] = got[0]
    for name in HEADLINE:
        out.attempt(name, _noop, spark, specs[name], str(data_dir))
    warmup_s = time.perf_counter() - t0

    rng = random.Random(ctx.seed)
    names = list(HEADLINE)
    latencies: list[float] = []
    passes: list[float] = []
    cpu_passes: list[float] = []
    traced_passes: list[float] = []
    traced = None

    def untraced_pass() -> None:
        order = rng.sample(names, len(names))
        t_pass, cpu0 = time.perf_counter(), sess.cpu_s()
        ok = True
        for name in order:
            got = out.attempt(name, _noop, spark, specs[name], str(data_dir))
            if got is None:
                ok = False
            else:
                latencies.append(got[1])
        if ok:
            passes.append(time.perf_counter() - t_pass)
            cpu_passes.append(sess.cpu_s() - cpu0)

    t_loop = time.perf_counter()
    while time.perf_counter() - t_loop < ctx.seconds:
        untraced_pass()
        if ctx.trace:
            if traced is None:  # instrumented only after the first untraced pass
                from perfbench.trace import JobCounter, Tracer

                traced = _TracedPass(sess, Tracer(), JobCounter(sess.sc))
                out.record["tracer"] = traced.tracer
            order = rng.sample(names, len(names))
            traced_passes.append(traced.run(specs, order, str(data_dir), out))
    if traced is not None:
        # untraced passes on both sides of the traced ones, so the overhead
        # does not take up the warm-up still going on in the first pass
        untraced_pass()

    for name, want in oracle.items():
        if name in results:
            why = checks.compare_frames(results[name], want)
            if why:
                out.fail(f"{name}: output differs from the DuckDB oracle: {why}")

    setup_s = sess.start_s + warmup_s
    peak = sess.peak_rss_mb()
    pass_s = checks.median(passes)
    pass_cpu_s = checks.median(cpu_passes)
    p50 = checks.median(latencies)
    tail = checks.tail_percentile(latencies)
    out.e2e = {"setup_s": setup_s, "pass_s": pass_s, "pass_cpu_s": pass_cpu_s}
    out.report = {
        "setup_s": (setup_s, "s"),
        "query_pass_s": (pass_s, "s"),
        "query_pass_cpu_s": (pass_cpu_s, "s"),
        "query_p50_s": (p50, "s"),
        "query_tail_s": (tail.value if tail else float("nan"), "s"),
        "error_rate": (out.failed / max(1, out.attempted), "ratio"),
        "peak_rss_mb": (peak, "MiB"),
    }
    out.record.update(
        passes_s=passes,
        passes_cpu_s=cpu_passes,
        latencies_s=latencies,
        query_tail={"percentile": tail.percentile, "n": tail.n} if tail else None,
        n_passes=len(passes),
    )
    out.layers = {"session.start_s": sess.start_s, "session.warmup_s": warmup_s}
    if traced is not None:
        out.layers.update(traced.layers())
        out.layers["trace.overhead_s"] = checks.median(traced_passes) - pass_s
        out.record["traced_passes_s"] = traced_passes
    return out
