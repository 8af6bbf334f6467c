"""Workload ``lake_writes``: the write side of the lake, one closed-loop
client, no query path.

The run keeps one lake (landing, curated, DLQ, archive, ledger) and one
dedup index. One *cycle* (the workload's pass) runs, in order:

1. :data:`N_FILES` new nested JSON files land under ``2024/weekXX/`` (every
   :data:`CORRUPT_EVERY`-th one with a corrupt line), untimed; then
   ``plans.ingest.discover`` registers them, with the explicit landing
   schema;
2. ``ingest_batch`` at batch size :data:`BATCH_SIZE` until they are all
   committed: one micro-batch per cycle, committed into the same lake and
   ledger as the micro-batches of the cycles before it;
3. one read-back of the whole lake: ``deduplicate_replays(read_curated(...))``
   aggregated per ``(year, month, day, mode)``;
4. one ``ingest_batch_dedup`` delta of :data:`DELTA_ROWS` documents, kept
   rows run through ``noop``. Every cycle's delta is appended to the index,
   so successive deltas meet a growing index.

Set-up is ``get_spark`` plus one untimed warm-up cycle, whose dedup batch
is the :data:`N_CORPUS`-document corpus: it bootstraps the index. On 4
cores, with 8-file batches, the first ingest batch of a session took
8.9-11.8 s and the next one 4.5-5.9 s, against 3.5-5 s later on; the first
dedup batch took 5.5-8.1 s against about 3 s. Every output is checked after
the timed loop.
"""

from __future__ import annotations

import contextlib
import time
from pathlib import Path

from perfbench import checks, gen
from perfbench.common import Context, Outcome, sum_bytes
from perfbench.harness import Session, tree_digest

#: One 8-file micro-batch per cycle keeps a run within its time budget: on
#: 4 cores a batch of 4 or 8 files took 4-6 s, one of 16 files 10-11 s.
N_FILES = 8
ROWS_PER_FILE = 100
CORRUPT_EVERY = 4
BATCH_SIZE = N_FILES
N_CORPUS = 200
DELTA_ROWS = 100
COPY_SHARE = 0.25
#: Deltas generated per run: at most this many timed cycles.
MAX_CYCLES = 8

LAYERS = (
    "ingest.discover_s",
    "ledger.register_s",
    "ledger.claim_s",
    "ledger.commit_s",
    "ingest.batch_self_s",
    "ingest.jobs_per_batch",
    "ingest.tasks_per_batch",
    "ingest.useful_claim_ratio",
    "ingest.curated_files",
    "ingest.curated_bytes",
    "ledger.files",
    "ledger.bytes",
    "readback.jobs",
    "readback.scan_files",
    "dedup.jobs_per_batch",
    "dedup.tasks_per_batch",
    "dedup.compact_s",
    "dedup.index_bytes_per_row",
    "dedup.index_files",
    "dedup.dropped_exact",
    "dedup.dropped_near",
)


def landing_schema():
    """The explicit landing contract (the 100 TB posture: no inference)."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("event_timestamp", T.StringType()),
            T.StructField("MODE", T.StringType()),
            T.StructField(
                "metadata",
                T.StructType(
                    [
                        T.StructField("app_version", T.StringType()),
                        T.StructField("user_agent", T.StringType()),
                    ]
                ),
            ),
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("transaction_id", T.StringType()),
                        T.StructField("items", T.ArrayType(T.StringType())),
                    ]
                ),
            ),
        ]
    )


def _conf(lake: Path):
    from datalakejson_spark.plans.ingest import IngestConfig

    return IngestConfig(
        landing_dir=str(lake / "landing"),
        curated_dir=str(lake / "curated"),
        dlq_dir=str(lake / "dlq"),
        archive_dir=str(lake / "archive"),
        ledger_dir=str(lake / "ledger"),
        batch_size=BATCH_SIZE,
        schema=landing_schema(),
    )


class _Cycle:
    """Inputs and measurements of one cycle. Creating it lands its files."""

    def __init__(self, lake: Path, seed: int, k: int):
        self.k = k
        self.name = f"cycle{k}"
        self.landing = gen.write_landing(
            str(lake / "landing"),
            seed * 1000 + k,
            N_FILES,
            ROWS_PER_FILE,
            CORRUPT_EVERY,
            tag=f"c{k}",
        )
        # the landing zone this cycle ingests: its files and the quarantined
        # ones earlier cycles left behind
        self.digest = tree_digest(lake / "landing")
        self.batch_s: list[float] = []
        self.kept = None
        self.readback_rows = None
        self.claimed = self.committed = 0
        self.ingest_s = self.readback_s = self.dedup_s = self.wall_s = float("nan")
        self.cpu_s = float("nan")


class _Untraced:
    """No spans, no job groups: what an untraced cycle runs under."""

    def span(self, name: str):
        return contextlib.nullcontext({})

    group = span


class _Layers:
    """Traced-cycle instrumentation: wrappers on the ledger's public methods
    and on ``compact_index``, a job group per operation, and a plan listener
    for the read-back's scan metrics."""

    def __init__(self, sess: Session):
        from perfbench.trace import JobCounter, Tracer

        self.sess = sess
        self.tracer = Tracer()
        self.jobs = JobCounter(sess.sc)
        self.listener = None
        self.samples: dict[str, list[float]] = {n: [] for n in LAYERS}

    def install(self) -> None:
        """Wrap the public methods whose spans the traced cycle needs and
        register the plan listener; :meth:`uninstall` removes both."""
        from datalakejson_spark.functions import incremental_dedup
        from datalakejson_spark.plans.ledger import Ledger
        from perfbench.trace import PlanListener

        self.tracer.wrap(Ledger, "register", "ledger.register")
        self.tracer.wrap(Ledger, "claim_batch", "ledger.claim")
        self.tracer.wrap(Ledger, "apply_outcomes", "ledger.commit")
        self.tracer.wrap(incremental_dedup, "compact_index", "dedup.compact")
        self.listener = PlanListener(self.sess.spark)

    def uninstall(self) -> None:
        self.listener.close()
        self.tracer.unwrap_all()

    def add(self, name: str, value: float) -> None:
        self.samples[name].append(value)

    def span(self, name: str):
        return self.tracer.span(name)

    def group(self, label: str):
        return self.jobs.group(label)

    def result(self) -> dict[str, float]:
        return {n: checks.median(v) if v else 0.0 for n, v in self.samples.items()}


def _dedup_batch(spark, delta_df, index: Path):
    from datalakejson_spark.functions.incremental_dedup import ingest_batch_dedup

    kept = ingest_batch_dedup(spark, delta_df, str(index))
    kept.write.mode("overwrite").format("noop").save()
    return kept


def _readback(spark, curated_dir: str):
    from datalakejson_spark.plans.ingest import deduplicate_replays, read_curated

    return (
        deduplicate_replays(read_curated(spark, curated_dir))
        .groupBy("year", "month", "day", "mode")
        .count()
        .collect()
    )


def _run_cycle(spark, lake: Path, cyc: _Cycle, index: Path, delta, out: Outcome,
               layers=None) -> None:
    """Run one cycle; with ``layers`` set, trace it."""
    from datalakejson_spark.plans.ingest import discover, ingest_batch

    conf = _conf(lake)
    lay = layers or _Untraced()
    t_cycle = time.perf_counter()
    with lay.span("cycle") as c_span:
        with lay.span("ingest.discover") as d_span:
            if out.attempt("discover", discover, spark, conf) is None:
                return
        while cyc.committed < N_FILES:
            with lay.group("ingest") as cnt, lay.span("ingest.batch") as b_span:
                got = out.attempt("ingest_batch", ingest_batch, spark, conf)
            if got is None:
                return
            res, dt = got
            if res.claimed == 0:
                out.fail(f"ingest_batch claimed nothing with {cyc.committed} committed")
                return
            cyc.batch_s.append(dt)
            cyc.claimed += res.claimed
            cyc.committed += len(res.succeeded_files) + len(res.quarantined_files)
            if layers:
                tr = layers.tracer
                layers.add("ingest.jobs_per_batch", cnt["jobs"])
                layers.add("ingest.tasks_per_batch", cnt["tasks"])
                layers.add("ingest.batch_self_s", tr.self_time(b_span))
                for c in tr.children(b_span, "ledger.claim"):
                    layers.add("ledger.claim_s", tr.duration(c))
                for c in tr.children(b_span, "ledger.commit"):
                    layers.add("ledger.commit_s", tr.duration(c))
        cyc.ingest_s = time.perf_counter() - t_cycle

        if layers:
            layers.listener.arm()
        with lay.group("readback") as cnt, lay.span("readback"):
            got = out.attempt("readback", _readback, spark, conf.curated_dir)
        if got is not None:
            cyc.readback_rows, cyc.readback_s = got
        if layers:
            events = layers.listener.take()
            layers.add("readback.jobs", cnt["jobs"])
            layers.add(
                "readback.scan_files",
                sum(e["summary"]["scan_files"] for e in events if "summary" in e),
            )

        with lay.group("dedup") as cnt, lay.span("dedup.batch"):
            got = out.attempt(f"dedup delta {cyc.k}", _dedup_batch, spark, delta, index)
        if got is None:
            return
        cyc.kept, cyc.dedup_s = got
    cyc.wall_s = time.perf_counter() - t_cycle

    if layers:
        tr = layers.tracer
        layers.add("dedup.jobs_per_batch", cnt["jobs"])
        layers.add("dedup.tasks_per_batch", cnt["tasks"])
        layers.add("ingest.discover_s", tr.duration(d_span))
        for c in tr.descendants(d_span, "ledger.register"):
            layers.add("ledger.register_s", tr.duration(c))
        layers.add(
            "dedup.compact_s",
            sum(tr.duration(c) for c in tr.descendants(c_span, "dedup.compact")),
        )
        layers.add("ingest.useful_claim_ratio", cyc.committed / max(1, cyc.claimed))
        n, b = sum_bytes(Path(conf.curated_dir))
        layers.add("ingest.curated_files", n)
        layers.add("ingest.curated_bytes", b)
        n, b = sum_bytes(Path(conf.ledger_dir), data_only=False)
        layers.add("ledger.files", n)
        layers.add("ledger.bytes", b)
        n, b = sum_bytes(index)
        rows = spark.read.parquet(str(index / "hashes")).count()
        layers.add("dedup.index_files", n)
        layers.add("dedup.index_bytes_per_row", b / max(1, rows))


def _dlq_rows(dlq: Path) -> int:
    """Lines in the DLQ's JSON part files (one per quarantined record)."""
    n = 0
    for p in dlq.rglob("part-*"):
        with open(p) as f:
            n += sum(1 for line in f if line.strip())
    return n


def _check_lake(spark, lake: Path, cycles: list[_Cycle], out: Outcome) -> None:
    """Compare the lake after the last cycle, and each cycle's read-back of
    it, with what the cycles planted."""
    from datalakejson_spark.plans.ingest import PARTITION_COLS
    from datalakejson_spark.plans.ledger import Ledger, LedgerStatus

    partitions: dict = {}
    for cyc in cycles:
        want = checks.expected_lake(cyc.landing)
        for key, n in want.partitions.items():
            partitions[key] = partitions.get(key, 0) + n
        if cyc.readback_rows is not None:
            got = {tuple(r[c] for c in PARTITION_COLS): r["count"] for r in cyc.readback_rows}
            if got != partitions:
                out.fail(f"{cyc.name}: read-back rows per partition differ from the landed rows")
    wants = [checks.expected_lake(c.landing) for c in cycles]
    counts = Ledger(spark, str(lake / "ledger")).counts()
    want_counts = {
        LedgerStatus.SUCCEEDED: sum(w.succeeded for w in wants),
        LedgerStatus.QUARANTINED: sum(w.quarantined for w in wants),
    }
    if counts != want_counts:
        out.fail(f"ledger counts {counts} != {want_counts}")
    dlq, want_dlq = _dlq_rows(lake / "dlq"), sum(w.dlq_rows for w in wants)
    if dlq != want_dlq:
        out.fail(f"{dlq} DLQ rows != {want_dlq} planted corrupt lines")
    landing = lake / "landing"
    corrupt = sorted(f for c in cycles for f in c.landing.corrupt_files)
    left = sorted(str(p) for p in landing.rglob("*.json"))
    if left != corrupt:
        out.fail(f"landing holds {len(left)} files, expected only the {len(corrupt)} quarantined")
    archived = sorted(
        str(landing / p.relative_to(lake / "archive"))
        for p in (lake / "archive").rglob("*.json")
    )
    good = sorted(f for c in cycles for f in set(c.landing.files) - set(c.landing.corrupt_files))
    if archived != good:
        out.fail(f"archive holds {len(archived)} files, expected {len(good)}")


def _check_dedup(cyc: _Cycle, plan: gen.DedupPlan, out: Outcome) -> dict:
    """Compare one cycle's kept documents with what its delta planted;
    returns the drop counts."""
    if cyc.kept is None:
        return {"dropped_exact": 0, "dropped_near": 0}
    if cyc.k == 0:  # the corpus bootstrap: every document is novel
        copies, novel = set(), set(plan.corpus.column("doc_id").to_pylist())
    else:
        copies, novel = plan.planted_copies[cyc.k - 1], plan.novel[cyc.k - 1]
    kept_ids = {r[0] for r in cyc.kept.select("doc_id").collect()}
    dropped = (copies | novel) - kept_ids
    if kept_ids != novel:
        out.fail(
            f"{cyc.name}: dedup kept {len(kept_ids)} docs, "
            f"{len(kept_ids & novel)} of the {len(novel)} novel ones"
        )
    return {
        "dropped_exact": len(dropped & copies),
        "dropped_near": len(dropped - copies),
    }


def run(ctx: Context) -> Outcome:
    out = Outcome()
    t0 = time.perf_counter()
    plan = gen.dedup_plan(ctx.seed, N_CORPUS, MAX_CYCLES, DELTA_ROWS, COPY_SHARE)
    ctx.inputs["dedup_docs"] = plan.digest()
    out.record["input_prep_s"] = time.perf_counter() - t0

    sess = out.session = Session("perfbench-lake_writes")
    spark = sess.spark
    lake, index = ctx.work / "lake", ctx.work / "index"
    # delta k feeds cycle k; the warm-up cycle 0 indexes the corpus
    tables = [plan.corpus] + plan.deltas

    def delta(k: int):
        return spark.createDataFrame(tables[k].to_pandas())

    warm = _Cycle(lake, ctx.seed, 0)
    warm_delta = delta(0)
    t0 = time.perf_counter()
    _run_cycle(spark, lake, warm, index, warm_delta, out)
    warmup_s = time.perf_counter() - t0

    ran = [warm]  # every cycle, in the order it ran
    cycles, traced_cycles = [], []
    layers = None
    t_loop = time.perf_counter()
    k = 1

    def untraced_cycle() -> None:
        nonlocal k
        cyc = _Cycle(lake, ctx.seed, k)
        delta_df = delta(k)
        cpu0 = sess.cpu_s()
        _run_cycle(spark, lake, cyc, index, delta_df, out)
        cyc.cpu_s = sess.cpu_s() - cpu0
        cycles.append(cyc)
        ran.append(cyc)
        k += 1

    while time.perf_counter() - t_loop < ctx.seconds and k < len(tables):
        untraced_cycle()
        if ctx.trace and k < len(tables):
            # instrumented only after the first untraced cycle
            layers = layers or _Layers(sess)
            cyc = _Cycle(lake, ctx.seed, k)
            layers.install()
            try:
                _run_cycle(spark, lake, cyc, index, delta(k), out, layers)
            finally:
                layers.uninstall()
            traced_cycles.append(cyc)
            ran.append(cyc)
            k += 1
    if layers is not None:
        out.record["tracer"] = layers.tracer
        if k < len(tables):
            # untraced cycles on both sides of the traced ones, so the
            # overhead does not take up the warm-up still going on
            untraced_cycle()

    _check_lake(spark, lake, ran, out)
    for cyc in ran:
        ctx.inputs[f"landing_{cyc.name}"] = cyc.digest
        drops = _check_dedup(cyc, plan, out)
        if layers is not None and cyc in traced_cycles:
            layers.add("dedup.dropped_exact", drops["dropped_exact"])
            layers.add("dedup.dropped_near", drops["dropped_near"])
    amp = sum(
        sum_bytes(lake / d, data_only=False)[1] for d in ("curated", "dlq", "ledger")
    ) / sum(c.landing.json_bytes for c in ran)

    def med(attr):
        return checks.median([getattr(c, attr) for c in cycles])

    batch_s = [b for c in cycles for b in c.batch_s]
    dedup_s = [c.dedup_s for c in cycles]
    setup_s = sess.start_s + warmup_s
    peak = sess.peak_rss_mb()
    pass_s = med("wall_s")
    pass_cpu_s = med("cpu_s")
    batch_p50 = checks.median(batch_s)
    out.e2e = {"setup_s": setup_s, "pass_s": pass_s, "pass_cpu_s": pass_cpu_s}
    out.report = {
        "setup_s": (setup_s, "s"),
        "cycle_s": (pass_s, "s"),
        "cycle_cpu_s": (pass_cpu_s, "s"),
        "ingest_files_per_s": (N_FILES / med("ingest_s"), "files/s"),
        "ingest_batch_p50_s": (batch_p50, "s"),
        "readback_s": (med("readback_s"), "s"),
        "dedup_rows_per_s": (DELTA_ROWS * len(dedup_s) / sum(dedup_s), "rows/s"),
        "dedup_batch_p50_s": (checks.median(dedup_s), "s"),
        "storage_amp": (amp, "ratio"),
        "error_rate": (out.failed / max(1, out.attempted), "ratio"),
        "peak_rss_mb": (peak, "MiB"),
    }
    out.record.update(
        n_cycles=len(cycles),
        cycles_s=[c.wall_s for c in cycles],
        cycles_cpu_s=[c.cpu_s for c in cycles],
        batches_s=batch_s,
        dedup_batches_s=dedup_s,
        warmup_cycle={"batches_s": warm.batch_s, "dedup_s": warm.dedup_s},
    )
    out.layers = {"session.start_s": sess.start_s, "session.warmup_s": warmup_s}
    if layers is not None:
        out.layers.update(layers.result())
        out.layers["trace.overhead_s"] = (
            checks.median([c.wall_s for c in traced_cycles]) - pass_s
        )
        out.record["traced_cycles_s"] = [c.wall_s for c in traced_cycles]
    return out
