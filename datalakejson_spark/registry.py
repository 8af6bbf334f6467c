"""Query registry: the bridge between the operator library and the driver
contract in ``__spark_entry__.py``.

Every SQL-expressible operator from SURVEY.md §2 registers one named query
(a ``(spark, sf_dir) -> DataFrame`` callable) plus, where the semantics are
ANSI-SQL-expressible, an equivalent DuckDB oracle SQL string. The driver runs
both at sf0.01 and compares row count + schema + order-insensitive value hash,
so every computed column is aliased identically on both sides.

Queries without ``sql`` get the driver's weaker rows-only check (allowed for
non-SQL-expressible ops, e.g. HLL sketches whose estimates are
implementation-defined).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


#: (spark, sf_dir) -> physical-plan string. Queries that return an eagerly
#: checkpointed result (the l3e/l3f scratch-index pattern: the index is
#: deleted before returning, so the result MUST be materialized first)
#: expose the plan that actually executed through this hook — the returned
#: DataFrame's own plan is just a checkpointed-RDD scan, opaque to the
#: plan-hygiene guard (VERDICT r13: any query could bypass the Python-eval
#: ban by checkpointing). tests/test_plans.py walks plan_fn when present
#: and REFUSES checkpoint-backed plans that provide neither plan_fn nor an
#: adjudicated allowlist entry.
PlanFn = Callable[[SparkSession, str], str]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle; None → rows-only check
    survey: str = ""  # SURVEY.md §2 operator ids this query covers
    doc: str = ""
    extended: bool = False  # True → locally verified only, not in the driver set
    plan_fn: PlanFn | None = None  # pre-checkpoint plan for the plan guard


def register(
    name: str,
    sql: str | None = None,
    survey: str = "",
    doc: str = "",
    extended: bool = False,
    plan_fn: PlanFn | None = None,
):
    """Decorator: register ``fn`` as an oracle-checked query.

    ``extended=True`` marks a query as part of the *extended* tier: it is still
    oracle-verified locally (tools/verify_oracle.py, tests) but is excluded
    from the driver's registry, which checks only the first 50 entries
    alphabetically. The driver tier (``driver_specs()``) is a curated ≤50-query
    set in which every SURVEY §2 operator family appears at least once; the
    extended tier holds the redundant variants (TPC-H shapes,
    per-function long-tail demos) whose §2 tags are already covered."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            sql=sql,
            survey=survey,
            doc=doc or (fn.__doc__ or ""),
            extended=extended,
            plan_fn=plan_fn,
        )
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """Import all operator modules (populating the registry) and return it."""
    # Imports are deferred so `import datalakejson_spark` stays cheap and
    # circular imports (modules use @register) are impossible.
    from datalakejson_spark.operators import (  # noqa: F401
        relational,
        joins,
        aggregates,
        windows,
        scalar_functions,
        subqueries,
        statistics,
        tpch,
    )
    from datalakejson_spark.functions import (  # noqa: F401
        clusters,
        curation,
        dedup,
        similarity,
        text,
        incremental_dedup,
        ivf,
        llm_pipeline,
        lsh_index,
        variant,
    )
    from datalakejson_spark.streaming import windows as stream_windows  # noqa: F401
    from datalakejson_spark.consumption import feed  # noqa: F401
    from datalakejson_spark.plans import layout  # noqa: F401

    return dict(_REGISTRY)


DRIVER_CAP = 50  # the driver verifies only the first 50 queries alphabetically


def driver_specs() -> dict[str, QuerySpec]:
    """The curated driver tier: every non-extended query, capped at
    ``DRIVER_CAP``. tests/test_engine.py asserts the cap is respected and that
    every SURVEY §2 family tag appears in this set."""
    core = {n: s for n, s in all_specs().items() if not s.extended}
    if len(core) > DRIVER_CAP:
        raise RuntimeError(
            f"driver tier has {len(core)} queries (> {DRIVER_CAP}); demote "
            "redundant queries to extended=True so the driver checks them all"
        )
    return core
