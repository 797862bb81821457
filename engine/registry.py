"""Query/oracle registry.

Every operator key from SURVEY.md §2 registers itself here via the
``@query`` decorator. ``__spark_entry__.py`` re-exports these dicts to the
driver harness, and the test suite iterates them to locally verify each key
against DuckDB before it is ever declared.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}

#: session → {(sf_dir, key) → built-but-unexecuted DataFrame}. The
#: prepared-statement pattern: building a deep DataFrame tree costs
#: 50-300 ms of py4j round-trips per call (measured r06: revenue's
#: 6-join tree 0.15 s, snapshot_diff 0.3 s), all JVM-side re-derivable.
#: Each call returns a THIN wrapper (`where(lit(True))`, removed by the
#: optimizer) over the cached logical plan, which forces a brand-new
#: QueryExecution — fresh analysis, fresh AQE run, fresh scan of the
#: current files — so no executed stage or result is ever reused; only
#: the Python-side expression-tree construction is. Staleness contract
#: is identical to engine.io.load_tables' table cache (file listing is
#: pinned per (session, sf_dir)). Weakly keyed by the session (r10,
#: VERDICT r09 item 7): id()-keyed entries could be inherited by a new
#: session allocated at a dead session's address. HONEST SCOPE (r11,
#: ADVICE r10): the cached plans strongly reference their session, so
#: entries are PINNED for process life rather than weakly evicted — the
#: id-reuse safety holds because a pinned session's id is never freed,
#: at the cost of keeping each cached session alive until process exit
#: (1-2 sessions per process in every harness that uses this).
_plan_store: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def query(
    name: str, oracle: Optional[str] = None, plan_cache: bool = False
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; optionally attach a DuckDB oracle SQL.

    Keys with ``oracle`` get the driver's full hash-match check; keys
    without get the weaker rows-only check (reserved for ops DuckDB cannot
    express — SURVEY.md §2 marks which is which).

    ``plan_cache=True`` opts a PURE-READ key (no build-time side effects,
    no driver-side iteration) into the prepared-plan cache above. Keys
    whose build step writes files, collects data or checkpoints must stay
    opted out — caching would freeze those side effects, and every later
    call would reuse the first call's materialized data. A cached key's
    build runs 0 Spark jobs (``tests/test_plans.py`` checks every one).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        if plan_cache:
            import functools

            from pyspark.sql import functions as F

            @functools.wraps(fn)
            def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
                store = _plan_store.setdefault(spark, {})
                df = store.get((sf_dir, name))
                if df is None:
                    df = fn(spark, sf_dir)
                    store[(sf_dir, name)] = df
                return df.where(F.lit(True))

            QUERIES[name] = wrapped
        else:
            QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so registration side-effects run."""
    from engine import (  # noqa: F401
        ann_clustered,
        cdc,
        functions,
        graph_ext,
        io,
        llm_ext,
        llm_ops,
        pipeline_ext,
        relational,
        relational_ext,
        similarity,
        streaming,
        text_ext,
        tpch_ext,
        txlog,
        udf,
    )
