"""Query registry.

``@query("name", oracle="SELECT ...")`` registers a builder callable
``(spark, sf_dir) -> DataFrame`` and its DuckDB oracle SQL. Queries without
an oracle (streaming, ML, approximate algorithms) get a weaker rows-only
check from the driver — keep those to genuinely non-SQL-expressible ops.

Parity rules enforced by convention here (see SURVEY.md §7.4):
- alias every computed column identically in Spark and SQL;
- round floating aggregates in BOTH engines (sum-order nondeterminism);
- cast integer sums to BIGINT in DuckDB (its SUM(int) returns HUGEINT);
- impose deterministic ORDER BY inside any window function;
- never call now()/current_timestamp in a compared query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness gate samples the FIRST 50 registered queries.
# Registration order is module-grouped, so without curation one or two
# modules would consume the whole window (round 1: 49 relational + 1
# validation — every other module went driver-unverified). The window is
# pinned to a cross-section of every plan module, prioritizing queries the
# driver has never value-checked; the remainder keep their registration
# order after it. The rotation state lives in rotation_history.json next
# to this file (r4 verdict item 8 — a JSON artifact the window test reads,
# instead of a stale-prone comment); PRIORITY_ORDER is its highest-numbered
# window.


def _load_priority_order() -> list[str]:
    """Highest-numbered window from rotation_history.json. Read via
    importlib.resources so a zip/egg deployment (spark-submit --py-files)
    still resolves it; a missing or corrupt artifact degrades to plain
    registration order with a warning instead of an import-time crash —
    the window is gate curation, not query semantics."""
    import json
    import warnings
    from importlib import resources

    try:
        raw = (
            resources.files(__package__)
            .joinpath("rotation_history.json")
            .read_text()
        )
        windows = json.loads(raw)["windows"]
        return list(windows[max(windows, key=int)])
    except Exception as e:  # noqa: BLE001 — degrade, don't break the package import
        warnings.warn(
            f"rotation_history.json unavailable ({e!r}); "
            "falling back to registration order",
            RuntimeWarning,
            stacklevel=2,
        )
        return []


PRIORITY_ORDER = _load_priority_order()


def _ordered_names() -> list[str]:
    missing = [n for n in PRIORITY_ORDER if n not in QUERIES]
    if missing:
        raise ValueError(f"PRIORITY_ORDER names not registered: {missing}")
    rest = [n for n in QUERIES if n not in set(PRIORITY_ORDER)]
    return PRIORITY_ORDER + rest


def all_queries() -> dict[str, QueryFn]:
    return {n: QUERIES[n] for n in _ordered_names()}


def all_oracles() -> dict[str, str]:
    return {n: ORACLES[n] for n in _ordered_names() if n in ORACLES}
