"""The size gate for driver replays, and bit-exact driver-side replicas
of the Spark SQL scalar semantics the replays use (r9 optimization round).

The tiny-state iterative queries (EM linkage, Bradley-Terry MM, Markov
squarings, ...) were deliberately written "order-free": every per-round
quantity is either an exact integer (fixed-point ``floor(x * 1e9)``
int64 sums, decimal(38,0) products) or a scalar double re-synced through
``round(x, 12)`` — so float summation order can never fork the
trajectory. That same property makes the loop exactly replayable on the
driver once the bounded state (a handful of rows) is collected: each
Spark expression below has a bit-identical Python counterpart.

- ``jround`` replicates Spark's ``round(double, s)``:
  ``BigDecimal.valueOf(x).setScale(s, HALF_UP).doubleValue()``.
  ``BigDecimal.valueOf`` goes through ``Double.toString`` — the shortest
  decimal that round-trips — which CPython's ``repr()`` also produces,
  so ``Decimal(repr(x))`` is the same decimal number and HALF_UP
  quantization reproduces Spark's result. (Where the two shortest-repr
  algorithms could in principle emit different-length decimals, the two
  candidates differ by far less than the distance to a .5 rounding
  boundary unless the double itself sits on a knife edge the ORACLE
  comparison would already be fragile at; the oracle gate at three SFs
  is the empirical check.)
- ``jfloor_long`` replicates ``floor(double)`` (Math.floor + (long)
  conversion, where ``(long) NaN == 0`` and infinities clamp).
- Plain ``/``, ``*``, ``+`` on Python floats are the same IEEE-754
  binary64 operations Spark's codegen runs, and Python ints are exact
  like decimal(38,0), so no replicas are needed for those.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame

_LONG_MAX = 9223372036854775807
_LONG_MIN = -9223372036854775808


def jround(x: float | None, scale: int) -> float | None:
    """Spark ``round(double, scale)`` (HALF_UP over the shortest repr)."""
    if x is None:
        return None
    x = float(x)
    if math.isnan(x) or math.isinf(x):
        return x
    q = Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP
    )
    return float(q)


def jdiv(a: float, b: float) -> float:
    """IEEE double division with Java semantics for zero denominators
    (0/0 -> NaN, x/0 -> signed infinity) — CPython raises instead."""
    a, b = float(a), float(b)
    if b == 0.0:
        if a == 0.0 or math.isnan(a):
            return math.nan
        return math.inf if (a > 0) == (math.copysign(1.0, b) > 0) else -math.inf
    return a / b


def jfloor_long(x: float | None) -> int | None:
    """Spark ``floor(double)`` -> BIGINT (Java (long) conversion rules
    for NaN/inf)."""
    if x is None:
        return None
    x = float(x)
    if math.isnan(x):
        return 0
    if math.isinf(x):
        return _LONG_MAX if x > 0 else _LONG_MIN
    return math.floor(x)


def driver_rows(
    df: DataFrame, max_rows: int
) -> tuple[DataFrame, pa.Table | None]:
    """The one size gate between a driver replay and a distributed loop.

    Iterative graph and chain operators (PageRank, connected components,
    BPE merges, power iteration, Markov squarings) run far below the
    per-job scheduling floor when their state is small enough to replay
    on one node, but must still scale out at 100 TB. Each site names its
    own ``max_rows`` -- the row count it declares driver-affordable --
    and this function decides:

    - ``df`` is materialized once with an eager ``localCheckpoint``; the
      distributed branch reads that checkpoint instead of recomputing the
      upstream;
    - one bounded Arrow fetch, ``limit(max_rows + 1).toArrow()``, both
      sizes the input and ships it, so no ``count()`` job is run. Above
      the gate it ships at most ``max_rows + 1`` rows, the amount the
      site already declared affordable.

    Returns ``(checkpoint, table)``: ``table`` is the whole input as a
    ``pyarrow.Table`` at or below the gate, ``None`` above it. Arrow
    rather than a ``Row`` collect (several times faster at 1M rows), and
    rather than ``toPandas`` (which turns a nullable bigint into float);
    callers take Python values with ``to_pylist()``, which is what
    ``jround``'s ``repr`` parsing expects.

    Sites call it as ``driverexact.driver_rows`` so it is resolved at
    call time: the ``force_distributed`` test fixture patches this one
    function to send every gate down its distributed branch."""
    cp = df.localCheckpoint(eager=True)
    table = cp.limit(max_rows + 1).toArrow()
    return cp, (table if table.num_rows <= max_rows else None)
