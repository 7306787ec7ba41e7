"""Fixed-point aggregation helpers: deterministic sums/averages of decimals.

IEEE double sums depend on addend order, and Spark's partial-aggregation
merge order varies run to run (shuffle-fetch arrival); when an unrounded
sum lands within an ulp of a decimal half-boundary, ``round(sum(x), d)``
flips between runs — and between engines. First seen on the sessionization
distance sums (CORRECTNESS_r01), then reproduced on the money sums at a
derived sf1 (the Spark SQL and DataFrame twins of the same query hashed
differently). The cure is integer arithmetic end to end:

1. quantize each addend to micro-units (1e-6) as BIGINT — exact for the
   <=6-dp decimal domains here (money, quantities, event values), and a
   documented 5e-7 quantization bound otherwise;
2. sum BIGINTs (exact, order-independent);
3. round to the output precision with integer HALF_UP —
   ``round(p/q) = (p + q div 2) div q`` on non-negative values — and
   divide to double only at the output edge (one exact long->double
   conversion both engines perform identically).

Every helper has a ``*_sql`` twin emitting the DuckDB dialect. Rounding is
written sign-symmetrically — ``sign(p) * ((abs(p) + q div 2) div q)`` —
i.e. half away from zero, exactly what both engines' own ``round()`` does,
and immune to the ``div``-truncates vs ``//``-floors divergence on
negative sums (account balances go negative).

Headroom: micro-unit BIGINT sums carry ~9.2e18, i.e. ~1e12 addends of
magnitude 1e3 — far past any single aggregation group this engine targets;
beyond that, swap the sum column to DECIMAL(38,0) without changing the
rounding arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def micro(c: Column | str) -> Column:
    """Exact micro-unit (1e-6) BIGINT of a decimal-valued double column."""
    c = F.col(c) if isinstance(c, str) else c
    return F.round(c * F.lit(1e6)).cast("long")


def micro_sql(expr: str) -> str:
    return f"CAST(round(({expr}) * 1e6) AS BIGINT)"


def sum_micro(c: Column | str) -> Column:
    """Order-independent BIGINT sum of micro-quantized addends."""
    return F.sum(micro(c))


def sum_micro_sql(expr: str) -> str:
    return f"CAST(sum({micro_sql(expr)}) AS BIGINT)"


# Output precision of every rounded fixed-point sum.
ROUND_DP = 4
_Q = 10 ** (6 - ROUND_DP)


def round_micro(name: str) -> Column:
    """Half-away-from-zero rounding of a micro-unit BIGINT column to
    ``ROUND_DP`` decimals, as double."""
    return F.expr(
        f"sign({name}) * ((abs({name}) + {_Q // 2}) div {_Q}) / {10**ROUND_DP}.0"
    )


def round_micro_sql(name: str) -> str:
    return f"sign({name}) * ((abs({name}) + {_Q // 2}) // {_Q}) / {10**ROUND_DP}.0"


def avg_micro(sum_name: str, n_name: str) -> Column:
    """Half-away-from-zero average (6 dp) from a micro-unit sum and a count:
    round(|s|/n) micro-units = (2|s| + n) div (2n)."""
    return F.expr(
        f"sign({sum_name}) * ((2 * abs({sum_name}) + {n_name})"
        f" div (2 * {n_name})) / 1e6"
    )


def avg_micro_sql(sum_name: str, n_name: str) -> str:
    return (
        f"sign({sum_name}) * ((2 * abs({sum_name}) + {n_name})"
        f" // (2 * {n_name})) / 1e6"
    )
