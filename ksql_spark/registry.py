"""Operator registry — the single source of truth binding each operator key from
SURVEY.md §2 to (a) its PySpark DataFrame builder and (b) its DuckDB oracle SQL.

`__spark_entry__.py` (the driver contract) is a thin re-export of this registry,
so a Spark query and its oracle can never drift apart structurally.

Determinism conventions (SURVEY.md §5.2) enforced by convention here:
  * every computed column is aliased identically in builder and oracle;
  * double reductions go through `dsum`/`davg` (decimal accumulation → double)
    so the result is bit-identical regardless of partition/summation order;
  * top-k queries always break ties on a unique key;
  * collected arrays are sorted before comparison.
"""

from __future__ import annotations

import functools
import json
import re
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: Optional[str]  # DuckDB ANSI SQL, or None → driver does rows-only check
    ref: str = ""  # reference citation (file:line in /root/reference or SURVEY §)
    tags: tuple = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, ref: str = "", tags: tuple = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder under `name`."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        # NOTE: oracle text is only stripped, never whitespace-collapsed —
        # collapsing is not quote-aware and would corrupt string literals
        # containing tabs/newlines/space runs.
        _REGISTRY[name] = QuerySpec(
            name=name,
            builder=fn,
            oracle=oracle.strip() if oracle else None,
            ref=ref,
            tags=tuple(tags),
        )
        return fn

    return deco


# Each round's oracle check runs the first 50 keys of all_specs() and records
# them in CORRECTNESS_rNN.json beside the package. Ordering by the last round
# that checked a key (0 = never) keeps that window on the stalest evidence;
# within a round, rows-only entries go last, since a rows-only check loses the
# least by falling outside the window.
@functools.lru_cache(maxsize=1)
def _last_checked_round() -> dict[str, int]:
    last: dict[str, int] = {}
    for path in Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            for key in json.loads(path.read_text()):
                last[key] = max(last.get(key, 0), int(m.group(1)))
    return last


def all_specs() -> dict[str, QuerySpec]:
    """Import all query modules (side effect: registration) and return the
    registry, ordered by verification priority (see above)."""
    import ksql_spark.queries  # noqa: F401  (populates _REGISTRY on import)

    last = _last_checked_round()
    ordered = sorted(
        enumerate(_REGISTRY.values()),
        key=lambda item: (last.get(item[1].name, 0), item[1].oracle is None, item[0]),
    )
    return {spec.name: spec for _, spec in ordered}


# ---------------------------------------------------------------------------
# Determinism helpers (used by builders; oracle side spells the same math)
#
# Plain double summation differs in low bits across partition orders (and vs
# DuckDB), which breaks the driver's value-hash compare. We accumulate exactly:
# quantize each addend to 6 decimal places via trunc(x*1e6 + 0.5) (= round
# half-up for positives; identical trunc semantics in both engines for
# negatives), scale to a long, sum longs (exact, associative, order-
# insensitive), then descale as a double. Spark's round() on doubles allocates
# a BigDecimal per row (~2x slower); the trunc form benches at raw-double-sum
# speed. decimal(25,6) accumulation was 5-10x slower still.
#
# Range note: long accumulation holds |sum| < 9.2e12 at scale=1e6. That covers
# every driver table by orders of magnitude; a 100 TB production pipeline would
# use plain double sums (no oracle to match) or two-level decimal aggregation.
# ---------------------------------------------------------------------------

_SCALE = 1_000_000.0  # 6 decimal places


def dsum(col) -> Column:
    """Order-insensitive double sum via scaled-long accumulation.

    Spark cast(double→long) truncates toward zero; DuckDB spells the same as
    CAST(trunc(x*1000000 + 0.5) AS BIGINT) (sql_dsum emits exactly that).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum((c * F.lit(_SCALE) + F.lit(0.5)).cast("long")).cast("double") / F.lit(
        _SCALE
    )


def davg(col) -> Column:
    """Order-insensitive double mean: exact scaled sum, then double division."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


def dsum_wide(col) -> Column:
    """dsum with a 128-bit-class accumulator: the same 1e6-scaled long
    ADDENDS (each must fit a long — |x| < 9.2e12), summed in decimal(38,0)
    instead of long. DuckDB needs no twin spelling — its SUM(BIGINT) already
    returns HUGEINT, so sql_dsum pairs with either Spark form; use this one
    whenever the SUM (not the addend) can exceed 2^63/1e6 ≈ 9.2e12 — e.g.
    rank sums (Σ ranks ~ n²/2) or rank-product moments, which the sf10 probe
    caught overflowing the plain dsum at 15M rows."""
    c = F.col(col) if isinstance(col, str) else col
    scaled = (c * F.lit(_SCALE) + F.lit(0.5)).cast("long")
    return F.sum(scaled.cast("decimal(38,0)")).cast("double") / F.lit(_SCALE)


def dsum1(col) -> Column:
    """Integer-quantized order-insensitive sum (scale=1) for large-magnitude
    expressions (e.g. price², |x| up to ~1e10) where the 1e6 scale of dsum
    would overflow the long accumulator. Same trunc-half-up spelling."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum((c + F.lit(0.5)).cast("long")).cast("double")


# Oracle-side SQL snippets for the same helpers (bit-identical math in DuckDB).
def sql_dsum(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(trunc(({expr}) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)"
        " / 1000000.0"
    )


def sql_davg(expr: str) -> str:
    return f"({sql_dsum(expr)}) / COUNT({expr})"


def sql_dsum1(expr: str) -> str:
    return f"CAST(SUM(CAST(trunc(({expr}) + 0.5) AS BIGINT)) AS DOUBLE)"
