"""Query suite registry — the driver-facing catalog of implemented operators.

Each entry pairs a Spark implementation (``(spark, sf_dir) -> DataFrame``)
with an equivalent ANSI-SQL oracle string for DuckDB, per the driver
contract in ``__spark_entry__.py``. Operator modules register themselves at
import time; ``railgun_spark.suite.REGISTRY`` is the single source of truth.

Cross-engine determinism rules (so value-hashes match):
- Alias every computed column identically in Spark and SQL.
- Raw stored doubles compare exactly; arithmetic-derived floats are wrapped
  in ``round(x, n)`` with the SAME expression shape on both sides.
- Transcendental-function outputs (tile math) are floor()ed far from integer
  boundaries by construction of the derived inputs.
- Shared cross-engine 60-bit hash: Spark ``conv(substr(md5(x),1,15),16,10)``
  equals DuckDB ``('0x' || substr(md5(x),1,15))::UBIGINT`` — the basis for
  exact-dedup, MinHash and fingerprint parity.
- Top-k queries order by (rounded measure, unique key) so rank membership is
  deterministic in both engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


# The external correctness gate verifies exactly the first 50 registered
# queries, in registration order. REGISTRY holds exactly that many
# gate-facing queries (tests/test_suite_registry.py asserts equality, so a
# 51st registration fails loudly instead of silently pushing the last
# import out of the gate). EXTRA holds verify-only helpers and redundant
# variants whose capability is already certified by a REGISTRY entry.
# EXTRA entries run through the identical local oracle gate in pytest
# (tests/test_suite_registry.py) and tools/check_correctness.py --extra.
DRIVER_GATE_LIMIT = 50

REGISTRY: dict[str, QuerySpec] = {}
EXTRA: dict[str, QuerySpec] = {}


def _assert_unregistered(name: str) -> None:
    # a duplicate name would silently REPLACE the old spec: the size caps
    # and set-equality guards all still pass while the shadowed query
    # loses correctness coverage — fail registration instead
    if name in REGISTRY or name in EXTRA:
        raise ValueError(f"suite query {name!r} is already registered")


def query(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator: register a driver-gated suite query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _assert_unregistered(name)
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def extra_query(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator: register a locally-gated extra query (not driver-facing).

    Use for (a) verify-only helpers that are not scale-grade standalone
    operators (e.g. all-pairs Jaccard, the MinHash verify leg) and (b)
    redundant variants of capabilities already gate-certified elsewhere.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _assert_unregistered(name)
        EXTRA[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """REGISTRY + EXTRA — for bench.py and local tooling."""
    _ensure_loaded()
    merged = {name: spec.fn for name, spec in REGISTRY.items()}
    merged.update({name: spec.fn for name, spec in EXTRA.items()})
    return merged


def extra_specs() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return dict(EXTRA)


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports are here (not module top) to avoid circular imports.
    from railgun_spark.operators import (  # noqa: F401
        analytics,
        corpus,
        dedup,
        dfl_queries,
        graph,
        multimodal,
        packing,
        phash,
        relational,
        relational2,
        reporting,
        similarity,
        text,
        tpch_extra,
    )
    from railgun_spark.geo import tiles  # noqa: F401
    from railgun_spark.streaming import joins, windows  # noqa: F401

    _LOADED = True
