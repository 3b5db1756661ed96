"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query (filtered cosine KNN —
the reference's edge ``Search`` path) on sf0.001; ``queries()`` /
``oracle_sql()`` expose the full operator registry from
``coltt_spark.registry`` for the sf0.01 DuckDB correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from coltt_spark.registry import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: filtered cosine KNN."""
    return QUERIES["knn_filtered"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in driver
    priority order (``registry.driver_order``): touched keys not yet
    re-verified, then keys never checked green, then the rest by
    oldest green check in the committed ``CORRECTNESS_r*.json``."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (same column
    aliases; keys missing here get the weaker rows-only check). Lazy
    oracles (callables whose SQL inlines constants derived from the
    sf0.01 gate data, e.g. the OPQ rotation) materialize here.

    Materialization is per-key fault-isolated: a lazy oracle that
    raises (gate data missing / mid-regeneration) degrades ONLY its
    own key to the weaker rows-only check instead of taking down the
    entire oracle contract. Degraded keys are recorded in the
    module-level ``DEGRADED`` list and summarized on stderr so a
    driver-side downgrade is observable, not silent (ADVICE r12)."""
    import sys

    out: dict[str, str] = {}
    DEGRADED.clear()
    for k, v in ORACLES.items():
        if callable(v):
            try:
                out[k] = v()
            except Exception as exc:  # noqa: BLE001 — degrade this key only
                DEGRADED.append((k, f"{type(exc).__name__}: {exc}"))
                print(
                    f"oracle_sql: lazy oracle for {k!r} degraded to "
                    f"rows-only ({type(exc).__name__}: {exc})",
                    file=sys.stderr,
                )
                continue
        else:
            out[k] = v
    return out


#: keys whose lazy oracle failed to materialize in the last
#: ``oracle_sql()`` call, as (key, exception summary) pairs.
DEGRADED: list[tuple[str, str]] = []
