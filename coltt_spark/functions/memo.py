"""Session-keyed memo for constructed Column expression trees.

Building a Column costs one py4j gateway round-trip per
``F.*``/operator call (~0.05-0.5 ms each under host load — the
r13-opt finding), so intricate argument-free expression chains (the
sitemap XML parse fold, the robots rule walk) cost hundreds of
driver-side milliseconds PER QUERY CONSTRUCTION while describing the
exact same tree every time. pyspark Columns wrap immutable unresolved
expression trees: reusing one across queries is ordinary Spark usage
(analysis copies-on-transform, never mutates), so memoizing the built
tree removes every repeat round-trip with values identical BY OBJECT
IDENTITY — strictly safer than the SQL-text twin discipline, which
needs a bit-exactness parity test per conversion.

This is construction memoization, NOT result caching: the memoized
object is an unresolved expression — every query that uses it still
plans, optimizes, and executes from the parquet inputs on every run
(same class as the ``load_table`` resolved-relation cache, r13).

Entries are keyed on the active SparkSession and dropped when it
changes: a Column's JVM handle dies with its gateway, so a test that
restarts the session must not see a stale tree. A thread with no
active session (one not started through ``inheritable_thread_target``)
keys on the instantiated session instead — never on ``None``, which
would match forever, across session restarts.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, SparkSession

#: key → (session, value). Values may be a Column or any structure of
#: Columns (tuple/dict) — the builder decides.
_MEMO: dict[str, tuple[SparkSession, Any]] = {}


def memo_columns(key: str, build: Callable[[], Any]) -> Any:
    """Return ``build()``'s Column (or structure of Columns), built at
    most once per (key, active SparkSession)."""
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is None:
        raise RuntimeError(f"memo_columns({key!r}) needs a running SparkSession")
    hit = _MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    val = build()
    _MEMO[key] = (spark, val)
    return val


def clear_column_memo() -> None:
    """Drop every memoized tree (tests that exercise rebuild paths)."""
    _MEMO.clear()
