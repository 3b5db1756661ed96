"""Mirror of the driver's correctness gate: every registry query with
an oracle must match DuckDB on sf0.01 (row count + columns + values);
oracle-less queries must at least run and return a stable schema."""

from __future__ import annotations

import pytest

from coltt_spark.oracle import check_query
from coltt_spark.registry import QUERIES

from .conftest import SF_CORRECT


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    ok, msg = check_query(spark, SF_CORRECT, name)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_every_query_is_oracle_backed():
    """Regression guard on full value-check coverage: a new registry
    entry without an oracle silently downgrades to the driver's weaker
    rows-only check — fail loudly here instead."""
    import __spark_entry__ as e

    missing = sorted(set(e.queries()) - set(e.oracle_sql()))
    assert not missing, f"queries without oracles: {missing}"


def _write_round(d, rnd, checks):
    """One ``CORRECTNESS_rNN.json``: key -> (hash_match, err)."""
    import json

    (d / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps({
        k: {"rows_match": True, "schema_match": True, "hash_match": h,
            "spark_rows": 1, "oracle_rows": 1, "err": err}
        for k, (h, err) in checks.items()
    }))


def test_driver_order_derives_priority_from_history(tmp_path):
    """The driver window order comes from the gate's own history:
    touched keys still unverified since their change, then keys never
    checked green (registration order), then the rest by last green
    round, oldest first, ties broken by position in that round's
    file."""
    import pytest

    from coltt_spark.registry import driver_order

    ok = (True, None)
    _write_round(tmp_path, 1, {"a": ok, "b": ok, "c": ok, "gone": ok})
    # d: hash mismatch; f: an error; both stay never-checked
    _write_round(tmp_path, 2, {"d": (False, None), "c": ok, "f": (True, "x")})
    _write_round(tmp_path, 10, {"e": ok, "b": ok})
    keys = ["a", "b", "c", "d", "e", "f", "g"]

    # never-checked first, in registration order; then oldest green
    # first: a (r1), c (r2), e (r10, pos 0), b (r10, pos 1); the
    # history-only key "gone" is ignored
    assert driver_order(keys, tmp_path, {}) == [
        "d", "f", "g", "a", "c", "e", "b"
    ]
    # a failed re-check does not erase an earlier green round
    _write_round(tmp_path, 11, {"a": (False, None), "c": (True, "boom")})
    assert driver_order(keys, tmp_path, {}) == [
        "d", "f", "g", "a", "c", "e", "b"
    ]
    # touched keys lead, in touched order, only while their round is
    # later than their last green check (b was green in r10)
    touched = {"e": 11, "b": 10, "a": 3, "g": 11}
    assert driver_order(keys, tmp_path, touched) == [
        "e", "a", "g", "d", "f", "c", "b"
    ]
    # no history: registration order, touched keys still first
    empty = tmp_path / "empty"
    empty.mkdir()
    assert driver_order(keys, empty, {}) == keys
    assert driver_order(keys, empty, {"c": 1}) == [
        "c", "a", "b", "d", "e", "f", "g"
    ]
    with pytest.raises(ValueError, match="nope"):
        driver_order(keys, empty, {"nope": 1})


def test_registry_follows_derived_driver_order():
    """On the real registry and history: QUERIES and ORACLES share one
    order, every touched key still unverified since its change sits in
    the hash-checked window, and past the touched prefix the last
    green round never decreases."""
    import json
    from pathlib import Path

    from coltt_spark import registry as r

    keys = list(r.QUERIES)
    assert list(r.ORACLES) == [k for k in keys if k in r.ORACLES]
    root = Path(r.__file__).resolve().parents[1]
    last = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        rnd = int(p.stem.rpartition("_r")[2])
        for k, c in json.loads(p.read_text()).items():
            green = c["rows_match"] and c["schema_match"] and c["hash_match"]
            if green and c["err"] is None:
                last[k] = max(last.get(k, 0), rnd)
    active = [k for k, rnd in r._TOUCHED.items() if rnd > last.get(k, 0)]
    assert keys[: len(active)] == active
    assert len(active) <= r._DRIVER_WINDOW
    rounds = [last.get(k, 0) for k in keys[len(active) :]]
    assert rounds == sorted(rounds)


def test_opq_oracle_training_matches_persisted_artifacts(spark):
    """ADVICE r11: the OPQ oracle's independence boundary sits at
    training — engine and oracle each run ``opq_train_np`` on residual
    samples that differ only in the last float bit (Spark vs DuckDB
    fold order). A near-tie k-means assignment or Procrustes flip
    inside training would cascade into divergent codebooks and surface
    only as an opaque gate hash mismatch. Detect fragility at the
    source: the oracle-derived (R, book) must match the gate
    collection's persisted rotation.npy / book.npy tightly."""
    import os

    import numpy as np

    from coltt_spark.registry import (
        _SF_GATE,
        _ivfpq_opq_collection,
        _opq_collection_arrays,
    )

    coll = _ivfpq_opq_collection(spark, _SF_GATE)
    d = coll._ivf_dir("vector")
    R = np.load(os.path.join(d, "rotation.npy"))
    book = np.load(os.path.join(d, "book.npy"))
    oR, obook = _opq_collection_arrays(_SF_GATE)
    assert R.shape == oR.shape and book.shape == obook.shape
    assert np.allclose(R, oR, atol=1e-9), np.abs(R - oR).max()
    assert np.allclose(book, obook, atol=1e-9), np.abs(book - obook).max()
