"""The registry pass of a traced ``ingest`` run: 14 batch pipeline
queries of ``coltt_spark.registry.QUERIES``, shuffle-heavy jobs that
the serving layers take no part in.

Their inputs are generated from the seed in the shape of the repo's
test tables (``documents``, ``events``, ``lineitem``; the other tables
are written empty, so the DuckDB oracle can still create a view of
every table). Each key is first checked once, untimed, against its
DuckDB oracle through ``coltt_spark.oracle.check_query``, which also
builds the fixtures a key caches; then one traced pass runs every key
in a seed-shuffled order.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEYS = (
    "dedup_minhash_delta",
    "dedup_minhash_delta_canonical",
    "dedup_containment",
    "dedup_ngram_jaccard",
    "token_vocab",
    "doc_ppl_bigram",
    "doc_lm_score",
    "source_mix",
    "web_domain_quota",
    "decontaminate_bloom",
    "price_percentiles",
    "events_sessionize",
    "bm25_search",
    "stream_sessionize",
)

DOCUMENTS = 500
DOC_SOURCES = 20
#: documents that repeat an earlier one's text with one word appended
DOC_NEAR_DUPLICATES = 25
EVENTS = 10_000
EVENT_USERS = 150
LINEITEMS = 60_000

WORDS = (
    "a the join hash row batch scan column customer filter small slow "
    "merge order vector line table data agg value key stream window "
    "spark part group big sort query fast"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

#: the tables the 14 keys leave alone: written with their schema and no rows
EMPTY_TABLES = {
    "region": {"r_regionkey": pa.int32(), "r_name": pa.string()},
    "nation": {"n_nationkey": pa.int32(), "n_name": pa.string(), "n_regionkey": pa.int32()},
    "customer": {
        "c_custkey": pa.int64(), "c_name": pa.string(), "c_nationkey": pa.int32(),
        "c_acctbal": pa.float64(), "c_mktsegment": pa.string(),
    },
    "supplier": {
        "s_suppkey": pa.int64(), "s_name": pa.string(), "s_nationkey": pa.int32(),
        "s_acctbal": pa.float64(),
    },
    "part": {
        "p_partkey": pa.int64(), "p_name": pa.string(), "p_brand": pa.string(),
        "p_type": pa.string(), "p_size": pa.int32(), "p_retailprice": pa.float64(),
    },
    "orders": {
        "o_orderkey": pa.int64(), "o_custkey": pa.int64(), "o_orderstatus": pa.string(),
        "o_totalprice": pa.float64(), "o_orderdate": pa.timestamp("us"),
        "o_orderpriority": pa.string(),
    },
    "embeddings": {
        "vec_id": pa.int64(), "embedding": pa.list_(pa.float32()), "label": pa.int32(),
    },
}


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(8, 80)))) for _ in range(DOCUMENTS)
    ]
    for i in rng.choice(np.arange(1, DOCUMENTS), DOC_NEAR_DUPLICATES, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, DOCUMENTS, p=LANG_P),
        "source": [f"src{i % DOC_SOURCES}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })


def _events(rng: np.random.Generator) -> pa.Table:
    # distinct microsecond timestamps over 30 days, in event_id order
    offsets = np.sort(rng.choice(30 * 86_400 * 10**6, EVENTS, replace=False))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, EVENT_USERS, EVENTS),
        "event_type": rng.choice(EVENT_TYPES, EVENTS),
        "value": np.maximum(np.round(rng.exponential(50.0, EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)],
    })


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = LINEITEMS
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(0, 2500, n)
    return pa.table({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, 2000, n),
        "l_suppkey": rng.integers(0, 100, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 3000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n),
        "l_linestatus": rng.choice(("O", "F"), n),
        "l_shipdate": pa.array(
            (np.datetime64("1995-01-02") + days).astype("datetime64[us]"), pa.timestamp("us")
        ),
    })


def write_tables(rng: np.random.Generator, sf_dir: str) -> dict[str, int]:
    """Write every test table under ``sf_dir``; returns their row counts."""
    os.makedirs(sf_dir)
    tables = {"documents": _documents(rng), "events": _events(rng), "lineitem": _lineitem(rng)}
    for name, schema in EMPTY_TABLES.items():
        tables[name] = pa.schema(schema).empty_table()
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def registry_pass(spark, tracer, rng, scratch: str, res) -> None:
    """Check every key against its oracle, then run one traced pass,
    recording each key's wall time in ms as sample ``registry.<key>``."""
    from coltt_spark.oracle import check_query
    from coltt_spark.registry import QUERIES

    sf_dir = os.path.join(scratch, "tables")
    res.context["registry_rows"] = write_tables(rng, sf_dir)
    tracer.phase = "registry_check"
    for key in KEYS:
        try:
            ok, msg = check_query(spark, sf_dir, key)
        except Exception:
            res.error(f"registry {key} oracle check")
            continue
        res.check(f"registry {key} oracle check", ok, msg)

    tracer.phase = "registry"
    order = [str(k) for k in rng.permutation(KEYS)]
    res.context["registry_order"] = order
    for key in order:
        try:
            with tracer.op(f"registry.{key}"):
                t = time.perf_counter()
                df = QUERIES[key](spark, sf_dir)
                df.collect()
                res.sample(f"registry.{key}", (time.perf_counter() - t) * 1e3)
                tracer.catalyst(df)
        except Exception:
            res.error(f"registry {key}")
