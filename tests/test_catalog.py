"""Catalog lifecycle + upsert/delete semantics + persistence parity
(FIXTURES.md F1/F5 shapes: typed schema, filter matrix, save/load
round-trip equality)."""

from __future__ import annotations

import math
import random

import pytest

from coltt_spark.catalog import Catalog
from coltt_spark.schema import IndexDesign, IndexField, validate_metadata

FIELDS = [
    IndexField("id", "string", primary_key=True),
    IndexField("type", "integer"),
    IndexField("size", "integer"),
    IndexField("volume", "float"),
    IndexField("expand", "boolean", enable_null=True),
]


def _rows(n, dim=8, seed=7):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        out.append(
            {
                "id": f"id-{i}",
                "type": rng.randint(1, 10),
                "size": rng.randint(1, 10),
                "volume": rng.random(),
                "expand": rng.random() < 0.5 if rng.random() > 0.1 else None,
                "vector": [rng.gauss(0, 1) for _ in range(dim)],
            }
        )
    return out


@pytest.fixture()
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "warehouse"))


def test_create_upsert_search_flow(catalog):
    coll = catalog.create_collection("items", dim=8, distance="cosine", fields=FIELDS)
    assert coll.upsert(_rows(200)) == 200
    assert coll.count() == 200

    q = _rows(1, seed=99)[0]["vector"]
    hits = coll.search(q, limit=10).collect()
    assert len(hits) == 10
    dists = [r["dist"] for r in hits]
    assert dists == sorted(dists)
    assert all(0 <= r["score"] <= 100 for r in hits)

    filt = {
        "op": "and",
        "expressions": [
            {"index_name": "type", "op": "gte", "value": 5},
            {"index_name": "size", "op": "lt", "value": 4},
        ],
    }
    fhits = coll.search(q, filter_ast=filt, limit=10).collect()
    assert all(r["type"] >= 5 and r["size"] < 4 for r in fhits)


def test_upsert_last_writer_wins(catalog):
    coll = catalog.create_collection("upd", dim=4, distance="euclidean", fields=FIELDS)
    coll.upsert(
        [
            {"id": "a", "type": 1, "size": 1, "volume": 0.1, "vector": [1, 0, 0, 0]},
            {"id": "b", "type": 2, "size": 2, "volume": 0.2, "vector": [0, 1, 0, 0]},
        ]
    )
    # overwrite "a" twice in one batch — last occurrence wins
    coll.upsert(
        [
            {"id": "a", "type": 7, "size": 7, "volume": 0.7, "vector": [0, 0, 1, 0]},
            {"id": "a", "type": 9, "size": 9, "volume": 0.9, "vector": [0, 0, 0, 1]},
        ]
    )
    rows = {r["id"]: r for r in coll.df().collect()}
    assert coll.count() == 2
    assert rows["a"]["type"] == 9 and rows["a"]["vector"] == [0.0, 0.0, 0.0, 1.0]
    assert rows["b"]["type"] == 2


def test_delete_where(catalog):
    coll = catalog.create_collection("del", dim=4, distance="euclidean", fields=FIELDS)
    coll.upsert(_rows(100, dim=4))
    before = coll.count()
    n_five = coll.df().filter("type = 5").count()
    coll.delete_where({"index_name": "type", "op": "eq", "value": 5})
    assert coll.count() == before - n_five
    assert coll.df().filter("type = 5").count() == 0


def test_flush_reload_roundtrip(catalog, spark, tmp_path):
    """F5: search results identical before and after persist→reload,
    including ~10% deletions (e2e/hnsw/e2e_hnsw.go:32-74 shape)."""
    coll = catalog.create_collection("rt", dim=8, distance="cosine", fields=FIELDS)
    coll.upsert(_rows(300))
    coll.delete_where({"index_name": "type", "op": "lte", "value": 1})
    q = _rows(1, seed=123)[0]["vector"]
    before = [(r["id"], round(r["dist"], 6)) for r in coll.search(q, limit=20).collect()]
    coll.flush()

    fresh = Catalog(spark, str(tmp_path / "warehouse")).get_collection("rt")
    after = [(r["id"], round(r["dist"], 6)) for r in fresh.search(q, limit=20).collect()]
    assert before == after


def test_release_and_load(catalog):
    coll = catalog.create_collection("rl", dim=4, distance="euclidean", fields=FIELDS)
    coll.upsert(_rows(50, dim=4))
    coll.load()
    assert coll.info()["loaded"] is True
    coll.release()
    assert coll.info()["loaded"] is False
    assert coll.count() == 50


def test_catalog_listing_and_drop(catalog):
    catalog.create_collection("c1", dim=4, fields=FIELDS)
    catalog.create_collection("c2", dim=4, fields=FIELDS)
    assert catalog.list_collections() == ["c1", "c2"]
    catalog.drop_collection("c1")
    assert catalog.list_collections() == ["c2"]
    with pytest.raises(KeyError):
        catalog.get_collection("c1")
    with pytest.raises(ValueError):
        catalog.create_collection("c2", dim=4, fields=FIELDS)


def test_validation_matrix():
    design = IndexDesign(FIELDS)
    # null → default on enable_null field (edge_analyzer.go:86-99)
    meta = validate_metadata(
        design, {"id": "x", "type": 1, "size": 2, "volume": 0.5, "expand": None}
    )
    assert meta["expand"] is False
    # integral float coerced to int (edge_analyzer.go:60-70)
    meta = validate_metadata(design, {"id": "x", "type": 3.0, "size": 2, "volume": 1})
    assert meta["type"] == 3 and isinstance(meta["type"], int)
    assert meta["volume"] == 1.0 and isinstance(meta["volume"], float)
    with pytest.raises(TypeError):
        validate_metadata(design, {"id": "x", "type": 3.5, "size": 2, "volume": 0.5})
    with pytest.raises(ValueError):
        validate_metadata(design, {"id": "x", "type": 1, "size": None, "volume": 0.5})
    with pytest.raises(ValueError):
        validate_metadata(design, {"id": "x", "type": 1, "size": 2, "volume": 0.5, "bogus": 1})
    with pytest.raises(ValueError):
        validate_metadata(design, {"type": 1, "size": 2, "volume": 0.5})
    with pytest.raises(ValueError):
        IndexDesign([IndexField("pk", "integer", primary_key=True)])


def test_vector_validation(catalog):
    coll = catalog.create_collection("vv", dim=4, fields=FIELDS)
    base = {"id": "x", "type": 1, "size": 1, "volume": 0.5}
    with pytest.raises(ValueError):
        coll.upsert([{**base, "vector": [1.0, 2.0]}])  # wrong dim
    with pytest.raises(ValueError):
        coll.upsert([{**base, "vector": [1.0, 2.0, math.nan, 4.0]}])
    with pytest.raises(ValueError):
        coll.upsert([{**base}])  # missing vector


def test_upsert_df_matches_row_upsert(catalog, spark):
    """Bulk DataFrame ingest produces the same final state as the
    per-row path: same rows, same float32 vectors, LWW across
    batches."""
    rows = _rows(150)
    coll_row = catalog.create_collection("bulk_a", dim=8, distance="cosine", fields=FIELDS)
    coll_row.upsert(rows)
    coll_df = catalog.create_collection("bulk_b", dim=8, distance="cosine", fields=FIELDS)
    pdf = spark.createDataFrame(
        [
            (r["id"], r["type"], r["size"], r["volume"], r["expand"], r["vector"])
            for r in rows
        ],
        "id string, type int, size int, volume double, expand boolean, vector array<double>",
    )
    assert coll_df.upsert_df(pdf) == 150

    a = {r["id"]: r for r in coll_row.df().collect()}
    b = {r["id"]: r for r in coll_df.df().collect()}
    assert a.keys() == b.keys()
    for k in a:
        ra, rb = a[k], b[k]
        assert (ra["type"], ra["size"], ra["expand"]) == (rb["type"], rb["size"], rb["expand"])
        assert ra["volume"] == pytest.approx(rb["volume"])
        # normalize-at-write in float64, stored float32 — bitwise equal
        assert ra["vector"] == rb["vector"]

    # cross-batch LWW: second upsert_df overwrites
    pdf2 = spark.createDataFrame(
        [("id-0", 99, 99, 9.9, True, [1.0] * 8)],
        "id string, type int, size int, volume double, expand boolean, vector array<double>",
    )
    coll_df.upsert_df(pdf2)
    got = {r["id"]: r for r in coll_df.df().collect()}
    assert got["id-0"]["type"] == 99 and len(got) == 150


def test_upsert_df_validation_and_defaults(catalog, spark):
    coll = catalog.create_collection("bulk_v", dim=4, fields=FIELDS)
    # missing nullable column → type default; missing non-nullable → error
    pdf = spark.createDataFrame(
        [("x", 1, 2, 0.5, [1.0, 0.0, 0.0, 0.0])],
        "id string, type int, size int, volume double, vector array<double>",
    )
    coll.upsert_df(pdf)
    row = coll.df().collect()[0]
    assert row["expand"] is False
    with pytest.raises(ValueError):
        coll.upsert_df(pdf.drop("id"))
    with pytest.raises(ValueError):
        coll.upsert_df(pdf.withColumnRenamed("type", "bogus"))
    # wrong dim / NaN fail at execution (raise_error in the plan)
    import math as _math

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    bad_dim = spark.createDataFrame(
        [("y", 1, 2, 0.5, [1.0, 2.0])],
        "id string, type int, size int, volume double, vector array<double>",
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        coll.upsert_df(bad_dim)
    bad_nan = spark.createDataFrame(
        [("z", 1, 2, 0.5, [1.0, 2.0, _math.nan, 4.0])],
        "id string, type int, size int, volume double, vector array<double>",
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        coll.upsert_df(bad_nan)


def test_upsert_df_quantized_and_batch_dedupe(catalog, spark):
    rows = _rows(60, dim=8, seed=3)
    coll_row = catalog.create_collection(
        "bulk_q_a", dim=8, distance="cosine", quantization="f16", fields=FIELDS
    )
    coll_row.upsert(rows)
    coll_df = catalog.create_collection(
        "bulk_q_b", dim=8, distance="cosine", quantization="f16", fields=FIELDS
    )
    pdf = spark.createDataFrame(
        [
            (r["id"], r["type"], r["size"], r["volume"], r["expand"], r["vector"])
            for r in rows
        ],
        "id string, type int, size int, volume double, expand boolean, vector array<double>",
    )
    coll_df.upsert_df(pdf)
    a = {r["id"]: bytes(r["vector"]) for r in coll_row._view.select("id", "vector").collect()}
    b = {r["id"]: bytes(r["vector"]) for r in coll_df._view.select("id", "vector").collect()}
    assert a == b  # identical f16 bytes

    # duplicate PKs inside one batch: highest commit id survives
    dup = spark.createDataFrame(
        [("d", 1, 1, 0.1, False, [1.0] * 8), ("d", 2, 2, 0.2, False, [2.0] * 8)],
        "id string, type int, size int, volume double, expand boolean, vector array<double>",
    )
    n = coll_df.upsert_df(dup.coalesce(1))
    assert n == 1
    got = [r for r in coll_df.df().collect() if r["id"] == "d"]
    assert len(got) == 1 and got[0]["type"] == 2


def test_blocks_layout_search_parity(catalog):
    """layout="blocks": after flush, unfiltered search serves from the
    packed block index and must rank exactly like the row scan; dirty
    (unflushed) state and filtered searches fall back to the row path."""
    rows = _rows(300, dim=8, seed=11)
    coll_rows = catalog.create_collection("ref_rows", dim=8, distance="cosine", fields=FIELDS)
    coll_rows.upsert(rows)
    coll_blk = catalog.create_collection(
        "blk", dim=8, distance="cosine", fields=FIELDS,
        layout="blocks", block_dtype="float64",
    )
    coll_blk.upsert(rows)

    q = _rows(1, seed=42)[0]["vector"]
    expected = [(r["id"], round(r["dist"], 6)) for r in coll_rows.search(q, limit=15).collect()]

    # dirty (pre-flush): block index absent, row fallback still correct
    assert [(r["id"], round(r["dist"], 6)) for r in coll_blk.search(q, limit=15).collect()] == expected

    coll_blk.flush()
    assert not coll_blk._dirty
    import os

    assert os.path.isdir(coll_blk._blocks_dir("vector"))
    got = [(r["id"], round(r["dist"], 6)) for r in coll_blk.search(q, limit=15).collect()]
    assert got == expected
    # block-served results carry metadata but not the stored vector
    cols = set(coll_blk.search(q, limit=3).columns)
    assert {"id", "type", "dist", "score"} <= cols and "vector" not in cols

    # pagination through the block path
    page = [(r["id"], round(r["dist"], 6)) for r in coll_blk.search(q, limit=5, offset=5).collect()]
    assert page == expected[5:10]

    # filtered search serves from the block index (payload mask), same
    # results as the row layout's filtered scan
    filt = {"index_name": "type", "op": "lte", "value": 5}
    a = [(r["id"],) for r in coll_rows.search(q, filter_ast=filt, limit=10).collect()]
    b = [(r["id"],) for r in coll_blk.search(q, filter_ast=filt, limit=10).collect()]
    assert a == b

    # DML marks the index stale; post-flush it serves the new state
    coll_blk.upsert(_rows(5, dim=8, seed=77))
    assert coll_blk._dirty
    coll_blk.flush()
    coll_rows.upsert(_rows(5, dim=8, seed=77))
    expected2 = [(r["id"], round(r["dist"], 6)) for r in coll_rows.search(q, limit=15).collect()]
    got2 = [(r["id"], round(r["dist"], 6)) for r in coll_blk.search(q, limit=15).collect()]
    assert got2 == expected2

    # reopening from disk keeps serving from blocks
    fresh = Catalog(coll_blk.spark, catalog.warehouse).get_collection("blk")
    assert fresh.manifest.layout == "blocks"
    got3 = [(r["id"], round(r["dist"], 6)) for r in fresh.search(q, limit=15).collect()]
    assert got3 == expected2


def test_blocks_filtered_search_matrix_matches_row_layout(catalog):
    """Filtered search on a blocks layout (payload-mask fast path)
    must reproduce the row layout's filtered scan across the whole
    coercion matrix: every op, cross-type literals, nested AND/OR,
    NULL-bearing columns, empty results, and pagination."""
    rows = _rows(120, dim=6, seed=21)
    coll_rows = catalog.create_collection(
        "fr_rows", dim=6, distance="euclidean", fields=FIELDS
    )
    coll_rows.upsert(rows)
    coll_blk = catalog.create_collection(
        "fr_blk", dim=6, distance="euclidean", fields=FIELDS,
        layout="blocks", block_dtype="float64",
    )
    coll_blk.upsert(rows)
    coll_blk.flush()
    q = _rows(1, dim=6, seed=5)[0]["vector"]

    asts = [
        {"index_name": "type", "op": "eq", "value": 3},
        {"index_name": "type", "op": "neq", "value": 3},
        {"index_name": "type", "op": "gte", "value": "5"},      # str → int coercion
        {"index_name": "volume", "op": "lt", "value": 0.5},
        {"index_name": "id", "op": "gt", "value": "id-50"},      # string compare
        {"index_name": "id", "op": "eq", "value": "id-7"},
        {"index_name": "expand", "op": "eq", "value": True},     # null-bearing bool
        {"index_name": "expand", "op": "neq", "value": True},    # NULL never matches
        {"index_name": "expand", "op": "eq", "value": "true"},   # str → bool
        {"index_name": "type", "op": "eq", "value": "zebra"},    # unparseable → empty
        {"index_name": "type", "op": "eq", "value": 9999},       # empty result
        {
            "op": "and",
            "expressions": [
                {"index_name": "type", "op": "gte", "value": 3},
                {
                    "op": "or",
                    "expressions": [
                        {"index_name": "size", "op": "lte", "value": 4},
                        {"index_name": "volume", "op": "gt", "value": 0.8},
                    ],
                },
            ],
        },
    ]
    for ast in asts:
        want = [
            (r["id"], round(r["dist"], 6))
            for r in coll_rows.search(q, filter_ast=ast, limit=8).collect()
        ]
        got = [
            (r["id"], round(r["dist"], 6))
            for r in coll_blk.search(q, filter_ast=ast, limit=8).collect()
        ]
        assert got == want, f"filter mismatch for {ast}"
    # pagination through the filtered fast path
    ast = {"index_name": "type", "op": "lte", "value": 8}
    full = [r["id"] for r in coll_rows.search(q, filter_ast=ast, limit=12).collect()]
    page = [r["id"] for r in coll_blk.search(q, filter_ast=ast, limit=6, offset=6).collect()]
    assert page == full[6:12]
    # unknown filter column raises on the fast path too
    with pytest.raises(KeyError, match="unknown column"):
        coll_blk.search(q, filter_ast={"index_name": "nope", "op": "eq", "value": 1}).collect()


def test_incremental_flush_packs_only_the_delta(catalog):
    """Second flush of a blocks collection must be incremental: base
    data/index part files are hardlinked (not rewritten), only rows
    changed since the previous version are packed, superseded commit
    ids land in a tombstone table — and every read surface (search,
    filtered search, batch, time-travel, reopen) stays correct."""
    import os

    rows = _rows(200, dim=6, seed=31)
    coll = catalog.create_collection(
        "delta_blk", dim=6, distance="euclidean", fields=FIELDS,
        layout="blocks", block_dtype="float64", versioning=True,
    )
    twin = catalog.create_collection(
        "delta_rows", dim=6, distance="euclidean", fields=FIELDS
    )
    coll.upsert(rows)
    twin.upsert(rows)
    coll.flush()  # v1: full pack
    v1_blocks = coll._blocks_dir("vector", 1)
    base_parts = {
        f for f in os.listdir(v1_blocks)
        if f.startswith("part-") and f.endswith(".parquet")
    }

    # DML: update 10, delete 3, insert 15 — then incremental flush
    updates = _rows(10, dim=6, seed=77)
    inserts = [dict(r, id=f"new-{i}") for i, r in enumerate(_rows(15, dim=6, seed=78))]
    for c in (coll, twin):
        c.upsert(updates)
        c.upsert(inserts)
        c.delete_where({"index_name": "id", "op": "lte", "value": "id-10"})
    coll.flush()  # v2: delta
    assert coll.manifest.version == 2
    v2_blocks = coll._blocks_dir("vector", 2)
    v2_parts = {
        f for f in os.listdir(v2_blocks)
        if f.startswith("part-") and f.endswith(".parquet")
    }
    # every base part rides along as a hardlink (same inode, nlink>1)
    assert base_parts <= v2_parts
    for f in base_parts:
        s1 = os.stat(os.path.join(v1_blocks, f))
        s2 = os.stat(os.path.join(v2_blocks, f))
        assert s1.st_ino == s2.st_ino and s2.st_nlink >= 2
    # the delta pack is small (new files ≪ base files for a 12% change)
    assert len(v2_parts - base_parts) <= 2
    assert os.path.isdir(coll._tombstones_dir(2))

    q = _rows(1, dim=6, seed=9)[0]["vector"]
    def ids(c, **kw):
        return [(r["id"], round(r["dist"], 6)) for r in c.search(q, **kw).collect()]
    assert ids(coll, limit=12) == ids(twin, limit=12)
    filt = {"index_name": "type", "op": "gte", "value": 4}
    assert ids(coll, filter_ast=filt, limit=8) == ids(twin, filter_ast=filt, limit=8)
    # deleted/superseded rows never surface
    got_ids = {r["id"] for r in coll.search(q, limit=50).collect()}
    assert not any(i in got_ids for i in ("id-0", "id-1", "id-10"))
    # batch path masks tombstones too (batch output is unordered)
    batch = coll.search_batch({0: q}, limit=12).collect()
    assert sorted((r["id"], round(r["dist"], 6)) for r in batch) == sorted(
        ids(twin, limit=12)
    )
    # time-travel still sees the full v1 state
    assert coll.read_version(1).count() == 200
    # 200 base + 15 inserts − 3 deleted (id-0, id-1, id-10 ≤ "id-10")
    assert coll.count() == 212 and twin.count() == 212

    # reopening from disk serves the delta state
    fresh = Catalog(coll.spark, catalog.warehouse).get_collection("delta_blk")
    assert ids(fresh, limit=12) == ids(twin, limit=12)

    # compact folds deltas: fresh full pack, no tombstones, same answers
    coll.compact()
    assert coll.manifest.version == 3
    assert not os.path.isdir(coll._tombstones_dir(3))
    assert ids(coll, limit=12) == ids(twin, limit=12)


def test_versioning_retains_and_cleans_snapshots(catalog):
    """versioning=True: flush retains prior snapshot versions for
    time-travel reads until lifecycle_cleanup prunes non-latest
    (edge v4 versioned buckets + BucketLifeCycleJob parity)."""
    coll = catalog.create_collection(
        "vers", dim=4, distance="euclidean", fields=FIELDS, versioning=True
    )
    coll.upsert(_rows(10, dim=4, seed=1))
    coll.flush()  # v1
    coll.delete_where({"index_name": "type", "op": "gte", "value": 0})  # wipe
    coll.upsert(_rows(3, dim=4, seed=2))
    coll.flush()  # v2
    assert coll.versions() == [0, 1, 2]
    assert coll.read_version(1).count() == 10
    assert coll.df().count() == 3
    coll.lifecycle_cleanup()
    assert coll.versions() == [2]
    import pytest

    with pytest.raises(ValueError, match="not retained"):
        coll.read_version(1)

    # default (unversioned) collections still delete eagerly at flush
    coll2 = catalog.create_collection("unvers", dim=4, distance="euclidean", fields=FIELDS)
    coll2.upsert(_rows(5, dim=4, seed=3))
    coll2.flush()
    assert coll2.versions() == [1]


def test_versioned_ivf_cleanup_prunes_index_dirs(catalog):
    """lifecycle_cleanup on a versioned ivf-layout collection must
    prune stale v{N}_ivf index dirs alongside v{N} data (flush already
    did for unversioned collections)."""
    import os

    coll = catalog.create_collection(
        "versivf", dim=4, distance="cosine", fields=FIELDS, versioning=True,
        layout="ivf", ivf_centroids=2, ivf_nprobe=2,
    )
    coll.upsert(_rows(12, dim=4, seed=5))
    coll.flush()  # v1 + v1_ivf
    coll.upsert(_rows(4, dim=4, seed=6))
    coll.flush()  # v2 + v2_ivf
    assert os.path.isdir(os.path.join(coll.root, "v1_ivf"))
    coll.lifecycle_cleanup()
    leftovers = sorted(
        d for d in os.listdir(coll.root) if d.startswith("v") and "_" in d
    )
    # the second flush is now an ivf DELTA (fixed centroids), so the
    # current version legitimately retains its tombstone table
    assert leftovers == ["v2_ivf", "v2_tombstones"]
    # the current version still serves from its index
    q = _rows(1, dim=4, seed=7)[0]["vector"]
    assert len(coll.search(q, limit=3).collect()) == 3


def test_delete_key_strict_validation(catalog):
    """delete_where validates the delete key strictly (dropKeyAnalyzer
    intended semantics): unknown index and type-mismatched literals
    raise; query-path coercion does NOT apply to deletes."""
    import pytest

    coll = catalog.create_collection("delval", dim=4, distance="euclidean", fields=FIELDS)
    coll.upsert(_rows(5, dim=4, seed=9))
    with pytest.raises(KeyError, match="unknown index"):
        coll.delete_where({"index_name": "nope", "op": "eq", "value": 1})
    # FIELDS declares integer "type": a string literal is rejected on
    # the delete path (a query filter would coerce "2" -> 2)
    with pytest.raises(TypeError, match="type error"):
        coll.delete_where({"index_name": "type", "op": "eq", "value": "2"})
    with pytest.raises(TypeError, match="type error"):
        coll.delete_where({"index_name": "type", "op": "eq", "value": True})
    # integral float matches an int index (reference float64 case)
    coll.delete_where({"index_name": "type", "op": "eq", "value": 2.0})
    assert all(r["type"] != 2 for r in coll.df().collect())
    # string PK column requires a string literal
    with pytest.raises(TypeError, match="type error"):
        coll.delete_where({"index_name": "id", "op": "eq", "value": 3})


def test_ivf_layout_serves_and_falls_back(catalog):
    """IVF-layout lifecycle: a flushed collection serves from the
    partitioned index; unflushed DML falls back to the exact row scan
    with the SAME output columns IN THE SAME ORDER; re-flush rebuilds
    the index and the fast path resumes. Every read method on every
    packed layout, clean or dirty, returns the rows-layout column
    order: metadata in index-design order, query_id for batches, then
    dist and score."""
    coll = catalog.create_collection(
        "ivfcoll", dim=8, distance="cosine", fields=FIELDS,
        layout="ivf", ivf_centroids=4, ivf_nprobe=4, block_dtype="float64",
    )
    coll.upsert(_rows(80, dim=8, seed=3))
    coll.flush()
    q = _rows(1, dim=8, seed=99)[0]["vector"]
    served = coll.search(q, limit=5)
    cols = served.columns
    assert len(served.collect()) == 5
    # nprobe == n_centroids probes everything -> equals the exact scan
    exact_ids = {
        r["id"]
        for r in coll.search(q, limit=5, filter_ast={"index_name": "type", "op": "gte", "value": 0}).collect()
    }
    assert {r["id"] for r in served.collect()} == exact_ids
    # dirty state: falls back, same schema
    coll.upsert(_rows(3, dim=8, seed=4))
    dirty = coll.search(q, limit=5)
    assert dirty.columns == cols
    # flush rebuilds; fast path again, index reflects the new rows
    coll.flush()
    assert len(coll.search(q, limit=5).collect()) == 5

    meta = [f.name for f in FIELDS]
    for layout in ("blocks", "ivf", "ivfpq"):
        c = coll if layout == "ivf" else catalog.create_collection(
            f"order_{layout}", dim=8, distance="cosine", fields=FIELDS,
            layout=layout, block_dtype="float64", pq_subspaces=4, pq_codes=8,
        )
        if c is not coll:
            c.upsert(_rows(80, dim=8, seed=3))
            c.flush()
        for state in ("clean", "dirty"):
            if state == "dirty":
                c.upsert(_rows(3, dim=8, seed=4))
            reads = {
                "search": c.search(q, limit=5),
                "search_grouped": c.search_grouped(q, "type", limit=4),
                "search_radius": c.search_radius(q, 0.5),
                "search_batch": c.search_batch({0: q}, limit=5),
            }
            for name, df in reads.items():
                want = meta + (["query_id"] if name == "search_batch" else [])
                assert df.columns == want + ["dist", "score"], (layout, state, name)


def test_ivf_search_batch_agrees_with_single(spark, catalog):
    """search_batch on an ivf layout must return, per query, the same
    ids as the single-query ivf search (same probes, same rerank)."""
    coll = catalog.create_collection(
        "ivfbatch", dim=8, distance="cosine", fields=FIELDS,
        layout="ivf", ivf_centroids=4, ivf_nprobe=2, block_dtype="float64",
    )
    coll.upsert(_rows(60, dim=8, seed=11))
    coll.flush()
    qs = {i: _rows(1, dim=8, seed=100 + i)[0]["vector"] for i in range(3)}
    batch = coll.search_batch(qs, limit=5).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((round(r["dist"], 8), r["id"]))
    for i, q in qs.items():
        single = [(round(r["dist"], 8), r["id"]) for r in coll.search(q, limit=5).collect()]
        assert sorted(got[i]) == sorted(single), f"query {i}"


def test_incremental_ivf_flush_keeps_centroids_fixed(catalog):
    """Second flush of an ivf collection must be incremental: the
    centroid matrix is byte-identical to the base build, base index
    part files are hardlinked, only delta rows are newly assigned, and
    search equals a driver-side probe of the base centroids over the
    patched logical state."""
    import os

    import numpy as np

    rows = _rows(200, dim=6, seed=41)
    coll = catalog.create_collection(
        "delta_ivf", dim=6, distance="cosine", fields=FIELDS,
        layout="ivf", versioning=True, block_dtype="float64",
    )
    coll.upsert(rows)
    coll.flush()  # v1: full IVF build
    c1 = np.load(os.path.join(coll._ivf_dir("vector", 1), "centroids.npy"))
    v1_data = os.path.join(coll._ivf_dir("vector", 1), "blocks")

    updates = [dict(r, type=r["type"] + 100) for r in _rows(10, dim=6, seed=41)]
    inserts = [dict(r, id=f"new-{i}") for i, r in enumerate(_rows(15, dim=6, seed=43))]
    coll.upsert(updates)
    coll.upsert(inserts)
    coll.delete_where({"index_name": "type", "op": "eq", "value": 3})
    coll.flush()  # v2: delta
    assert coll.manifest.version == 2
    c2 = np.load(os.path.join(coll._ivf_dir("vector", 2), "centroids.npy"))
    assert np.array_equal(c1, c2), "delta flush must NOT retrain centroids"
    v2_data = os.path.join(coll._ivf_dir("vector", 2), "blocks")
    # every base part file rides along as a hardlink inside its partition
    for part in os.listdir(v1_data):
        pdir = os.path.join(v1_data, part)
        if not os.path.isdir(pdir):
            continue
        for f in os.listdir(pdir):
            if f.startswith("part-") and f.endswith(".parquet"):
                s1 = os.stat(os.path.join(pdir, f))
                assert os.path.exists(os.path.join(v2_data, part, f))
                assert os.stat(os.path.join(v2_data, part, f)).st_ino == s1.st_ino
    assert os.path.isdir(coll._tombstones_dir(2))

    # expected: probe the FIXED base centroids over the patched state
    state = {r["id"]: r for r in rows}
    for r in updates:
        state[r["id"]] = r
    for r in inserts:
        state[r["id"]] = r
    state = {k: v for k, v in state.items() if v["type"] != 3}
    q = np.array(_rows(1, dim=6, seed=5)[0]["vector"])
    qn = q / np.linalg.norm(q)
    probes = set(np.argsort(-(c1 @ qn))[: coll.manifest.ivf_nprobe])
    exp = []
    for rid, r in state.items():
        v = np.array(r["vector"], dtype=np.float64)
        vn32 = (v / np.linalg.norm(v)).astype(np.float32)  # normalize-at-write
        vn = vn32.astype(np.float64)
        cid = int(np.argmax((vn / max(np.linalg.norm(vn), 1e-30)) @ c1.T))
        if cid not in probes:
            continue
        dist = abs(1.0 - float(np.dot(vn, qn)) / (np.linalg.norm(vn) * np.linalg.norm(qn)))
        exp.append((dist, rid))
    exp.sort(key=lambda t: (t[0], t[1]))
    got = [(r["id"], round(r["dist"], 6)) for r in coll.search(list(q), limit=8).collect()]
    assert got == [(rid, round(d, 6)) for d, rid in exp[:8]]
    # deleted rows never surface, updated rows carry new metadata
    full = {r["id"]: r for r in coll.search(list(q), limit=250).collect()}
    assert all(state[i]["type"] == full[i]["type"] for i in full)


def test_extended_filter_ops(spark):
    """in/not_in/between/like/not compile and evaluate correctly,
    including per-element coercion and the pushable-predicate shape."""
    from coltt_spark.filters import compile_filter
    from coltt_spark.plans.inspect import executed_plan

    df = spark.createDataFrame(
        [(1, "en", 10, "alpha beta"), (2, "de", 25, "beta gamma"),
         (3, "fr", 40, "gamma delta"), (4, "en", 55, None)],
        "id long, lang string, n long, txt string",
    )

    def ids(ast):
        return sorted(r["id"] for r in df.filter(compile_filter(df, ast)).collect())

    assert ids({"index_name": "lang", "op": "in", "value": ["en", "fr"]}) == [1, 3, 4]
    assert ids({"index_name": "lang", "op": "not_in", "value": ["en"]}) == [2, 3]
    # per-element coercion: string "25" matches the bigint column
    assert ids({"index_name": "n", "op": "in", "value": ["25", 40]}) == [2, 3]
    assert ids({"index_name": "n", "op": "between", "value": [20, 41]}) == [2, 3]
    assert ids({"index_name": "txt", "op": "like", "value": "%beta%"}) == [1, 2]
    assert ids({"op": "not", "expressions": [
        {"index_name": "n", "op": "between", "value": [20, 41]}]}) == [1, 4]
    # composite nesting with the new leaves; NULL txt (row 4) drops
    # under SQL three-valued logic, same as the DuckDB oracle
    assert ids({"op": "and", "expressions": [
        {"index_name": "lang", "op": "in", "value": ["en", "de", "fr"]},
        {"op": "not", "expressions": [{"index_name": "txt", "op": "like", "value": "gamma%"}]},
    ]}) == [1, 2]
    import pytest

    with pytest.raises(ValueError):
        compile_filter(df, {"index_name": "n", "op": "in", "value": []})
    with pytest.raises(ValueError):
        compile_filter(df, {"index_name": "n", "op": "between", "value": [1]})


def test_chained_delta_flushes(catalog):
    """Delta-on-delta: two incremental flushes in a row must chain
    hardlinked bases, accumulate tombstones across versions, and stay
    correct on every read surface — for BOTH index layouts."""
    rows = _rows(150, dim=6, seed=51)
    blk = catalog.create_collection(
        "chain_blk", dim=6, distance="euclidean", fields=FIELDS,
        layout="blocks", block_dtype="float64",
    )
    ivf = catalog.create_collection(
        "chain_ivf", dim=6, distance="euclidean", fields=FIELDS, layout="ivf",
        block_dtype="float64",
    )
    twin = catalog.create_collection("chain_rows", dim=6, distance="euclidean", fields=FIELDS)
    for c in (blk, ivf, twin):
        c.upsert(rows)
    blk.flush(); ivf.flush(); twin.flush()

    # round 1 of DML + delta flush
    up1 = [dict(r, type=r["type"] + 50) for r in _rows(12, dim=6, seed=51)]
    for c in (blk, ivf, twin):
        c.upsert(up1)
        c.delete_where({"index_name": "type", "op": "eq", "value": 2})
    blk.flush(); ivf.flush(); twin.flush()
    # round 2: touch some of the SAME rows again plus new inserts
    up2 = [dict(r, size=r["size"] + 7) for r in _rows(6, dim=6, seed=51)]
    ins = [dict(r, id=f"x-{i}") for i, r in enumerate(_rows(9, dim=6, seed=53))]
    for c in (blk, ivf, twin):
        c.upsert(up2)
        c.upsert(ins)
        c.delete_where({"index_name": "type", "op": "eq", "value": 9})
    blk.flush(); ivf.flush(); twin.flush()
    assert blk.manifest.version == 3 and ivf.manifest.version == 3

    q = _rows(1, dim=6, seed=55)[0]["vector"]
    expect = sorted(
        (r["id"], round(r["dist"], 6), r["type"], r["size"])
        for r in twin.search(q, limit=30).collect()
    )
    got_blk = sorted(
        (r["id"], round(r["dist"], 6), r["type"], r["size"])
        for r in blk.search(q, limit=30).collect()
    )
    assert got_blk == expect
    # ivf is exact here too when every partition is probed
    ivf.manifest.ivf_nprobe = ivf.manifest.ivf_centroids
    got_ivf = sorted(
        (r["id"], round(r["dist"], 6), r["type"], r["size"])
        for r in ivf.search(q, limit=30).collect()
    )
    assert got_ivf == expect
    assert blk.count() == twin.count() == ivf.count()


def test_delta_ivf_filtered_search(catalog):
    """Filter ∩ candidates on a DELTA-flushed ivf collection: the
    pruned, tombstone-masked index scan serves the filter too —
    results equal the rows twin with every partition probed."""
    rows = _rows(160, dim=6, seed=61)
    ivf = catalog.create_collection(
        "dif", dim=6, distance="euclidean", fields=FIELDS,
        layout="ivf", ivf_centroids=4, ivf_nprobe=4, block_dtype="float64",
    )
    twin = catalog.create_collection("dif_rows", dim=6, distance="euclidean", fields=FIELDS)
    for c in (ivf, twin):
        c.upsert(rows)
    ivf.flush(); twin.flush()
    updates = [dict(r, type=r["type"] + 20) for r in _rows(12, dim=6, seed=61)]
    for c in (ivf, twin):
        c.upsert(updates)
        c.delete_where({"index_name": "type", "op": "eq", "value": 4})
    ivf.flush(); twin.flush()

    q = _rows(1, dim=6, seed=62)[0]["vector"]
    for ast in (
        {"index_name": "type", "op": "gte", "value": 6},
        {"index_name": "type", "op": "in", "value": [21, 22, 23, 7]},
    ):
        a = [(r["id"], round(r["dist"], 6))
             for r in ivf.search(q, filter_ast=ast, limit=12).collect()]
        b = [(r["id"], round(r["dist"], 6))
             for r in twin.search(q, filter_ast=ast, limit=12).collect()]
        assert a == b, ast


def test_search_grouped_diversifies(catalog):
    """group_by search: at most per_group rows per group value, page
    ordered by distance, groups never dominate; filter composes."""
    rows = _rows(200, dim=6, seed=71)
    coll = catalog.create_collection(
        "grp", dim=6, distance="cosine", fields=FIELDS
    )
    coll.upsert(rows)
    q = _rows(1, dim=6, seed=72)[0]["vector"]
    res = coll.search_grouped(q, "type", limit=12, per_group=2).collect()
    per = {}
    for r in res:
        per.setdefault(r["type"], 0)
        per[r["type"]] += 1
    assert all(c <= 2 for c in per.values())
    dists = [r["dist"] for r in res]
    assert dists == sorted(dists)
    # every returned row is its group's best-or-second-best overall
    full = coll.search(q, limit=200).collect()
    best_by_type = {}
    for r in full:
        best_by_type.setdefault(r["type"], []).append(r["id"])
    for r in res:
        assert r["id"] in best_by_type[r["type"]][:2]
    # filter composes: only matching rows compete
    fres = coll.search_grouped(
        q, "type", limit=12, per_group=1,
        filter_ast={"index_name": "size", "op": "lte", "value": 5},
    ).collect()
    assert fres and all(r["size"] <= 5 for r in fres)
    assert len({r["type"] for r in fres}) == len(fres)
    import pytest

    with pytest.raises(KeyError):
        coll.search_grouped(q, "nope", limit=5)


def test_search_radius_and_grouped_on_blocks(catalog):
    """Radius query through the collection API (set semantics vs the
    top-k path) and grouped search served off a blocks-layout
    collection's row view."""
    rows = _rows(180, dim=6, seed=81)
    coll = catalog.create_collection(
        "rad", dim=6, distance="cosine", fields=FIELDS,
        layout="blocks", block_dtype="float64",
    )
    coll.upsert(rows)
    coll.flush()
    q = _rows(1, dim=6, seed=82)[0]["vector"]
    full = coll.search(q, limit=180).collect()
    r = sorted(x["dist"] for x in full)[25] + 1e-9  # radius at the 26th dist
    hits = coll.search_radius(q, r).collect()
    expect = {x["id"] for x in full if x["dist"] <= r}
    assert {x["id"] for x in hits} == expect and len(hits) >= 26
    assert all(x["dist"] <= r for x in hits)
    # filter composes and grouped works on the blocks layout
    fhits = coll.search_radius(
        q, 1.5, filter_ast={"index_name": "type", "op": "lte", "value": 3}
    ).collect()
    assert fhits and all(x["type"] <= 3 for x in fhits)
    g = coll.search_grouped(q, "type", limit=10, per_group=1).collect()
    assert len({x["type"] for x in g}) == len(g)


def test_ivf_nprobe_dial(spark, catalog):
    """The per-query nprobe override is the IVF recall/latency dial:
    recall@10 against the exact row twin is non-decreasing in nprobe
    and reaches 1.0 when every list is probed."""
    rows = _rows(300, dim=8, seed=17)
    ivf = catalog.create_collection(
        "dial_ivf", dim=8, distance="cosine", fields=FIELDS,
        layout="ivf", ivf_centroids=8, ivf_nprobe=2, block_dtype="float64",
    )
    twin = catalog.create_collection(
        "dial_rows", dim=8, distance="cosine", fields=FIELDS,
    )
    ivf.upsert(rows)
    twin.upsert(rows)
    ivf.flush()
    q = _rows(1, dim=8, seed=999)[0]["vector"]
    exact = [r["id"] for r in twin.search(q, limit=10).collect()]
    recalls = []
    for nprobe in (1, 2, 4, 8):
        got = [r["id"] for r in ivf.search(q, limit=10, nprobe=nprobe).collect()]
        recalls.append(len(set(got) & set(exact)) / 10.0)
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0, recalls
    # all lists probed → not merely same ids, the identical ranking
    full = [(r["id"], round(r["dist"], 6))
            for r in ivf.search(q, limit=10, nprobe=8).collect()]
    want = [(r["id"], round(r["dist"], 6)) for r in twin.search(q, limit=10).collect()]
    assert full == want


def test_packed_layouts_reopen_from_disk(catalog, spark, tmp_path):
    """Restart serving: a fresh Catalog must reopen flushed blocks and
    ivf collections straight from their manifests and serve from the
    PACKED index (no corpus Parquet scan in the plan), with results
    identical to the pre-restart handle — including delta state."""
    from coltt_spark.plans.inspect import executed_plan

    rows = _rows(150, dim=6, seed=71)
    q = _rows(1, dim=6, seed=72)[0]["vector"]
    before = {}
    for layout in ("blocks", "ivf"):
        kwargs = {"block_dtype": "float64"}
        if layout == "ivf":
            kwargs.update(ivf_centroids=4, ivf_nprobe=4)
        coll = catalog.create_collection(
            f"ro_{layout}", dim=6, distance="euclidean", fields=FIELDS,
            layout=layout, **kwargs,
        )
        coll.upsert(rows)
        coll.flush()
        # a delta on top: re-upsert 10 ids, delete one type
        coll.upsert([dict(r, type=r["type"] + 50) for r in rows[:10]])
        coll.delete_where({"index_name": "type", "op": "eq", "value": 3})
        coll.flush()
        before[layout] = [
            (r["id"], round(r["dist"], 6), r["type"])
            for r in coll.search(q, limit=12).collect()
        ]
    fresh = Catalog(spark, str(tmp_path / "warehouse"))
    for layout in ("blocks", "ivf"):
        reopened = fresh.get_collection(f"ro_{layout}")
        df = reopened.search(q, limit=12)
        got = [(r["id"], round(r["dist"], 6), r["type"]) for r in df.collect()]
        assert got == before[layout], layout
        assert "Scan parquet" not in executed_plan(df), layout


def test_all_deleted_serves_empty(catalog):
    """Deleting every row then flushing must leave each layout
    serving an EMPTY result (not an error) from its packed/row path —
    the all-tombstones edge the delta machinery has to survive."""
    rows = _rows(60, dim=4, seed=5)
    for layout in ("rows", "blocks", "ivf"):
        kwargs = {} if layout == "rows" else {"block_dtype": "float64"}
        if layout == "ivf":
            kwargs.update(ivf_centroids=2, ivf_nprobe=2)
        coll = catalog.create_collection(
            f"empty_{layout}", dim=4, distance="euclidean", fields=FIELDS,
            layout=layout, **kwargs,
        )
        coll.upsert(rows)
        coll.flush()
        coll.delete_where({"index_name": "type", "op": "gte", "value": 0})
        coll.flush()
        assert coll.count() == 0, layout
        q = rows[0]["vector"]
        assert coll.search(q, limit=5).collect() == [], layout
        assert coll.search_batch({0: q}, limit=5).collect() == [], layout


def test_search_radius_packed_paths_match_row_scan(catalog):
    """Radius queries on clean blocks/ivf collections serve from the
    packed index (no corpus Parquet scan in the plan) and must return
    the exact same set as the row-scan twin — including with a
    metadata filter and after a delta flush (tombstone masking)."""
    from coltt_spark.plans.inspect import executed_plan

    rows = _rows(160, dim=6, seed=91)
    q = _rows(1, dim=6, seed=92)[0]["vector"]
    twin = catalog.create_collection(
        "radr", dim=6, distance="cosine", fields=FIELDS
    )
    twin.upsert(rows)
    for layout in ("blocks", "ivf"):
        kwargs = {"block_dtype": "float64"}
        if layout == "ivf":
            kwargs.update(ivf_centroids=4, ivf_nprobe=2)  # nprobe<k: radius must still be exact
        coll = catalog.create_collection(
            f"radp_{layout}", dim=6, distance="cosine", fields=FIELDS,
            layout=layout, **kwargs,
        )
        coll.upsert(rows)
        coll.flush()
        df = coll.search_radius(q, 0.9)
        assert "Scan parquet" not in executed_plan(df), layout
        got = {(r["id"], round(r["dist"], 6)) for r in df.collect()}
        want = {
            (r["id"], round(r["dist"], 6))
            for r in twin.search_radius(q, 0.9).collect()
        }
        assert got == want, layout
        ast = {"index_name": "type", "op": "lte", "value": 4}
        gotf = {r["id"] for r in coll.search_radius(q, 0.9, filter_ast=ast).collect()}
        wantf = {r["id"] for r in twin.search_radius(q, 0.9, filter_ast=ast).collect()}
        assert gotf == wantf, layout
        # delta state: delete a slice, flush, radius must mask it
        coll.delete_where({"index_name": "type", "op": "eq", "value": 2})
        coll.flush()
        got2 = {r["id"] for r in coll.search_radius(q, 0.9).collect()}
        dead = {r["id"] for r in twin.df().filter("type = 2").collect()}
        assert got2 == {i for i, _ in want} - dead, layout


def test_grouped_search_packed_on_ivf_matches_row_twin(catalog):
    """Grouped search on a clean ivf collection serves from the packed
    per-centroid files (all lists — set contract) and must equal the
    row twin's grouped results exactly, with no corpus Parquet scan."""
    from coltt_spark.plans.inspect import executed_plan

    rows = _rows(200, dim=6, seed=51)
    q = _rows(1, dim=6, seed=52)[0]["vector"]
    ivf = catalog.create_collection(
        "gr_ivf", dim=6, distance="cosine", fields=FIELDS,
        layout="ivf", ivf_centroids=4, ivf_nprobe=2, block_dtype="float64",
    )
    twin = catalog.create_collection(
        "gr_rows", dim=6, distance="cosine", fields=FIELDS
    )
    ivf.upsert(rows)
    twin.upsert(rows)
    ivf.flush()
    df = ivf.search_grouped(q, "type", limit=8, per_group=2)
    assert "Scan parquet" not in executed_plan(df)
    got = [(r["id"], r["type"], round(r["dist"], 6)) for r in df.collect()]
    want = [
        (r["id"], r["type"], round(r["dist"], 6))
        for r in twin.search_grouped(q, "type", limit=8, per_group=2).collect()
    ]
    assert got == want


def test_nprobe_validation(catalog):
    """The nprobe dial rejects non-positive values instead of silently
    slicing weirdly (negative) or falling back (zero)."""
    coll = catalog.create_collection(
        "npv", dim=4, distance="cosine", fields=FIELDS,
        layout="ivf", ivf_centroids=2, ivf_nprobe=2, block_dtype="float64",
    )
    coll.upsert(_rows(20, dim=4))
    coll.flush()
    q = _rows(1, dim=4, seed=3)[0]["vector"]
    for bad in (0, -1):
        with pytest.raises(ValueError, match="nprobe"):
            coll.search(q, limit=3, nprobe=bad).collect()
        with pytest.raises(ValueError, match="nprobe"):
            coll.search_batch({0: q}, limit=3, nprobe=bad).collect()
    # refine is an ivfpq-only dial: every read rejects it elsewhere
    # instead of silently ignoring it
    with pytest.raises(ValueError, match="refine"):
        coll.search(q, limit=3, refine=5)
    with pytest.raises(ValueError, match="refine"):
        coll.search_batch({0: q}, limit=3, refine=5)


def test_stale_ivf_layout_fails_loudly(catalog):
    """An IVF index directory WITHOUT the packed blocks/ subtree (the
    pre-r4 layout, or a partially-written flush) must not silently
    serve empty results: serving gates raise with a rebuild hint, and
    flush treats the index as not-ready (full rebuild heals it)."""
    import os
    import shutil

    coll = catalog.create_collection(
        "stale", dim=4, distance="cosine", fields=FIELDS,
        layout="ivf", ivf_centroids=2, ivf_nprobe=2, block_dtype="float64",
    )
    coll.upsert(_rows(20, dim=4))
    coll.flush()
    q = _rows(1, dim=4, seed=3)[0]["vector"]
    assert len(coll.search(q, limit=3).collect()) == 3
    # simulate the stale format: index dir present, blocks/ gone
    shutil.rmtree(os.path.join(coll._ivf_dir("vector"), "blocks"))
    with pytest.raises(RuntimeError, match="blocks/"):
        coll.search(q, limit=3)
    with pytest.raises(RuntimeError, match="blocks/"):
        coll.search_batch({0: q}, limit=3)
    with pytest.raises(RuntimeError, match="blocks/"):
        coll.search_grouped(q, "type", limit=3, per_group=1)
    with pytest.raises(RuntimeError, match="blocks/"):
        coll.search_radius(q, 10.0)
    # flush's incremental gate self-heals via the full rebuild path
    coll.upsert(_rows(4, dim=4, seed=9))
    coll.flush()
    assert len(coll.search(q, limit=3).collect()) == 3


def _index_file_count(coll) -> int:
    """Count the packed index part-files of the CURRENT version (the
    read-amplification driver: every probe's task list scales with
    this)."""
    import glob
    import os

    v = coll.manifest.version
    if coll.manifest.layout == "blocks":
        pat = os.path.join(coll.root, f"v{v}_blocks", "vector", "*.parquet")
    else:
        pat = os.path.join(
            coll.root, f"v{v}_ivf", "vector", "blocks", "centroid=*", "*.parquet"
        )
    return len(glob.glob(pat))


@pytest.mark.parametrize("layout", ["blocks", "ivf"])
def test_delta_flush_accumulation_and_compaction(catalog, layout):
    """The compaction discipline the reference's diskv merge exists
    for (diskv/merge.go:40-181): 15 consecutive delta flushes — each
    adding packed delta files + tombstones beside hardlinked bases,
    with heavy pk-supersede churn — must (a) keep search EXACTLY
    right throughout (numpy brute-force oracle over the tracked
    logical state), (b) grow the index file count roughly linearly
    (read amplification is real and bounded), and (c) fold back to
    the fresh-build file count, with parity intact, on
    flush(compact=True)."""
    import numpy as np

    dim = 6
    coll = catalog.create_collection(
        f"churn_{layout}", dim=dim, distance="euclidean",
        fields=[
            IndexField("id", "string", primary_key=True),
            IndexField("label", "integer"),
        ],
        layout=layout, block_dtype="float64",
        # ivf_max_list_files=0 disables growth-triggered auto-compaction:
        # this test deliberately observes RAW delta accumulation over 15
        # flushes (the trigger itself is pinned by
        # test_ivf_auto_compaction_bounds_read_amplification)
        **(
            {"ivf_centroids": 4, "ivf_nprobe": 4, "ivf_max_list_files": 0}
            if layout == "ivf"
            else {}
        ),
    )
    state: dict[str, tuple[list[float], int]] = {}

    def upsert_batch(r: int) -> None:
        rows = []
        for j in range(20):
            i = (r * 7 + j * 5) % 60  # heavy id reuse → supersedes
            vec = [
                float(np.float32(x))
                for x in np.random.default_rng(1000 * r + i).normal(0, 1, dim)
            ]
            rows.append({"id": f"{i:03d}", "label": r, "vector": vec})
            state[f"{i:03d}"] = (vec, r)
        coll.upsert(rows)

    def check_parity() -> None:
        q = [float(x) for x in np.random.default_rng(5).normal(0, 1, dim)]
        ids = sorted(state)
        V = np.array([state[i][0] for i in ids], dtype=np.float64)
        d = np.linalg.norm(V - np.asarray(q)[None, :], axis=1)
        want = [ids[i] for i in np.lexsort((np.array(ids), d))[:5]]
        got = [r["id"] for r in coll.search(q, limit=5).collect()]
        assert got == want, (layout, got, want)
        # labels must come from the LAST writer (tombstone masking
        # through the accumulated delta chain)
        got_rows = {r["id"]: r["label"] for r in coll.search(q, limit=5).collect()}
        assert got_rows == {i: state[i][1] for i in want}

    upsert_batch(0)
    coll.flush()  # full build
    fresh_files = _index_file_count(coll)
    assert fresh_files > 0
    counts = [fresh_files]
    for r in range(1, 16):
        upsert_batch(r)
        coll.flush()  # delta flush (incremental path)
        counts.append(_index_file_count(coll))
        if r % 5 == 0:
            check_parity()
    check_parity()
    # file count accrues with deltas: monotone, and bounded by
    # fresh + one batch worth of files per flush (tiny deltas pack
    # into at most one file per vector column here)
    assert counts == sorted(counts)
    assert counts[-1] > fresh_files
    assert counts[-1] <= fresh_files + 15 * max(1, fresh_files)
    # compaction folds deltas + tombstones back into a fresh pack
    coll.flush(compact=True)
    compacted_files = _index_file_count(coll)
    assert compacted_files <= fresh_files + 1, (fresh_files, compacted_files)
    check_parity()
    # and the collection still accepts and serves NEW deltas after
    upsert_batch(99)
    coll.flush()
    check_parity()


def test_grouped_and_radius_nprobe_approximate_variant(catalog):
    """Grouped/radius on ivf collections are exact SET contracts by
    default (every list scanned). The opt-in nprobe variant must be
    EXACTLY 'the exact semantics applied to the probed subset': the
    test replicates probe selection and list assignment independently
    with numpy and compares row-for-row; nprobe=n_centroids must
    equal the default exact result."""
    import numpy as np

    from coltt_spark.operators.blocks import ivf_probe_centroids

    dim, n, n_cent = 6, 200, 4
    coll = catalog.create_collection(
        "npx", dim=dim, distance="euclidean", fields=FIELDS,
        layout="ivf", ivf_centroids=n_cent, ivf_nprobe=n_cent,
        block_dtype="float64",
    )
    rows = _rows(n, dim=dim, seed=11)
    coll.upsert(rows)
    coll.flush()
    q = _rows(1, dim=dim, seed=77)[0]["vector"]

    import os

    Cn = np.load(os.path.join(coll._ivf_dir("vector"), "centroids.npy"))
    V = np.array([r["vector"] for r in rows], dtype=np.float32).astype(np.float64)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
    assigned = np.argmax(Vn @ Cn.T, axis=1)

    def expect_radius(radius, probes):
        sel = [
            (r["id"], float(np.linalg.norm(V[i] - np.asarray(q))))
            for i, r in enumerate(rows)
            if assigned[i] in probes
        ]
        return {i for i, d in sel if d <= radius}

    # full probes ≡ exact, and both equal the brute expectation
    exact = {r["id"] for r in coll.search_radius(q, 3.0).collect()}
    full = {r["id"] for r in coll.search_radius(q, 3.0, nprobe=n_cent).collect()}
    assert exact == full == expect_radius(3.0, set(range(n_cent)))
    # nprobe=1 equals the exact semantics on the probed subset, and
    # the corpus is arranged so the subset is a PROPER subset (the
    # approximation is real, not vacuous)
    p1 = set(ivf_probe_centroids(Cn, q, 1))
    approx = {r["id"] for r in coll.search_radius(q, 3.0, nprobe=1).collect()}
    assert approx == expect_radius(3.0, p1)
    assert approx < exact

    # grouped: full probes ≡ default exact, row for row
    def grouped_rows(**kw):
        return [
            (r["id"], r["type"], round(r["dist"], 9))
            for r in coll.search_grouped(q, "type", limit=8, per_group=2, **kw).collect()
        ]

    assert grouped_rows(nprobe=n_cent) == grouped_rows()
    # nprobe=1 equals the exact grouped semantics computed over only
    # the probed lists' rows
    sub = [
        (r["id"], r["type"], float(np.linalg.norm(V[i] - np.asarray(q))))
        for i, r in enumerate(rows)
        if assigned[i] in p1
    ]
    per_group: dict = {}
    for rid, typ, d in sorted(sub, key=lambda t: (t[2], t[0])):
        per_group.setdefault(typ, [])
        if len(per_group[typ]) < 2:
            per_group[typ].append((d, rid))
    survivors = sorted(
        ((d, rid, typ) for typ, lst in per_group.items() for d, rid in lst)
    )[:8]
    want = [(rid, typ) for _, rid, typ in survivors]
    got = [(rid, typ) for rid, typ, _ in grouped_rows(nprobe=1)]
    assert got == want
    assert set(got) != {
        (r["id"], r["type"])
        for r in coll.search_grouped(q, "type", limit=8, per_group=2).collect()
    } or len(got) < 8  # the approximation must differ from exact here


def test_ivf_auto_compaction_bounds_read_amplification(catalog):
    """Growth-triggered auto-compaction (diskv merge discipline,
    diskv/merge.go:40-181): once a delta-maintained IVF layout's
    per-list part-file fan-out has grown by ivf_max_list_files since
    the last full build, the NEXT flush folds the collection —
    restoring fresh-build file counts — and search results are
    identical across the trigger (nprobe=centroids ⇒ exact, so the
    centroid retrain cannot change answers)."""
    import os

    coll = catalog.create_collection(
        "autocompact_ivf", dim=6, distance="cosine", fields=FIELDS,
        layout="ivf", ivf_centroids=2, ivf_nprobe=2,
        block_dtype="float64", ivf_max_list_files=2, versioning=True,
    )
    coll.upsert(_rows(60, dim=6, seed=11))
    coll.flush()  # v1: full build — records the fan-out baseline
    base = coll.manifest.ivf_base_list_files
    assert base >= 1
    assert coll._ivf_worst_list_fanout("vector", 1) == base

    # two delta flushes: fan-out grows, tombstone manifests appear
    for i in range(2):
        coll.upsert(
            [dict(r, id=f"d{i}-{j}") for j, r in enumerate(_rows(8, dim=6, seed=20 + i))]
        )
        coll.flush()
        assert os.path.isdir(coll._tombstones_dir(coll.manifest.version)), (
            "delta flush expected before the growth threshold is hit"
        )
    grown = coll._ivf_worst_list_fanout("vector", 3)
    assert grown - base >= 2, (grown, base)

    before = sorted(
        (r["id"], round(r["dist"], 8))
        for r in coll.search(_rows(1, dim=6, seed=5)[0]["vector"], limit=10).collect()
    )
    coll.flush()  # growth ≥ threshold → auto-compacts (no new DML needed)
    v = coll.manifest.version
    assert not os.path.isdir(coll._tombstones_dir(v)), "compacted flush folds tombstones"
    assert coll._ivf_worst_list_fanout("vector", v) <= base + 1
    assert coll.manifest.ivf_base_list_files == coll._ivf_worst_list_fanout("vector", v)
    after = sorted(
        (r["id"], round(r["dist"], 8))
        for r in coll.search(_rows(1, dim=6, seed=5)[0]["vector"], limit=10).collect()
    )
    assert before == after


# -- layout="ivfpq": fused IVFADC serving (coarse lists + residual PQ
# -- codes packed per centroid; catalog.Collection._write_index/_packed_scan) --


def _exact_topk(rows_state, q, k=5, types=None):
    """Brute-force cosine top-k over a {id: row} state dict with the
    collection's normalize-at-write float32 contract and the
    |1 - dot| unit-domain scoring every packed layout uses."""
    import numpy as np

    qa = np.asarray(q, dtype=np.float64)
    qn = qa / np.linalg.norm(qa)
    scored = []
    for rid, r in rows_state.items():
        if types is not None and r["type"] not in types:
            continue
        v = np.asarray(r["vector"], dtype=np.float64)
        vn = (v / np.linalg.norm(v)).astype(np.float32).astype(np.float64)
        scored.append((abs(1.0 - float(np.dot(vn, qn))), rid))
    scored.sort(key=lambda p: (p[0], p[1]))
    return scored[:k]


def test_ivfpq_layout_serves_and_falls_back(catalog):
    """IVFADC lifecycle: with nprobe = n_centroids and refine ≥ corpus
    size the funnel passes every row to the exact rerank, so the
    served result must EQUAL the brute force (ids and distances);
    unflushed DML falls back to the row scan with the same schema;
    the on-disk index stores M uint8 codes per row (book/centroids
    sidecars present)."""
    import os

    import numpy as np

    rows = _rows(120, dim=8, seed=21)
    coll = catalog.create_collection(
        "pqcoll", dim=8, distance="cosine", fields=FIELDS,
        layout="ivfpq", ivf_centroids=4, ivf_nprobe=4,
        pq_subspaces=4, pq_codes=8, ivfpq_refine=200,
    )
    coll.upsert(rows)
    coll.flush()
    d = coll._ivf_dir("vector")
    assert os.path.isfile(os.path.join(d, "centroids.npy"))
    book = np.load(os.path.join(d, "book.npy"))
    assert book.shape == (4, 8, 2)  # (M, ks, dsub)
    q = _rows(1, dim=8, seed=99)[0]["vector"]
    got = [
        (round(r["dist"], 6), r["id"])
        for r in coll.search(q, limit=5).collect()
    ]
    state = {r["id"]: r for r in rows}
    want = [(round(dd, 6), rid) for dd, rid in _exact_topk(state, q, k=5)]
    assert got == want
    cols = coll.search(q, limit=5).columns
    assert "vector" not in cols and "score" in cols
    # filtered search evaluates the payload mask inside the ADC scan
    filt = {"index_name": "type", "op": "gte", "value": 5}
    gotf = [
        (round(r["dist"], 6), r["id"])
        for r in coll.search(q, limit=5, filter_ast=filt).collect()
    ]
    wantf = [
        (round(dd, 6), rid)
        for dd, rid in _exact_topk(state, q, k=5, types=set(range(5, 11)))
    ]
    assert gotf == wantf
    # dirty state: row-scan fallback, same column set (order is the
    # fallback's own, as on the other packed layouts)
    coll.upsert(_rows(3, dim=8, seed=4))
    assert set(coll.search(q, limit=5).columns) == set(cols)
    coll.flush()
    assert len(coll.search(q, limit=5).collect()) == 5


def test_ivfpq_refine_and_nprobe_dials(catalog):
    """The two quality dials: refine=0 serves the ADC approximation
    (distances differ from exact but ids are plausible candidates);
    growing (nprobe, refine) must reach exact recall; recall is
    monotone-ish but the endpoint equality is the hard assertion."""
    rows = _rows(150, dim=8, seed=31)
    coll = catalog.create_collection(
        "pqdial", dim=8, distance="cosine", fields=FIELDS,
        layout="ivfpq", ivf_centroids=8, ivf_nprobe=2,
        pq_subspaces=4, pq_codes=8, ivfpq_refine=20,
    )
    coll.upsert(rows)
    coll.flush()
    state = {r["id"]: r for r in rows}
    q = _rows(1, dim=8, seed=77)[0]["vector"]
    exact_ids = [rid for _, rid in _exact_topk(state, q, k=5)]
    # ADC-only: k rows, valid scores, no vector column
    adc = coll.search(q, limit=5, refine=0).collect()
    assert len(adc) == 5
    assert all(0 <= r["score"] <= 100 for r in adc)
    # full dials -> exact
    full = [
        r["id"] for r in coll.search(q, limit=5, nprobe=8, refine=200).collect()
    ]
    assert full == exact_ids
    # recall at the default dials is sane (the funnel finds most of
    # the true top-5 on 150 rows) and never exceeds the full-dial set
    part = {r["id"] for r in coll.search(q, limit=5).collect()}
    assert len(part & set(exact_ids)) >= 3


def test_incremental_ivfpq_flush_keeps_quantizers_fixed(catalog):
    """Delta flush of an ivfpq collection: coarse centroids AND
    residual codebooks byte-identical to the base build (they only
    move on compact), base code files hardlinked, tombstones written —
    and with full dials the search equals the brute force over the
    patched state. A later compact retrains both sidecars."""
    import os

    import numpy as np

    rows = _rows(200, dim=8, seed=41)
    coll = catalog.create_collection(
        "pqdelta", dim=8, distance="cosine", fields=FIELDS,
        layout="ivfpq", versioning=True, ivf_centroids=4, ivf_nprobe=4,
        pq_subspaces=4, pq_codes=8, ivfpq_refine=400,
    )
    coll.upsert(rows)
    coll.flush()  # v1: full IVFADC build
    c1 = np.load(os.path.join(coll._ivf_dir("vector", 1), "centroids.npy"))
    b1 = np.load(os.path.join(coll._ivf_dir("vector", 1), "book.npy"))
    v1_blocks = os.path.join(coll._ivf_dir("vector", 1), "blocks")

    updates = [dict(r, type=r["type"] + 100) for r in _rows(10, dim=8, seed=41)]
    inserts = [dict(r, id=f"new-{i}") for i, r in enumerate(_rows(15, dim=8, seed=43))]
    coll.upsert(updates)
    coll.upsert(inserts)
    coll.delete_where({"index_name": "type", "op": "eq", "value": 3})
    coll.flush()  # v2: delta — fixed quantizers, re-encode, append
    assert coll.manifest.version == 2
    assert np.array_equal(c1, np.load(os.path.join(coll._ivf_dir("vector", 2), "centroids.npy")))
    assert np.array_equal(b1, np.load(os.path.join(coll._ivf_dir("vector", 2), "book.npy")))
    v2_blocks = os.path.join(coll._ivf_dir("vector", 2), "blocks")
    for part in os.listdir(v1_blocks):
        pdir = os.path.join(v1_blocks, part)
        if not os.path.isdir(pdir):
            continue
        for f in os.listdir(pdir):
            if f.startswith("part-") and f.endswith(".parquet"):
                assert (
                    os.stat(os.path.join(v2_blocks, part, f)).st_ino
                    == os.stat(os.path.join(pdir, f)).st_ino
                )
    assert os.path.isdir(coll._tombstones_dir(2))

    state = {r["id"]: r for r in rows}
    for r in updates:
        state[r["id"]] = r
    for r in inserts:
        state[r["id"]] = r
    state = {k: v for k, v in state.items() if v["type"] != 3}
    q = _rows(1, dim=8, seed=5)[0]["vector"]
    got = [
        (round(r["dist"], 6), r["id"])
        for r in coll.search(q, limit=5).collect()
    ]
    want = [(round(dd, 6), rid) for dd, rid in _exact_topk(state, q, k=5)]
    assert got == want

    coll.compact()  # full rebuild retrains both quantizers
    v = coll.manifest.version
    assert os.path.isfile(os.path.join(coll._ivf_dir("vector", v), "book.npy"))
    got2 = [
        (round(r["dist"], 6), r["id"])
        for r in coll.search(q, limit=5).collect()
    ]
    assert got2 == want


def test_ivfpq_r9_review_fixes(spark, tmp_path):
    """Regression pins for the r9 review findings: (1) pagination past
    the refine budget widens the ADC cut instead of silently
    truncating the caller's limit; (2) refine=0 reports dist/score in
    the SAME |1-dot| domain as refine>0 on cosine collections (pinned
    with a codebook large enough that residual quantization is exact,
    so the ADC estimate must EQUAL the exact distance); (3)
    pq_codes > 256 is rejected loudly at create time (codes pack as
    uint8); (4) a warehouse root that itself contains a
    'centroid=<n>' path component must not shadow a block file's real
    partition directory in the ADC LUT lookup."""
    # (4): poison the warehouse path on purpose
    root = tmp_path / "centroid=3" / "wh"
    cat = Catalog(spark, str(root))
    with pytest.raises(ValueError, match="pq_codes"):
        cat.create_collection(
            "bad", dim=8, distance="cosine", fields=FIELDS,
            layout="ivfpq", pq_codes=300,
        )
    rows = _rows(12, dim=8, seed=19)
    coll = cat.create_collection(
        "pqfix", dim=8, distance="cosine", fields=FIELDS,
        layout="ivfpq", ivf_centroids=2, ivf_nprobe=2,
        pq_subspaces=4, pq_codes=16, ivfpq_refine=4,
    )
    coll.upsert(rows)
    coll.flush()
    q = _rows(1, dim=8, seed=91)[0]["vector"]
    # (1): limit 9 > refine 4 must still return 9 rows
    wide = coll.search(q, limit=9).collect()
    assert len(wide) == 9
    # (2): with 12 rows over 2 lists and ks=16, every residual is its
    # own code -> ADC is exact -> the refine=0 dists must EQUAL the
    # exact |1-dot| dists of the refined path row-for-row
    adc = {r["id"]: r["dist"] for r in coll.search(q, limit=9, refine=0).collect()}
    exact = {r["id"]: r["dist"] for r in wide}
    assert set(adc) == set(exact)
    for rid in adc:
        assert abs(adc[rid] - exact[rid]) < 1e-6, rid
    # (4) again, explicitly: the search above already scanned files
    # under .../centroid=3/wh/.../centroid=<c>/ — a first-match lookup
    # would have used luts[3] or raised KeyError


def test_ivfpq_search_batch_equals_sequential_loop(catalog):
    """Batched IVFADC serving must equal a per-query loop of search()
    ROW FOR ROW — ids, labels, and bit-exact distances — across the
    refine dial, under a metadata filter, and on a delta-maintained
    index with tombstones: the LUT batch build, the per-file query
    routing, the (adc, pk) refine cut, and the probed-lists exact
    rerank all reproduce the sequential path's deterministic order."""
    rows = _rows(160, dim=8, seed=33)
    coll = catalog.create_collection(
        "pqbatch", dim=8, distance="cosine", fields=FIELDS,
        layout="ivfpq", versioning=True, ivf_centroids=4, ivf_nprobe=2,
        pq_subspaces=4, pq_codes=8, ivfpq_refine=20,
    )
    coll.upsert(rows)
    coll.flush()
    qs = {i: rows[17 * i]["vector"] for i in range(3)}

    def check(**kw):
        got = {}
        for r in coll.search_batch(qs, limit=5, **kw).collect():
            got.setdefault(int(r["query_id"]), []).append(
                (r["id"], r["dist"], r["score"])
            )
        for qid, qv in qs.items():
            skw = {k: v for k, v in kw.items() if k != "nprobe"} | (
                {"nprobe": kw["nprobe"]} if "nprobe" in kw else {}
            )
            seq = [
                (r["id"], r["dist"], r["score"])
                for r in coll.search(qv, limit=5, **skw).collect()
            ]
            assert sorted(got.get(qid, [])) == sorted(seq), (qid, kw)

    check()
    check(refine=0)
    check(refine=100, nprobe=4)
    check(filter_ast={"index_name": "type", "op": "gte", "value": 5})
    # delta state: an upsert batch + a filter-delete, flushed
    # incrementally (frozen quantizer/book, tombstones) — batch must
    # keep equaling the loop over the patched state
    patched = [dict(r, volume=r["volume"] + 1.0) for r in rows[:12]]
    coll.upsert(patched)
    coll.delete_where({"index_name": "type", "op": "eq", "value": 3})
    coll.flush()
    check()
    check(refine=0)


class _InjectedFailure(RuntimeError):
    pass


def _fail_next_manifest_write(monkeypatch):
    """Make the next manifest write — a flush's last step, its repoint
    — raise once, as a crash right before the repoint would."""
    from coltt_spark.catalog import Collection

    real = Collection._write_manifest
    armed = [True]

    def flaky(self, *args, **kwargs):
        if armed[0]:
            armed[0] = False
            raise _InjectedFailure("manifest write failed")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(Collection, "_write_manifest", flaky)


#: dials that make a search probe every list and rerank every row, so
#: ``search(limit=400)`` returns the whole collection on every layout
_PROBE_ALL = {
    "blocks": {},
    "ivf": {"ivf_centroids": 4, "ivf_nprobe": 4},
    "ivfpq": {
        "ivf_centroids": 4, "ivf_nprobe": 4,
        "pq_subspaces": 4, "pq_codes": 8, "ivfpq_refine": 400,
    },
}


@pytest.mark.parametrize("layout", ["blocks", "ivf", "ivfpq"])
def test_failed_flush_neither_loses_nor_leaks_rows(catalog, spark, tmp_path, monkeypatch, layout):
    """A flush that fails before its manifest repoint leaves the
    collection at its old version, so (a) a retry on the same handle
    ends equal to a twin that never failed: the pending rows are not
    tombstoned as if the failed attempt had committed them; and (b) a
    handle reopened from disk, given different upserts, flushes
    without serving any row of the failed attempt, whose version
    directory it reuses along with its commit ids."""
    rows = _rows(300, dim=8, seed=61)
    q = _rows(1, dim=8, seed=62)[0]["vector"]
    pending = [dict(r, id=f"pending-{i}") for i, r in enumerate(_rows(20, dim=8, seed=63))]
    other = [dict(r, id=f"other-{i}") for i, r in enumerate(_rows(20, dim=8, seed=64))]

    def flushed(name):
        coll = catalog.create_collection(
            name, dim=8, distance="euclidean", fields=FIELDS, layout=layout,
            block_dtype="float64", **_PROBE_ALL[layout],
        )
        coll.upsert(rows)
        coll.flush()
        return coll

    def served(coll):
        return [(r["id"], round(r["dist"], 6)) for r in coll.search(q, limit=400).collect()]

    twin = flushed("twin")
    twin.upsert(pending)
    twin.flush()

    retried = flushed("retried")
    retried.upsert(pending)
    _fail_next_manifest_write(monkeypatch)
    with pytest.raises(_InjectedFailure):
        retried.flush()
    assert retried.manifest.version == 1
    retried.flush()
    assert retried.manifest.version == twin.manifest.version == 2
    assert retried.count() == twin.count() == 320
    assert served(retried) == served(twin)

    aborted = flushed("aborted")
    aborted.upsert(pending)
    _fail_next_manifest_write(monkeypatch)
    with pytest.raises(_InjectedFailure):
        aborted.flush()
    reopened = Catalog(spark, str(tmp_path / "warehouse")).get_collection("aborted")
    assert reopened.manifest.version == 1
    reopened.upsert(other)
    reopened.flush()
    ids = [pk for pk, _ in served(reopened)]
    assert reopened.count() == 320
    assert len(ids) == len(set(ids)) == 320
    assert sorted(ids) == sorted([r["id"] for r in rows] + [r["id"] for r in other])
