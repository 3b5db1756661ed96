"""Query registry: every implemented operator as a (spark, sf_dir) →
DataFrame callable, with a matching DuckDB oracle SQL string where the
semantics are SQL-expressible.

This is the driver-facing correctness surface (SURVEY §2 inventory):
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin wrappers over
:data:`QUERIES` / :data:`ORACLES`.

Conventions that make the order-insensitive value-hash comparison
stable:

- every computed column is aliased identically on both sides;
- floating-point outputs are rounded to 4 decimals on both sides
  (both engines compute in float64 over identical left-fold order, so
  pre-round values agree to ~1e-12 relative);
- top-K uses the raw distance for ordering with the primary key as a
  deterministic tie-break, mirrored in the oracle's ORDER BY.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coltt_spark.operators.search import (
    compare_dist,
    filter_search,
    filterable_vertex_search,
    multi_vector_search,
    vertex_search,
)
from coltt_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared fixtures

#: DuckDB expression for cosine distance between DOUBLE[] ``a`` and ``b``.
_DD_COS = (
    "abs(1.0 - list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
)

_QV_SQL = "SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0"


_QV_CACHE: dict[tuple[str, int], list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Deterministic query vector: the embedding of ``vec_id`` (also
    reproducible inside the oracle SQL as a CTE). Cached per sf_dir so
    repeated queries don't re-run the lookup job."""
    key = (sf_dir, vec_id)
    if key not in _QV_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _QV_CACHE[key] = list(
            emb.filter(F.col("vec_id") == vec_id).select("embedding").first()[0]
        )
    return _QV_CACHE[key]


def _rounded(df: DataFrame, cols: Sequence[str], round_cols: Sequence[str]) -> DataFrame:
    return df.select(*cols, *[F.round(c, 4).alias(c) for c in round_cols])


# ---------------------------------------------------------------------------
# KNN search family (edge VertexSearch / FilterableVertexSearch parity)


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = vertex_search(
        emb, _query_vec(spark, sf_dir), vector_col="embedding", distance="cosine", limit=10
    )
    return _rounded(res, ["vec_id", "label"], ["dist", "score"])


_ORACLE_KNN_COSINE = f"""
WITH q AS ({_QV_SQL}),
d AS (
  SELECT e.vec_id, e.label,
         {_DD_COS.format(a="e.embedding::DOUBLE[]", b="q.qv")} AS dist
  FROM embeddings e, q
)
SELECT vec_id, label, round(dist, 4) AS dist,
       round((2.0 - dist) / 2.0 * 100.0, 4) AS score
FROM d ORDER BY d.dist ASC, vec_id ASC LIMIT 10
"""


def q_knn_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = vertex_search(
        emb, _query_vec(spark, sf_dir), vector_col="embedding", distance="euclidean", limit=10
    )
    return _rounded(res, ["vec_id", "label"], ["dist", "score"])


_ORACLE_KNN_EUCLIDEAN = f"""
WITH q AS ({_QV_SQL}),
d AS (
  SELECT e.vec_id, e.label,
         sqrt(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qv),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM embeddings e, q
)
SELECT vec_id, label, round(dist, 4) AS dist,
       round(greatest(0.0, 100.0 - dist), 4) AS score
FROM d ORDER BY d.dist ASC, vec_id ASC LIMIT 10
"""


def q_knn_manhattan(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = vertex_search(
        emb, _query_vec(spark, sf_dir), vector_col="embedding", distance="manhattan", limit=10
    )
    return _rounded(res, ["vec_id", "label"], ["dist", "score"])


_ORACLE_KNN_MANHATTAN = f"""
WITH q AS ({_QV_SQL}),
d AS (
  SELECT e.vec_id, e.label,
         list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qv),
              p -> abs(p[1] - p[2]))) AS dist
  FROM embeddings e, q
)
SELECT vec_id, label, round(dist, 4) AS dist,
       round(greatest(0.0, 100.0 - dist), 4) AS score
FROM d ORDER BY d.dist ASC, vec_id ASC LIMIT 10
"""


def q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter shapes from the reference e2e goldens (AND of two + OR)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ast = {
        "op": "or",
        "expressions": [
            {
                "op": "and",
                "expressions": [
                    {"index_name": "label", "op": "gte", "value": 5},
                    {"index_name": "vec_id", "op": "lt", "value": 400},
                ],
            },
            {"index_name": "label", "op": "eq", "value": 1},
        ],
    }
    res = filterable_vertex_search(
        emb, _query_vec(spark, sf_dir), ast, vector_col="embedding", distance="cosine", limit=10
    )
    return _rounded(res, ["vec_id", "label"], ["dist", "score"])


_ORACLE_KNN_FILTERED = f"""
WITH q AS ({_QV_SQL}),
d AS (
  SELECT e.vec_id, e.label,
         {_DD_COS.format(a="e.embedding::DOUBLE[]", b="q.qv")} AS dist
  FROM embeddings e, q
  WHERE (e.label >= 5 AND e.vec_id < 400) OR e.label = 1
)
SELECT vec_id, label, round(dist, 4) AS dist,
       round((2.0 - dist) / 2.0 * 100.0, 4) AS score
FROM d ORDER BY d.dist ASC, vec_id ASC LIMIT 10
"""


def q_knn_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edge v4 offset+limit pagination (idl/proto/v4/edge.proto:122-124)."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = vertex_search(
        emb, _query_vec(spark, sf_dir), vector_col="embedding",
        distance="cosine", limit=10, offset=5,
    )
    return _rounded(res, ["vec_id", "label"], ["dist", "score"])


_ORACLE_KNN_PAGINATION = f"""
WITH q AS ({_QV_SQL}),
d AS (
  SELECT e.vec_id, e.label,
         {_DD_COS.format(a="e.embedding::DOUBLE[]", b="q.qv")} AS dist
  FROM embeddings e, q
)
SELECT vec_id, label, round(dist, 4) AS dist,
       round((2.0 - dist) / 2.0 * 100.0, 4) AS score
FROM d ORDER BY d.dist ASC, vec_id ASC LIMIT 10 OFFSET 5
"""


def q_filter_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended filter language beyond the reference's six proto ops:
    ``in`` list membership, inclusive ``between``, SQL ``like``
    patterns, and a ``not`` composite — each compiling to one pushable
    predicate on the scan."""
    docs = load_table(spark, sf_dir, "documents")
    ast = {
        "op": "and",
        "expressions": [
            {"index_name": "lang", "op": "in", "value": ["en", "de"]},
            {"index_name": "n_chars", "op": "between", "value": [150, 400]},
            {"index_name": "text", "op": "like", "value": "%window%"},
            {"op": "not", "expressions": [
                {"index_name": "source", "op": "in", "value": ["src0", "src1"]},
            ]},
        ],
    }
    return filter_search(docs, ast).select(
        "doc_id", "lang", "source", "n_chars", "score"
    )


_ORACLE_FILTER_EXTENDED = """
SELECT doc_id, lang, source, n_chars, 100.0 AS score
FROM documents
WHERE lang IN ('en', 'de')
  AND n_chars BETWEEN 150 AND 400
  AND text LIKE '%window%'
  AND NOT (source IN ('src0', 'src1'))
"""


def q_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius query (all rows within cosine distance 0.85 of the
    query) — the unbounded companion of top-K: a pure narrow filter
    over the scan, no window or shuffle at any corpus size."""
    from coltt_spark.operators.search import range_search

    emb = load_table(spark, sf_dir, "embeddings")
    res = range_search(
        emb, _query_vec(spark, sf_dir), 0.85, vector_col="embedding", distance="cosine"
    )
    return _rounded(res, ["vec_id", "label"], ["dist", "score"])


_ORACLE_RANGE_SEARCH = f"""
WITH q AS ({_QV_SQL}),
d AS (
  SELECT e.vec_id, e.label,
         {_DD_COS.format(a="e.embedding::DOUBLE[]", b="q.qv")} AS dist
  FROM embeddings e, q
)
SELECT vec_id, label, round(dist, 4) AS dist,
       round((2.0 - dist) / 2.0 * 100.0, 4) AS score
FROM d WHERE dist <= 0.85
"""


def q_filter_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure metadata query, score hardcoded 100 (core FilterSearch)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ast = {
        "op": "and",
        "expressions": [
            {"index_name": "label", "op": "neq", "value": 3},
            {"index_name": "vec_id", "op": "lte", "value": 100},
            {"index_name": "label", "op": "gt", "value": 6},
        ],
    }
    return filter_search(emb, ast).select("vec_id", "label", "score")


_ORACLE_FILTER_SEARCH = """
SELECT vec_id, label, 100.0 AS score
FROM embeddings
WHERE label <> 3 AND vec_id <= 100 AND label > 6
"""


def q_filter_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-type coercion probes: string "300" vs bigint column, float
    literal vs bigint (pkg/inverted/bitmap_index.go:99-356 semantics)."""
    docs = load_table(spark, sf_dir, "documents")
    ast = {
        "op": "and",
        "expressions": [
            {"index_name": "n_chars", "op": "gte", "value": "300"},
            {"index_name": "doc_id", "op": "lt", "value": 250.5},
            {"index_name": "lang", "op": "neq", "value": "zh"},
        ],
    }
    return filter_search(docs, ast).select("doc_id", "lang", "n_chars", "score")


_ORACLE_FILTER_COERCION = """
SELECT doc_id, lang, n_chars, 100.0 AS score
FROM documents
WHERE n_chars >= 300 AND doc_id < 250.5 AND lang <> 'zh'
"""


def q_multi_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CFLAT weighted fusion: the dim-64 embedding split into two named
    dim-32 vector fields, fused 70/30 (experimental MultiVertexSearch)."""
    emb = load_table(spark, sf_dir, "embeddings")
    two = emb.select(
        "vec_id",
        "label",
        F.slice("embedding", 1, 32).alias("head_vec"),
        F.slice("embedding", 33, 32).alias("tail_vec"),
    )
    qv = _query_vec(spark, sf_dir)
    res = multi_vector_search(
        two,
        {
            "head_vec": {"query": qv[:32], "ratio": 70, "include": True},
            "tail_vec": {"query": qv[32:], "ratio": 30, "include": True},
        },
        distance="cosine",
        limit=10,
    )
    return _rounded(res, ["vec_id", "label"], ["score"])


_ORACLE_MULTI_VECTOR = f"""
WITH q AS (
  SELECT (embedding::DOUBLE[])[1:32] AS qh, (embedding::DOUBLE[])[33:64] AS qt
  FROM embeddings WHERE vec_id = 0
),
d AS (
  SELECT e.vec_id, e.label,
         {_DD_COS.format(a="(e.embedding::DOUBLE[])[1:32]", b="q.qh")} AS dh,
         {_DD_COS.format(a="(e.embedding::DOUBLE[])[33:64]", b="q.qt")} AS dt
  FROM embeddings e, q
),
s AS (
  SELECT vec_id, label,
         (2.0 - dh) / 2.0 * 100.0 * 0.7 + (2.0 - dt) / 2.0 * 100.0 * 0.3 AS score
  FROM d
)
SELECT vec_id, label, round(score, 4) AS score
FROM s ORDER BY s.score DESC, vec_id ASC LIMIT 10
"""


def q_compare_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = compare_dist(
        spark, [1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0], distance="euclidean"
    )
    return res.select(F.round("dist", 4).alias("dist"), F.round("score", 4).alias("score"))


_ORACLE_COMPARE_DIST = """
WITH d AS (
  SELECT sqrt(list_sum(list_transform(
    list_zip([1.0, 2.0, 3.0, 4.0]::DOUBLE[], [4.0, 3.0, 2.0, 1.0]::DOUBLE[]),
    p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
)
SELECT round(dist, 4) AS dist, round(greatest(0.0, 100.0 - dist), 4) AS score FROM d
"""


# ---------------------------------------------------------------------------
# catalog DML semantics (edge Index upsert / delete paths)


_COLL_CACHE: dict[tuple[str, str], object] = {}


def _embeddings_collection(spark: SparkSession, sf_dir: str):
    """Build a collection from the embeddings table, apply an upsert
    batch (vec_id < 10 → label+100) and a filter-delete (label = 5).
    Deterministic: same final state every run — so the built fixture
    is cached per sf_dir and shared by the queries that read it (the
    measured work is the query, not re-ingesting the same batch)."""
    from coltt_spark.tmpdirs import scratch_dir

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    if (sf_dir, "euclidean") in _COLL_CACHE:
        return _COLL_CACHE[(sf_dir, "euclidean")]

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    cat = Catalog(spark, scratch_dir(prefix="coltt_wh_"))
    coll = cat.create_collection(
        "emb",
        dim=dim,
        distance="euclidean",
        fields=[
            IndexField("id", "string", primary_key=True),
            IndexField("label", "integer"),
        ],
    )
    # bulk DataFrame ingest (upsert_df): the whole batch stays
    # distributed — rows never round-trip through the driver
    base = emb.select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("label").cast("int").alias("label"),
        F.col("embedding").alias("vector"),
    )
    coll.upsert_df(base, dedupe_batch=False)
    coll.upsert_df(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").cast("string").alias("id"),
            (F.col("label") + 100).cast("int").alias("label"),
            F.col("embedding").alias("vector"),
        ),
        dedupe_batch=False,
    )
    coll.delete_where({"index_name": "label", "op": "eq", "value": 5})
    _COLL_CACHE[(sf_dir, "euclidean")] = coll
    return coll


def q_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final collection state after upsert (LWW) + filter-delete."""
    coll = _embeddings_collection(spark, sf_dir)
    return coll.df().select("id", F.col("label").cast("long").alias("label"))


_ORACLE_UPSERT_DELETE = """
WITH final AS (
  SELECT CAST(vec_id AS VARCHAR) AS id,
         CAST(CASE WHEN vec_id < 10 THEN label + 100 ELSE label END AS BIGINT) AS label
  FROM embeddings
)
SELECT id, label FROM final WHERE label <> 5
"""


def q_collection_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-after-upsert: euclidean KNN restricted to the upserted
    rows (label >= 100), exercising the full collection read path."""
    coll = _embeddings_collection(spark, sf_dir)
    res = coll.search(
        _query_vec(spark, sf_dir),
        filter_ast={"index_name": "label", "op": "gte", "value": 100},
        limit=5,
    )
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )



def q_collection_search_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped KNN (``group_by`` search — diversified results): at
    most 2 nearest rows per label, global top-10 of the survivors,
    over the upsert+delete-mutated collection state."""
    coll = _embeddings_collection(spark, sf_dir)
    res = coll.search_grouped(
        _query_vec(spark, sf_dir), "label", limit=10, per_group=2
    )
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


_ORACLE_COLLECTION_SEARCH_GROUPED = f"""
WITH q AS ({_QV_SQL}),
final AS (
  SELECT CAST(vec_id AS VARCHAR) AS id,
         CAST(CASE WHEN vec_id < 10 THEN label + 100 ELSE label END AS BIGINT) AS label,
         embedding
  FROM embeddings
),
d AS (
  SELECT id, label,
         sqrt(list_sum(list_transform(list_zip(f.embedding::DOUBLE[], q.qv),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM final f, q
  WHERE f.label <> 5
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY dist ASC, id ASC) AS rn
  FROM d
)
SELECT id, label, round(dist, 4) AS dist,
       round(greatest(0.0, 100.0 - dist), 4) AS score
FROM r WHERE rn <= 2 ORDER BY dist ASC, id ASC LIMIT 10
"""


_ORACLE_COLLECTION_SEARCH = f"""
WITH q AS ({_QV_SQL}),
d AS (
  SELECT CAST(e.vec_id AS VARCHAR) AS id, CAST(e.label + 100 AS BIGINT) AS label,
         sqrt(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qv),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM embeddings e, q
  WHERE e.vec_id < 10
)
SELECT id, label, round(dist, 4) AS dist,
       round(greatest(0.0, 100.0 - dist), 4) AS score
FROM d ORDER BY d.dist ASC, id ASC LIMIT 5
"""


def _blocks_collection(spark: SparkSession, sf_dir: str):
    """Cached layout="blocks" collection over the embeddings table
    (float64 blocks for oracle parity): upsert_df ingest, flush packs
    the written block index."""
    from coltt_spark.tmpdirs import scratch_dir

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    if (sf_dir, "blocks") not in _COLL_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        cat = Catalog(spark, scratch_dir(prefix="coltt_wh_blk_"))
        coll = cat.create_collection(
            "emb_blocks",
            dim=dim,
            distance="euclidean",
            fields=[
                IndexField("id", "string", primary_key=True),
                IndexField("label", "integer"),
            ],
            layout="blocks",
            block_dtype="float64",
        )
        coll.upsert_df(
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("label").cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.flush()  # packs the block index
        _COLL_CACHE[(sf_dir, "blocks")] = coll
    return _COLL_CACHE[(sf_dir, "blocks")]


def q_collection_search_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unfiltered KNN served from a ``layout="blocks"`` collection —
    the product-API fast path: vectors packed into the written block
    index at flush, scanned by one BLAS matvec per file through the
    node-local spool, winners joined back to the (vector-pruned)
    snapshot for metadata. float64 blocks for oracle parity; semantics
    identical to a row-layout euclidean search over the same data."""
    coll = _blocks_collection(spark, sf_dir)
    res = coll.search(_query_vec(spark, sf_dir), limit=10)
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


_ORACLE_COLLECTION_SEARCH_BLOCKS = f"""
WITH q AS ({_QV_SQL}),
d AS (
  SELECT CAST(e.vec_id AS VARCHAR) AS id, CAST(e.label AS BIGINT) AS label,
         sqrt(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qv),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM embeddings e, q
)
SELECT id, label, round(dist, 4) AS dist,
       round(greatest(0.0, 100.0 - dist), 4) AS score
FROM d ORDER BY d.dist ASC, id ASC LIMIT 10
"""


def q_collection_search_blocks_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED KNN served from the ``layout="blocks"`` fast path: the
    metadata predicate (label between 2 and 7, OR label = 9) compiles
    to a vectorized mask over each block's packed payload and the
    per-file top-k is taken over survivors — the layout keeps its
    one-matvec-per-file cost shape instead of falling back to the row
    scan (reference behavior: filtered search still scans the packed
    store restricted to candidates, edge/none_vectorstore.go:182-253).
    """
    coll = _blocks_collection(spark, sf_dir)
    res = coll.search(
        _query_vec(spark, sf_dir),
        filter_ast={
            "op": "or",
            "expressions": [
                {
                    "op": "and",
                    "expressions": [
                        {"index_name": "label", "op": "gte", "value": 2},
                        {"index_name": "label", "op": "lte", "value": 7},
                    ],
                },
                {"index_name": "label", "op": "eq", "value": 9},
            ],
        },
        limit=10,
    )
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


_ORACLE_COLLECTION_SEARCH_BLOCKS_FILTERED = f"""
WITH q AS ({_QV_SQL}),
d AS (
  SELECT CAST(e.vec_id AS VARCHAR) AS id, CAST(e.label AS BIGINT) AS label,
         sqrt(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qv),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM embeddings e, q
  WHERE (e.label >= 2 AND e.label <= 7) OR e.label = 9
)
SELECT id, label, round(dist, 4) AS dist,
       round(greatest(0.0, 100.0 - dist), 4) AS score
FROM d ORDER BY d.dist ASC, id ASC LIMIT 10
"""


def _delta_blocks_collection(spark: SparkSession, sf_dir: str):
    """Cached blocks collection maintained INCREMENTALLY: full-pack
    flush of the base corpus, then an upsert batch (vec_id < 10 →
    label+100) and a filter-delete (label = 5) flushed as a DELTA —
    base block files hardlinked, only changed rows packed, superseded
    commit ids tombstoned (catalog.Collection._write_delta_snapshot
    and the one index writer, catalog.Collection._write_index)."""
    from coltt_spark.tmpdirs import scratch_dir

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    if (sf_dir, "blocks_delta") not in _COLL_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        cat = Catalog(spark, scratch_dir(prefix="coltt_wh_delta_"))
        coll = cat.create_collection(
            "emb_delta",
            dim=dim,
            distance="euclidean",
            fields=[
                IndexField("id", "string", primary_key=True),
                IndexField("label", "integer"),
            ],
            layout="blocks",
            block_dtype="float64",
        )
        coll.upsert_df(
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("label").cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.flush()  # v1: full pack
        coll.upsert_df(
            emb.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").cast("string").alias("id"),
                (F.col("label") + 100).cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.delete_where({"index_name": "label", "op": "eq", "value": 5})
        coll.flush()  # v2: delta pack + tombstones
        _COLL_CACHE[(sf_dir, "blocks_delta")] = coll
    return _COLL_CACHE[(sf_dir, "blocks_delta")]


def q_collection_search_blocks_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN served from an incrementally maintained block index (delta
    files + hardlinked base + tombstone mask): results must equal a
    search over the equivalent fully-rebuilt state — upserted rows
    found at their new labels, deleted rows never surfacing."""
    coll = _delta_blocks_collection(spark, sf_dir)
    res = coll.search(_query_vec(spark, sf_dir), limit=10)
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


_ORACLE_COLLECTION_SEARCH_BLOCKS_DELTA = f"""
WITH q AS ({_QV_SQL}),
final AS (
  SELECT CAST(vec_id AS VARCHAR) AS id,
         CAST(CASE WHEN vec_id < 10 THEN label + 100 ELSE label END AS BIGINT) AS label,
         embedding
  FROM embeddings
),
d AS (
  SELECT id, label,
         sqrt(list_sum(list_transform(list_zip(f.embedding::DOUBLE[], q.qv),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM final f, q
  WHERE f.label <> 5
)
SELECT id, label, round(dist, 4) AS dist,
       round(greatest(0.0, 100.0 - dist), 4) AS score
FROM d ORDER BY d.dist ASC, id ASC LIMIT 10
"""


def _ivf_collection(spark: SparkSession, sf_dir: str):
    """Cached ``layout="ivf"`` cosine collection over the embeddings
    table — flush builds the md5-seeded, Lloyd-refined IVF index as
    per-centroid packed block files (probes prune by path)."""
    from coltt_spark.tmpdirs import scratch_dir

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    if (sf_dir, "ivf") not in _COLL_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        cat = Catalog(spark, scratch_dir(prefix="coltt_wh_ivf_"))
        coll = cat.create_collection(
            "emb_ivf",
            dim=dim,
            distance="cosine",
            fields=[
                IndexField("id", "string", primary_key=True),
                IndexField("label", "integer"),
            ],
            layout="ivf",
            block_dtype="float64",
        )
        coll.upsert_df(
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("label").cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.flush()  # builds the partitioned IVF index
        _COLL_CACHE[(sf_dir, "ivf")] = coll
    return _COLL_CACHE[(sf_dir, "ivf")]


def q_collection_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read (edge v4 ``versioning``): version 1 of the
    delta-maintained collection must replay the PRE-mutation state —
    the original labels, deleted rows included — straight from the
    retained snapshot (hardlinked base files + that version's
    tombstone view, ``catalog.Collection.read_version``)."""
    coll = _delta_ivf_collection(spark, sf_dir)
    return coll.read_version(1).select(
        "id", F.col("label").cast("long").alias("label")
    )


_ORACLE_COLLECTION_TIME_TRAVEL = """
SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS BIGINT) AS label
FROM embeddings
"""


def _delta_ivf_collection(spark: SparkSession, sf_dir: str):
    """Cached ivf collection maintained INCREMENTALLY: full index
    build of the base corpus, then an upsert batch (vec_id < 10 →
    label+100) and a filter-delete (label = 5) flushed as a DELTA —
    centroids FIXED, delta rows routed into the existing inverted
    lists (catalog.Collection._write_index), superseded commit
    ids tombstoned."""
    from coltt_spark.tmpdirs import scratch_dir

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    if (sf_dir, "ivf_delta") not in _COLL_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        cat = Catalog(spark, scratch_dir(prefix="coltt_wh_ivfd_"))
        coll = cat.create_collection(
            "emb_ivf_delta",
            dim=dim,
            distance="cosine",
            fields=[
                IndexField("id", "string", primary_key=True),
                IndexField("label", "integer"),
            ],
            layout="ivf",
            versioning=True,
            block_dtype="float64",
        )
        coll.upsert_df(
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("label").cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.flush()  # v1: full IVF build
        coll.upsert_df(
            emb.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").cast("string").alias("id"),
                (F.col("label") + 100).cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.delete_where({"index_name": "label", "op": "eq", "value": 5})
        coll.flush()  # v2: delta assignment + tombstones, centroids fixed
        _COLL_CACHE[(sf_dir, "ivf_delta")] = coll
    return _COLL_CACHE[(sf_dir, "ivf_delta")]


def q_collection_search_ivf_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served from an incrementally maintained IVF index (fixed
    centroids, delta rows appended into the probed partitions,
    tombstone mask): because the upserted vectors are unchanged, the
    result must equal the base-centroid probe over the patched state —
    upserted rows at their new labels, deleted rows never surfacing.
    The oracle replays the BASE k-means (seeds + Lloyd over the
    original corpus — which the delta flush keeps fixed) with the
    label patch and the delete applied."""
    coll = _delta_ivf_collection(spark, sf_dir)
    res = coll.search(_query_vec(spark, sf_dir), limit=10)
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


def q_collection_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN through the product API: an ``layout="ivf"`` collection
    serves the search from per-centroid packed block files — centroids
    ranked on the driver, path pruning selecting only the probed
    lists' files (the Spark stand-in for HNSW's sub-linear
    candidate walk, ``core/vectorindex/hnsw.go:243-278``), exact
    rerank inside through the node-local spool. Value-checked
    end-to-end: the oracle replays
    normalize-at-write + float32 cast, the md5 seed pick, one Lloyd
    round, probe ranking, and the rerank in SQL."""
    coll = _ivf_collection(spark, sf_dir)
    res = coll.search(_query_vec(spark, sf_dir), limit=10)
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


def _collection_ivf_oracle(
    *, n_centroids: int = 16, nprobe: int = 4, k: int = 10, cand_where: str = "",
    label_sql: str = "label",
) -> str:
    """SQL replay of the WHOLE ivf-collection search — the §2.4 HNSW
    row served Spark-style. Stored vectors are the collection's
    normalize-at-write float32 values (``::REAL`` cast), ids are the
    string PK (md5-compatible with the ``hash60`` seed pick), and the
    pipeline is the same seed → Lloyd → assign → probe → rerank chain
    as :func:`coltt_spark.registry_ann._ivf_oracle`."""
    nrm = "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    stored = (
        f"list_transform(embedding::DOUBLE[], x -> "
        f"CAST(CASE WHEN {nrm} > 0 THEN x / {nrm} ELSE x END AS REAL)::DOUBLE)"
    )
    u = "list_transform({v}, x -> x / greatest(sqrt(list_dot_product({v}, {v})), 1e-30))"
    dd_cos = (
        "abs(1.0 - list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )
    return f"""
WITH h AS (
  SELECT CAST(vec_id AS VARCHAR) AS id, {label_sql} AS label, {stored} AS v,
         ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM embeddings
),
nn AS (SELECT greatest(count(*) // {2 * n_centroids}, 1) AS step FROM embeddings),
seeds AS (
  SELECT v, row_number() OVER (ORDER BY hh) - 1 AS cid
  FROM h, nn WHERE hh % step = 0
  ORDER BY hh LIMIT {n_centroids}
),
c0 AS (SELECT cid, {u.format(v="v")} AS cv FROM seeds),
a0 AS (
  SELECT h.id, h.v, c.cid,
         row_number() OVER (PARTITION BY h.id
             ORDER BY list_dot_product({u.format(v="h.v")}, c.cv) DESC, c.cid ASC) AS rn
  FROM h CROSS JOIN c0 c
),
g AS (SELECT unnest(generate_series(1, (SELECT max(len(embedding)) FROM embeddings))) AS ord),
m0 AS (
  SELECT t.cid, g.ord, avg(t.v[g.ord]) AS mx
  FROM (SELECT cid, v FROM a0 WHERE rn = 1) t CROSS JOIN g
  GROUP BY t.cid, g.ord
),
c1m AS (SELECT cid, list(mx ORDER BY ord) AS mv FROM m0 GROUP BY cid),
c1 AS (
  SELECT c0.cid, COALESCE({u.format(v="c1m.mv")}, c0.cv) AS cv
  FROM c0 LEFT JOIN c1m USING (cid)
),
a1 AS (
  SELECT h.id, h.label, h.v, c.cid,
         row_number() OVER (PARTITION BY h.id
             ORDER BY list_dot_product({u.format(v="h.v")}, c.cv) DESC, c.cid ASC) AS rn
  FROM h CROSS JOIN c1 c
),
q0 AS ({_QV_SQL}),
qn AS (SELECT {u.format(v="qv")} AS q1 FROM q0),
probes AS (
  SELECT c.cid,
         row_number() OVER (ORDER BY list_dot_product({u.format(v="q1")}, c.cv) DESC, c.cid ASC) AS pr
  FROM qn CROSS JOIN c1 c
),
d AS (
  SELECT a.id, a.label, {dd_cos.format(a="a.v", b="qn.q1")} AS dist
  FROM (SELECT id, label, v, cid FROM a1 WHERE rn = 1) a
  JOIN (SELECT cid FROM probes WHERE pr <= {nprobe}) p ON a.cid = p.cid, qn
  {cand_where}
)
SELECT id, CAST(label AS BIGINT) AS label, round(dist, 4) AS dist,
       round((2.0 - dist) / 2.0 * 100.0, 4) AS score
FROM d ORDER BY d.dist ASC, id ASC LIMIT {k}
"""


def _ivfpq_collection(spark: SparkSession, sf_dir: str):
    """Cached ``layout="ivfpq"`` cosine collection over the embeddings
    table — flush builds the fused IVFADC serving index (coarse
    md5-seeded k-means + residual PQ codebooks + M uint8 codes per row
    packed into per-centroid block files; catalog.Collection._write_index)."""
    from coltt_spark.tmpdirs import scratch_dir

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    if (sf_dir, "ivfpq") not in _COLL_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        cat = Catalog(spark, scratch_dir(prefix="coltt_wh_ivfpq_"))
        coll = cat.create_collection(
            "emb_ivfpq",
            dim=dim,
            distance="cosine",
            fields=[
                IndexField("id", "string", primary_key=True),
                IndexField("label", "integer"),
            ],
            layout="ivfpq",
            block_dtype="float64",
        )
        coll.upsert_df(
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("label").cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.flush()  # builds the partitioned IVFADC code index
        _COLL_CACHE[(sf_dir, "ivfpq")] = coll
    return _COLL_CACHE[(sf_dir, "ivfpq")]


def _ivfpq_opq_collection(spark: SparkSession, sf_dir: str):
    """Cached ``layout="ivfpq", opq=True`` cosine collection — same
    geometry as :func:`_ivfpq_collection`, but flush additionally
    trains an orthogonal OPQ rotation (Ge et al. 2014) on a
    deterministic residual sample and rotate-encodes every residual in
    the same Arrow pass (catalog.Collection._quantizer;
    operators.pq.opq_train_np). Queries rotate their residuals before
    the LUT build; the exact rerank stays in the raw space."""
    from coltt_spark.tmpdirs import scratch_dir

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    if (sf_dir, "ivfpq_opq") not in _COLL_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        cat = Catalog(spark, scratch_dir(prefix="coltt_wh_ivfpqopq_"))
        coll = cat.create_collection(
            "emb_ivfpq_opq",
            dim=dim,
            distance="cosine",
            fields=[
                IndexField("id", "string", primary_key=True),
                IndexField("label", "integer"),
            ],
            layout="ivfpq",
            opq=True,
            block_dtype="float64",
        )
        coll.upsert_df(
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("label").cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.flush()  # trains rotation + codebooks, packs ROTATED codes
        _COLL_CACHE[(sf_dir, "ivfpq_opq")] = coll
    return _COLL_CACHE[(sf_dir, "ivfpq_opq")]


def _delta_ivfpq_collection(spark: SparkSession, sf_dir: str):
    """Cached ivfpq collection maintained INCREMENTALLY (the ivf-delta
    discipline extended to the codebooks): full IVFADC build of the
    base corpus, then an upsert batch (vec_id < 10 → label+100) and a
    filter-delete (label = 5) flushed as a DELTA — coarse centroids
    AND residual codebooks FROZEN, delta rows re-encoded against them
    into per-centroid delta code files, superseded commits
    tombstoned (catalog.Collection._write_index)."""
    from coltt_spark.tmpdirs import scratch_dir

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    if (sf_dir, "ivfpq_delta") not in _COLL_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        cat = Catalog(spark, scratch_dir(prefix="coltt_wh_ivfpqd_"))
        coll = cat.create_collection(
            "emb_ivfpq_delta",
            dim=dim,
            distance="cosine",
            fields=[
                IndexField("id", "string", primary_key=True),
                IndexField("label", "integer"),
            ],
            layout="ivfpq",
            versioning=True,
            block_dtype="float64",
        )
        coll.upsert_df(
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("label").cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.flush()  # v1: full IVFADC build (quantizer + codebooks)
        coll.upsert_df(
            emb.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").cast("string").alias("id"),
                (F.col("label") + 100).cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        coll.delete_where({"index_name": "label", "op": "eq", "value": 5})
        coll.flush()  # v2: delta re-encode + tombstones, book frozen
        _COLL_CACHE[(sf_dir, "ivfpq_delta")] = coll
    return _COLL_CACHE[(sf_dir, "ivfpq_delta")]


def q_collection_search_ivfpq_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC served from an incrementally maintained index (frozen
    coarse quantizer AND residual codebooks, delta rows re-encoded
    into per-centroid delta code files, tombstone mask): because the
    upserted vectors are unchanged and the encode is deterministic
    against the frozen book, the delta rows re-encode to the SAME
    codes — so the ADC funnel, the refine cut, and the exact rerank
    must all equal the base-index search over the patched state:
    upserted rows at their new labels, deleted rows never surfacing
    (masked BEFORE the refine cut, exactly like the engine's scan
    tombstones). The oracle replays the base build with the label
    patch applied and the delete filtered ahead of the ADC rank."""
    coll = _delta_ivfpq_collection(spark, sf_dir)
    res = coll.search(_query_vec(spark, sf_dir), limit=10)
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


def q_collection_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Billion-scale ANN through the product API: a ``layout="ivfpq"``
    collection serves the search from per-centroid PACKED CODE files —
    M uint8 bytes per row instead of dim·4 (the IVFADC layout, Jégou
    et al. 2011; the reference declares PQ as a collection
    quantization and never implements it,
    ``idl/proto/v3/core.proto:105-112``). The probe path prunes to the
    nprobe nearest lists, ADC-scores their codes against per-(query,
    list) residual LUTs through the node-local spool, and exact-reranks
    only the top ``refine`` candidates via one broadcast join back to
    the snapshot vectors. Value-checked end-to-end: the oracle replays
    normalize-at-write, coarse k-means, residuals, residual-PQ
    training, encode, probe order, per-list LUTs, the ordered ADC
    fold, the (adc, pk) refine cut, and the exact rerank in SQL."""
    coll = _ivfpq_collection(spark, sf_dir)
    res = coll.search(_query_vec(spark, sf_dir), limit=10)
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


def _ivfpq_coarse_sql(*, n_centroids: int = 16, label_sql: str = "label") -> str:
    """Shared CTE prefix of the ivfpq-collection oracles: stored
    vectors (normalize-at-write + float32 cast), the md5-seeded coarse
    k-means replay (seed -> assign -> one Lloyd mean -> re-assign) and
    each row's residual against its final coarse centroid — everything
    upstream of PQ encoding, identical between the plain replay
    (_collection_ivfpq_oracle) and the OPQ replay
    (_collection_ivfpq_opq_oracle)."""
    nrm = "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    stored = (
        f"list_transform(embedding::DOUBLE[], x -> "
        f"CAST(CASE WHEN {nrm} > 0 THEN x / {nrm} ELSE x END AS REAL)::DOUBLE)"
    )
    u = "list_transform({v}, x -> x / greatest(sqrt(list_dot_product({v}, {v})), 1e-30))"
    return f"""
WITH h AS (
  SELECT CAST(vec_id AS VARCHAR) AS id, {label_sql} AS label, {stored} AS v,
         ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS hh
  FROM embeddings
),
len_d AS (SELECT max(len(embedding)) AS dim FROM embeddings),
nn AS (SELECT greatest(count(*) // {2 * n_centroids}, 1) AS step FROM embeddings),
seeds AS (
  SELECT v, row_number() OVER (ORDER BY hh) - 1 AS cid
  FROM h, nn WHERE hh % step = 0
  ORDER BY hh LIMIT {n_centroids}
),
c0 AS (SELECT cid, {u.format(v="v")} AS cv FROM seeds),
a0 AS (
  SELECT h.id, h.v, c.cid,
         row_number() OVER (PARTITION BY h.id
             ORDER BY list_dot_product({u.format(v="h.v")}, c.cv) DESC, c.cid ASC) AS rn
  FROM h CROSS JOIN c0 c
),
g AS (SELECT unnest(generate_series(1, (SELECT dim FROM len_d))) AS ord),
m0 AS (
  SELECT t.cid, g.ord, avg(t.v[g.ord]) AS mx
  FROM (SELECT cid, v FROM a0 WHERE rn = 1) t CROSS JOIN g
  GROUP BY t.cid, g.ord
),
c1m AS (SELECT cid, list(mx ORDER BY ord) AS mv FROM m0 GROUP BY cid),
c1 AS (
  SELECT c0.cid, COALESCE({u.format(v="c1m.mv")}, c0.cv) AS cv
  FROM c0 LEFT JOIN c1m USING (cid)
),
a1 AS (
  SELECT h.id, h.label, h.v, c.cid,
         row_number() OVER (PARTITION BY h.id
             ORDER BY list_dot_product({u.format(v="h.v")}, c.cv) DESC, c.cid ASC) AS rn
  FROM h CROSS JOIN c1 c
),
res AS (
  SELECT a.id, a.cid AS ccid,
         list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2]) AS rv
  FROM (SELECT id, v, cid FROM a1 WHERE rn = 1) a
  JOIN c1 c ON c.cid = a.cid
)"""


def _collection_ivfpq_oracle(
    *,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 8,
    n_codes: int = 16,
    refine: int = 50,
    k: int = 10,
    label_sql: str = "label",
    cand_where: str = "",
    batch_ids: tuple[int, ...] | None = None,
) -> str:
    """SQL replay of the WHOLE ivfpq-collection search: the
    collection-flavored coarse k-means of
    :func:`_collection_ivf_oracle` (stored vectors = normalize-at-write
    + float32 cast, string-PK md5 seeds), the residual-PQ chain of
    :func:`coltt_spark.registry_ann._ivfpq_oracle` re-keyed by the
    string PK, per-query probe order, per-(query, probed-centroid)
    residual LUTs, the ordered ADC fold, the top-``refine`` cut by
    (adc, pk), and the exact ``|1 − dot|`` rerank on the stored unit
    vectors. Same float-parity argument as those two oracles: every
    heavy sum is a sequential double fold on both sides (the scan's
    ADC accumulates left-to-right over subspaces for exactly this
    reason), k-means/Lloyd averages drift only at ~1e-16, and the
    output distances are exact stored-vector dots, so values match
    after ``round(4)``.

    ``label_sql`` patches the label column at the source (the delta
    entry's upsert rewrites labels while vectors — and therefore
    centroid assignments, codes, ADC ranks — stay identical), and
    ``cand_where`` masks deleted rows BEFORE the refine-cut
    ``row_number`` (the engine's scan tombstones remove them before
    any ADC candidate ranking)."""
    m, ks = n_subspaces, n_codes
    dsub_sql = f"(len_d.dim // {m})"
    sq = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    nrm = "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    stored = (
        f"list_transform(embedding::DOUBLE[], x -> "
        f"CAST(CASE WHEN {nrm} > 0 THEN x / {nrm} ELSE x END AS REAL)::DOUBLE)"
    )
    u = "list_transform({v}, x -> x / greatest(sqrt(list_dot_product({v}, {v})), 1e-30))"
    head = _ivfpq_coarse_sql(
        n_centroids=n_centroids, label_sql=label_sql
    ) + f""",
pnn AS (SELECT greatest(count(*) // {2 * ks}, 1) AS step FROM embeddings),
pseeds AS (
  SELECT r.rv AS v, row_number() OVER (ORDER BY h.hh) - 1 AS cid
  FROM res r JOIN h ON h.id = r.id, pnn
  WHERE h.hh % step = 0
  ORDER BY h.hh LIMIT {ks}
),
ms AS (SELECT unnest(generate_series(0, {m - 1})) AS m),
rs AS (
  SELECT r.id, r.ccid, ms.m,
         r.rv[ms.m * {dsub_sql} + 1 : (ms.m + 1) * {dsub_sql}] AS sv
  FROM res r CROSS JOIN ms, len_d
),
pb0 AS (
  SELECT s.cid, ms.m,
         s.v[ms.m * {dsub_sql} + 1 : (ms.m + 1) * {dsub_sql}] AS cv
  FROM pseeds s CROSS JOIN ms, len_d
),
pa0 AS (
  SELECT rs.id, rs.m, b.cid, rs.sv,
         row_number() OVER (PARTITION BY rs.id, rs.m
             ORDER BY {sq.format(a="rs.sv", b="b.cv")} ASC, b.cid ASC) AS rn
  FROM rs JOIN pb0 b ON b.m = rs.m
),
pg AS (SELECT unnest(generate_series(1, (SELECT dim // {m} FROM len_d))) AS ord),
pm0 AS (
  SELECT t.m, t.cid, pg.ord, avg(t.sv[pg.ord]) AS mx
  FROM (SELECT m, cid, sv FROM pa0 WHERE rn = 1) t CROSS JOIN pg
  GROUP BY t.m, t.cid, pg.ord
),
pb1m AS (SELECT m, cid, list(mx ORDER BY ord) AS mv FROM pm0 GROUP BY m, cid),
pb1 AS (
  SELECT pb0.m, pb0.cid, COALESCE(pb1m.mv, pb0.cv) AS cv
  FROM pb0 LEFT JOIN pb1m ON pb1m.m = pb0.m AND pb1m.cid = pb0.cid
),
pa1 AS (
  SELECT rs.id, rs.ccid, rs.m, b.cid,
         row_number() OVER (PARTITION BY rs.id, rs.m
             ORDER BY {sq.format(a="rs.sv", b="b.cv")} ASC, b.cid ASC) AS rn
  FROM rs JOIN pb1 b ON b.m = rs.m
)"""
    if batch_ids is not None:
        # batched tail: the corpus-side CTEs above are query-independent;
        # everything from the probe ranking down gains a query_id key —
        # the SQL replay of Collection.search_batch's ivfpq path, whose
        # engine-side cut is the SAME (adc, pk) row_number per query as
        # the sequential search (pinned batch ≡ loop in test_catalog)
        ids_sql = ", ".join(str(int(i)) for i in batch_ids)
        return f"""{head},
q0 AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN ({ids_sql})
),
qn AS (SELECT query_id, {u.format(v="qv")} AS q1 FROM q0),
prb AS (
  SELECT query_id, cid AS ccid FROM (
    SELECT qn.query_id, c.cid,
           row_number() OVER (PARTITION BY qn.query_id
               ORDER BY list_dot_product({u.format(v="q1")}, c.cv) DESC, c.cid ASC) AS pr
    FROM qn CROSS JOIN c1 c
  ) WHERE pr <= {nprobe}
),
qres AS (
  SELECT p.query_id, p.ccid,
         list_transform(list_zip(qn.q1, c.cv), p2 -> p2[1] - p2[2]) AS qr
  FROM prb p
  JOIN c1 c ON c.cid = p.ccid
  JOIN qn ON qn.query_id = p.query_id
),
qsub AS (
  SELECT q.query_id, q.ccid, ms.m,
         q.qr[ms.m * {dsub_sql} + 1 : (ms.m + 1) * {dsub_sql}] AS qsv
  FROM qres q CROSS JOIN ms, len_d
),
lut AS (
  SELECT q.query_id, q.ccid, q.m, b.cid, {sq.format(a="q.qsv", b="b.cv")} AS d
  FROM qsub q JOIN pb1 b ON b.m = q.m
),
adc AS (
  SELECT l.query_id, a.id, sqrt(list_sum(list(l.d ORDER BY l.m))) AS dist
  FROM (SELECT id, ccid, m, cid FROM pa1 WHERE rn = 1) a
  JOIN lut l ON l.ccid = a.ccid AND l.m = a.m AND l.cid = a.cid
  GROUP BY l.query_id, a.id
),
r1 AS (
  SELECT adc.query_id, adc.id, adc.dist,
         row_number() OVER (PARTITION BY adc.query_id
             ORDER BY adc.dist ASC, adc.id ASC) AS rn
  FROM adc JOIN (SELECT id, label FROM a1 WHERE rn = 1) a ON a.id = adc.id
  {cand_where}
),
refined AS (
  SELECT r.query_id, r.id, a.label,
         abs(1.0 - list_dot_product(a.v, qn.q1)) AS dist
  FROM r1 r
  JOIN (SELECT id, label, v FROM a1 WHERE rn = 1) a ON a.id = r.id
  JOIN qn ON qn.query_id = r.query_id
  WHERE r.rn <= {refine}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
      ORDER BY dist ASC, id ASC) AS rn2
  FROM refined
)
SELECT query_id, id, CAST(label AS BIGINT) AS label, round(dist, 4) AS dist,
       round((2.0 - dist) / 2.0 * 100.0, 4) AS score
FROM ranked WHERE rn2 <= {k}
"""
    return f"""{head},
q0 AS ({_QV_SQL}),
qn AS (SELECT {u.format(v="qv")} AS q1 FROM q0),
prb AS (
  SELECT cid AS ccid FROM (
    SELECT c.cid,
           row_number() OVER (
               ORDER BY list_dot_product({u.format(v="q1")}, c.cv) DESC, c.cid ASC) AS pr
    FROM qn CROSS JOIN c1 c
  ) WHERE pr <= {nprobe}
),
qres AS (
  SELECT p.ccid,
         list_transform(list_zip(qn.q1, c.cv), p2 -> p2[1] - p2[2]) AS qr
  FROM prb p JOIN c1 c ON c.cid = p.ccid, qn
),
qsub AS (
  SELECT q.ccid, ms.m,
         q.qr[ms.m * {dsub_sql} + 1 : (ms.m + 1) * {dsub_sql}] AS qsv
  FROM qres q CROSS JOIN ms, len_d
),
lut AS (
  SELECT q.ccid, q.m, b.cid, {sq.format(a="q.qsv", b="b.cv")} AS d
  FROM qsub q JOIN pb1 b ON b.m = q.m
),
adc AS (
  SELECT a.id, sqrt(list_sum(list(l.d ORDER BY l.m))) AS dist
  FROM (SELECT id, ccid, m, cid FROM pa1 WHERE rn = 1) a
  JOIN lut l ON l.ccid = a.ccid AND l.m = a.m AND l.cid = a.cid
  GROUP BY a.id
),
r1 AS (
  SELECT adc.id, adc.dist,
         row_number() OVER (ORDER BY adc.dist ASC, adc.id ASC) AS rn
  FROM adc JOIN (SELECT id, label FROM a1 WHERE rn = 1) a ON a.id = adc.id
  {cand_where}
),
refined AS (
  SELECT r.id, a.label,
         abs(1.0 - list_dot_product(a.v, qn.q1)) AS dist
  FROM r1 r
  JOIN (SELECT id, label, v FROM a1 WHERE rn = 1) a ON a.id = r.id, qn
  WHERE r.rn <= {refine}
)
SELECT id, CAST(label AS BIGINT) AS label, round(dist, 4) AS dist,
       round((2.0 - dist) / 2.0 * 100.0, 4) AS score
FROM refined ORDER BY dist ASC, id ASC LIMIT {k}
"""


def q_collection_search_ivfpq_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with an OPQ rotation through the PRODUCT surface
    (VERDICT r10 #2 — the operator half shipped in r10, this is the
    Collection wiring): ``create_collection(layout="ivfpq", opq=True)``
    trains an orthogonal rotation that balances residual variance
    across the PQ subspaces (Ge et al. 2014, "Optimized Product
    Quantization"; the reference declares PQ and never implements it,
    ``idl/proto/v3/core.proto:105-112``), stores it as rotation.npy
    beside the codebooks, rotate-encodes every stored residual, and
    rotates the query residual before each probed list's LUT — while
    the refine rerank keeps scoring RAW vectors (rotation-invariant
    distances). The oracle replays serving end-to-end in SQL with the
    trained (R, book) inlined as constant tables: training's
    Procrustes step is an SVD no SQL engine expresses, so the
    independence boundary sits exactly at training (the constants are
    derived by the deterministic trainer on a DuckDB-replayed residual
    sample — see _opq_collection_constants)."""
    coll = _ivfpq_opq_collection(spark, sf_dir)
    res = coll.search(_query_vec(spark, sf_dir), limit=10)
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


#: The driver's correctness gate (and the local pytest mirror) runs
#: oracles against this scale factor only — the one place a LAZY
#: oracle may read data from to derive inlineable constants.
_SF_GATE = "/root/testdata/sf0.01"


def _sql_double_list(vals) -> str:
    """Python float sequence -> DuckDB DOUBLE[] literal. ``repr`` emits
    the shortest round-trip decimal, and DuckDB's DECIMAL/scientific
    literals cast to DOUBLE by correct rounding, so the parsed values
    equal the original float64s bit-for-bit."""
    return "[" + ", ".join(repr(float(x)) for x in vals) + "]::DOUBLE[]"


_OPQ_CONSTS_CACHE: dict[str, tuple[str, str]] = {}


def _opq_collection_arrays(sf_dir: str = _SF_GATE):
    """Numeric (R, book) of the gate OPQ collection, derived the
    oracle's way (DuckDB-replayed residual sample -> opq_train_np).
    Split out of :func:`_opq_collection_constants` so a parity test
    can np.allclose these against the collection's persisted
    rotation.npy/book.npy — a fragile training run (near-tie k-means
    assignment, Procrustes sign flip cascading into divergent books)
    then fails loudly instead of surfacing as a gate hash mismatch
    (ADVICE r11)."""
    import hashlib

    import numpy as np

    from coltt_spark.operators.pq import opq_train_np
    from coltt_spark.oracle import duckdb_conn

    con = duckdb_conn(sf_dir)
    try:
        rows = con.execute(
            _ivfpq_coarse_sql() + "\nSELECT r.id, r.rv FROM res r"
        ).fetchall()
    finally:
        con.close()
    # opq_sample replay: hash60(id) % step == 0, Python-sorted by the
    # string PK — the engine's deterministic driver-side sample rule
    step = max(1, len(rows) // 16384)
    keep = sorted(
        (
            (i, v)
            for i, v in rows
            if int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % step == 0
        ),
        key=lambda t: t[0],
    )
    X = np.array([v for _, v in keep], dtype=np.float64)
    return opq_train_np(X, n_subspaces=8, n_codes=16)


def _opq_collection_constants(sf_dir: str = _SF_GATE) -> tuple[str, str]:
    """Derive the OPQ collection's (rotation, codebook) as SQL VALUES
    rows — training replayed OUTSIDE SQL, serving replayed IN SQL.
    OPQ's Procrustes step is an SVD, which SQL cannot express, so the
    oracle's independence boundary sits exactly at training: the
    residual sample is produced by DuckDB running the SAME
    coarse-k-means replay the oracle itself trusts (sequential-fold
    parity with the engine, drift <= 1e-15 from avg fold order), the
    deterministic trainer (:func:`~coltt_spark.operators.pq.opq_train_np`
    — identity init, sample-row seeds, fixed iteration counts) maps it
    to (R, book), and everything downstream — rotate, encode, probe,
    LUT, ADC, refine cut, exact rerank — is independent SQL over the
    inlined constants (VERDICT r10 next #2: "the oracle inlines R as a
    constant table exactly like the codebooks"). Engine/oracle
    training inputs drift only in the last float bit, so code and
    probe DECISIONS are stable and the output distances are exact
    stored-vector dots either way."""
    if sf_dir in _OPQ_CONSTS_CACHE:
        return _OPQ_CONSTS_CACHE[sf_dir]
    rot, book = _opq_collection_arrays(sf_dir)
    rot_vals = ",\n".join(
        f"({i}, {_sql_double_list(rot[i])})" for i in range(rot.shape[0])
    )
    book_vals = ",\n".join(
        f"({mi}, {ci}, {_sql_double_list(book[mi, ci])})"
        for mi in range(book.shape[0])
        for ci in range(book.shape[1])
    )
    _OPQ_CONSTS_CACHE[sf_dir] = (rot_vals, book_vals)
    return _OPQ_CONSTS_CACHE[sf_dir]


def _opq_funnel_sql(sf_dir: str = _SF_GATE, *, qv_sql: str = _QV_SQL) -> str:
    """The OPQ ivfpq-collection serving replay as a CTE chain ending
    in ``refined``(id, label, dist) — the exact-reranked candidate
    pool. Shared by :func:`_collection_ivfpq_opq_oracle` (top-k cut)
    and the hybrid-fusion oracle (rank leg). Structure: the shared
    coarse replay (:func:`_ivfpq_coarse_sql`), residuals rotated
    through the inlined ``rot`` table by plain join-index-sum-regroup
    (no multi-column list lambdas — the documented DuckDB 1.0
    misalignment hazard), encode against the inlined ``pb1``
    codebook, then the identical probe/LUT/ADC/refine tail as the
    plain oracle with the query residual rotated the same way.
    Constants mirror the fixture: 16 lists, nprobe 4, M=8, ks=16,
    refine 50."""
    rot_vals, book_vals = _opq_collection_constants(sf_dir)
    m, nprobe, refine = 8, 4, 50
    dsub_sql = f"(len_d.dim // {m})"
    sq = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    u = "list_transform({v}, x -> x / greatest(sqrt(list_dot_product({v}, {v})), 1e-30))"
    return f"""{_ivfpq_coarse_sql()},
ms AS (SELECT unnest(generate_series(0, {m - 1})) AS m),
rotg AS (SELECT unnest(generate_series(0, (SELECT dim FROM len_d) - 1)) AS j),
rot(i, rl) AS (VALUES
{rot_vals}),
rres AS (
  SELECT t.id, t.ccid, list(t.comp ORDER BY t.j) AS rv
  FROM (
    SELECT r.id, r.ccid, rotg.j,
           sum(r.rv[rot.i + 1] * rot.rl[rotg.j + 1]) AS comp
    FROM res r CROSS JOIN rot CROSS JOIN rotg
    GROUP BY r.id, r.ccid, rotg.j
  ) t GROUP BY t.id, t.ccid
),
rs AS (
  SELECT r.id, r.ccid, ms.m,
         r.rv[ms.m * {dsub_sql} + 1 : (ms.m + 1) * {dsub_sql}] AS sv
  FROM rres r CROSS JOIN ms, len_d
),
pb1(m, cid, cv) AS (VALUES
{book_vals}),
pa1 AS (
  SELECT rs.id, rs.ccid, rs.m, b.cid,
         row_number() OVER (PARTITION BY rs.id, rs.m
             ORDER BY {sq.format(a="rs.sv", b="b.cv")} ASC, b.cid ASC) AS rn
  FROM rs JOIN pb1 b ON b.m = rs.m
),
q0 AS ({qv_sql}),
qn AS (SELECT {u.format(v="qv")} AS q1 FROM q0),
prb AS (
  SELECT cid AS ccid FROM (
    SELECT c.cid,
           row_number() OVER (
               ORDER BY list_dot_product({u.format(v="q1")}, c.cv) DESC, c.cid ASC) AS pr
    FROM qn CROSS JOIN c1 c
  ) WHERE pr <= {nprobe}
),
qres AS (
  SELECT p.ccid,
         list_transform(list_zip(qn.q1, c.cv), p2 -> p2[1] - p2[2]) AS qr
  FROM prb p JOIN c1 c ON c.cid = p.ccid, qn
),
qrexp AS (
  SELECT q.ccid, rotg.j, sum(q.qr[rot.i + 1] * rot.rl[rotg.j + 1]) AS comp
  FROM qres q CROSS JOIN rot CROSS JOIN rotg
  GROUP BY q.ccid, rotg.j
),
qrot AS (SELECT ccid, list(comp ORDER BY j) AS qr FROM qrexp GROUP BY ccid),
qsub AS (
  SELECT q.ccid, ms.m,
         q.qr[ms.m * {dsub_sql} + 1 : (ms.m + 1) * {dsub_sql}] AS qsv
  FROM qrot q CROSS JOIN ms, len_d
),
lut AS (
  SELECT q.ccid, q.m, b.cid, {sq.format(a="q.qsv", b="b.cv")} AS d
  FROM qsub q JOIN pb1 b ON b.m = q.m
),
adc AS (
  SELECT a.id, sqrt(list_sum(list(l.d ORDER BY l.m))) AS dist
  FROM (SELECT id, ccid, m, cid FROM pa1 WHERE rn = 1) a
  JOIN lut l ON l.ccid = a.ccid AND l.m = a.m AND l.cid = a.cid
  GROUP BY a.id
),
r1 AS (
  SELECT adc.id, adc.dist,
         row_number() OVER (ORDER BY adc.dist ASC, adc.id ASC) AS rn
  FROM adc JOIN (SELECT id, label FROM a1 WHERE rn = 1) a ON a.id = adc.id
),
refined AS (
  SELECT r.id, a.label,
         abs(1.0 - list_dot_product(a.v, qn.q1)) AS dist
  FROM r1 r
  JOIN (SELECT id, label, v FROM a1 WHERE rn = 1) a ON a.id = r.id, qn
  WHERE r.rn <= {refine}
)"""


def _collection_ivfpq_opq_oracle(sf_dir: str = _SF_GATE) -> str:
    """SQL replay of the OPQ ivfpq-collection search — the shared
    funnel (:func:`_opq_funnel_sql`) + the top-10 exact cut. Stored in
    :data:`ORACLES` as a CALLABLE and materialized lazily
    (oracle.check_query / __spark_entry__.oracle_sql) because the
    inlined (R, book) constants derive from the gate data — see
    :func:`_opq_collection_constants` for the independence argument."""
    return (
        _opq_funnel_sql(sf_dir)
        + """
SELECT id, CAST(label AS BIGINT) AS label, round(dist, 4) AS dist,
       round((2.0 - dist) / 2.0 * 100.0, 4) AS score
FROM refined ORDER BY dist ASC, id ASC LIMIT 10
"""
    )


def q_collection_hybrid_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HybridSearch at scale through the product API: metadata filter
    ∩ ANN candidates (the intended semantics of the reference's
    HybridSearch, ``core/core.go:760-839`` — which computes but drops
    its filter) served from the IVF index, where metadata lives IN
    the per-centroid packed block payloads so the filter evaluates as
    a vectorized mask inside the path-pruned probe scan.
    Value-checked by the same SQL replay as
    collection_search_ivf with the candidate filter applied."""
    coll = _ivf_collection(spark, sf_dir)
    res = coll.search(
        _query_vec(spark, sf_dir),
        filter_ast={"index_name": "label", "op": "gte", "value": 5},
        limit=10,
    )
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


def q_collection_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk KNN through the product API: all queries answered in ONE
    job from the packed block index (one BLAS ``X @ Qᵀ`` per file) —
    the serving shape whose per-query cost amortizes toward memory
    bandwidth (~0.02 s/query at batch 64 on the 1M bench, the
    reference's parallel-scan envelope). Metadata rides with each
    file's winners from the packed payload, and one window keyed by
    query_id cuts them to the top ``limit`` by (dist, id)."""
    coll = _blocks_collection(spark, sf_dir)
    qs = _queries_from_embeddings_map(spark, sf_dir, (0, 1, 2))
    res = coll.search_batch(qs, limit=5)
    return res.select(
        "query_id",
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


def q_collection_search_ivfpq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVFADC through the product API: all queries answered in
    ONE job over the union of their probed lists' packed CODE files —
    per-(query, list) residual LUTs built in one oracle-matched numpy
    batch, each file ADC-scored only for the queries probing its list
    (the ivf batch contract), the B·refine candidates cut per query by
    (adc, pk) exactly like the sequential path, and the exact rerank
    path-pruned to the probed lists' vector files. Engine-side batch ≡
    per-query loop is pinned in tests; here the oracle replays the
    WHOLE pipeline per query_id in SQL (the multi-query tail of the
    collection ivfpq oracle)."""
    coll = _ivfpq_collection(spark, sf_dir)
    qs = _queries_from_embeddings_map(spark, sf_dir, (0, 1, 2))
    res = coll.search_batch(qs, limit=5)
    return res.select(
        "query_id",
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


def q_collection_search_batch_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered bulk KNN: the whole batch restricted to matching rows
    WITHOUT leaving the packed index — the filter compiles to a
    block-local payload mask applied before each file's ``X @ Qᵀ``
    top-k, so the batch keeps its one-matmul-per-file cost shape."""
    coll = _blocks_collection(spark, sf_dir)
    qs = _queries_from_embeddings_map(spark, sf_dir, (0, 1, 2))
    res = coll.search_batch(
        qs, limit=5, filter_ast={"index_name": "label", "op": "gte", "value": 5}
    )
    return res.select(
        "query_id",
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


_ORACLE_COLLECTION_SEARCH_BATCH_FILTERED = """
WITH qs AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
),
d AS (
  SELECT q.query_id, CAST(e.vec_id AS VARCHAR) AS id,
         CAST(e.label AS BIGINT) AS label,
         sqrt(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qv),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM embeddings e, qs q
  WHERE e.label >= 5
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, id ASC) AS rn
  FROM d
)
SELECT query_id, id, label, round(dist, 4) AS dist,
       round(greatest(0.0, 100.0 - dist), 4) AS score
FROM r WHERE rn <= 5
"""


def _queries_from_embeddings_map(spark: SparkSession, sf_dir: str, ids=(0, 1, 2)):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("vec_id").isin(*ids)).select("vec_id", "embedding").collect()
    return {int(r["vec_id"]): list(r["embedding"]) for r in rows}


_ORACLE_COLLECTION_SEARCH_BATCH = """
WITH qs AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
),
d AS (
  SELECT q.query_id, CAST(e.vec_id AS VARCHAR) AS id,
         CAST(e.label AS BIGINT) AS label,
         sqrt(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], q.qv),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS dist
  FROM embeddings e, qs q
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, id ASC) AS rn
  FROM d
)
SELECT query_id, id, label, round(dist, 4) AS dist,
       round(greatest(0.0, 100.0 - dist), 4) AS score
FROM r WHERE rn <= 5
"""


def _quantized_collection(spark: SparkSession, sf_dir: str, kind: str):
    """Cached ``kind``-quantized collection over the embeddings table."""
    from coltt_spark.tmpdirs import scratch_dir

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    if (sf_dir, kind) not in _COLL_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        cat = Catalog(spark, scratch_dir(prefix=f"coltt_wh_{kind}_"))
        coll = cat.create_collection(
            f"emb_{kind}",
            dim=dim,
            distance="cosine",
            quantization=kind,
            fields=[
                IndexField("id", "string", primary_key=True),
                IndexField("label", "integer"),
            ],
        )
        coll.upsert_df(
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("label").cast("int").alias("label"),
                F.col("embedding").alias("vector"),
            ),
            dedupe_batch=False,
        )
        _COLL_CACHE[(sf_dir, kind)] = coll
    return _COLL_CACHE[(sf_dir, kind)]


def _quantized_knn(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Cosine KNN over a ``kind``-quantized collection (edge treats
    f16/bf16/f8 stores as peers of the float store —
    ``edge/vectorstore.go:69-80``). Value-checked end-to-end: the
    oracle (:func:`_quantized_oracle`) replays normalize-at-write, the
    float32 cast, the exact f16/bf16/f8 rounding, and the
    decompress-then-dot search in SQL; precision/recall floors are
    additionally covered per-kind by tests/test_quantization."""
    coll = _quantized_collection(spark, sf_dir, kind)
    res = coll.search(_query_vec(spark, sf_dir), limit=10)
    return res.select(
        "id",
        F.col("label").cast("long").alias("label"),
        F.round("dist", 4).alias("dist"),
        F.round("score", 4).alias("score"),
    )


def _sql_dequantized(kind: str, col: str) -> str:
    """SQL expression reproducing quantize→dequantize of a float32
    list EXACTLY (bit-for-bit vs functions/quantization.py, verified
    over 24k values incl. subnormals/ties/clamps).

    Every step is exact double arithmetic: a float32 value is exactly
    representable as DOUBLE, power-of-two scaling is exact, and the
    scaled significand (≤ 2^11) makes ``floor``/comparisons/products
    exact — so round-to-nearest-even (f16/bf16), E4M3FN's
    round-half-up mantissa with RNE subnormals, and the 448 clamp all
    replay without rounding drift. ``floor(log2 |x|)`` gets a ±1
    correction step because libm's log2 is only faithfully rounded.
    """
    mant = {"f16": 10, "bf16": 7, "f8": 3}[kind]
    lo = {"f16": -14, "bf16": -126, "f8": -6}[kind]
    t0 = (
        f"list_transform({col}, x -> struct_pack(x := x, "
        f"e := CASE WHEN x = 0 THEN 0.0 ELSE floor(log2(abs(x))) END))"
    )
    t1 = (
        f"list_transform({t0}, p -> struct_pack(x := p.x, ee := greatest("
        f"CASE WHEN abs(p.x) < power(2.0, p.e) THEN p.e - 1 "
        f"WHEN abs(p.x) >= power(2.0, p.e + 1) THEN p.e + 1 ELSE p.e END, {lo}.0)))"
    )
    t2 = (
        f"list_transform({t1}, p -> struct_pack(x := p.x, ee := p.ee, "
        f"y := abs(p.x) * power(2.0, {mant} - p.ee)))"
    )
    fy, r = "floor(p.y)", "(p.y - floor(p.y))"
    if kind in ("f16", "bf16"):
        inc = f"(CASE WHEN {r} > 0.5 THEN 1 WHEN {r} < 0.5 THEN 0 ELSE CAST({fy} AS BIGINT) % 2 END)"
        val = f"(sign(p.x) * ({fy} + {inc}) * power(2.0, p.ee - {mant}))"
    else:
        inc_up = f"(CASE WHEN {r} >= 0.5 THEN 1 ELSE 0 END)"
        inc_rne = f"(CASE WHEN {r} > 0.5 THEN 1 WHEN {r} < 0.5 THEN 0 ELSE CAST({fy} AS BIGINT) % 2 END)"
        m = (
            f"(CASE WHEN p.ee = -6 AND abs(p.x) < power(2.0, -6) "
            f"THEN least({fy} + {inc_rne}, 7) ELSE {fy} + {inc_up} END)"
        )
        val = f"(sign(p.x) * least({m} * power(2.0, p.ee - 3), 448.0))"
    return f"list_transform({t2}, p -> CASE WHEN p.x = 0 THEN 0.0 ELSE {val} END)"


def _quantized_oracle(kind: str) -> str:
    """Replay the whole quantized-collection search in SQL: cosine
    normalize-at-write in double (sequential fold, bit-identical to
    Spark's ``F.aggregate``), cast to float32 (``::REAL``, RNE — same
    as Spark's ``cast("float")``), quantize→dequantize via
    :func:`_sql_dequantized`, then ``|1 − dot(stored, normalized
    query)|`` like the reference's decompress-then-float32-similarity
    contract (``edge/f16_quantization.go:35-45``). Tie-break is the
    string primary key, matching ``_paginate_topk``."""
    nrm = "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    stored32 = (
        f"list_transform(embedding::DOUBLE[], x -> "
        f"CAST(CASE WHEN {nrm} > 0 THEN x / {nrm} ELSE x END AS REAL)::DOUBLE)"
    )
    if kind == "bq":
        # sign bits of the normalized float32 values, decoded back to
        # the ±1/√dim unit pattern exactly as _bq_decode does (the
        # per-element float32 value is REAL(1/sqrt(dim)), symmetric in
        # sign)
        pos = "CAST(1.0 / sqrt(CAST(len(embedding) AS DOUBLE)) AS REAL)::DOUBLE"
        decoded = (
            f"list_transform({stored32}, x -> "
            f"CASE WHEN x > 0 THEN {pos} ELSE -{pos} END)"
        )
    elif kind == "sq8":
        # per-vector symmetric int8: s = max|x| over the float32 row
        # (exact — max of float32 values, no arithmetic), code =
        # sign(y)·floor(|y|+0.5) with y = x/s·127 in double (same
        # op order as _sq8_codes), decode = REAL(code·s/127). The
        # whole chain is exact double arithmetic.
        qnrm = "sqrt(list_dot_product(qv, qv))"
        dec = (
            "CASE WHEN s > 0 THEN list_transform(v, x -> "
            "CAST(sign(x) * floor(abs(x / s * 127.0) + 0.5) * s / 127.0 "
            "AS REAL)::DOUBLE) ELSE v END"
        )
        return f"""
WITH q0 AS ({_QV_SQL}),
qn AS (SELECT list_transform(qv, x -> x / {qnrm}) AS qv FROM q0),
s0 AS (
  SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS BIGINT) AS label,
         {stored32} AS v
  FROM embeddings
),
s1 AS (
  SELECT id, label, v, list_max(list_transform(v, x -> abs(x))) AS s FROM s0
),
stored AS (SELECT id, label, {dec} AS v FROM s1),
d AS (
  SELECT id, label, abs(1.0 - list_dot_product(s.v, qn.qv)) AS dist
  FROM stored s, qn
)
SELECT id, label, round(dist, 4) AS dist,
       round((2.0 - dist) / 2.0 * 100.0, 4) AS score
FROM d ORDER BY d.dist ASC, id ASC LIMIT 10
"""
    else:
        decoded = _sql_dequantized(kind, stored32)
    qnrm = "sqrt(list_dot_product(qv, qv))"
    return f"""
WITH q0 AS ({_QV_SQL}),
qn AS (SELECT list_transform(qv, x -> x / {qnrm}) AS qv FROM q0),
stored AS (
  SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS BIGINT) AS label,
         {decoded} AS v
  FROM embeddings
),
d AS (
  SELECT id, label, abs(1.0 - list_dot_product(s.v, qn.qv)) AS dist
  FROM stored s, qn
)
SELECT id, label, round(dist, 4) AS dist,
       round((2.0 - dist) / 2.0 * 100.0, 4) AS score
FROM d ORDER BY d.dist ASC, id ASC LIMIT 10
"""


def q_knn_f16(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quantized_knn(spark, sf_dir, "f16")


def q_knn_bf16(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quantized_knn(spark, sf_dir, "bf16")


def q_knn_f8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quantized_knn(spark, sf_dir, "f8")


def q_knn_bq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine KNN over a binary-quantized (1 bit/element) collection —
    the ``BQ`` enum member the reference declares but never implements
    (``idl/proto/v3/core.proto:105-112``), served through the same
    decompress-then-similarity contract as f16/bf16/f8: stored sign
    bits decode to the ±1/√dim unit pattern, ranked by cosine against
    the normalized query. The oracle replays the sign bits and the
    REAL(1/√dim) decode exactly."""
    return _quantized_knn(spark, sf_dir, "bq")


def q_knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine KNN over an int8 scalar-quantized collection — the
    per-vector symmetric SQ8 convention (float32 max-|x| scale header
    + 1 byte/element), completing the quantization family next to
    f16/bf16/f8/bq. Served through the identical
    decompress-then-float-similarity contract
    (``edge/f16_quantization.go:35-45``); the oracle replays scale
    extraction, the fixed-order double rounding, and the REAL decode
    exactly."""
    return _quantized_knn(spark, sf_dir, "sq8")


def q_knn_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine KNN over the columnar wide layout (one double column per
    dimension) — identical semantics to ``knn_cosine`` (same oracle),
    executed as a whole-stage-codegen multiply-add chain with no
    per-row array allocation."""
    from coltt_spark.operators.search import vertex_search_wide, widen_vectors

    q = _query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    wide = widen_vectors(emb, vector_col="embedding", dim=len(q))
    res = vertex_search_wide(wide, q, distance="cosine", limit=10, tie_break="vec_id")
    return _rounded(res, ["vec_id", "label"], ["dist", "score"])


def q_knn_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine KNN over the packed block-matrix layout (~32k vectors
    per row as one contiguous buffer, scanned by one BLAS matvec per
    block) — identical semantics to ``knn_cosine`` (same oracle).
    float64 blocks for oracle parity; metadata (``label``) is
    recovered by broadcasting the 10 winners into a PK join, the
    lookup a block index needs anyway because it stores only
    (id, vector)."""
    from coltt_spark.functions.vector import score as score_expr
    from coltt_spark.operators.blocks import block_topk, pack_blocks

    q = _query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    blocks = pack_blocks(
        emb, id_col="vec_id", vec_col="embedding", dim=len(q), dtype="float64"
    )
    top = block_topk(blocks, q, dim=len(q), k=10, distance="cosine", dtype="float64")
    res = (
        emb.select("vec_id", "label")
        .join(F.broadcast(top.withColumnRenamed("id", "vec_id")), on="vec_id")
        .withColumn("score", score_expr("cosine", F.col("dist")))
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    )
    return _rounded(res, ["vec_id", "label"], ["dist", "score"])


def q_knn_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase quantized-rank → exact-rerank cosine KNN (the SURVEY
    §4 optimization). Phase 1 scans an f16 copy (half the bytes) and
    keeps 4·k candidates; phase 2 reranks them at full precision, so
    the result — and the oracle — is identical to exact ``knn_cosine``
    as long as the coarse top-4k contains the true top-k (f16 error
    ~5e-4 relative, orders of magnitude under the rank-40 margin)."""
    from coltt_spark.operators.search import two_phase_topk

    emb = load_table(spark, sf_dir, "embeddings")
    res = two_phase_topk(
        emb,
        _query_vec(spark, sf_dir),
        vector_col="embedding",
        kind="f16",
        distance="cosine",
        limit=10,
        expand=4,
        tie_break="vec_id",
    )
    return _rounded(res, ["vec_id", "label"], ["dist", "score"])


# ---------------------------------------------------------------------------
# registry

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "knn_cosine": q_knn_cosine,
    "knn_euclidean": q_knn_euclidean,
    "knn_manhattan": q_knn_manhattan,
    "knn_filtered": q_knn_filtered,
    "range_search": q_range_search,
    "filter_extended": q_filter_extended,
    "knn_pagination": q_knn_pagination,
    "filter_search": q_filter_search,
    "filter_coercion": q_filter_coercion,
    "multi_vector_search": q_multi_vector,
    "compare_dist": q_compare_dist,
    "upsert_delete": q_upsert_delete,
    "collection_search": q_collection_search,
    "collection_search_grouped": q_collection_search_grouped,
    "collection_search_blocks": q_collection_search_blocks,
    "collection_search_blocks_filtered": q_collection_search_blocks_filtered,
    "collection_search_blocks_delta": q_collection_search_blocks_delta,
    "collection_search_ivf_delta": q_collection_search_ivf_delta,
    "collection_time_travel": q_collection_time_travel,
    "collection_search_batch": q_collection_search_batch,
    "collection_search_batch_filtered": q_collection_search_batch_filtered,
    "collection_search_ivf": q_collection_search_ivf,
    "collection_search_ivfpq": q_collection_search_ivfpq,
    "collection_search_ivfpq_batch": q_collection_search_ivfpq_batch,
    "collection_search_ivfpq_delta": q_collection_search_ivfpq_delta,
    "collection_search_ivfpq_opq": q_collection_search_ivfpq_opq,
    "collection_hybrid_ivf": q_collection_hybrid_ivf,
    "knn_f16": q_knn_f16,
    "knn_bf16": q_knn_bf16,
    "knn_f8": q_knn_f8,
    "knn_bq": q_knn_bq,
    "knn_sq8": q_knn_sq8,
    "knn_two_phase": q_knn_two_phase,
    "knn_wide": q_knn_wide,
    "knn_block": q_knn_block,
}

# values are SQL strings, or zero/one-arg callables returning the SQL
# (lazy oracles whose inlined constants derive from the gate data) —
# materialized by oracle.check_query and __spark_entry__.oracle_sql
ORACLES: dict[str, str | Callable[..., str]] = {
    "knn_cosine": _ORACLE_KNN_COSINE,
    "knn_euclidean": _ORACLE_KNN_EUCLIDEAN,
    "knn_manhattan": _ORACLE_KNN_MANHATTAN,
    "knn_filtered": _ORACLE_KNN_FILTERED,
    "range_search": _ORACLE_RANGE_SEARCH,
    "filter_extended": _ORACLE_FILTER_EXTENDED,
    "knn_pagination": _ORACLE_KNN_PAGINATION,
    "filter_search": _ORACLE_FILTER_SEARCH,
    "filter_coercion": _ORACLE_FILTER_COERCION,
    "multi_vector_search": _ORACLE_MULTI_VECTOR,
    "compare_dist": _ORACLE_COMPARE_DIST,
    "upsert_delete": _ORACLE_UPSERT_DELETE,
    "collection_search": _ORACLE_COLLECTION_SEARCH,
    "collection_search_grouped": _ORACLE_COLLECTION_SEARCH_GROUPED,
    "collection_search_blocks": _ORACLE_COLLECTION_SEARCH_BLOCKS,
    "collection_search_blocks_filtered": _ORACLE_COLLECTION_SEARCH_BLOCKS_FILTERED,
    "collection_search_blocks_delta": _ORACLE_COLLECTION_SEARCH_BLOCKS_DELTA,
    "collection_time_travel": _ORACLE_COLLECTION_TIME_TRAVEL,
    "collection_search_batch": _ORACLE_COLLECTION_SEARCH_BATCH,
    "collection_search_batch_filtered": _ORACLE_COLLECTION_SEARCH_BATCH_FILTERED,
    "collection_search_ivf": _collection_ivf_oracle(),
    "collection_search_ivf_delta": _collection_ivf_oracle(
        label_sql="CASE WHEN vec_id < 10 THEN label + 100 ELSE label END",
        cand_where="WHERE a.label <> 5",
    ),
    "collection_hybrid_ivf": _collection_ivf_oracle(cand_where="WHERE a.label >= 5"),
    "collection_search_ivfpq": _collection_ivfpq_oracle(),
    "collection_search_ivfpq_batch": _collection_ivfpq_oracle(
        k=5, batch_ids=(0, 1, 2)
    ),
    "collection_search_ivfpq_delta": _collection_ivfpq_oracle(
        label_sql="CASE WHEN vec_id < 10 THEN label + 100 ELSE label END",
        cand_where="WHERE a.label <> 5",
    ),
    # stored as a CALLABLE, materialized lazily: the inlined (R, book)
    # constants derive from the gate data (see _opq_collection_constants)
    "collection_search_ivfpq_opq": _collection_ivfpq_opq_oracle,
    "knn_f16": _quantized_oracle("f16"),
    "knn_bf16": _quantized_oracle("bf16"),
    "knn_f8": _quantized_oracle("f8"),
    "knn_bq": _quantized_oracle("bq"),
    "knn_sq8": _quantized_oracle("sq8"),
    "knn_two_phase": _ORACLE_KNN_COSINE,
    "knn_wide": _ORACLE_KNN_COSINE,
    "knn_block": _ORACLE_KNN_COSINE,
}

# merge section registries (dedup, text analysis, ann, analytics, …)
from coltt_spark.registry_analytics import ANALYTICS_ORACLES, ANALYTICS_QUERIES  # noqa: E402
from coltt_spark.registry_ann import ANN_ORACLES, ANN_QUERIES  # noqa: E402
from coltt_spark.registry_dedup import DEDUP_ORACLES, DEDUP_QUERIES  # noqa: E402
from coltt_spark.registry_media import MEDIA_ORACLES, MEDIA_QUERIES  # noqa: E402
from coltt_spark.registry_schemaless import SCHEMALESS_ORACLES, SCHEMALESS_QUERIES  # noqa: E402
from coltt_spark.registry_text import TEXT_ORACLES, TEXT_QUERIES  # noqa: E402

QUERIES.update(DEDUP_QUERIES)
ORACLES.update(DEDUP_ORACLES)
QUERIES.update(TEXT_QUERIES)
ORACLES.update(TEXT_ORACLES)
QUERIES.update(ANN_QUERIES)
ORACLES.update(ANN_ORACLES)
QUERIES.update(ANALYTICS_QUERIES)
ORACLES.update(ANALYTICS_ORACLES)
QUERIES.update(MEDIA_QUERIES)
ORACLES.update(MEDIA_ORACLES)
QUERIES.update(SCHEMALESS_QUERIES)
ORACLES.update(SCHEMALESS_ORACLES)

from coltt_spark.registry_pipeline import PIPELINE_ORACLES, PIPELINE_QUERIES  # noqa: E402

QUERIES.update(PIPELINE_QUERIES)
ORACLES.update(PIPELINE_ORACLES)

from coltt_spark.registry_streaming import (  # noqa: E402
    STREAMING_ORACLES,
    STREAMING_QUERIES,
)

QUERIES.update(STREAMING_QUERIES)
# streaming ∘ ivfpq composition (VERDICT r10 #8): the query lives in
# registry_streaming; its oracle is the ivfpq-collection replay with
# the delta fixture's label patch + tombstone mask — generated here
# because registry_streaming loads before _collection_ivfpq_oracle
from coltt_spark.registry_streaming import q_stream_ingest_ivfpq  # noqa: E402

QUERIES["stream_ingest_ivfpq"] = q_stream_ingest_ivfpq
ORACLES["stream_ingest_ivfpq"] = _collection_ivfpq_oracle(
    k=5,
    batch_ids=(0, 1, 2),
    label_sql="CASE WHEN vec_id < 10 THEN label + 100 ELSE label END",
    cand_where="WHERE a.label <> 5",
)
ORACLES.update(STREAMING_ORACLES)

from coltt_spark.registry_fulltext import (  # noqa: E402
    FULLTEXT_ORACLES,
    FULLTEXT_QUERIES,
)

QUERIES.update(FULLTEXT_QUERIES)
ORACLES.update(FULLTEXT_ORACLES)

# ---------------------------------------------------------------------------
# Driver-window ordering. The driver's correctness gate hash-checks only
# the FIRST `_DRIVER_WINDOW` keys of ``queries()``, so dict order is
# verification priority. It is derived from the gate's own history
# (``CORRECTNESS_r*.json`` at the repo root) by `driver_order`; the only
# hand-kept input is `_TOUCHED`.

_DRIVER_WINDOW = 50

#: key -> driver round in which its implementation last changed (one
#: past the newest history file when the change lands). A key leads the
#: window until the driver checks it green in that round or later, so
#: an entry never needs clearing.
_TOUCHED: dict[str, int] = {
    "events_sessionize": 15,  # gap precision
    # MinHashIndex moved onto the versioned store
    "dedup_minhash_delta": 15,
    "dedup_minhash_delta_bytes": 15,
    "dedup_minhash_delta_canonical": 15,
    "stream_dedup_index": 15,
    # TextIndex moved onto the versioned store
    "bm25_indexed": 15,
    "bm25_index_deleted": 15,
    "bm25_index_merged": 15,
    "collection_hybrid_text": 15,
    "collection_hybrid_ivfpq": 15,
    "collection_hybrid_ivfpq_batch": 15,
    # one packed-scan kernel for single and batch reads
    "collection_search_blocks": 15,
    "collection_search_blocks_filtered": 15,
    "collection_search_blocks_delta": 15,
    "collection_search_ivf": 15,
    "collection_search_ivf_delta": 15,
    "collection_search_ivfpq": 15,
    "collection_search_ivfpq_delta": 15,
    "collection_search_ivfpq_opq": 15,
    "collection_search_batch": 15,
    "collection_search_batch_filtered": 15,
    "collection_search_ivfpq_batch": 15,
    "collection_hybrid_ivf": 15,
    "knn_block": 15,
    "stream_ingest_ivfpq": 15,
    # Collection flushes through store.Version (every key reading a
    # collection; the rest are listed above)
    "collection_search": 15,
    "collection_search_grouped": 15,
    "knn_bf16": 15,
    "knn_bq": 15,
    "knn_f16": 15,
    "knn_f8": 15,
    "knn_sq8": 15,
    "stream_ingest": 15,
    # the top-k sort order is a memoized Seq (prepared packed scan)
    "knn_cosine": 15,
    "knn_euclidean": 15,
    "knn_filtered": 15,
    "knn_manhattan": 15,
    "knn_pagination": 15,
    # one LUT builder for PQ and IVF-PQ
    "ann_pq": 15,
    "ann_ivfpq": 15,
}


def driver_order(
    keys: Sequence[str], history_dir: str | Path, touched: dict[str, int]
) -> list[str]:
    """Order ``keys`` (registration order) by driver-check priority.

    A check is green when its rows, schema and hash match and ``err``
    is null. First come the ``touched`` keys whose round is later than
    their last green check, in ``touched`` order; then keys never
    checked green, in registration order; then the rest by last green
    round, oldest first, ties broken by position in that round's file.
    History keys absent from ``keys`` are ignored; a ``touched`` key
    absent from ``keys`` raises."""
    unknown = [k for k in touched if k not in keys]
    if unknown:
        raise ValueError(f"touched keys not in the registry: {unknown}")
    last_green: dict[str, tuple[int, int]] = {}
    rounds = {
        int(p.stem.rpartition("_r")[2]): p
        for p in Path(history_dir).glob("CORRECTNESS_r*.json")
    }
    for rnd in sorted(rounds):
        checks = json.loads(rounds[rnd].read_text())
        for pos, (key, c) in enumerate(checks.items()):
            green = c["rows_match"] and c["schema_match"] and c["hash_match"]
            if green and c["err"] is None:
                last_green[key] = (rnd, pos)
    first = [
        k for k, rnd in touched.items() if rnd > last_green.get(k, (0,))[0]
    ]
    rest = [k for k in keys if k not in first]
    never = [k for k in rest if k not in last_green]
    seen = sorted((k for k in rest if k in last_green), key=last_green.get)
    return first + never + seen


QUERIES = {
    k: QUERIES[k]
    for k in driver_order(
        list(QUERIES), Path(__file__).resolve().parents[1], _TOUCHED
    )
}
ORACLES = {k: ORACLES[k] for k in QUERIES if k in ORACLES}


def prewarm_fixtures(spark: SparkSession, sf_dir: str) -> None:
    """Build every CACHED ingest fixture the registry queries share —
    the typed/quantized/blocked collections, the schemaless base
    views, and the shingle table — so per-query timings measure the
    QUERY against a warm store (the posture of the reference's
    numbers, which scan an already-built in-memory shard). Ingest
    cost doesn't vanish: bench.py reports it as fixture_build_sec.

    Fixtures run as independent CHAINS on a small thread pool
    (optimization guide §2.6 — overlap independent jobs): each build
    is dozens of tiny sequential local jobs that leave most cores
    idle, so sequential prewarm was wall-clock-bound by the job-floor
    tail, not by work (measured 115 s solo sequential at sf0.1;
    chains overlap to ~the longest chain). A chain is the unit of
    ordering: fixtures that share a sub-fixture or artifact live in
    ONE chain in dependency order, so no cache is ever raced. Every
    chain failure propagates (future.result), preserving the loud
    sequential failure behavior; results are the same per-sf_dir
    module caches, built exactly once each."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from coltt_spark.registry_ann import _ivfpq_index, _kmeans_fixture, _pq_book
    from coltt_spark.registry_dedup import (
        _MINHASH_BYTES_INDEX_CACHE,
        _MINHASH_INDEX_CACHE,
        _dedup_groups_table,
        _doc_shingles,
        q_dedup_minhash_delta,
        q_dedup_minhash_delta_bytes,
    )
    from coltt_spark.registry_fulltext import (
        _text_index,
        q_bm25_index_deleted,
        q_bm25_index_merged,
    )
    from coltt_spark.registry_media import (
        _av_sig_fixture,
        _media_feats,
        _video_sig_fixture,
    )
    from coltt_spark.registry_pipeline import q_jsonl_roundtrip
    from coltt_spark.registry_schemaless import _docs_collection, _emb_schemaless
    from coltt_spark.registry_streaming import (
        _STREAM_MHIDX_CACHE,
        _streamed_collection,
        _streamed_ivfpq_collection,
        q_stream_dedup_index,
    )
    from coltt_spark.registry_text import (
        _bpe_bytes_fixture,
        _bpe_bytes_pretok_fixture,
        _bpe_fixture,
        _unigram_fixture,
        _unigram_pruned_fixture,
        _unigram_soft_fixture,
        _wordpiece_fixture,
    )

    def _minhash_idx():
        # frozen MinHash signature index (the incremental-dedup corpus
        # side); the registry key then times the DELTA probe against it
        if sf_dir not in _MINHASH_INDEX_CACHE:
            q_dedup_minhash_delta(spark, sf_dir).take(1)

    def _minhash_bytes_idx():
        # byte-shingle twin (script-agnostic incremental dedup)
        if sf_dir not in _MINHASH_BYTES_INDEX_CACHE:
            q_dedup_minhash_delta_bytes(spark, sf_dir).take(1)

    def _stream_mhidx():
        # streamed MinHashIndex (three availableNow replays: build +
        # two merges) — the key then reads the landed pairs artifact
        if sf_dir not in _STREAM_MHIDX_CACHE:
            q_stream_dedup_index(spark, sf_dir).take(1)

    chains: list[list] = [
        # flat/blocked/ivf collection family (each its own catalog dir)
        [
            _embeddings_collection,
            _blocks_collection,
            _delta_blocks_collection,
            _delta_ivf_collection,
            _ivf_collection,
        ],
        # the PQ-quantized product surface
        [
            _ivfpq_collection,
            _ivfpq_opq_collection,
            _delta_ivfpq_collection,
            _streamed_ivfpq_collection,
        ],
        # quantized row stores + the fused IVF-PQ ANN index
        # (_ivfpq_index is independent of _pq_book/_kmeans_fixture
        # build-wise, but they share the ANN registry module caches —
        # keep them one chain)
        [
            lambda s, d: [_quantized_collection(s, d, k) for k in ("f16", "bf16", "f8", "bq", "sq8")],
            _pq_book,
            _kmeans_fixture,
            _ivfpq_index,
            _streamed_collection,
        ],
        # dedup artifacts: the shingle table feeds the groups table;
        # the MinHash indexes and the streamed index share the
        # dedup-module corpora
        [
            _doc_shingles,
            _dedup_groups_table,
            lambda s, d: _minhash_idx(),
            lambda s, d: _minhash_bytes_idx(),
            lambda s, d: _stream_mhidx(),
        ],
        # tokenizer training fixtures (driver-sequential argmax jobs)
        [
            _bpe_fixture,
            _bpe_bytes_fixture,
            _bpe_bytes_pretok_fixture,
            _unigram_fixture,
            _unigram_pruned_fixture,
        ],
        [
            _wordpiece_fixture,
            _unigram_soft_fixture,
            _media_feats,
            q_jsonl_roundtrip,
            _docs_collection,
            _emb_schemaless,
        ],
        # fulltext indexes + media fingerprint tables
        [
            lambda s, d: _text_index(s, d),
            lambda s, d: _text_index(s, d, str_ids=True),
            q_bm25_index_merged,
            q_bm25_index_deleted,
            _video_sig_fixture,
            _av_sig_fixture,
        ],
    ]

    def run_chain(chain):
        for step in chain:
            step(spark, sf_dir)

    # inheritable_thread_target(session) is a DECORATOR only when the
    # py4j gateway runs in pinned-thread ClientServer mode (the Spark
    # 3.2+/4.x default). With PYSPARK_PIN_THREAD=false it returns the
    # session object itself, and calling that raises TypeError — fall
    # back to the bare target (local properties are then simply not
    # inherited, which these chains never rely on). ADVICE r13.
    wrapper = inheritable_thread_target(spark)
    target = wrapper(run_chain) if callable(wrapper) else run_chain

    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = [pool.submit(target, c) for c in chains]
        for f in futures:
            f.result()
