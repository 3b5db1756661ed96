"""Search operators — the reference's query surface, as DataFrame plans.

Reference parity (SURVEY §2.4):

- ``vertex_search``  ⇔ edge ``VertexSearch`` (FLAT exhaustive KNN,
  ``edge/none_vectorstore.go:129-180``): 16 shard goroutines each keep a
  bounded priority queue, then merge. Spark expresses the identical
  physical pattern declaratively: ``ORDER BY dist LIMIT k`` compiles to
  ``TakeOrderedAndProject`` — per-partition top-K, merge of K·P rows at
  the driver. No shuffle of the scanned data, scales to any partition
  count.
- ``filterable_vertex_search`` ⇔ ``FilterableVertexSearch``
  (``edge/none_vectorstore.go:182-253``): predicate first, score only
  survivors. Catalyst pushes the compiled predicate into the Parquet
  scan, which replaces the roaring-bitmap candidate set.
- ``filter_search`` ⇔ core ``FilterSearch`` (``core/core.go:697-758``):
  pure metadata query, hardcoded score 100.
- ``multi_vector_search`` ⇔ experimental CFLAT ``MultiVertexSearch``
  (``experimental/multi_vector_vertex.go:85-137``): per-field weighted
  score fusion, ratios must sum to 100
  (``experimental/experimental_analyzer.go:143-154``).
- ``compare_dist`` ⇔ ``CompareDist`` (``core/core.go:841-867``).

Results are sorted best-first (ascending raw distance) with the primary
key as deterministic tie-break; ``offset``/``limit`` paginate like
edge v4 (``idl/proto/v4/edge.proto:122-124``). The reference edge heap
has an eviction inversion (SURVEY §2.4 note) — this implements the
intended true top-K.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from coltt_spark.filters import compile_filter
from coltt_spark.functions.memo import sort_memo
from coltt_spark.functions.vector import score as score_expr
from coltt_spark.functions.vector import sql_double, vector_distance


def _paginate_topk(scored: DataFrame, limit: int, offset: int, tie_break: str) -> DataFrame:
    """True top-(offset+limit) then slice — compiles to a single
    TakeOrderedAndProject (per-partition top-K + driver merge); the
    offset is applied on the ≤ offset+limit collected rows, never on
    the full scan."""
    ordered = sort_memo(
        scored, f"search.topk_order{tie_break!r}",
        lambda: [F.col("dist").asc(), F.col(tie_break).asc()],
    )
    if offset:
        return ordered.offset(offset).limit(limit)
    return ordered.limit(limit)


def vertex_search(
    df: DataFrame,
    query: Sequence[float],
    *,
    vector_col: str = "vector",
    distance: str = "cosine",
    limit: int = 10,
    offset: int = 0,
    tie_break: str | None = None,
) -> DataFrame:
    """FLAT exhaustive KNN: distance to ``query`` over every row,
    best-first top-K with pagination. Adds ``dist`` and ``score``."""
    tie_break = tie_break or df.columns[0]
    scored = df.withColumn("dist", vector_distance(distance, F.col(vector_col), list(query)))
    return _paginate_topk(scored, limit, offset, tie_break).withColumn(
        "score", score_expr(distance, F.col("dist"))
    )


def range_search(
    df: DataFrame,
    query: Sequence[float],
    radius: float,
    *,
    vector_col: str = "vector",
    distance: str = "cosine",
) -> DataFrame:
    """Radius query: every row with ``dist ≤ radius`` of the query —
    the vector-DB companion of top-K (unbounded result set, caller
    filters/aggregates downstream). Adds ``dist`` and ``score``.

    Scale shape: a pure narrow filter over the scan — no window, no
    shuffle, no top-K state; the predicate is applied per partition
    and survives any corpus size. (The reference's FLAT scans bound
    by score; the radius form is the same scan with the comparison
    inverted — ``edge/none_vectorstore.go`` scan-and-threshold
    shape.)"""
    scored = df.withColumn(
        "dist", vector_distance(distance, F.col(vector_col), list(query))
    )
    return scored.filter(F.col("dist") <= F.lit(float(radius))).withColumn(
        "score", score_expr(distance, F.col("dist"))
    )


def filterable_vertex_search(
    df: DataFrame,
    query: Sequence[float],
    filter_ast: dict[str, Any],
    *,
    vector_col: str = "vector",
    distance: str = "cosine",
    limit: int = 10,
    offset: int = 0,
    tie_break: str | None = None,
) -> DataFrame:
    """Filtered KNN: compile the filter AST, push it below the scoring
    projection (Catalyst sinks it into the scan), then top-K."""
    return vertex_search(
        df.filter(compile_filter(df, filter_ast)),
        query,
        vector_col=vector_col,
        distance=distance,
        limit=limit,
        offset=offset,
        tie_break=tie_break,
    )


def filter_search(df: DataFrame, filter_ast: dict[str, Any], *, limit: int | None = None) -> DataFrame:
    """Pure metadata query; every hit scores 100 like the reference."""
    out = df.filter(compile_filter(df, filter_ast)).withColumn("score", F.lit(100.0))
    return out.limit(limit) if limit else out


def multi_vector_search(
    df: DataFrame,
    fields: dict[str, dict[str, Any]],
    *,
    distance: str = "cosine",
    limit: int = 10,
    offset: int = 0,
    tie_break: str | None = None,
) -> DataFrame:
    """CFLAT multi-vector weighted fusion.

    ``fields`` maps vector-column name → ``{"query": [...], "ratio":
    int, "include": bool}``. Included ratios must sum to 100. Fused
    score = Σ included score_f · ratio_f/100, sorted descending (higher
    is better).
    """
    included = {k: v for k, v in fields.items() if v.get("include", True)}
    total = sum(int(v["ratio"]) for v in included.values())
    if total != 100:
        raise ValueError(f"included field ratios must sum to 100, got {total}")
    tie_break = tie_break or df.columns[0]
    fused: Column = F.lit(0.0)
    for name, spec in included.items():
        d = vector_distance(distance, F.col(name), list(spec["query"]))
        fused = fused + score_expr(distance, d) * F.lit(int(spec["ratio"]) / 100.0)
    scored = df.withColumn("score", fused)
    ordered = scored.orderBy(F.col("score").desc(), F.col(tie_break).asc())
    if offset:
        ordered = ordered.offset(offset)
    return ordered.limit(limit)


def compare_dist(
    spark, a: Sequence[float], b: Sequence[float], *, distance: str = "cosine"
) -> DataFrame:
    """Scalar distance between two literal vectors → one-row DataFrame."""
    one = spark.range(1).select(
        vector_distance(distance, list(a), list(b)).alias("dist")
    )
    return one.withColumn("score", score_expr(distance, F.col("dist")))


def add_quantized_column(
    df: DataFrame, *, vector_col: str = "vector", kind: str = "f8", out_col: str | None = None
) -> DataFrame:
    """Materialize a compact quantized copy of a vector column (write
    it once at ingest; phase 1 of :func:`two_phase_topk` then scans
    1-2 bytes/element instead of 4)."""
    from coltt_spark.functions.quantization import quantize

    return df.withColumn(out_col or f"{vector_col}_{kind}", quantize(kind, vector_col))


def two_phase_topk(
    df: DataFrame,
    query: Sequence[float],
    *,
    vector_col: str = "vector",
    quant_col: str | None = None,
    kind: str = "f8",
    distance: str = "cosine",
    limit: int = 10,
    expand: int = 4,
    tie_break: str | None = None,
) -> DataFrame:
    """Two-phase quantized-rank → exact-rerank KNN (the optimization
    SURVEY §4 flags as the one custom rewrite worth having).

    Phase 1 ranks by distance over the compact quantized column and
    keeps ``expand·limit`` candidates (a TakeOrderedAndProject over
    the small column — at scale this is the only full scan, reading a
    quarter of the bytes). Phase 2 recomputes the exact distance on
    the full-precision vectors of the candidates only and returns the
    true top ``limit``.
    """
    from coltt_spark.functions.quantization import dequantize

    tie_break = tie_break or df.columns[0]
    qc = quant_col or f"{vector_col}_{kind}"
    if qc not in df.columns:
        df = add_quantized_column(df, vector_col=vector_col, kind=kind, out_col=qc)
    coarse = df.withColumn(
        "_coarse_dist", vector_distance(distance, dequantize(kind, qc), list(query))
    )
    cand = coarse.orderBy(F.col("_coarse_dist").asc(), F.col(tie_break).asc()).limit(
        expand * limit
    )
    exact = cand.withColumn(
        "dist", vector_distance(distance, F.col(vector_col), list(query))
    )
    top = exact.orderBy(F.col("dist").asc(), F.col(tie_break).asc()).limit(limit)
    return top.withColumn("score", score_expr(distance, F.col("dist"))).drop(
        "_coarse_dist", qc
    )


def widen_vectors(
    df: DataFrame,
    *,
    vector_col: str = "vector",
    dim: int,
    prefix: str = "e",
    expr: bool = True,
) -> DataFrame:
    """Explode a vector column into one double column per dimension
    (``e0..e{dim-1}``) plus its precomputed L2 norm ``_vnorm``.

    The wide layout is the FLAT-scan fast path: a KNN distance over it
    compiles to a pure whole-stage-codegen multiply-add chain — no
    per-row array allocation (the ``zip_with`` intermediate that
    dominates the array layout) — and Parquet stores it columnar, so
    a scan reads exactly the dimensions it needs. ~4x faster per query
    than the array layout at 1M rows.

    Construction is ONE ``selectExpr`` round-trip (r14-opt, guide §4:
    the per-element ``v[i].alias(...)`` Column form marshaled ~3
    py4j calls per dimension); ``expr=False`` keeps the Column twin,
    pinned bit-exact by tests/test_expr_parity.py."""
    keep = [c for c in df.columns if c != vector_col]
    if not expr:
        v = F.col(vector_col).cast("array<double>")
        return df.select(
            *keep,
            *[v[i].alias(f"{prefix}{i}") for i in range(dim)],
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)).alias("_vnorm"),
        )
    vexpr = f"CAST(`{vector_col}` AS ARRAY<DOUBLE>)"
    return df.selectExpr(
        *[f"`{c}`" for c in keep],
        *[f"{vexpr}[{i}] AS `{prefix}{i}`" for i in range(dim)],
        f"sqrt(aggregate({vexpr}, 0.0D, (a, x) -> a + x * x)) AS `_vnorm`",
    )


def _wide_dist(
    q: list[float],
    dim: int,
    distance: str,
    *,
    prefix: str = "e",
    expr: bool = True,
) -> Column:
    """Distance over the wide layout. SQL-text single-parse by
    default; ``expr=False`` builds the identical chain from Column
    operators (the parity twin)."""
    import math

    if not expr:
        cols = [F.col(f"{prefix}{i}") for i in range(dim)]
        if distance == "cosine":
            qn = math.sqrt(sum(x * x for x in q)) or 1.0
            dot = sum(c * F.lit(q[i]) for i, c in enumerate(cols))
            return F.abs(1.0 - dot / (F.col("_vnorm") * F.lit(qn)))
        if distance == "euclidean":
            return F.sqrt(
                sum((c - F.lit(q[i])) * (c - F.lit(q[i])) for i, c in enumerate(cols))
            )
        if distance == "manhattan":
            return sum(F.abs(c - F.lit(q[i])) for i, c in enumerate(cols))
        raise ValueError(f"unknown distance {distance!r}")

    # non-finite components raise here (sql_double) instead of
    # rendering unparseable SQL text
    lit = [sql_double(q[i]) for i in range(dim)]

    def fold(terms: list[str]) -> str:
        # replicate Python sum(): integer 0 start, left-assoc adds
        acc = "0"
        for t in terms:
            acc = f"({acc} + {t})"
        return acc

    if distance == "cosine":
        qn = math.sqrt(sum(x * x for x in q)) or 1.0
        dot = fold([f"(`{prefix}{i}` * {lit[i]})" for i in range(dim)])
        return F.expr(f"abs(1.0D - ({dot} / (`_vnorm` * {sql_double(qn)})))")
    if distance == "euclidean":
        s = fold(
            [f"((`{prefix}{i}` - {lit[i]}) * (`{prefix}{i}` - {lit[i]}))" for i in range(dim)]
        )
        return F.expr(f"sqrt({s})")
    if distance == "manhattan":
        return F.expr(fold([f"abs(`{prefix}{i}` - {lit[i]})" for i in range(dim)]))
    raise ValueError(f"unknown distance {distance!r}")


def vertex_search_wide(
    df_wide: DataFrame,
    query: Sequence[float],
    *,
    dim: int | None = None,
    distance: str = "cosine",
    limit: int = 10,
    offset: int = 0,
    tie_break: str | None = None,
    prefix: str = "e",
    expr: bool = True,
) -> DataFrame:
    """FLAT exhaustive KNN over a :func:`widen_vectors` layout — same
    semantics (and score transform) as :func:`vertex_search`, built
    from scalar column arithmetic instead of array expressions.

    The multiply-add chain is rendered as ONE SQL string and parsed
    JVM-side (r14-opt, guide §4: the Column fold marshaled ~4 py4j
    calls per dimension). The text replicates the Python ``sum``
    fold exactly — leading integer ``0`` accumulator, left-assoc
    adds, ``repr`` doubles — so the parsed tree is the identical
    Add/Multiply chain; ``expr=False`` keeps the Column twin, pinned
    bit-exact by tests/test_expr_parity.py."""
    import math

    q = [float(x) for x in query]
    dim = dim or len(q)
    tie_break = tie_break or df_wide.columns[0]
    dist = _wide_dist(q, dim, distance, prefix=prefix, expr=expr)
    # project the dimension columns away BEFORE the top-k: the scan
    # still reads them to compute dist, but the TakeOrderedAndProject
    # heap then handles narrow (metadata, dist) rows instead of
    # dim-wide ones — this is most of the wide layout's speedup
    dim_cols = [f"{prefix}{i}" for i in range(dim)] + ["_vnorm"]
    scored = df_wide.withColumn("dist", dist).drop(*dim_cols)
    top = scored.orderBy(F.col("dist").asc(), F.col(tie_break).asc()).limit(limit + offset)
    rows = top.withColumn("score", score_expr(distance, F.col("dist")))
    if offset:
        from pyspark.sql.window import Window

        w = Window.orderBy(F.col("dist").asc(), F.col(tie_break).asc())
        rows = (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > offset)
            .drop("_rn")
        )
    return rows
