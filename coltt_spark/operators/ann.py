"""Nearest-neighbor search over embedding columns.

The reference's only ANN structure is a single-node in-memory HNSW
graph (``core/vectorindex/hnsw.go``) — pointer-chasing that does not
distribute. The Spark-native answers, by scale:

- :func:`brute_topk` — exact batch KNN. ``strategy="window"`` is a
  broadcast-join + window plan (pure Catalyst, oracle-checkable);
  ``strategy="blas"`` computes per-partition local top-k with one
  numpy matmul per Arrow batch (queries broadcast, corpus never
  shuffled) and merges the tiny per-partition winners — the shape
  that survives a 1000-executor corpus.
- :func:`lsh_topk` — random-hyperplane LSH: corpus and queries hash
  to sign-bit buckets, candidates come from an equi-join on the
  bucket id (multi-probe = flip each bit once), exact rerank inside.
  Sub-linear candidate sets at the cost of recall.
- :func:`ivf_topk` — IVF: deterministic sampled centroids, rows
  assigned to nearest centroid (one broadcast matmul), queries probe
  ``nprobe`` nearest lists. The centroid assignment is the shuffle
  key, so queries only touch ~nprobe/n_centroids of the data.
- :func:`recall_at_k` — overlap/k vs exact truth
  (``edge/resultset.go:55-65`` parity).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from coltt_spark.functions.vector import lit_double_array, vector_distance



def _list_col_matrix(col, dtype=np.float64) -> np.ndarray:
    """Arrow list column → (n, dim) matrix. ``tolist()`` + one C-level
    re-parse is ~10-15× faster than stacking per-row ndarrays."""
    return np.array(col.tolist(), dtype=dtype)

def _query_df(spark, queries: dict[int, Sequence[float]]) -> DataFrame:
    rows = [(int(qid), [float(x) for x in v]) for qid, v in queries.items()]
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("qv", T.ArrayType(T.DoubleType()), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def brute_topk(
    corpus: DataFrame,
    queries: dict[int, Sequence[float]],
    *,
    id_col: str,
    vec_col: str,
    k: int = 10,
    distance: str = "cosine",
    strategy: str = "window",
) -> DataFrame:
    """Exact batch KNN: per query id, the k nearest corpus rows.
    Returns (query_id, id, dist) sorted within each query."""
    if strategy == "blas":
        return _brute_topk_blas(corpus, queries, id_col=id_col, vec_col=vec_col, k=k,
                                distance=distance)
    qdf = _query_df(corpus.sparkSession, queries)
    joined = corpus.select(id_col, vec_col).crossJoin(F.broadcast(qdf))
    scored = joined.withColumn(
        "dist", vector_distance(distance, F.col(vec_col), F.col("qv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col(id_col), "dist")
    )


def _brute_topk_blas(
    corpus: DataFrame,
    queries: dict[int, Sequence[float]],
    *,
    id_col: str,
    vec_col: str,
    k: int,
    distance: str,
) -> DataFrame:
    """Per-partition top-k via numpy matmul, then a driver-side merge
    of P·Q·k candidate rows — the distributed FLAT-scan shape (the
    reference's 16-goroutine shard scan, generalized)."""
    if distance not in ("cosine", "euclidean", "dot"):
        raise ValueError(f"blas strategy supports cosine/euclidean/dot, not {distance!r}")
    qids = np.array(sorted(queries), dtype=np.int64)
    Q = np.array([list(map(float, queries[int(q)])) for q in qids], dtype=np.float64)
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("_cid", T.LongType(), False),
            T.StructField("dist", T.DoubleType(), False),
        ]
    )
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((qids, Q))

    def local_topk(batches: Iterator) -> Iterator:
        import pandas as pd

        qids_b, Q_b = bq.value
        qn = None
        if distance == "cosine":
            qn = Q_b / np.maximum(np.linalg.norm(Q_b, axis=1, keepdims=True), 1e-30)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _list_col_matrix(pdf[vec_col])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            if distance == "cosine":
                Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
                D = np.abs(1.0 - Xn @ qn.T)  # (n, q)
            elif distance == "dot":
                D = -(X @ Q_b.T)
            else:
                x2 = (X * X).sum(axis=1)[:, None]
                q2 = (Q_b * Q_b).sum(axis=1)[None, :]
                D = np.sqrt(np.maximum(x2 + q2 - 2.0 * (X @ Q_b.T), 0.0))
            kk = min(k, len(pdf))
            part = np.argpartition(D, kk - 1, axis=0)[:kk]  # (k, q)
            res = []
            for j, qid in enumerate(qids_b):
                sel = part[:, j]
                res.append(
                    pd.DataFrame(
                        {"query_id": int(qid), "_cid": ids[sel], "dist": D[sel, j]}
                    )
                )
            yield pd.concat(res, ignore_index=True)

    local = corpus.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    ).mapInPandas(local_topk, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("_cid").asc())
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col("_cid").alias(id_col), "dist")
    )


# ---------------------------------------------------------------------------
# LSH (random hyperplanes)


def lsh_planes(dim: int, nbits: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (nbits × dim)."""
    return np.random.default_rng(seed).normal(0.0, 1.0, (nbits, dim))


def _signatures_np(X: np.ndarray, tables: list[np.ndarray]) -> np.ndarray:
    """(n, n_tables) sign-bit bucket ids: one matmul against ALL
    tables' hyperplanes stacked, bits packed little-endian per table.
    (A per-plane Catalyst expression tree — nbits·n_tables aggregates
    each embedding a dim-length literal — costs more in analysis +
    codegen than the whole scan; one BLAS matmul per Arrow batch is
    the scale path.)"""
    P = np.concatenate(tables, axis=0)  # (n_tables·nbits, dim)
    bits = (X @ P.T) > 0
    nbits = tables[0].shape[0]
    weights = (1 << np.arange(nbits)).astype(np.int64)
    out = np.empty((X.shape[0], len(tables)), dtype=np.int64)
    for t in range(len(tables)):
        out[:, t] = bits[:, t * nbits : (t + 1) * nbits] @ weights
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: dict[int, Sequence[float]],
    *,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nbits: int = 8,
    n_tables: int = 4,
    multiprobe: bool = True,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine KNN with standard multi-table hyperplane
    LSH: ``n_tables`` independent sign-hash tables of ``nbits`` each,
    candidates = union over tables (+1-bit multiprobe per table),
    exact rerank within candidates, deduped per (query, id).

    The (table, bucket) pair is the equi-join key — no cross join
    ever materializes; candidate volume is tuned by
    nbits ↓ / n_tables ↑ (recall) vs nbits ↑ (speed)."""
    dim = len(next(iter(queries.values())))
    tables = [lsh_planes(dim, nbits, seed + t) for t in range(n_tables)]

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array(v.tolist(), dtype=np.float64)
        return pd.Series(list(_signatures_np(X, tables)))

    bucketed = corpus.select(
        id_col, vec_col, F.posexplode(sig_udf(F.col(vec_col))).alias("tbl", "bucket")
    )

    # query buckets (+1-bit probes) are literals — computed driver-side.
    # The probe table carries KEYS ONLY (query_id, tbl, bucket): at
    # B·n_tables·(nbits+1) rows, duplicating the dim-length vector per
    # probe would ship ~GBs through createDataFrame at B=10⁴/dim=1024;
    # vectors ride in a separate B-row side table joined after the
    # per-(query, id) dedup, so each is serialized exactly once
    probe_rows = []
    qv_rows = []
    for qid, v in queries.items():
        qv = [float(x) for x in v]
        qv_rows.append((int(qid), qv))
        sigs = _signatures_np(np.asarray(qv, dtype=np.float64)[None, :], tables)[0]
        for t, s in enumerate(sigs):
            probe_rows.append((int(qid), t, int(s)))
            if multiprobe:
                probe_rows.extend(
                    (int(qid), t, int(s) ^ (1 << j)) for j in range(nbits)
                )
    spark = corpus.sparkSession
    qdf = spark.createDataFrame(
        probe_rows,
        T.StructType(
            [
                T.StructField("query_id", T.LongType(), False),
                T.StructField("tbl", T.IntegerType(), False),
                T.StructField("bucket", T.LongType(), False),
            ]
        ),
    )
    qvdf = spark.createDataFrame(
        qv_rows,
        T.StructType(
            [
                T.StructField("query_id", T.LongType(), False),
                T.StructField("qv", T.ArrayType(T.DoubleType()), False),
            ]
        ),
    )

    cand = (
        bucketed.join(F.broadcast(qdf), on=["tbl", "bucket"])
        .select("query_id", id_col, vec_col)
        .dropDuplicates(["query_id", id_col])
        .join(F.broadcast(qvdf), on="query_id")
        .withColumn("dist", vector_distance("cosine", F.col(vec_col), F.col("qv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col(id_col), "dist")
    )


# ---------------------------------------------------------------------------
# IVF


def ivf_topk(
    corpus: DataFrame,
    queries: dict[int, Sequence[float]],
    *,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 1,
) -> DataFrame:
    """IVF approximate KNN. Centroids start as a deterministic
    hash-mod sample of the corpus (:func:`seed_centroids`), refined by
    ``kmeans_iters`` rounds of distributed spherical k-means
    (:func:`kmeans_refine` — sampled seeds need at least one Lloyd
    round for stable recall); rows shuffle once on their
    nearest-centroid id, queries probe the ``nprobe`` nearest lists
    and rerank exactly inside them.

    One-shot convenience over :func:`ivf_build` + :func:`ivf_probe` —
    a serving deployment builds (and caches / writes, partitioned by
    ``centroid``) once and probes many times."""
    assigned, Cn = ivf_build(
        corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids,
        kmeans_iters=kmeans_iters,
    )
    return ivf_probe(assigned, Cn, queries, id_col=id_col, vec_col=vec_col,
                     k=k, nprobe=nprobe)


def seed_centroids(
    corpus: DataFrame, *, id_col: str, vec_col: str, n_centroids: int, n: int
) -> DataFrame:
    """Seed-centroid candidates without a global sort: a deterministic
    hash-mod filter keeps ~2·n_centroids rows fully in parallel (an
    un-partitioned Window here would drag the whole corpus through ONE
    task at scale — tests/test_plans.py pins the Window-free plan),
    then limit picks the seeds; Lloyd refinement corrects any
    seed-quality loss vs strided selection."""
    from coltt_spark.functions.text import hash60

    step = max(1, n // (2 * n_centroids))
    h = hash60(F.col(id_col).cast("string"))
    return (
        corpus.select(id_col, vec_col)
        .filter(F.pmod(h, F.lit(step)) == 0)
        # a bare limit() keeps whichever partitions answer first; the
        # hash sort makes the pick deterministic and costs only a sort
        # of the ~2·n_centroids survivors; md5-derived (hash60) so a
        # SQL oracle reproduces the exact same seed pick
        .orderBy(h)
        .limit(n_centroids)
    )


def ivf_build(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    kmeans_iters: int = 1,
) -> tuple[DataFrame, np.ndarray]:
    """Build the IVF index: pick (and optionally Lloyd-refine)
    centroids, then assign every row to its max-cosine centroid — one
    matmul per Arrow batch. Returns (assigned corpus with a
    ``centroid`` column, normalized centroid matrix). The assigned
    DataFrame is the persistent index: cache it or write it
    partitioned by ``centroid`` so probes prune to the lists they
    touch."""
    corpus = corpus.select(id_col, vec_col)
    n = corpus.count()
    cent_rows = seed_centroids(corpus, id_col=id_col, vec_col=vec_col,
                               n_centroids=n_centroids, n=n).collect()
    if len(cent_rows) < min(n, n_centroids):  # tiny/skewed id space: take any rows
        cent_rows = corpus.select(id_col, vec_col).limit(n_centroids).collect()
    C = np.array([list(map(float, r[vec_col])) for r in cent_rows], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
    if kmeans_iters:
        Cn = kmeans_refine(corpus, Cn, vec_col=vec_col, iters=kmeans_iters)
    assigned = ivf_assign(corpus, Cn, id_col=id_col, vec_col=vec_col)
    return assigned, Cn


def ivf_assign(
    corpus: DataFrame, Cn: np.ndarray, *, id_col: str, vec_col: str
) -> DataFrame:
    """Assign every row to its max-cosine centroid among FIXED
    centroids ``Cn`` — one broadcast + one Arrow-batched matmul per
    batch. Every input column passes through with ``centroid``
    appended (only the vector crosses into Python), so an index writer
    packs the routed rows with their payload and needs no join back.
    This is both the tail of :func:`ivf_build` and the
    incremental-maintenance path: rows added after the index was
    built are routed into the EXISTING inverted lists without
    retraining (the standard IVF delta discipline; centroids only
    move on an explicit rebuild/compact)."""
    from pyspark.sql.functions import pandas_udf

    bc = corpus.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(Cn, dtype=np.float64)
    )

    @pandas_udf(T.IntegerType())
    def nearest(vecs: pd.Series) -> pd.Series:
        X = _list_col_matrix(vecs)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
        return pd.Series(np.argmax(Xn @ bc.value.T, axis=1).astype(np.int32))

    # ids keep their source type (long vec_ids, string PKs, …), with
    # narrow integers widened to long
    if isinstance(corpus.schema[id_col].dataType, (T.IntegerType, T.ShortType)):
        corpus = corpus.withColumn(id_col, F.col(id_col).cast("long"))
    return corpus.withColumn(
        vec_col, F.col(vec_col).cast("array<float>")
    ).withColumn("centroid", nearest(vec_col))


def ivf_probe(
    assigned: DataFrame,
    Cn: np.ndarray,
    queries: dict[int, Sequence[float]],
    *,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = 4,
    distance: str = "cosine",
) -> DataFrame:
    """Probe a built IVF index: each query joins (broadcast) against
    its ``nprobe`` nearest centroid lists only, exact rerank inside —
    the scan touches ~nprobe/n_centroids of the corpus. Probe
    selection is always spherical (the index is built by max-cosine
    assignment); ``distance`` controls the exact rerank metric.

    Division of labor: this is the OPERATOR-level probe over any
    ``assigned`` DataFrame (ad-hoc corpora, the `ann_ivf` oracle
    path). The PRODUCT serving layout (`Collection` with
    ``layout="ivf"``) instead packs each inverted list into block
    files and probes them through the node-local spool
    (catalog.Collection._write_index/_packed_scan) — same math, ~2×
    lower serving latency because nothing re-decodes Parquet arrays
    per query."""
    probe_rows = []
    for qid, v in queries.items():
        q = np.asarray(list(map(float, v)), dtype=np.float64)
        qn = q / max(np.linalg.norm(q), 1e-30)
        order = np.argsort(-(Cn @ qn))[:nprobe]
        for c in order:
            probe_rows.append((int(qid), [float(x) for x in v], int(c)))
    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("qv", T.ArrayType(T.DoubleType()), False),
            T.StructField("centroid", T.IntegerType(), False),
        ]
    )
    # literal isin on the union of probed lists: redundant with the
    # join, but it's a static predicate Catalyst pushes into the scan,
    # so a centroid-partitioned index prunes to the probed partitions
    touched = sorted({c for _, _, c in probe_rows})

    # extra (metadata) columns in `assigned` ride through to the
    # output, so a metadata-carrying index answers without a join-back
    extra = [c for c in assigned.columns if c not in (id_col, vec_col, "centroid")]

    if len(queries) == 1:
        # serving fast path: the query vector becomes a literal and the
        # per-query top-k a global ORDER BY .. LIMIT k, which Spark
        # executes as TakeOrderedAndProject — per-partition top-k,
        # driver merge, no broadcast join and no window exchange
        ((qid, v),) = queries.items()
        qlit = lit_double_array(v)
        return (
            assigned.filter(F.col("centroid").isin(touched))
            .withColumn("dist", vector_distance(distance, F.col(vec_col), qlit))
            .orderBy(F.col("dist").asc(), F.col(id_col).asc())
            .limit(k)
            .select(
                F.lit(int(qid)).cast("long").alias("query_id"),
                F.col(id_col),
                "dist",
                *extra,
            )
        )

    probes = assigned.sparkSession.createDataFrame(probe_rows, probe_schema)
    cand = (
        assigned.filter(F.col("centroid").isin(touched))
        .join(F.broadcast(probes), on="centroid")
        .withColumn("dist", vector_distance(distance, F.col(vec_col), F.col("qv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col(id_col), "dist", *extra)
    )


def kmeans_refine(
    corpus: DataFrame, Cn: np.ndarray, *, vec_col: str, iters: int = 3
) -> np.ndarray:
    """Distributed spherical k-means (Lloyd) refinement of normalized
    centroids. Each round is one pass over the corpus: broadcast the
    centroids, assign every row to its max-cosine centroid inside an
    Arrow batch (one matmul), and reduce per-centroid per-dimension
    sums JVM-side (map-side partial aggregation — only k·dim numbers
    cross the wire). Empty clusters keep their previous centroid.
    Centroid count and dim stay tiny, so the driver-side update is
    O(k·dim)."""
    spark = corpus.sparkSession
    k_, dim = Cn.shape
    out_schema = T.StructType(
        [T.StructField("centroid", T.IntegerType(), False),
         T.StructField("_n", T.LongType(), False),
         T.StructField("psum", T.ArrayType(T.DoubleType()), False)]
    )
    zero = F.array_repeat(F.lit(0.0), dim)
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(Cn)

        def assign(batches: Iterator) -> Iterator:
            # Map-side combine in Python: each Arrow batch reduces to ≤k
            # partial rows (centroid, count, sum-vector), so only
            # n_batches·k small rows — not the corpus — cross the
            # Python→JVM boundary and the shuffle.
            Cn_b = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
                a = np.argmax(Xn @ Cn_b.T, axis=1)
                S = np.zeros((len(Cn_b), X.shape[1]))
                np.add.at(S, a, X)
                counts = np.bincount(a, minlength=len(Cn_b))
                nz = np.flatnonzero(counts)
                yield pd.DataFrame(
                    {"centroid": nz.astype(np.int32), "_n": counts[nz], "psum": list(S[nz])}
                )

        sums = (
            corpus.select(F.col(vec_col).cast("array<double>").alias(vec_col))
            .mapInPandas(assign, out_schema)
            .groupBy("centroid")
            .agg(
                F.sum("_n").alias("_n"),
                # element-wise fold of the few partials per centroid,
                # JVM-side — no dim-wide column explosion in codegen
                F.aggregate(
                    F.collect_list("psum"),
                    zero,
                    lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                ).alias("s"),
            )
            .collect()
        )
        newC = Cn.copy()
        for r in sums:
            mean = np.array(r["s"]) / r["_n"]
            nrm = np.linalg.norm(mean)
            if nrm > 1e-30:
                newC[r["centroid"]] = mean / nrm
        Cn = newC
    return Cn


def recall_report(
    approx: DataFrame, truth: DataFrame, *, id_col: str, k: int
) -> DataFrame:
    """Per-query recall@k of an approximate result set against the
    exact one — the evaluation table an ANN deployment monitors
    (edge/resultset.go:55-65 computes the same overlap scalar).
    Returns (query_id, n_hits, recall); queries with zero overlap
    still appear with recall 0. Both inputs are tiny (B·k rows), so
    the joins are broadcast by AQE — nothing scans the corpus."""
    a = approx.select("query_id", F.col(id_col).alias("_id"))
    t = truth.select("query_id", F.col(id_col).alias("_id"))
    hits = a.join(t, on=["query_id", "_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    qs = truth.select("query_id").distinct()
    n = F.coalesce("n_hits", F.lit(0))
    return qs.join(hits, on="query_id", how="left").select(
        "query_id",
        n.cast("long").alias("n_hits"),
        F.round(n / F.lit(float(k)), 4).alias("recall"),
    )


def recall_at_k(approx: DataFrame, truth: DataFrame, *, id_col: str, k: int) -> float:
    """Mean overlap/k across queries (edge/resultset.go:55-65)."""
    a = approx.select("query_id", F.col(id_col).alias("_id"))
    t = truth.select("query_id", F.col(id_col).alias("_id"))
    hits = a.join(t, on=["query_id", "_id"]).groupBy("query_id").count()
    n_queries = truth.select("query_id").distinct().count()
    total_hits = hits.agg(F.sum("count")).first()[0] or 0
    return float(total_hits) / (n_queries * k)
