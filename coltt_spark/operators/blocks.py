"""Packed block-matrix vector layout — the FLAT-scan fast path.

The reference holds 1M vectors in 16 in-RAM shard maps and scans them
with SIMD distance kernels (``edge/none_vectorstore.go:129-180``,
``pkg/distance/simd/*``). The Spark-native equivalent of "a shard held
in RAM, scanned by SIMD" is a **block**: ~32k vectors packed into ONE
DataFrame row as a contiguous float32/float64 buffer (a binary cell)
together with their ids and precomputed L2 norms. A KNN scan is then
one BLAS matvec per block inside an Arrow batch — per-row overhead
amortizes to zero (the array-of-struct layout pays it a million times)
— and each block emits only its local top-k, so the global merge is a
``TakeOrderedAndProject`` over k·n_blocks tiny rows.

Scale story (100 TB): blocks are ordinary rows in an ordinary table,
so the scan is shuffle-free and embarrassingly parallel across any
number of executors; per-query data movement is k rows per block. The
written index (:func:`write_block_index` + :func:`block_index_topk`)
adds an executor-side decoded-matrix cache, which is the moral
equivalent of the reference's "LoadCollection into RAM" — after the
first query, repeat queries never re-decode (and with Spark's
deterministic task locality they mostly hit the same executors).
"""

from __future__ import annotations

import json
import os
import struct
import tempfile
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: uint8 is the PQ-code block dtype (layout="ivfpq" packs M codes per
#: row instead of dim floats — the M-bytes-per-row billion-scale
#: layout); float dtypes are the vector layouts
_DTYPES = {"float32": np.float32, "float64": np.float64, "uint8": np.uint8}

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("ids", T.BinaryType(), False),  # int64 little-endian
        T.StructField("vecs", T.BinaryType(), False),  # row-major (n, dim)
        T.StructField("norms", T.BinaryType(), False),  # L2 norms, same dtype
        T.StructField("payload", T.BinaryType(), True),  # Arrow IPC stream | null
    ]
)


def _ser_payload(pdf: pd.DataFrame):
    import pyarrow as pa

    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return sink.getvalue().to_pybytes()


def pack_blocks(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    block_rows: int = 32768,
    dtype: str = "float32",
    payload_cols: Sequence[str] | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Pack (id, vector[, payload…]) rows into contiguous matrix blocks.

    One output row per ≤ ``block_rows`` input rows: ids as an int64
    buffer, vectors as a row-major ``dtype`` matrix buffer, L2 norms
    precomputed (the reference precomputes normalization at write time
    for the same reason — ``edge/none_vectorstore.go:95-97``).
    ``payload_cols`` rides along as an Arrow IPC batch per block (the
    reference's shard store likewise keeps metadata next to vectors),
    so a scan can return winners' metadata without a second lookup.
    Block ids are unique across partitions (partition id in the high
    bits), and packing never shuffles: each partition packs locally.

    ``group_col`` (an integral column, e.g. an IVF centroid id) packs
    each group's rows into their OWN blocks — no block ever spans two
    groups, even when a partition holds several — and emits the group
    value as an extra block column, so a ``partitionBy(group_col)``
    write lands every group's blocks under its own directory (the
    inverted-list layout an IVF probe prunes by path)."""
    np_dtype = _DTYPES[dtype]
    pcols = list(payload_cols or [])
    if group_col is not None and group_col in (*pcols, id_col, vec_col):
        raise ValueError(f"group_col {group_col!r} collides with another role")

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seq = 0

        def emit(g, ids: np.ndarray, X: np.ndarray, P: pd.DataFrame | None) -> pd.DataFrame:
            nonlocal seq
            if np.issubdtype(np_dtype, np.floating):
                norms = np.linalg.norm(X, axis=1).astype(np_dtype)
            else:
                # integer blocks (PQ codes): norms are meaningless —
                # store zeros of the same dtype so the decode contract
                # (n elements of np_dtype) holds
                norms = np.zeros(len(ids), dtype=np_dtype)
            row = {
                "block_id": [(pid << 32) | seq],
                "n": [len(ids)],
                "ids": [ids.astype(np.int64).tobytes()],
                "vecs": [np.ascontiguousarray(X, dtype=np_dtype).tobytes()],
                "norms": [norms.tobytes()],
                "payload": [_ser_payload(P) if P is not None else None],
            }
            if group_col is not None:
                row[group_col] = [int(g)]
            seq += 1
            return pd.DataFrame(row)

        # one buffer per group value (a single None-keyed buffer when
        # ungrouped) — partitions hold few groups, so state stays tiny
        states: dict = {}

        def push(g, pdf: pd.DataFrame) -> None:
            st = states.setdefault(g, {"ids": [], "X": [], "P": [], "n": 0})
            st["ids"].append(pdf[id_col].to_numpy(dtype=np.int64))
            st["X"].append(np.array(pdf[vec_col].tolist(), dtype=np_dtype))
            if pcols:
                st["P"].append(pdf[pcols])
            st["n"] += len(pdf)

        def drain(g, st, final: bool) -> Iterator[pd.DataFrame]:
            while st["n"] >= block_rows or (final and st["n"] > 0):
                ids = np.concatenate(st["ids"])
                X = np.concatenate(st["X"], axis=0)
                P = pd.concat(st["P"], ignore_index=True) if pcols else None
                take = block_rows if st["n"] >= block_rows else st["n"]
                yield emit(
                    g, ids[:take], X[:take],
                    P.iloc[:take] if P is not None else None,
                )
                st["ids"], st["X"] = [ids[take:]], [X[take:]]
                st["P"] = (
                    [P.iloc[take:].reset_index(drop=True)] if P is not None else []
                )
                st["n"] -= take

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if group_col is None:
                push(None, pdf)
                yield from drain(None, states[None], False)
            else:
                for g, sub in pdf.groupby(group_col, sort=True):
                    push(g, sub)
                    yield from drain(g, states[g], False)
        for g, st in states.items():
            yield from drain(g, st, True)

    schema = BLOCK_SCHEMA
    extra_cols = []
    if group_col is not None:
        schema = T.StructType(
            list(BLOCK_SCHEMA) + [T.StructField(group_col, T.IntegerType(), False)]
        )
        extra_cols = [group_col]
    # integer block dtypes (PQ codes) ride the Arrow boundary as
    # array<int>, not array<double> — shipping each 1-byte code as an
    # 8-byte double quadrupled the ivfpq build's transfer width
    _wire = (
        "int"
        if np.issubdtype(np_dtype, np.integer)
        else ("float" if dtype == "float32" else "double")
    )
    src = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).cast(f"array<{_wire}>"),
        *pcols,
        *extra_cols,
    )
    return src.mapInPandas(pack, schema)


def _block_distances(
    X: np.ndarray, norms: np.ndarray, Q: np.ndarray, distance: str
) -> np.ndarray:
    """THE distance kernel of every packed scan: the (n, B) distances
    of the ``n`` rows of ``X`` to the ``B`` query rows of ``Q``, one
    BLAS ``X @ Qᵀ`` for the inner-product distances. The per-query
    scalars (norm, q·q) are taken one query at a time, so a batch of
    one scores exactly like the single-query matvec.

    ``distance="adc"`` is the IVFADC code-scan mode: ``X`` holds PQ
    CODES (n, M) instead of vectors and each row of ``Q`` is a query's
    flattened M·ks lookup table of exact residual subspace distances —
    the scan is an integer-indexed gather per subspace, summed as a
    SEQUENTIAL left-to-right fold over m (vectorized across rows and
    queries) so the value is bit-identical to a SQL oracle's ordered
    ``list_sum`` replay."""
    if distance == "adc":
        m = X.shape[1]
        ks = Q.shape[1] // m
        codes = X.astype(np.int64)
        acc = Q[:, codes[:, 0]]
        for mi in range(1, m):
            acc = acc + Q[:, codes[:, mi] + mi * ks]
        return np.sqrt(acc).T
    if distance == "manhattan":
        return np.stack([np.abs(X - q[None, :]).sum(axis=1) for q in Q], axis=1)
    dots = X @ Q.T
    if distance == "cosine_unit":
        # normalize-at-write contract: stored rows are treated as
        # unit (even when quantization perturbed the norm — the
        # row path and every oracle score |1 - dot| the same way)
        qn = np.array([np.linalg.norm(q) for q in Q])
        return np.abs(1.0 - dots / np.maximum(qn, 1e-300))
    if distance == "cosine":
        qn = np.array([np.linalg.norm(q) for q in Q])
        return np.abs(1.0 - dots / np.maximum(norms[:, None] * qn, 1e-300))
    if distance == "euclidean":
        qq = np.array([float(q @ q) for q in Q])
        return np.sqrt(np.maximum(norms.astype(np.float64)[:, None] ** 2 + qq - 2.0 * dots, 0.0))
    if distance == "dot":
        return -dots
    raise ValueError(f"unknown distance {distance!r}")


def _select(
    d: np.ndarray,
    ids: np.ndarray,
    alive: np.ndarray,
    *,
    k: int,
    radius: float | None = None,
    groups: np.ndarray | None = None,
    per_group: int = 1,
) -> np.ndarray:
    """One query's winners in one file: row positions ordered by
    (dist, id). ``d`` holds masked rows at ``inf``; ``alive`` lists
    the unmasked positions.

    Top-``k`` keeps EVERY row tied at the k-th distance: a partition
    alone breaks ties arbitrarily, and the surrogate ids need not
    order like the primary key the caller tie-breaks on, so the
    caller's merge resolves boundary ties exactly. ``radius`` keeps
    every row within the ball (set semantics, ``k`` ignored).
    ``groups`` (row-aligned group values) keeps each group's top
    ``per_group`` plus the rows tied at its boundary; a NULL group
    value is its own group, like the row path's window partition."""
    if radius is not None:
        cand = np.flatnonzero(d <= radius)
    elif groups is not None:
        cand = np.flatnonzero(np.isfinite(d))
    elif k < len(alive):
        kth = np.partition(d, k - 1)[k - 1]
        cand = np.flatnonzero(d <= kth)
    else:
        cand = alive
    sel = cand[np.lexsort((ids[cand], d[cand]))]
    if groups is None:
        return sel
    thr = pd.Series(d[sel]).groupby(
        pd.Series(groups[sel]), sort=False, dropna=False
    ).transform(lambda x: x.iloc[min(per_group, len(x)) - 1]).to_numpy()
    return sel[d[sel] <= thr]


def _scan_file(
    ids: np.ndarray,
    X: np.ndarray,
    norms: np.ndarray,
    Q: np.ndarray,
    qids: np.ndarray,
    *,
    distance: str,
    live: np.ndarray | None = None,
    payload=None,
    group_col: str | None = None,
    id_alias: str = "id",
    **cut,
) -> pd.DataFrame:
    """One file (or block) scored for the queries ``Q`` (ids ``qids``;
    float64 query rows, cast to the block dtype for the kernel, or ADC
    lookup tables) → each query's local winners as (query_id, id,
    dist[, payload…]).
    ``live`` (row-aligned bool) restricts the winners to its rows: the
    filtered and tombstoned scan. The distance kernel still covers
    the whole file (one contiguous BLAS pass over memory it reads
    anyway beats a gather-copy for any but the most selective masks);
    masked rows sit at ``inf`` before selection. ``payload`` (a
    ``pa.Table`` row-aligned with ``ids``) contributes only the
    winners' rows, through one ``take``. The id column is emitted
    under ``id_alias`` so a payload column named ``id`` (e.g. a user
    PK) cannot collide with it.

    Euclidean winners are re-scored as the direct float64
    ``‖x − q‖`` — a sequential fold over the dimensions, the row
    path's arithmetic — after selection: the kernel's
    ``‖x‖² + q·q − 2x·q`` in the block dtype cancels most of its
    digits near 0 (~1e-3 on float32 blocks for a query equal to a
    stored vector), and single and batch reads (gemv vs gemm) would
    disagree by that much. Selection keeps the kernel's values."""
    D = _block_distances(
        X, norms, Q if distance == "adc" else Q.astype(X.dtype, copy=False), distance
    )
    if live is not None:
        D = np.where(live[:, None], D, np.inf)
    alive = np.flatnonzero(live) if live is not None else np.arange(len(ids))
    groups = None
    if group_col is not None:
        groups = payload.column(group_col).to_pandas().to_numpy()
    sels = [_select(D[:, j], ids, alive, groups=groups, **cut) for j in range(len(qids))]
    sel = np.concatenate(sels)
    col = np.repeat(np.arange(len(qids)), [len(s) for s in sels])
    dist = D[sel, col].astype(np.float64)
    if distance == "euclidean":
        acc = np.zeros(len(sel))
        for j in range(X.shape[1]):
            d = X[sel, j].astype(np.float64) - Q[col, j]
            acc = acc + d * d
        dist = np.sqrt(acc)
    out = pd.DataFrame({"query_id": qids[col], id_alias: ids[sel], "dist": dist})
    if payload is not None:
        pw = payload.take(sel).to_pandas()
        for c in pw.columns:
            out[c] = pw[c].to_numpy()
    return out


def _decode(row, dim: int, np_dtype):
    n = int(row["n"])
    ids = np.frombuffer(row["ids"], dtype=np.int64, count=n)
    X = np.frombuffer(row["vecs"], dtype=np_dtype, count=n * dim).reshape(n, dim)
    norms = np.frombuffer(row["norms"], dtype=np_dtype, count=n)
    return ids, X, norms


def block_topk(
    blocks: DataFrame,
    query: Sequence[float],
    *,
    dim: int,
    k: int = 10,
    distance: str = "cosine",
    dtype: str = "float32",
) -> DataFrame:
    """Exhaustive FLAT KNN over packed blocks → (id, dist), best
    first. Per-block local top-k inside ``mapInPandas`` (zero-copy
    ``frombuffer`` decode + one matvec), merged by a global
    ``ORDER BY dist LIMIT k`` — the same per-shard-PQ-then-merge
    physical shape as the reference's parallel scan."""
    np_dtype = _DTYPES[dtype]
    Q = np.asarray([[float(x) for x in query]], dtype=np.float64)
    qids = np.zeros(1, dtype=np.int64)

    out_schema = T.StructType(
        [T.StructField("id", T.LongType(), False), T.StructField("dist", T.DoubleType(), False)]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                _scan_file(*_decode(row, dim, np_dtype), Q, qids, distance=distance, k=k)
                for _, row in pdf.iterrows()
            ]
            if out:
                yield pd.concat(out, ignore_index=True).drop(columns="query_id")

    local = blocks.mapInPandas(scan, out_schema)
    return local.orderBy(F.col("dist").asc(), F.col("id").asc()).limit(k)


# ---------------------------------------------------------------------------
# written index + node-local mmap spool cache (the serving shape)

_SPOOL_DIR = os.environ.get(
    "COLTT_BLOCK_SPOOL", os.path.join(tempfile.gettempdir(), "coltt_block_spool")
)
_SPOOL_MAX_BYTES = int(os.environ.get("COLTT_BLOCK_SPOOL_BYTES", 32 << 30))

#: per-process cache of mmap-backed payload tables, keyed by
#: (sidecar path, mtime) — bounded FIFO; entries are views over the
#: OS page cache, so the Python-side footprint is metadata only
_PAYLOAD_CACHE: dict[tuple[str, int], "object"] = {}

#: per-process cache of sorted tombstone id arrays, keyed by the
#: tombstone dir's file listing + mtimes (a rewritten tombstone table
#: invalidates, like the payload cache)
_TOMB_CACHE: dict[tuple, np.ndarray] = {}


def _load_tombstones(path: str) -> np.ndarray:
    """Load a version's tombstoned commit ids as one sorted int64
    array (small — bounded by rows changed since the last compact).
    Loaded once per worker process per tombstone-table generation;
    every block scan then masks dead ids with one vectorized isin."""
    import pyarrow.parquet as pq

    files = sorted(
        f for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    key = (
        path,
        tuple((f, os.stat(os.path.join(path, f)).st_mtime_ns) for f in files),
    )
    dead = _TOMB_CACHE.get(key)
    if dead is None:
        parts = [
            pq.read_table(os.path.join(path, f)).column(0).to_numpy(
                zero_copy_only=False
            )
            for f in files
        ]
        dead = (
            np.sort(np.concatenate(parts).astype(np.int64))
            if parts
            else np.empty(0, np.int64)
        )
        if len(_TOMB_CACHE) >= 16:
            _TOMB_CACHE.pop(next(iter(_TOMB_CACHE)))
        _TOMB_CACHE[key] = dead
    return dead


def write_block_index(
    blocks: DataFrame, path: str, *, n_files: int | None = None
) -> None:
    """Persist packed blocks as Parquet, one task-sized file per
    executor slot (the file is the cache/scan granule)."""
    n_files = n_files or blocks.sparkSession.sparkContext.defaultParallelism
    blocks.repartition(n_files, "block_id").write.mode("overwrite").parquet(path)


def _decode_index_file(path: str, dim: int, np_dtype):
    """Decode one block-index Parquet file into contiguous
    (ids, X, norms, payload) arrays (payload: ``pa.Table`` | None)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    has_payload = "payload" in tbl.column_names
    ids_parts, X_parts, norms_parts, payload_parts = [], [], [], []
    for i in range(tbl.num_rows):
        n = tbl["n"][i].as_py()
        ids_parts.append(np.frombuffer(tbl["ids"][i].as_py(), dtype=np.int64, count=n))
        X_parts.append(
            np.frombuffer(tbl["vecs"][i].as_py(), dtype=np_dtype, count=n * dim).reshape(n, dim)
        )
        norms_parts.append(np.frombuffer(tbl["norms"][i].as_py(), dtype=np_dtype, count=n))
        if has_payload:
            raw = tbl["payload"][i].as_py()
            if raw is not None:
                payload_parts.append(pa.ipc.open_stream(raw).read_all())
    ids = np.concatenate(ids_parts) if ids_parts else np.empty(0, np.int64)
    X = np.concatenate(X_parts, axis=0) if X_parts else np.empty((0, dim), np_dtype)
    norms = np.concatenate(norms_parts) if norms_parts else np.empty(0, np_dtype)
    payload = pa.concat_tables(payload_parts) if payload_parts else None
    return ids, X, norms, payload


def _spool_file(path: str, dim: int, np_dtype):
    """Decode one block-index Parquet file into node-local raw ``.npy``
    / Arrow sidecars and return them memory-mapped, as
    (ids, X, norms, payload) with payload a ``pa.Table`` or None.

    This is the "local SSD cache" pattern (Databricks IO cache,
    Presto/Trino Alluxio tier): the first task that touches a file
    decodes Parquet → contiguous arrays spooled under
    ``$COLTT_BLOCK_SPOOL`` (atomic dir rename, so concurrent workers
    race benignly); every later query — from ANY worker process on the
    node — opens the arrays with ``np.load(mmap_mode='r')`` in ~µs and
    reads through the shared OS page cache. Unlike a per-process dict
    cache, warm state is node-wide and survives worker recycling.
    Keyed by (path, mtime, size, dtype) so a rewritten index
    invalidates; total spool bounded by COLTT_BLOCK_SPOOL_BYTES
    (default 32 GiB, LRU by an explicitly-touched entry mtime —
    atime is unreliable on relatime/noatime mounts). A concurrent
    prune may delete an entry between the isdir check and the loads;
    loads are retried once (re-spool on miss) and finally fall back
    to a direct in-memory decode."""
    import hashlib

    import pyarrow as pa

    import shutil

    st = os.stat(path)
    # v3: keyed by INODE, not path — the delta-flush design hardlinks
    # base part files into each new version dir, and inode identity
    # means every version's links share ONE spool entry (base blocks
    # stay warm across incremental flushes). The version tag bump
    # invalidates entries keyed by older schemes.
    key = hashlib.sha1(
        f"v3:{st.st_dev}:{st.st_ino}:{st.st_mtime_ns}:{st.st_size}:"
        f"{np.dtype(np_dtype).name}".encode()
    ).hexdigest()
    entry = os.path.join(_SPOOL_DIR, key)
    for _attempt in range(2):
        if not os.path.isdir(entry):
            ids, X, norms, payload = _decode_index_file(path, dim, np_dtype)
            tmp = entry + f".tmp.{os.getpid()}"
            os.makedirs(tmp, exist_ok=True)
            np.save(os.path.join(tmp, "ids.npy"), ids)
            np.save(os.path.join(tmp, "vecs.npy"), X)
            np.save(os.path.join(tmp, "norms.npy"), norms)
            if payload is not None:
                with pa.OSFile(os.path.join(tmp, "payload.arrow"), "wb") as f:
                    with pa.ipc.new_file(f, payload.schema) as w:
                        w.write_table(payload)
            else:
                # distinguishes "index has no payload" from "payload
                # sidecar lost" when reading the entry back
                open(os.path.join(tmp, "no_payload"), "wb").close()
            try:
                os.rename(tmp, entry)  # atomic publish; loser of the race cleans up
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
            _prune_spool()
        try:
            os.utime(entry)  # LRU recency marker (dir mtime)
            payload_path = os.path.join(entry, "payload.arrow")
            if os.path.exists(payload_path):
                # process-level cache of the (mmap-backed, zero-copy)
                # payload table: reused Python workers answer every
                # later query with a dict hit instead of re-walking the
                # IPC file's record batches (~10 ms × files × tasks per
                # query — the gap between Collection.search and the
                # raw block scan)
                ck = (payload_path, os.stat(payload_path).st_mtime_ns)
                payload = _PAYLOAD_CACHE.get(ck)
                if payload is None:
                    payload = pa.ipc.open_file(pa.memory_map(payload_path)).read_all()
                    if len(_PAYLOAD_CACHE) >= 64:
                        _PAYLOAD_CACHE.pop(next(iter(_PAYLOAD_CACHE)))
                    _PAYLOAD_CACHE[ck] = payload
            elif os.path.exists(os.path.join(entry, "no_payload")):
                payload = None
            else:
                raise FileNotFoundError(payload_path)  # incomplete entry
            return (
                np.load(os.path.join(entry, "ids.npy"), mmap_mode="r"),
                np.load(os.path.join(entry, "vecs.npy"), mmap_mode="r"),
                np.load(os.path.join(entry, "norms.npy"), mmap_mode="r"),
                payload,
            )
        except (FileNotFoundError, OSError):
            # pruned under us or incomplete — drop the husk (open mmaps
            # in other processes survive the unlink) and re-spool once
            shutil.rmtree(entry, ignore_errors=True)
            continue
    return _decode_index_file(path, dim, np_dtype)  # last resort: no spool


def _prune_spool() -> None:
    """Best-effort LRU eviction keeping the spool under budget,
    ordered by the entry-dir mtime that readers explicitly touch."""
    try:
        entries = []
        total = 0
        for name in os.listdir(_SPOOL_DIR):
            p = os.path.join(_SPOOL_DIR, name)
            if not os.path.isdir(p):
                continue
            size = 0
            for f in os.listdir(p):
                size += os.stat(os.path.join(p, f)).st_size
            entries.append((os.stat(p).st_mtime_ns, size, p))
            total += size
        entries.sort()
        for _, size, p in entries:
            if total <= _SPOOL_MAX_BYTES:
                break
            import shutil

            shutil.rmtree(p, ignore_errors=True)
            total -= size
    except OSError:
        pass


def _index_files(path: str) -> list[str]:
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    if not files:
        raise FileNotFoundError(f"no block files under {path}")
    return files


def ivf_probe_centroids(
    Cn: np.ndarray, query: Sequence[float], nprobe: int
) -> list[int]:
    """Rank centroids for a query and return the ``nprobe`` nearest
    list ids — THE probe-selection recipe (normalize, max-cosine,
    stable argsort), shared by the catalog serving paths, the bench
    micro, and the plan tests so probe semantics cannot drift."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    q = np.asarray([float(x) for x in query], dtype=np.float64)
    q = q / max(float(np.linalg.norm(q)), 1e-30)
    return [int(c) for c in np.argsort(-(Cn @ q))[:nprobe]]


def ivf_files(path: str, centroids: Sequence[int]) -> list[str]:
    """Block files of the probed inverted lists: a block index written
    ``partitionBy(centroid)`` keeps each list's blocks under its own
    ``centroid=<c>/`` directory, so probe-time pruning is pure path
    selection — unprobed lists' files are never opened, listed once on
    the driver. An empty list (centroid with no rows) simply has no
    directory and contributes nothing."""
    out: list[str] = []
    for c in sorted({int(c) for c in centroids}):
        d = os.path.join(path, f"centroid={c}")
        if os.path.isdir(d):
            out.extend(
                os.path.join(d, f)
                for f in sorted(os.listdir(d))
                if f.startswith("part-") and f.endswith(".parquet")
            )
    return out


#: Index-file bytes one scan task takes before a read splits into
#: another task. A warm scan scores ~0.1 ms per MB of page-cached
#: float32 blocks, against a fixed cost per Python task, so a split
#: only pays past ~100 MB. Measured on 4 local cores, exact euclidean
#: top-10 over 128-dim float32 indexes of 8 files, median of 12
#: interleaved runs with 1 / 2 / 4 tasks: 16 MB 131 / 131 / 160 ms,
#: 65 MB 140 / 138 / 160, 130 MB 135 / 117 / 142, 260 MB 147 / 129 /
#: 133 — so 128 MB per task.
SCAN_TASK_BYTES = 128 << 20


def _parallelism(spark: SparkSession) -> int:
    """The session's core count, read over the gateway once per
    session instead of on every scan."""
    from coltt_spark.functions.memo import memo_columns

    return memo_columns(
        "blocks.parallelism", lambda: spark.sparkContext.defaultParallelism
    )


def scan_tasks(
    spark: SparkSession,
    files: Sequence[str],
    sizes: Sequence[int],
    max_tasks: int | None = None,
) -> list[list[str]]:
    """Deal a scan's files to its tasks: ``min(cores, ceil(bytes /
    SCAN_TASK_BYTES))`` tasks (``max_tasks`` overrides the count), never
    more than one per file. Files go largest first to the task with the
    fewest bytes so far (ties to the lowest task), and each task keeps
    its files in input order."""
    n = max_tasks or min(_parallelism(spark), -(-sum(sizes) // SCAN_TASK_BYTES))
    n = max(1, min(n, len(files)))
    load = [0] * n
    dealt: list[list[int]] = [[] for _ in range(n)]
    for i in sorted(range(len(files)), key=lambda i: (-sizes[i], i)):
        t = min(range(n), key=lambda t: (load[t], t))
        load[t] += sizes[i]
        dealt[t].append(i)
    return [[files[i] for i in sorted(ix)] for ix in dealt]


def _json_scalar(v):
    """``json.dumps`` fallback for numpy scalars in a filter AST."""
    if isinstance(v, np.generic):
        return v.item()
    raise TypeError(f"filter value {v!r} ({type(v).__name__}) is not a JSON scalar")


def _task_blob(header: dict, rows: np.ndarray) -> bytes:
    """One scan task's read, as plan data: a length-prefixed JSON
    header padded to 8 bytes, then ``rows`` (the query matrix or the
    ADC lookup tables) as little-endian float64 — exact, no pickle."""
    head = json.dumps(header, separators=(",", ":"), default=_json_scalar).encode()
    head += b" " * (-(4 + len(head)) % 8)
    body = np.ascontiguousarray(rows, dtype="<f8")
    return struct.pack("<I", len(head)) + head + body.tobytes()


def _read_task(blob: bytes) -> tuple[dict, np.ndarray]:
    (n,) = struct.unpack_from("<I", blob)
    header = json.loads(blob[4:4 + n])
    rows = np.frombuffer(blob, dtype="<f8", offset=4 + n)
    return header, rows.reshape(-1, header["width"]).astype(np.float64, copy=False)


#: per-process cache of compiled payload filter masks, keyed by the
#: payload schema and the filter AST text a task carries
_MASKS: dict[tuple[str, str], object] = {}


def _filter_mask(payload_schema: T.StructType, schema_key: str, ast_text: str):
    fn = _MASKS.get((schema_key, ast_text))
    if fn is None:
        from coltt_spark.filters import compile_filter_mask

        fn = compile_filter_mask(payload_schema, json.loads(ast_text))
        if len(_MASKS) >= 64:
            _MASKS.pop(next(iter(_MASKS)))
        _MASKS[(schema_key, ast_text)] = fn
    return fn


def _scan_task(
    blob: bytes,
    *,
    dim: int,
    np_dtype,
    distance: str,
    payload_schema: T.StructType | None,
    schema_key: str | None,
    id_alias: str,
    group_col: str | None,
) -> Iterator[pd.DataFrame]:
    """Run one task of a packed read (:func:`block_index_scan`): its
    files scored for the queries its blob carries, each file's local
    winners as one DataFrame."""
    head, rows = _read_task(blob)
    qids = np.asarray(head["qids"], dtype=np.int64)
    live_of = None
    if head["filter"] is not None:
        live_of = _filter_mask(payload_schema, schema_key, head["filter"])
    dead = _load_tombstones(head["tomb"]) if head["tomb"] else None
    lut_row = {(q, c): i for i, (q, c) in enumerate(head.get("luts", ()))}
    cut = {"k": head["k"], "radius": head["radius"], "per_group": head["per_group"]}
    for p, sub in zip(head["files"], head["fq"]):
        ids, X, norms, payload = _spool_file(p, dim, np_dtype)
        if not len(ids):
            continue
        qf = qids if sub is None else qids[sub]
        if distance == "adc":
            c = _centroid_of(p)
            Qf = rows[[lut_row[(int(q), c)] for q in qf]]
        else:
            Qf = rows if sub is None else rows[sub]
        if (live_of is not None or group_col is not None) and payload is None:
            raise ValueError(
                f"index file {p} carries no payload; filtered "
                "and grouped block search need packed metadata"
            )
        live = None if live_of is None else live_of(payload)
        if dead is not None and len(dead):
            unseen = ~np.isin(ids, dead)
            live = unseen if live is None else (live & unseen)
        yield _scan_file(
            ids, X, norms, Qf, qf, distance=distance, live=live,
            payload=payload if payload_schema is not None else None,
            group_col=group_col, id_alias=id_alias, **cut,
        )


def _scan_udf(
    out_schema: T.StructType,
    *,
    dim: int,
    dtype: str,
    distance: str,
    payload_schema: T.StructType | None,
    id_alias: str,
    group_col: str | None,
):
    """The scan function of every packed read with these kernel
    constants, as a ``mapInPandas`` UDF Column over a ``task`` column:
    built (pickled, and its JVM ``PythonFunction`` created) once per
    session, not per read. Everything that varies between reads rides
    in the ``task`` rows (:func:`_task_blob`)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.util import PythonEvalType

    from coltt_spark.functions.memo import memo_columns

    schema_key = None if payload_schema is None else payload_schema.json()
    consts = (dim, dtype, distance, schema_key, id_alias, group_col)

    def build():
        kernel = {
            "dim": dim, "np_dtype": _DTYPES[dtype], "distance": distance,
            "payload_schema": payload_schema, "schema_key": schema_key,
            "id_alias": id_alias, "group_col": group_col,
        }

        def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                for blob in pdf["task"]:
                    yield from _scan_task(blob, **kernel)

        udf = pandas_udf(
            scan, returnType=out_schema,
            functionType=PythonEvalType.SQL_MAP_PANDAS_ITER_UDF,
        )
        return udf(F.col("task"))

    return memo_columns(f"blocks.scan_udf{consts!r}", build)


def _task_source(spark: SparkSession, blobs: list[bytes]) -> DataFrame:
    """One row per task, each holding its blob — a JVM ``range(0, n, 1,
    n)`` picking its blob from literals, parsed as ONE SQL text, so the
    per-read plan has NO shuffle and ONE Python hop per task (the
    scan's ``mapInPandas``; a ``parallelize`` source would add a second
    Python pass to convert its rows)."""
    n = len(blobs)
    lits = [f"X'{b.hex()}'" for b in blobs]
    pick = lits[0] if n == 1 else f"element_at(array({', '.join(lits)}), CAST(id AS INT) + 1)"
    text = f"SELECT {pick} AS task FROM range(0, {n}, 1, {n})"
    # the session's own sql(): pyspark's wrapper spends gateway calls
    # converting an (empty) argument list on every call
    return DataFrame(spark._jsparkSession.sql(text), spark)


def _centroid_of(path: str) -> int:
    """The inverted list a ``centroid=<c>/`` partition file belongs
    to. LAST occurrence: a warehouse root that itself contains a
    'centroid=N' path component must not shadow the file's real
    partition directory."""
    import re

    cms = re.findall(r"centroid=(\d+)", path)
    if not cms:
        raise ValueError(f"adc scan file {path} is not under a centroid=<c>/ partition")
    return int(cms[-1])


def block_index_scan(
    spark: SparkSession,
    path: str,
    queries: dict[int, Sequence[float]] | None,
    *,
    dim: int,
    k: int = 10,
    distance: str = "cosine",
    dtype: str = "float32",
    max_tasks: int | None = None,
    payload_schema: T.StructType | None = None,
    id_alias: str = "id",
    filter_ast: dict | None = None,
    tombstones: str | None = None,
    group_col: str | None = None,
    per_group: int = 1,
    files: list[str] | None = None,
    file_query_ids: dict[str, Sequence[int]] | None = None,
    radius: float | None = None,
    adc_luts: dict[tuple[int, int], Sequence[float]] | None = None,
) -> DataFrame:
    """THE packed scan: every read of a written block index, one
    query or a batch, is this one job. ``queries`` maps query id →
    vector (a single query is a batch of one); each file is scored
    for its queries with one ``X @ Qᵀ`` (:func:`_block_distances`) and
    emits each query's local winners as (query_id, ``id_alias``,
    dist[, payload…]) — no global order/limit, compose your own (e.g.
    a different tie-break). Per query and file the cut is the top
    ``k`` plus every row tied at the k-th distance (surrogate ids
    need not order like the caller's primary key, so the caller's
    merge resolves boundary ties).

    ``radius`` switches every file to set semantics — ALL rows with
    ``dist ≤ radius`` come back and ``k`` is ignored (the packed
    radius-query path). ``group_col`` switches it to PER-GROUP
    top-``per_group`` selection (the grouped-search fast path): the
    group values come from the packed payload, so diversified search
    keeps the one-matmul cost shape; ``k`` is ignored in that mode.

    With ``payload_schema``, each winner row carries its packed
    payload columns, so a caller gets id+dist+metadata in ONE job,
    batches included; pass ``id_alias`` when a payload column is
    itself named ``id``. ``filter_ast`` (a :mod:`coltt_spark.filters`
    AST) makes this the FILTERED fast path: it compiles to a vectorized
    mask (:func:`coltt_spark.filters.compile_filter_mask`) evaluated per
    file against the packed payload — which carries every metadata
    column — and the local winners are taken over survivors only. It is
    compiled here once, so an unknown column raises at call time, and
    again in each worker process, cached by its AST text.
    ``tombstones`` points at a directory of parquet files listing
    commit ids superseded since the last compact (the delta-flush
    design): those rows are masked out of every file too, so a base
    index packed once keeps serving correctly as deltas accumulate
    beside it.

    ``files`` restricts the scan to an explicit file subset (the IVF
    probe path: :func:`ivf_files` of the probed centroids) instead of
    every ``part-*`` under ``path``; ``file_query_ids`` (path →
    query-id subset) is the batched-IVF probe contract: each file is
    scored ONLY for the queries whose probe set includes its inverted
    list, so every query reranks exactly its own ``nprobe`` lists.

    ``adc_luts`` (with ``distance="adc"``) is the IVFADC code-scan
    mode: the files hold PQ codes (dim = M, dtype uint8) under
    ``centroid=<c>/`` partitions, and the dict maps each
    ``(query_id, centroid)`` pair to that query's flattened M·ks
    residual lookup table for THAT list (the query residual differs
    per coarse centroid — the defining IVFADC detail). Each file's
    LUTs are picked by its partition path; the query ids come from
    the LUT keys and ``queries`` is ignored.

    The read is a *prepared scan*: ONE ``mapInPandas`` whose UDF holds
    only the kernel constants (:func:`_scan_udf`, built once per
    session), over a ``range`` source whose rows carry everything the
    read varies — files, queries or LUTs, cut, filter, tombstones — as
    plan data (:func:`_task_blob`). Files are dealt to tasks by bytes
    (:func:`scan_tasks`); ``max_tasks`` overrides the task count."""
    from coltt_spark import filters

    if dtype not in _DTYPES:
        raise ValueError(f"unknown block dtype {dtype!r}")
    if radius is not None and group_col is not None:
        raise ValueError("radius and group_col modes are mutually exclusive")
    if (distance == "adc") != (adc_luts is not None):
        raise ValueError('adc_luts is required with, and only with, distance="adc"')
    if distance == "adc":
        luts = {
            (int(q), int(c)): np.asarray(l, dtype=np.float64).ravel()
            for (q, c), l in adc_luts.items()
        }
        qids = sorted({q for q, _ in luts})
    else:
        qids = sorted(int(q) for q in queries)
        Q = np.asarray([[float(x) for x in queries[q]] for q in qids], dtype=np.float64)
    if files is None:
        files = _index_files(path)
    # file -> positions of the queries that score it (None: every
    # query); a file no query probes is never scanned
    subs: dict[str, list[int] | None] = dict.fromkeys(files)
    if file_query_ids is not None:
        qpos = {q: j for j, q in enumerate(qids)}
        for p in files:
            subs[p] = sorted(qpos[int(q)] for q in file_query_ids.get(p, ()))
        files = [p for p in files if subs[p]]
    out_fields = [
        T.StructField("query_id", T.LongType(), False),
        T.StructField(id_alias, T.LongType(), False),
        T.StructField("dist", T.DoubleType(), False),
    ]
    if payload_schema is not None:
        clash = {"query_id", id_alias, "dist"} & {f.name for f in payload_schema}
        if clash:
            raise ValueError(
                f"payload columns {sorted(clash)} collide with the scan's "
                f"output columns; rename them or pass a different id_alias"
            )
        out_fields += list(payload_schema)
    out_schema = T.StructType(out_fields)
    if group_col is not None and (
        payload_schema is None or group_col not in {f.name for f in payload_schema}
    ):
        raise ValueError("group_col must name a packed payload column")
    filter_text = None
    if filter_ast is not None:
        if payload_schema is None:
            raise ValueError("filter_ast needs the payload_schema it filters")
        filters.compile_filter_mask(payload_schema, filter_ast)
        filter_text = json.dumps(filter_ast, separators=(",", ":"), default=_json_scalar)
    # an explicitly-passed empty list (every probed inverted list was
    # empty) is a valid, empty scan
    if not files:
        return spark.createDataFrame([], out_schema)
    read = {
        "qids": qids, "k": k, "radius": radius, "per_group": per_group,
        "filter": filter_text, "tomb": tombstones,
    }
    blobs = []
    for group in scan_tasks(spark, files, [os.stat(p).st_size for p in files], max_tasks):
        head = dict(read, files=group, fq=[subs[p] for p in group])
        if distance == "adc":
            lists = {_centroid_of(p) for p in group}
            head["luts"] = sorted(pair for pair in luts if pair[1] in lists)
            rows = np.stack([luts[pair] for pair in head["luts"]])
        else:
            rows = Q
        head["width"] = rows.shape[1]
        blobs.append(_task_blob(head, rows))
    udf = _scan_udf(
        out_schema, dim=dim, dtype=dtype, distance=distance,
        payload_schema=payload_schema, id_alias=id_alias, group_col=group_col,
    )
    src = _task_source(spark, blobs)
    return DataFrame(src._jdf.mapInPandas(udf._jc, False, None), spark)


def block_index_topk(
    spark: SparkSession,
    path: str,
    query: Sequence[float],
    *,
    dim: int,
    k: int = 10,
    distance: str = "cosine",
    dtype: str = "float32",
    max_tasks: int | None = None,
    tombstones: str | None = None,
    files: list[str] | None = None,
) -> DataFrame:
    """KNN over a written block index via the mmap spool cache — the
    serving path. The per-query Spark plan ships only FILE PATHS (one
    row per task, no shuffle); each task scans its files' matrices
    straight out of the node-local spool (§:func:`_spool_file`) with
    one BLAS matvec per file and returns k rows. Nothing but file
    names and k·n_tasks result rows ever crosses the JVM↔Python or
    executor↔driver boundary, and the vector data itself is read
    through the OS page cache. ``files`` restricts the scan to a file
    subset (IVF probing: :func:`ivf_files`)."""
    local = block_index_scan(
        spark, path, {0: query}, dim=dim, k=k, distance=distance, dtype=dtype,
        max_tasks=max_tasks, tombstones=tombstones, files=files,
    )
    return local.select("id", "dist").orderBy(F.col("dist").asc(), F.col("id").asc()).limit(k)


def block_index_topk_batch(
    spark: SparkSession,
    path: str,
    queries: dict[int, Sequence[float]] | None,
    *,
    dim: int,
    k: int = 10,
    distance: str = "cosine",
    dtype: str = "float32",
    max_tasks: int | None = None,
    tombstones: str | None = None,
    files: list[str] | None = None,
    file_query_ids: dict[str, Sequence[int]] | None = None,
    adc_luts: dict[tuple[int, int], Sequence[float]] | None = None,
) -> DataFrame:
    """Batched KNN over a written block index: all B queries answered
    in ONE job, one BLAS ``X @ Qᵀ`` matmul per file — per-query cost
    amortizes toward pure memory bandwidth as B grows: the
    :func:`block_index_scan` of the batch (its keywords mean the same
    here) cut per query. Returns (query_id, id, dist): the top-k per query PLUS every row
    tied at the k-th distance (rank(), intra-tie order unspecified) —
    block ids are storage surrogates that need not order like the
    caller's primary key, so boundary ties are surfaced for the caller
    to resolve with its own tie-break key. The merge is a
    k·n_tasks·B-row window (tiny). This is the bulk-serving shape:
    embed a batch, answer the batch."""
    from pyspark.sql import Window

    local = block_index_scan(
        spark, path, queries, dim=dim, k=k, distance=distance, dtype=dtype,
        max_tasks=max_tasks, tombstones=tombstones, files=files,
        file_query_ids=file_query_ids, adc_luts=adc_luts,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc())
    return (
        local.withColumn("_rn", F.rank().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
