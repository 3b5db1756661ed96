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

import os
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
    X: np.ndarray, norms: np.ndarray, q: np.ndarray, distance: str
) -> np.ndarray:
    """The per-block distance kernel shared by every single-query scan
    (plain, grouped) — one definition so the paths cannot drift.

    ``distance="adc"`` is the IVFADC code-scan mode: ``X`` holds PQ
    CODES (n, M) instead of vectors and ``q`` is the query's flattened
    M·ks lookup table of exact residual subspace distances — the scan
    is an integer-indexed gather per subspace, summed as a SEQUENTIAL
    left-to-right fold over m (vectorized across rows) so the value is
    bit-identical to a SQL oracle's ordered ``list_sum`` replay."""
    if distance == "adc":
        m = X.shape[1]
        ks = len(q) // m
        codes = X.astype(np.int64)
        lut = np.asarray(q, dtype=np.float64)
        acc = lut[codes[:, 0]]
        for mi in range(1, m):
            acc = acc + lut[codes[:, mi] + mi * ks]
        return np.sqrt(acc)
    if distance == "manhattan":
        return np.abs(X - q[None, :]).sum(axis=1)
    dots = X @ q
    if distance == "cosine_unit":
        # normalize-at-write contract: stored rows are treated as
        # unit (even when quantization perturbed the norm — the
        # row path and every oracle score |1 - dot| the same way)
        return np.abs(1.0 - dots / max(np.linalg.norm(q), 1e-300))
    if distance == "cosine":
        qn = np.linalg.norm(q)
        return np.abs(1.0 - dots / np.maximum(norms * qn, 1e-300))
    if distance == "euclidean":
        qq = float(q @ q)
        return np.sqrt(np.maximum(norms.astype(np.float64) ** 2 + qq - 2.0 * dots, 0.0))
    if distance == "dot":
        return -dots
    raise ValueError(f"unknown distance {distance!r}")


def _scan_block(
    ids: np.ndarray,
    X: np.ndarray,
    norms: np.ndarray,
    q: np.ndarray,
    *,
    distance: str,
    k: int,
    payload=None,
    id_alias: str = "id",
    mask: np.ndarray | None = None,
    radius: float | None = None,
) -> pd.DataFrame:
    """One block → its local top-k (id, dist[, payload…]). One BLAS
    matvec; ``payload`` (a ``pa.Table`` row-aligned with ``ids``)
    contributes only the winners' rows via ``take``. The surrogate id
    column is emitted under ``id_alias`` so a payload column named
    ``id`` (e.g. a user PK) cannot collide with it.

    ``mask`` (row-aligned bool array) restricts the top-k to rows
    where it is True — the filtered-search path. The matvec still
    covers the whole block (one contiguous BLAS pass over memory it
    reads anyway beats a gather-copy for any but the most selective
    filters); non-survivors are knocked out with ``inf`` before
    selection, so the k winners and their tie-breaks are exactly the
    row path's ``orderBy(dist, pk)`` over the filtered set."""
    D = _block_distances(X, norms, q, distance)
    if mask is not None:
        n_alive = int(mask.sum())
        D = np.where(mask, D, np.inf)
    else:
        n_alive = len(ids)
    if radius is not None:
        # radius mode: EVERY row within the ball survives (unbounded
        # set semantics — ``k`` is ignored); masked rows sit at inf
        cand = np.flatnonzero(D <= radius)
        order = np.lexsort((ids[cand], D[cand]))
        sel = cand[order]
        out = pd.DataFrame({id_alias: ids[sel], "dist": D[sel].astype(np.float64)})
        if payload is not None:
            pw = payload.take(sel).to_pandas()
            for c in pw.columns:
                out[c] = pw[c].to_numpy()
        return out
    kk = min(k, n_alive)
    if kk < n_alive:
        # argpartition alone breaks distance ties arbitrarily, and the
        # block's surrogate ids (_commit_id) need NOT order like the
        # primary key the row path tie-breaks on — so EVERY row tied
        # at the k-th distance survives the local cut and the global
        # merge (ordered by dist, pk) resolves the tie exactly. Output
        # is k + boundary-ties rows (ties beyond k are rare and tiny).
        part = np.argpartition(D, kk - 1)
        kth = D[part[kk - 1]]
        cand = np.flatnonzero(D <= kth)
        order = np.lexsort((ids[cand], D[cand]))
        sel = cand[order]
    elif mask is not None:
        sel = np.flatnonzero(mask)
    else:
        sel = np.arange(len(ids))
    out = pd.DataFrame({id_alias: ids[sel], "dist": D[sel].astype(np.float64)})
    if payload is not None:
        pw = payload.take(sel).to_pandas()
        for c in pw.columns:
            out[c] = pw[c].to_numpy()
    return out


def _decode(row, dim: int, np_dtype, *, with_payload: bool = False):
    n = int(row["n"])
    ids = np.frombuffer(row["ids"], dtype=np.int64, count=n)
    X = np.frombuffer(row["vecs"], dtype=np_dtype, count=n * dim).reshape(n, dim)
    norms = np.frombuffer(row["norms"], dtype=np_dtype, count=n)
    if not with_payload:
        return ids, X, norms
    payload = None
    if row.get("payload") is not None:
        import pyarrow as pa

        payload = pa.ipc.open_stream(row["payload"]).read_all()
    return ids, X, norms, payload


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
    q = np.asarray([float(x) for x in query], dtype=np_dtype)

    out_schema = T.StructType(
        [T.StructField("id", T.LongType(), False), T.StructField("dist", T.DoubleType(), False)]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                _scan_block(*_decode(row, dim, np_dtype), q, distance=distance, k=k)
                for _, row in pdf.iterrows()
            ]
            if out:
                yield pd.concat(out, ignore_index=True)

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


def default_max_tasks(spark: SparkSession) -> int:
    """Default task-group count for block-index scans. Each Python task
    carries a fixed set-up cost on top of its scan: a 2-task identity
    ``mapInPandas`` job costs ~120 ms against ~60 ms for a pure-JVM
    one on 4 local cores (``tools/worker_floor.py``; ~400 ms before the
    session's worker daemon stopped re-reading zip archives per task,
    ~160 ms before workers moved from loopback TCP to Unix domain
    sockets). So fewer, fatter tasks win locally; a real cluster wants
    one task per file. Heuristic: a quarter of the parallelism, floor 8 —
    override with COLTT_BLOCK_MAX_TASKS."""
    env = os.environ.get("COLTT_BLOCK_MAX_TASKS")
    if env:
        return int(env)
    return max(8, spark.sparkContext.defaultParallelism // 4)


def _file_group_df(spark: SparkSession, files: list[str], max_tasks: int | None):
    """One row per task, each carrying a ';'-joined group of file
    paths — a JVM ``range(0, n, 1, n)`` picking its group from a
    literal array, so the per-query plan has NO shuffle and ONE Python
    hop per task (the scan's ``mapInPandas``; a ``parallelize`` source
    would add a second Python pass to convert its rows). ``max_tasks``
    trades the fixed per-task set-up (see :func:`default_max_tasks`)
    against per-task scan size; at cluster scale pass len(files)."""
    n_tasks = min(len(files), max_tasks or default_max_tasks(spark))
    groups = F.array(*[F.lit(";".join(files[i::n_tasks])) for i in range(n_tasks)])
    return spark.range(0, n_tasks, 1, n_tasks).select(
        F.element_at(groups, F.col("id").cast("int") + 1).alias("paths")
    )


def _scan_block_grouped(
    ids: np.ndarray,
    X: np.ndarray,
    norms: np.ndarray,
    q: np.ndarray,
    groups,
    *,
    distance: str,
    per_group: int,
    payload,
    id_alias: str = "id",
    mask: np.ndarray | None = None,
) -> pd.DataFrame:
    """One block → its local per-GROUP top-``per_group`` (id, dist,
    payload…): the grouped-search sibling of :func:`_scan_block`.
    ``groups`` is the row-aligned group-value array decoded from the
    payload. Winners per block are ≤ n_distinct_groups·per_group —
    the shape assumes group keys are metadata values, far coarser
    than rows (the group_by contract)."""
    D = _block_distances(X, norms, q, distance)
    if mask is not None:
        D = np.where(mask, D, np.inf)
    order = np.lexsort((ids, D))  # (dist, id) — local ordering only
    alive = order[np.isfinite(D[order])]
    g_sorted = pd.Series(np.asarray(groups)[alive])
    d_sorted = pd.Series(D[alive])
    # dropna=False: a NULL group value is its own group, exactly like
    # the row path's window partition on the group key. The cut keeps
    # every row tied AT each group's per_group-th distance (surrogate
    # ids need not order like the primary key) — the caller's keyed
    # merge window resolves boundary ties by pk exactly.
    thr = d_sorted.groupby(g_sorted, sort=False, dropna=False).transform(
        lambda x: x.iloc[min(per_group, len(x)) - 1]
    ).to_numpy()
    keep_pos = d_sorted.to_numpy() <= thr
    sel = alive[keep_pos]
    out = {id_alias: ids[sel], "dist": D[sel].astype(np.float64)}
    pdf = pd.DataFrame(out)
    if payload is not None:
        pp = payload.take(sel).to_pandas()
        for c in pp.columns:
            pdf[c] = pp[c].to_numpy()
    return pdf


def block_index_scan(
    spark: SparkSession,
    path: str,
    query: Sequence[float],
    *,
    dim: int,
    k: int = 10,
    distance: str = "cosine",
    dtype: str = "float32",
    max_tasks: int | None = None,
    payload_schema: T.StructType | None = None,
    id_alias: str = "id",
    payload_filter=None,
    tombstones: str | None = None,
    group_col: str | None = None,
    per_group: int = 1,
    files: list[str] | None = None,
    radius: float | None = None,
    adc_luts: dict[int, "np.ndarray"] | None = None,
) -> DataFrame:
    """Per-file local top-k over a written block index (no global
    order/limit — compose your own, e.g. a different tie-break).

    ``adc_luts`` (with ``distance="adc"``) switches the scan to the
    IVFADC code-scan mode: the index files hold PQ codes (dim = M,
    dtype uint8) under ``centroid=<c>/`` partitions, and the dict maps
    each probed centroid to the query's flattened M·ks residual
    lookup table for THAT list (the query residual differs per coarse
    centroid — the defining IVFADC detail). Each file's LUT is chosen
    by its partition path, so one job scans every probed list with
    its own table; ``query`` is ignored.
    ``files`` restricts the scan to an explicit file subset (the IVF
    probe path: :func:`ivf_files` of the probed centroids) instead of
    every ``part-*`` under ``path``. ``radius`` switches every file
    to set semantics — ALL rows with ``dist ≤ radius`` come back and
    ``k`` is ignored (the packed radius-query path). With
    ``payload_schema``, each winner row carries its packed payload
    columns, so a caller gets id+dist+metadata in ONE job; pass
    ``id_alias`` when a payload column is itself named ``id``.

    ``payload_filter`` (``fn(pa.Table) -> bool ndarray``, e.g. from
    :func:`coltt_spark.filters.compile_filter_mask`) makes this the
    FILTERED fast path: the mask is evaluated per file against the
    packed payload — which carries every metadata column — and the
    local top-k is taken over survivors only. Filtered search keeps
    the block layout's cost shape (one matvec per file through the
    spool, k rows out) instead of falling back to the row scan.

    ``tombstones`` points at a directory of parquet files listing
    commit ids superseded since the last compact (the delta-flush
    design): those rows are masked out of every block before the
    top-k, so a base index packed once keeps serving correctly as
    deltas accumulate beside it.

    ``group_col`` switches each file to PER-GROUP top-``per_group``
    selection (the grouped-search fast path): the group values come
    from the packed payload, so diversified search keeps the block
    layout's one-matvec cost shape; ``k`` is ignored in that mode."""
    np_dtype = _DTYPES[dtype]
    if distance == "adc":
        if adc_luts is None:
            raise ValueError('distance="adc" requires adc_luts')
        luts = {
            int(c): np.asarray(l, dtype=np.float64).ravel()
            for c, l in adc_luts.items()
        }
        q = None
    else:
        if adc_luts is not None:
            raise ValueError('adc_luts requires distance="adc"')
        q = np.asarray([float(x) for x in query], dtype=np_dtype)
    if radius is not None and group_col is not None:
        raise ValueError("radius and group_col modes are mutually exclusive")
    if files is None:
        files = _index_files(path)
    # an explicitly-passed empty list (every probed inverted list was
    # empty) is a valid, empty scan — fdf None short-circuits below
    fdf = _file_group_df(spark, files, max_tasks) if files else None
    out_fields = [
        T.StructField(id_alias, T.LongType(), False),
        T.StructField("dist", T.DoubleType(), False),
    ]
    if payload_schema is not None:
        clash = {id_alias, "dist"} & {f.name for f in payload_schema}
        if clash:
            raise ValueError(
                f"payload columns {sorted(clash)} collide with the scan's "
                f"output columns; rename them or pass a different id_alias"
            )
        out_fields += list(payload_schema)
    out_schema = T.StructType(out_fields)
    want_payload = payload_schema is not None
    if payload_filter is not None and not want_payload:
        raise ValueError("payload_filter requires payload_schema")
    if group_col is not None and (
        not want_payload or group_col not in {f.name for f in payload_schema}
    ):
        raise ValueError("group_col must name a packed payload column")

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re as _re

        dead = _load_tombstones(tombstones) if tombstones else None
        for pdf in batches:
            for paths in pdf["paths"]:
                for p in paths.split(";"):
                    if distance == "adc":
                        # LAST occurrence: a warehouse root that itself
                        # contains a 'centroid=N' path component must
                        # not shadow the file's real partition directory
                        cms = _re.findall(r"centroid=(\d+)", p)
                        if not cms:
                            raise ValueError(
                                f"adc scan file {p} is not under a "
                                "centroid=<c>/ partition"
                            )
                        qf = luts[int(cms[-1])]
                    else:
                        qf = q
                    ids, X, norms, payload = _spool_file(p, dim, np_dtype)
                    if not len(ids):
                        continue
                    mask = None
                    if payload_filter is not None:
                        if payload is None:
                            raise ValueError(
                                f"index file {p} carries no payload; "
                                "filtered block search needs packed metadata"
                            )
                        mask = payload_filter(payload)
                    if dead is not None and len(dead):
                        live = ~np.isin(ids, dead)
                        mask = live if mask is None else (mask & live)
                    if group_col is not None:
                        if payload is None:
                            raise ValueError(
                                f"index file {p} carries no payload; "
                                "grouped block search needs packed metadata"
                            )
                        yield _scan_block_grouped(
                            ids, X, norms, qf,
                            payload.column(group_col).to_pandas().to_numpy(),
                            distance=distance, per_group=per_group,
                            payload=payload, id_alias=id_alias, mask=mask,
                        )
                        continue
                    yield _scan_block(
                        ids, X, norms, qf, distance=distance, k=k,
                        payload=payload if want_payload else None,
                        id_alias=id_alias, mask=mask, radius=radius,
                    )

    if fdf is None:
        return spark.createDataFrame([], out_schema)
    return fdf.mapInPandas(scan, out_schema)


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
        spark, path, query, dim=dim, k=k, distance=distance, dtype=dtype,
        max_tasks=max_tasks, tombstones=tombstones, files=files,
    )
    return local.orderBy(F.col("dist").asc(), F.col("id").asc()).limit(k)


def block_index_topk_batch(
    spark: SparkSession,
    path: str,
    queries: dict[int, Sequence[float]],
    *,
    dim: int,
    k: int = 10,
    distance: str = "cosine",
    dtype: str = "float32",
    max_tasks: int | None = None,
    tombstones: str | None = None,
    payload_filter=None,
    files: list[str] | None = None,
    file_query_ids: dict[str, Sequence[int]] | None = None,
    adc_luts: dict[tuple[int, int], Sequence[float]] | None = None,
) -> DataFrame:
    """Batched KNN over a written block index: all B queries answered
    in ONE job, one BLAS ``X @ Q.T`` matmul per file — per-query cost
    amortizes toward pure memory bandwidth as B grows. Returns
    (query_id, id, dist): the top-k per query PLUS every row tied at
    the k-th distance (rank(), intra-tie order unspecified) — block
    ids are storage surrogates that need not order like the caller's
    primary key, so boundary ties are surfaced for the caller to
    resolve with its own tie-break key; callers wanting exactly k cut
    again (the collection batch path does). The merge is a
    k·n_tasks·B-row window (tiny). This is the bulk-serving shape:
    embed a batch, answer the batch.

    ``payload_filter`` (``fn(pa.Table) -> bool ndarray``) restricts
    every query of the batch to the matching rows, evaluated
    block-locally against the packed payload exactly like the
    single-query filtered scan — the batch keeps its one-matmul cost
    shape under filters.

    ``files`` restricts the scan to a file subset; ``file_query_ids``
    (path → query-id subset) is the batched-IVF probe contract: each
    file is scored ONLY for the queries whose probe set includes its
    inverted list, so every query reranks exactly its own ``nprobe``
    lists even though the whole batch runs as one job.

    ``adc_luts`` (with ``distance="adc"``) is the batched IVFADC
    mode: files hold PQ codes (dim = M, dtype uint8) under
    ``centroid=<c>/`` partitions and the dict maps each
    ``(query_id, centroid)`` pair to that query's flattened M·ks
    residual LUT for THAT list (the query residual differs per coarse
    centroid). Each file's LUT rows are selected by its partition path
    plus the file's query subset, and the per-row score accumulates as
    the same sequential fold over subspaces as the single-query scan
    (:func:`_block_distances`) — vectorized across the batch. ``queries``
    supplies only the query-id set in this mode (values unused)."""
    np_dtype = _DTYPES[dtype]
    if (distance == "adc") != (adc_luts is not None):
        raise ValueError('adc_luts is required with, and only with, distance="adc"')
    qids = sorted(queries)
    if distance == "adc":
        Q = np.zeros((len(qids), 1), dtype=np.float64)  # unused in ADC mode
        luts = {
            (int(q), int(c)): np.asarray(l, dtype=np.float64).ravel()
            for (q, c), l in adc_luts.items()
        }
    else:
        Q = np.asarray([[float(x) for x in queries[i]] for i in qids], dtype=np_dtype)
    qid_arr = np.asarray(qids, dtype=np.int64)
    qpos = {int(q): j for j, q in enumerate(qids)}
    fq = None
    if file_query_ids is not None:
        fq = {
            p: np.asarray(sorted(qpos[int(q)] for q in qs), dtype=np.int64)
            for p, qs in file_query_ids.items()
        }
    if files is None:
        files = _index_files(path)
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("id", T.LongType(), False),
            T.StructField("dist", T.DoubleType(), False),
        ]
    )
    if not files:
        return spark.createDataFrame([], out_schema)
    fdf = _file_group_df(spark, files, max_tasks)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re as _re

        dead = _load_tombstones(tombstones) if tombstones else None
        for pdf in batches:
            for paths in pdf["paths"]:
                for p in paths.split(";"):
                    sub = None
                    if fq is not None:
                        sub = fq.get(p)
                        if sub is None or not len(sub):
                            continue
                    Qf = Q if sub is None else Q[sub]
                    qid_f = qid_arr if sub is None else qid_arr[sub]
                    ids, X, norms, _payload = _spool_file(p, dim, np_dtype)
                    n = len(ids)
                    if not n:
                        continue
                    live = None
                    if payload_filter is not None:
                        if _payload is None:
                            raise ValueError(
                                f"index file {p} carries no payload; "
                                "filtered block search needs packed metadata"
                            )
                        live = payload_filter(_payload)
                    if dead is not None and len(dead):
                        alive = ~np.isin(ids, dead)
                        live = alive if live is None else (live & alive)
                    if distance == "adc":
                        # LAST occurrence, like the single-query scan:
                        # a warehouse root containing 'centroid=N' must
                        # not shadow the file's partition directory
                        cms = _re.findall(r"centroid=(\d+)", p)
                        if not cms:
                            raise ValueError(
                                f"adc scan file {p} is not under a "
                                "centroid=<c>/ partition"
                            )
                        c = int(cms[-1])
                        L = np.stack([luts[(int(q), c)] for q in qid_f])
                        m_sub = X.shape[1]
                        ks_n = L.shape[1] // m_sub
                        codes = X.astype(np.int64)
                        # sequential fold over subspaces, vectorized
                        # across the batch — element order identical to
                        # _block_distances' single-query ADC fold
                        acc = L[:, codes[:, 0]]
                        for mi in range(1, m_sub):
                            acc = acc + L[:, codes[:, mi] + mi * ks_n]
                        D = np.sqrt(acc).T  # (n, B_f)
                    elif distance == "manhattan":
                        D = np.stack(
                            [np.abs(X - Qf[j][None, :]).sum(axis=1) for j in range(len(qid_f))],
                            axis=1,
                        )
                    else:
                        dots = X @ Qf.T  # (n, B)
                        if distance == "cosine_unit":
                            qn = np.linalg.norm(Qf, axis=1)
                            D = np.abs(1.0 - dots / np.maximum(qn[None, :], 1e-300))
                        elif distance == "cosine":
                            qn = np.linalg.norm(Qf, axis=1)
                            D = np.abs(1.0 - dots / np.maximum(norms[:, None] * qn[None, :], 1e-300))
                        elif distance == "euclidean":
                            qq = (Qf.astype(np.float64) ** 2).sum(axis=1)
                            D = np.sqrt(
                                np.maximum(
                                    norms.astype(np.float64)[:, None] ** 2 + qq[None, :] - 2.0 * dots,
                                    0.0,
                                )
                            )
                        elif distance == "dot":
                            D = -dots
                        else:
                            raise ValueError(f"unknown distance {distance!r}")
                    if live is not None:
                        D = np.where(live[:, None], D, np.inf)
                        n_alive = int(live.sum())
                    else:
                        n_alive = n
                    kk = min(k, n_alive)
                    if kk == 0:
                        continue
                    B = len(qid_f)
                    # per-query local cut KEEPING every row tied at the
                    # k-th distance (surrogate ids need not order like
                    # the primary key — the caller's global merge
                    # resolves boundary ties); B is small so the loop
                    # costs B candidate selections, not a shuffle
                    part = np.argpartition(D, kk - 1, axis=0) if kk < n_alive else None
                    q_out, i_out, d_out = [], [], []
                    for j in range(B):
                        if part is not None:
                            kth = D[part[kk - 1, j], j]
                            cand = np.flatnonzero(D[:, j] <= kth)
                        elif live is not None:
                            cand = np.flatnonzero(live)
                        else:
                            cand = np.arange(n)
                        q_out.append(np.full(len(cand), qid_f[j], dtype=np.int64))
                        i_out.append(ids[cand])
                        d_out.append(D[cand, j].astype(np.float64))
                    yield pd.DataFrame(
                        {
                            "query_id": np.concatenate(q_out),
                            "id": np.concatenate(i_out),
                            "dist": np.concatenate(d_out),
                        }
                    )

    local = fdf.mapInPandas(scan, out_schema)
    from pyspark.sql import Window

    # rank(), not row_number(): rows tied at the k-th distance ALL
    # survive (output is top-k plus boundary ties) so a caller that
    # tie-breaks on a different key (e.g. the collection primary key)
    # can resolve them exactly; callers wanting exactly k cut again
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc())
    return (
        local.withColumn("_rn", F.rank().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
