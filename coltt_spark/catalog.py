"""Collection catalog: DDL/DML surface of the engine.

Reference parity (SURVEY §2.1/§2.2): Create/Get/Delete/Load/Release/
Flush collection (``edge/edge.go:78-553``) and the Index write path —
PK upsert with last-writer-wins, equality-filter delete
(``edge/edge.go:555-608``, ``edge/none_vectorstore.go:66-127``).

Spark-first storage: a collection is a directory of versioned Parquet
snapshots plus a JSON manifest (dim, distance, quantization, index
design, current version) — the manifest plays the role of coltt's
MinIO ``.meta.json`` blob and the version swap plays the diskv commit
log: every flush writes ``v{N+1}`` then atomically repoints the
manifest (:mod:`coltt_spark.store`, the discipline every store
shares), so readers never observe a half-written table (same
guarantee Delta's transaction log provides; plain Parquet keeps the
container dependency-free).

Write model: like the reference (in-memory until Flush), upserts and
deletes update a lazy DataFrame view immediately; ``flush()``
materializes. Upsert compiles to ``new_batch ∪ (current ⟕anti
new_keys)`` — a broadcast anti-join when the batch is small, which is
the scalable MERGE shape. At 100 TB you would swap the storage layer
for Delta ``MERGE INTO`` keyed on the PK; the operator surface here is
deliberately identical.
"""

from __future__ import annotations

import dataclasses
import math
import os
import shutil
from dataclasses import dataclass
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

import numpy as np

from coltt_spark import store
from coltt_spark.filters import compile_filter, validate_delete_key
from coltt_spark.functions.memo import memo_columns
from coltt_spark.functions.quantization import dequantize, quantize, quantize_np
from coltt_spark.functions.vector import score as score_expr, vector_distance
from coltt_spark.operators.search import _paginate_topk, multi_vector_search
from coltt_spark.schema import SPARK_TYPES as _SPARK_META
from coltt_spark.schema import _NULL_DEFAULT, IndexDesign, validate_metadata, validate_vector

DISTANCES = ("cosine", "euclidean", "manhattan")
QUANTIZATIONS = ("none", "f16", "bf16", "f8", "bq", "sq8")
LAYOUTS = ("rows", "blocks", "ivf", "ivfpq")

_VEC = "vector"
_COMMIT = "_commit_id"


def _checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` eagerly local-checkpointed, and its row count, both from
    the one checkpoint job: an ``Observation`` counts the rows as they
    are materialized, in place of a second ``count()`` job."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, obs.get["n"]


@dataclass(frozen=True)
class _Packed:
    """The packed index that serves one read (:meth:`Collection._route`)
    — every packed read is "score this list of files". ``path`` is a
    blocks-layout index dir: the scan lists every part file and fails
    loudly on an empty dir. An ivf/ivfpq index gives its probed lists'
    ``files`` instead, with ``probes`` (query id → probed lists,
    nearest first) and ``file_query_ids`` (file → the queries that
    probe its list, the batch contract). ``adc`` marks PQ code files
    (ivfpq), ``refine`` their exact-rerank depth (0 = ADC-only)."""

    path: str | None = None
    ivf_dir: str | None = None
    files: list[str] | None = None
    probes: dict[int, list[int]] | None = None
    file_query_ids: dict[str, list[int]] | None = None
    adc: bool = False
    refine: int = 0


def _top_per(df: DataFrame, key: str, n: int, pk: str) -> DataFrame:
    """Each ``key`` value's ``n`` nearest rows by (dist, pk) — ONE
    window partitioned by ``key`` (a query id or a group value): a
    keyed shuffle of few rows, never a global sort."""
    w = Window.partitionBy(key).orderBy(F.col("dist").asc(), F.col(pk).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= n).drop("_rn")


@dataclass
class Manifest:
    name: str
    dim: int
    distance: str
    quantization: str
    index_design: IndexDesign
    version: int = 0
    next_commit: int = 0
    layout: str = "rows"
    block_dtype: str = "float32"
    versioning: bool = False
    ivf_centroids: int = 16
    ivf_nprobe: int = 4
    ivf_kmeans_iters: int = 1
    #: Auto-compaction trigger: when any inverted list has GROWN by
    #: this many part files since the last full build, the next
    #: flush() folds the whole collection (0 disables). Growth-based,
    #: not absolute: a large fresh build legitimately writes many
    #: parts per list, and an absolute threshold would then force a
    #: full O(collection) fold on EVERY flush. The measured
    #: read-amplification curve (SURVEY §8) shows IVF probe latency
    #: drifting ~25% by ~20 delta flushes and compaction restoring it
    #: — the same ticker-driven merge discipline as the reference's
    #: diskv store (diskv/merge.go:40-181,
    #: pkg/index/optimization.go:27-74), keyed on observed fan-out
    #: instead of wall clock.
    ivf_max_list_files: int = 10
    #: Worst per-list part-file count recorded at the last full IVF
    #: build — the baseline the growth trigger measures against.
    ivf_base_list_files: int = 0
    #: layout="ivfpq" knobs: residual product-quantization geometry
    #: (M subspaces × ks codes per subspace — each stored row costs M
    #: bytes instead of dim·4, the billion-scale serving layout) and
    #: the default exact-rerank depth (0 = ADC-only serving).
    pq_subspaces: int = 8
    pq_codes: int = 16
    ivfpq_refine: int = 50
    #: OPQ (Ge et al. 2014): train an orthogonal rotation that
    #: balances residual variance across the PQ subspaces before
    #: encoding (operators.pq.opq_train_np). Stored as rotation.npy
    #: beside the codebooks; queries rotate their residuals, the exact
    #: rerank stays in the raw space (rotation-invariant distances).
    pq_opq: bool = False

    def to_json(self) -> dict[str, Any]:
        d = {f.name: getattr(self, f.name) for f in dataclasses.fields(self)}
        d["index_design"] = self.index_design.to_json()
        return d

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> Manifest:
        # a field without a default, or the version and commit
        # counters, must be present (KeyError otherwise); every other
        # field falls back to its default and unknown keys are ignored
        kw = {
            f.name: d[f.name]
            for f in dataclasses.fields(cls)
            if f.name in d or f.default is dataclasses.MISSING
            or f.name in ("version", "next_commit")
        }
        kw["index_design"] = IndexDesign.from_json(kw["index_design"])
        return cls(**kw)


class Collection:
    """Handle over one collection: lazy current view + manifest."""

    def __init__(self, spark: SparkSession, root: str, manifest: Manifest):
        self.spark = spark
        self.root = root
        self.manifest = manifest
        self._view: DataFrame = self._read_version()
        self._cached = False
        self._dirty = False  # unflushed DML ⇒ block index (if any) is stale
        self._reset_pending()

    def _reset_pending(self) -> None:
        """Clear the since-last-flush DML bookkeeping that makes an
        incremental flush O(change): the pending-rows view (inserted/
        updated rows still live), the upserted-PK set, and the delete
        predicates — enough to derive delta files and tombstones
        WITHOUT diffing the whole collection at flush time."""
        self._pending: DataFrame | None = None
        self._upserted_pks: DataFrame | None = None
        self._delete_asts: list[dict[str, Any]] = []

    def _track_upsert(self, new: DataFrame) -> None:
        """Fold an upsert batch into the pending view (same LWW shape
        as the main view, but over ONLY the rows changed since flush —
        so every maintenance op here is O(pending), not O(collection))
        and remember its PKs (their base-version commit ids become
        tombstones at flush)."""
        pk = self.manifest.index_design.primary_key
        if self._pending is None:
            self._pending = new
        else:
            keep = self._pending.join(
                F.broadcast(new.select(pk)), on=pk, how="left_anti"
            )
            self._pending = keep.unionByName(new.select(keep.columns))
        pks = new.select(pk)
        self._upserted_pks = (
            pks if self._upserted_pks is None else self._upserted_pks.unionByName(pks)
        )

    # -- storage ------------------------------------------------------

    def _dir(self, part: str, version: int | None) -> str:
        v = self.manifest.version if version is None else version
        return store.version_dir(self.root, v, part)

    def _data_dir(self, version: int | None = None) -> str:
        return self._dir("", version)

    def _blocks_dir(self, vector_col: str, version: int | None = None) -> str:
        return os.path.join(self._dir("blocks", version), vector_col)

    def _ivf_dir(self, vector_col: str, version: int | None = None) -> str:
        return os.path.join(self._dir("ivf", version), vector_col)

    def _tombstones_dir(self, version: int | None = None) -> str:
        return self._dir("tombstones", version)

    def _ivf_ready(
        self, vector_col: str, version: int | None = None, *, strict: bool = True
    ) -> bool:
        """True when the IVF index for ``vector_col`` exists in the
        current packed-per-centroid layout (a ``blocks/`` subtree
        beside ``centroids.npy``). An index directory WITHOUT
        ``blocks/`` is a stale or partially-written format — probing
        it would list zero files and silently serve EMPTY results, so
        serving gates (``strict=True``) fail loudly instead; flush's
        incremental gate passes ``strict=False`` and treats it as
        not-ready, which routes into the full rebuild that heals it.
        An ``ivfpq`` index additionally needs its residual codebooks
        (``book.npy``) beside the centroids — codes are unreadable
        without them."""
        d = self._ivf_dir(vector_col, version)
        if not os.path.isdir(d):
            return False
        if os.path.isdir(os.path.join(d, "blocks")):
            if self.manifest.layout == "ivfpq" and not os.path.isfile(
                os.path.join(d, "book.npy")
            ):
                if strict:
                    raise RuntimeError(
                        f"ivfpq index at {d} has no book.npy — codes "
                        "cannot be decoded; run flush(compact=True) to rebuild"
                    )
                return False
            if (
                self.manifest.layout == "ivfpq"
                and not strict
                and not os.path.isdir(os.path.join(d, "vecs"))
            ):
                # pre-rerank-tree index: SERVING still works (the
                # refined search falls back to the snapshot join), but
                # the incremental-flush gate treats it as not-ready so
                # the next flush full-rebuilds and heals the layout
                return False
            return True
        if strict:
            raise RuntimeError(
                f"IVF index at {d} has no blocks/ subdirectory — stale or "
                "partially written layout; run flush(compact=True) to rebuild"
            )
        return False

    def _ivf_worst_list_fanout(self, vector_col: str, version: int) -> int:
        """Read amplification of the IVF delta layout: the largest
        per-inverted-list Parquet part count. Each delta flush appends
        part files inside every touched ``centroid=`` partition; a
        probe opens every file of the probed lists, so this number IS
        the per-list file fan-out compaction exists to bound."""
        blocks = os.path.join(self._ivf_dir(vector_col, version), "blocks")
        worst = 0
        if os.path.isdir(blocks):
            for entry in os.listdir(blocks):
                d = os.path.join(blocks, entry)
                if entry.startswith("centroid=") and os.path.isdir(d):
                    n = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
                    worst = max(worst, n)
        return worst


    def _vector_cols(self) -> list[str]:
        """Named vector fields from the index design (experimental
        CFLAT multi-vector records), or the default single ``vector``
        column when none are declared."""
        named = [f.name for f in self.manifest.index_design.fields if f.type == "vector"]
        return named or [_VEC]

    def _storage_schema(self) -> T.StructType:
        quantized = self.manifest.quantization != "none"
        vec_type: T.DataType = T.BinaryType() if quantized else T.ArrayType(T.FloatType())
        fields: list[T.StructField] = [
            T.StructField(f.name, vec_type if f.type == "vector" else _SPARK_META[f.type], False)
            for f in self.manifest.index_design.fields
        ]
        if not any(f.type == "vector" for f in self.manifest.index_design.fields):
            fields.append(T.StructField(_VEC, vec_type, False))
        fields.append(T.StructField(_COMMIT, T.LongType(), False))
        return T.StructType(fields)

    def _read_version(self) -> DataFrame:
        df = self.spark.read.schema(self._storage_schema()).parquet(self._data_dir())
        return self._minus_tombstones(df, self._tombstones_dir())

    def _minus_tombstones(self, df: DataFrame, tomb_dir: str) -> DataFrame:
        """Subtract a version's tombstoned commit ids (rows superseded
        or deleted since the last compact) — an anti-join against the
        small tombstone table, broadcast by AQE. Versions written by a
        full flush/compact have no tombstone dir and read as-is."""
        if os.path.isdir(tomb_dir):
            dead = self.spark.read.schema(
                T.StructType([T.StructField(_COMMIT, T.LongType(), False)])
            ).parquet(tomb_dir)
            df = df.join(dead, on=_COMMIT, how="left_anti")
        return df

    def _write_manifest(self, manifest: Manifest) -> None:
        store.commit(self.root, manifest.to_json())

    # -- DML ----------------------------------------------------------

    def upsert(self, rows: list[dict[str, Any]]) -> int:
        """PK upsert, last-writer-wins (edge Index(CHANGED) semantics).

        Each row = metadata dict + ``vector``. Validation mirrors
        standardAnalyzer; within a batch the last occurrence of a PK
        wins (matching sequential per-row gRPC application).
        """
        m = self.manifest
        design = m.index_design
        vcols = self._vector_cols()
        cleaned: dict[str, dict[str, Any]] = {}
        for row in rows:
            meta = validate_metadata(design, {k: v for k, v in row.items() if k not in vcols})
            for vc in vcols:
                vec = validate_vector(m.dim, row.get(vc))
                if m.distance == "cosine":
                    # normalize-at-write so cosine ≡ |1-dot| at query
                    # time (edge/none_vectorstore.go:95-97); quantize
                    # AFTER normalizing, like the reference
                    a = np.asarray(vec, dtype=np.float64)
                    n = float(np.linalg.norm(a))
                    vec = [float(x) for x in a / n] if n else vec
                meta[vc] = (
                    quantize_np(m.quantization, vec) if m.quantization != "none" else vec
                )
            cleaned[meta[design.primary_key]] = meta  # batch-internal LWW
        batch = list(cleaned.values())
        for i, r in enumerate(batch):
            r[_COMMIT] = m.next_commit + i
        m.next_commit += len(batch)

        new = self.spark.createDataFrame(batch, self._storage_schema())
        pk = design.primary_key
        survivors = self._view.join(F.broadcast(new.select(pk)), on=pk, how="left_anti")
        self._view = survivors.unionByName(new.select(survivors.columns))
        self._track_upsert(new)
        self._dirty = True
        return len(batch)

    def upsert_df(self, df: DataFrame, *, dedupe_batch: bool = True) -> int:
        """Bulk DataFrame-native upsert — the ingest path that scales.

        Same semantics as :meth:`upsert` (standardAnalyzer-style
        validation, PK last-writer-wins against the current view,
        normalize-at-write for cosine, quantize-at-write), but every
        transform is a Catalyst expression or Arrow-batched kernel —
        no row ever touches the driver, so the same call ingests 100
        rows or 100 TB. Input: one column per metadata field (missing
        nullable fields get the type default) plus each vector column
        as ``array<numeric>``. Bad rows (wrong dim, NaN/Inf, null PK)
        fail the job via ``raise_error`` — the bulk analogue of the
        per-row ValueError.

        Commit ids are snowflake-like: sparse, strictly above every
        earlier batch (``lit(next_commit) + monotonically_increasing_id``,
        then the manifest skips a block). With ``dedupe_batch`` PK
        duplicates inside the batch resolve to the highest commit id;
        pass ``False`` when the batch is known PK-unique to skip that
        shuffle.
        """
        m = self.manifest
        design = m.index_design
        vcols = self._vector_cols()
        meta_fields = [f for f in design.fields if f.type != "vector"]
        known = {f.name for f in meta_fields} | set(vcols)
        unknown = set(df.columns) - known
        if unknown:
            raise ValueError(f"unknown metadata keys: {sorted(unknown)}")

        cols: list = []
        for f in meta_fields:
            t = _SPARK_META[f.type]
            if f.name not in df.columns:
                if f.primary_key or not f.enable_null:
                    raise ValueError(f"field {f.name!r} is required")
                cols.append(F.lit(_NULL_DEFAULT[f.type]).cast(t).alias(f.name))
                continue
            c = F.col(f.name).cast(t)
            if f.primary_key or not f.enable_null:
                c = F.coalesce(
                    c, F.raise_error(f"field {f.name!r} may not be null").cast(t)
                )
            else:
                c = F.coalesce(c, F.lit(_NULL_DEFAULT[f.type]).cast(t))
            cols.append(c.alias(f.name))

        prepared = df.select(
            *cols, *[F.col(vc).cast(T.ArrayType(T.DoubleType())).alias(vc) for vc in vcols]
        )
        for vc in vcols:
            vd = F.col(vc)
            ok = (F.size(vd) == m.dim) & ~F.exists(
                vd, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
            )
            guarded = F.coalesce(
                F.when(ok, vd),
                F.raise_error(f"vector {vc!r}: missing, wrong dim, or NaN/Inf").cast(
                    T.ArrayType(T.DoubleType())
                ),
            )
            prepared = prepared.withColumn(vc, guarded)
            if m.distance == "cosine":
                # normalize-at-write so cosine ≡ |1-dot| at query time
                # (edge/none_vectorstore.go:95-97); quantize AFTER
                # normalizing, like the reference
                norm = F.sqrt(
                    F.aggregate(F.col(vc), F.lit(0.0), lambda a, x: a + x * x)
                )
                prepared = prepared.withColumn("_nrm", norm).withColumn(
                    vc,
                    F.when(
                        F.col("_nrm") > 0,
                        F.transform(F.col(vc), lambda x: x / F.col("_nrm")),
                    ).otherwise(F.col(vc)),
                ).drop("_nrm")
            vf = F.transform(F.col(vc), lambda x: x.cast("float"))
            prepared = prepared.withColumn(
                vc, quantize(m.quantization, vf) if m.quantization != "none" else vf
            )

        prepared = prepared.withColumn(
            _COMMIT, F.lit(m.next_commit) + F.monotonically_increasing_id()
        )
        m.next_commit += 1 << 45  # block above any partitionId<<33 offset
        pk = design.primary_key
        if dedupe_batch:
            w = Window.partitionBy(pk).orderBy(F.col(_COMMIT).desc())
            prepared = (
                prepared.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        order = [f.name for f in design.fields] + (
            [] if any(f.type == "vector" for f in design.fields) else [_VEC]
        )
        new, n = _checkpoint_counted(prepared.select(*order, _COMMIT))
        # no broadcast hint: the batch may be any size — AQE picks the
        # join strategy from the materialized checkpoint stats
        survivors = self._view.join(new.select(pk), on=pk, how="left_anti")
        self._view = survivors.unionByName(new.select(survivors.columns))
        self._track_upsert(new)
        self._dirty = True
        return n

    def delete_where(self, filter_ast: dict[str, Any]) -> None:
        """Equality/range-filter delete (edge Index(DELETE)). The
        delete key is strictly validated first — unknown index or
        type-mismatched literal raises (dropKeyAnalyzer intended
        semantics), unlike query filters which coerce."""
        validate_delete_key(self._view, filter_ast)
        pred = compile_filter(self._view, filter_ast)
        self._view = self._view.filter(~pred)
        if self._pending is not None:
            self._pending = self._pending.filter(
                ~compile_filter(self._pending, filter_ast)
            )
        self._delete_asts.append(filter_ast)
        self._dirty = True

    # -- queries ------------------------------------------------------

    def _dequantized(self) -> DataFrame:
        """Current view with vector columns restored to float32 arrays
        (the reference's decompress-then-float32-similarity contract,
        edge/f16_quantization.go:35-45)."""
        df = self._view
        if self.manifest.quantization != "none":
            for vc in self._vector_cols():
                df = df.withColumn(vc, dequantize(self.manifest.quantization, vc))
        return df

    def df(self) -> DataFrame:
        """Current state as a DataFrame (metadata + float32 vectors)."""
        return self._dequantized().drop(_COMMIT)

    def search(
        self,
        query: list[float],
        *,
        filter_ast: dict[str, Any] | None = None,
        vector_field: str | None = None,
        limit: int = 10,
        offset: int = 0,
        nprobe: int | None = None,
        refine: int | None = None,
    ) -> DataFrame:
        """Filtered FLAT KNN over the collection (edge Search path).

        A clean packed collection serves searches — filtered or not —
        from its index (:meth:`_route`): one BLAS matvec per index
        file through the node-local mmap spool, k rows per file moved.
        A metadata filter is evaluated against the per-file packed
        payload (which carries every metadata column) right before the
        distance kernel, the same
        scan-the-packed-store-restricted-to-candidates shape as the
        reference's filtered search
        (``edge/none_vectorstore.go:182-253``). Falls back to the row
        scan only when unflushed DML makes the index stale.

        ``nprobe`` (ivf/ivfpq layouts only) overrides the manifest's
        probe count per query — the standard IVF recall/latency dial:
        probing every list makes the search exact, fewer lists trade
        recall for a proportionally smaller scan.

        ``refine`` (ivfpq layout only) overrides the manifest's
        ``ivfpq_refine``: the top ``refine`` ADC candidates are
        re-scored with the exact distance from the snapshot vectors
        (B·refine rows), so ``dist`` is exact; ``refine=0`` serves
        the ADC approximation directly (no vector access at all —
        the M-bytes-per-row cost profile end to end).
        """
        vc, qvs, src = self._route(vector_field, {0: query}, nprobe=nprobe, refine=refine)
        qv, pk, n = qvs[0], self.manifest.index_design.primary_key, offset + limit
        if src is None:
            scored = self._scored_rows(vc, qv, filter_ast)
        else:
            scored = self._packed_scan(src, qv, filter_ast, k=max(src.refine, n))
            if src.adc:
                # ADC funnel cut: deterministic (adc, pk) total order —
                # pk is unique, so orderBy().limit() (TakeOrderedAndProject,
                # no global window) is exactly the top-``refine`` the SQL
                # oracle's row_number() replay produces. Pagination past
                # the refine budget widens the cut (refine is a floor, not
                # a truncation of the caller's limit)
                scored = self._adc_serve(
                    src, vc, scored, qv,
                    lambda df: _paginate_topk(df, max(src.refine, n), 0, pk),
                )
        return self._finish(_paginate_topk(scored, limit, offset, pk))

    def search_grouped(
        self,
        qv: list[float],
        group_by: str,
        *,
        vector_field: str | None = None,
        limit: int = 10,
        per_group: int = 1,
        filter_ast: dict[str, Any] | None = None,
        nprobe: int | None = None,
    ) -> DataFrame:
        """Grouped KNN — the ``group_by`` search surface modern vector
        DBs expose for diversified results: per distinct value of
        ``group_by``, keep only the nearest ``per_group`` rows, then
        return the global top-``limit`` of the survivors (so no group
        dominates the page).

        Scale shape: on a clean ``blocks`` or ``ivf`` collection the
        per-GROUP top-``per_group`` is taken inside each packed file
        (group values ride in the payload — one matvec per file, ≤
        groups·per_group rows out per file), then one window keyed by
        the group merges file-local winners. Other layouts/states
        scan the row view: distance + ONE window partitioned by the
        group key (a keyed shuffle — never a global sort; group keys
        are metadata values, far coarser than rows), then a
        TakeOrdered final cut over the ≤ groups·per_group survivors.

        ``nprobe`` (clean ivf layouts only): by DEFAULT grouped is a
        SET contract — one winner per group value — so every inverted
        list is scanned (exact; the win is the packed scan). Passing
        ``nprobe`` opts into the APPROXIMATE variant: only the query's
        ``nprobe`` nearest lists are scanned, so a group whose nearest
        members all live in unprobed lists is dropped and a group's
        winner may be a farther member — the result is exactly the
        exact semantics applied to the probed subset. Use it when
        group coverage matters less than latency at very large
        ``n_centroids``."""
        if group_by not in self._payload_schema().names:
            raise KeyError(f"group_by references unknown metadata column {group_by!r}")
        vc, qvs, src = self._route(vector_field, {0: qv}, nprobe=nprobe, exact=True)
        if src is None:
            scored = self._scored_rows(vc, qvs[0], filter_ast)
        else:
            scored = self._packed_scan(
                src, qvs[0], filter_ast, group_col=group_by, per_group=per_group
            )
        pk = self.manifest.index_design.primary_key
        ranked = _top_per(scored, group_by, per_group, pk)
        return self._finish(_paginate_topk(ranked, limit, 0, pk))

    def search_radius(
        self,
        qv: list[float],
        radius: float,
        *,
        vector_field: str | None = None,
        filter_ast: dict[str, Any] | None = None,
        nprobe: int | None = None,
    ) -> DataFrame:
        """Radius query through the collection: every row with
        ``dist ≤ radius`` (unbounded result set — the caller filters
        or aggregates downstream). A pure narrow filter over the scan:
        no window, no top-k state, survives any corpus size. Cosine
        collections score ``|1 - dot|`` on normalize-at-write vectors
        like every other read path.

        Clean ``blocks`` and ``ivf`` collections serve the radius from
        the packed index: one matvec per file through the spool, only
        the in-ball rows move. By DEFAULT an ivf collection scans EVERY
        inverted list's files — a probe subset would silently miss
        qualifying rows, so radius stays exact and the win is the
        packed scan, not pruning. Passing ``nprobe`` opts into the
        APPROXIMATE variant: only the query's ``nprobe`` nearest lists
        are scanned, so in-ball rows living in unprobed lists are
        missed — the result is exactly the exact semantics applied to
        the probed subset (every returned row still genuinely
        satisfies ``dist ≤ radius``). Use it when the ball is known to
        be small relative to the list granularity at very large
        ``n_centroids``."""
        vc, qvs, src = self._route(vector_field, {0: qv}, nprobe=nprobe, exact=True)
        if src is None:
            scored = self._scored_rows(vc, qvs[0], filter_ast).filter(
                F.col("dist") <= F.lit(float(radius))
            )
        else:
            scored = self._packed_scan(src, qvs[0], filter_ast, radius=float(radius))
        return self._finish(scored)

    def search_hybrid_text(
        self,
        text_index,
        query_text: str,
        query_vector: list[float],
        *,
        vector_field: str | None = None,
        filter_ast: dict[str, Any] | None = None,
        candidates: int = 50,
        top_k: int = 10,
    ) -> DataFrame:
        """Product-level lexical + vector hybrid: this collection's
        (optionally filtered) KNN candidates fused with a
        :class:`coltt_spark.textindex.TextIndex`'s BM25 candidates by
        reciprocal-rank fusion, joined on the primary key. Returns
        (pk, bm25_rank, vec_rank, rrf_score) with rank 0 = absent
        from that list — the modern vector-DB "hybrid search" the
        reference's filter ∩ candidates hybrid stops short of.

        Scale: both candidate generators are the verified serving
        shapes (packed-block KNN; term-pruned postings BM25), each
        emitting ``candidates`` rows; fusion touches 2·K rows.
        """
        from coltt_spark.operators.fulltext import _ranked, rrf_fuse

        pk = self.manifest.index_design.primary_key
        vec = self.search(
            query_vector,
            vector_field=vector_field,
            filter_ast=filter_ast,
            limit=candidates,
        )
        vec_ranked = _ranked(vec, pk, F.col("dist").asc(), candidates)
        # raw scores: rank by the unrounded double so display-rounding
        # ties cannot reshuffle ranks vs the oracle-verified ad-hoc
        # fusion
        lex = text_index.search(query_text, top_k=candidates, raw_scores=True)
        if text_index.id_col != pk:
            lex = lex.withColumnRenamed(text_index.id_col, pk)
        lex_type = dict(lex.dtypes)[pk]
        vec_type = dict(vec.dtypes)[pk]
        if lex_type != vec_type:
            # a silent type coercion would NULL the join keys and
            # degenerate the fusion into two disjoint lists
            raise ValueError(
                f"search_hybrid_text: text index id type {lex_type!r} != "
                f"collection pk type {vec_type!r} — build the index with "
                f"ids cast to the collection's primary-key type"
            )
        lex_ranked = _ranked(lex, pk, F.col("score").desc(), candidates)
        fused = rrf_fuse([lex_ranked, vec_ranked], pk, top_k=top_k)
        return fused.select(
            F.col(pk),
            F.coalesce(F.col("rank_0"), F.lit(0)).alias("bm25_rank"),
            F.coalesce(F.col("rank_1"), F.lit(0)).alias("vec_rank"),
            F.round("rrf_score", 4).alias("rrf_score"),
        )

    def search_hybrid_text_batch(
        self,
        text_index,
        queries: dict[int, tuple[str, list[float]]],
        *,
        vector_field: str | None = None,
        filter_ast: dict[str, Any] | None = None,
        candidates: int = 50,
        top_k: int = 10,
    ) -> DataFrame:
        """Batched hybrid serving: B (query_text, query_vector) pairs
        answered together — the vector legs ride ONE
        :meth:`search_batch` job over the union of probed lists, the
        lexical legs ONE pruned postings read
        (``TextIndex.search_batch``), and fusion is the per-query RRF
        fold (:func:`~coltt_spark.operators.fulltext.rrf_fuse_batch`).
        Returns (query_id, pk, bm25_rank, vec_rank, rrf_score);
        batch ≡ sequential :meth:`search_hybrid_text` is pinned by
        tests/test_fulltext.py."""
        from coltt_spark.operators.fulltext import _ranked_batch, rrf_fuse_batch

        pk = self.manifest.index_design.primary_key
        vec = self.search_batch(
            {int(i): v for i, (_t, v) in queries.items()},
            vector_field=vector_field,
            filter_ast=filter_ast,
            limit=candidates,
        )
        vec_ranked = _ranked_batch(vec, pk, F.col("dist").asc(), candidates)
        lex = text_index.search_batch(
            {int(i): t for i, (t, _v) in queries.items()},
            k=candidates,
            raw_scores=True,
        )
        if text_index.id_col != pk:
            lex = lex.withColumnRenamed(text_index.id_col, pk)
        lex_type = dict(lex.dtypes)[pk]
        vec_type = dict(vec.dtypes)[pk]
        if lex_type != vec_type:
            raise ValueError(
                f"search_hybrid_text_batch: text index id type {lex_type!r} "
                f"!= collection pk type {vec_type!r} — build the index with "
                f"ids cast to the collection's primary-key type"
            )
        lex_ranked = _ranked_batch(lex, pk, F.col("score").desc(), candidates)
        fused = rrf_fuse_batch([lex_ranked, vec_ranked], pk, top_k=top_k)
        return fused.select(
            "query_id",
            F.col(pk),
            F.coalesce(F.col("rank_0"), F.lit(0)).alias("bm25_rank"),
            F.coalesce(F.col("rank_1"), F.lit(0)).alias("vec_rank"),
            F.round("rrf_score", 4).alias("rrf_score"),
        )

    def search_batch(
        self,
        queries: dict[int, list[float]],
        *,
        vector_field: str | None = None,
        limit: int = 10,
        filter_ast: dict[str, Any] | None = None,
        nprobe: int | None = None,
        refine: int | None = None,
    ) -> DataFrame:
        """Bulk KNN: answer all B queries in ONE job — the
        embed-a-batch / answer-a-batch serving shape whose per-query
        cost amortizes toward memory bandwidth (bench: ~0.02 s/query
        at B=64 over 1M×64, vs ~0.3 s single). Returns (metadata…,
        query_id, dist, score), top-``limit`` per query.

        A clean packed collection answers the batch with one
        ``X @ Qᵀ`` BLAS matmul per index file through the node-local
        spool; on ivf/ivfpq layouts the files are the union of every
        query's probed lists and each file is scored only for the
        queries that probe its list (``file_query_ids``), so every
        query reranks exactly its own ``nprobe`` lists. Only B·k
        winner rows leave the scan; metadata comes from a broadcast
        join of those winners back to the (vector-pruned) snapshot,
        and the (dist, pk) re-rank resolves boundary ties exactly like
        the single-query path. Other layouts/states fall back to one
        exact scan with the query set broadcast (same semantics,
        row-layout cost): the corpus is read ONCE instead of B times,
        and a window partitioned by query_id keeps top-k per query
        (never a global sort).

        ``filter_ast`` restricts every query of the batch to the
        matching rows on whatever path serves it: a block-local
        payload mask on the packed index, or a plain pushed filter on
        the fallback scan.
        """
        vc, qvs, src = self._route(vector_field, queries, nprobe=nprobe, refine=refine)
        pk = self.manifest.index_design.primary_key
        if src is None:
            scored = self._scored_rows(vc, qvs, filter_ast)
        else:
            winners = self._packed_scan(src, qvs, filter_ast, k=max(src.refine, limit))
            meta = self._view.drop(*self._vector_cols())
            scored = F.broadcast(winners).join(meta, on=_COMMIT)
            if src.adc:
                # per-query (adc, pk) cut — the SAME deterministic order
                # as the single-query refine cut, so batch results equal
                # a per-query loop of search() row for row
                scored = self._adc_serve(
                    src, vc, scored, qvs,
                    lambda df: _top_per(df, "query_id", max(src.refine, limit), pk),
                )
        return self._finish(_top_per(scored, "query_id", limit, pk), batch=True)

    # -- the read path shared by every search ---------------------------

    def _route(
        self,
        vector_field: str | None,
        queries: dict[int, list[float]],
        *,
        nprobe: int | None = None,
        refine: int | None = None,
        exact: bool = False,
    ) -> tuple[str, dict[int, list[float]], _Packed | None]:
        """THE routing decision of every read: validate the vector
        field, the queries and the ``nprobe``/``refine`` dials, and
        name the packed source that serves the read — or None for the
        row path (unflushed DML, the ``rows`` layout, or no index).

        A clean ``blocks`` collection scans every file of its index
        dir. A clean ``ivf``/``ivfpq`` collection scans its probed
        lists' files: each query's ``nprobe`` nearest lists, or every
        list when an ``exact`` read (grouped, radius — set contracts)
        runs without an explicit ``nprobe``. An ivfpq index holds PQ
        codes, not vectors, so exact reads on it take the row path.
        Cosine queries come back unit-normalized, the form every
        kernel scores (normalize-at-write)."""
        from coltt_spark.operators.blocks import ivf_files, ivf_probe_centroids

        m = self.manifest
        qvs = {int(i): validate_vector(m.dim, v) for i, v in queries.items()}
        vcols = self._vector_cols()
        vc = vector_field or (vcols[0] if len(vcols) == 1 else None)
        if vc is None or vc not in vcols:
            raise ValueError(f"vector_field must be one of {vcols}")
        if nprobe is not None and nprobe < 1:
            raise ValueError(f"nprobe must be >= 1, got {nprobe}")
        if refine is not None and m.layout != "ivfpq":
            raise ValueError(
                f"refine is an ivfpq-layout dial; this {m.layout!r} collection "
                "serves exact distances (nothing to refine)"
            )
        if refine is not None and refine < 0:
            raise ValueError(f"refine must be >= 0, got {refine}")
        if m.distance == "cosine":
            qvs = {i: self._normalize_query(v) for i, v in qvs.items()}
        if self._dirty or m.layout == "rows" or (exact and m.layout == "ivfpq"):
            return vc, qvs, None
        if m.layout == "blocks":
            d = self._blocks_dir(vc)
            return vc, qvs, (_Packed(path=d) if os.path.isdir(d) else None)
        if not self._ivf_ready(vc):
            return vc, qvs, None
        d = self._ivf_dir(vc)
        if exact and nprobe is None:
            probes = {i: list(range(m.ivf_centroids)) for i in qvs}
        else:
            Cn = np.load(os.path.join(d, "centroids.npy"))
            probes = {
                i: ivf_probe_centroids(Cn, v, nprobe or m.ivf_nprobe)
                for i, v in qvs.items()
            }
        # list each probed list's directory ONCE for the whole read
        by_list = {
            c: ivf_files(os.path.join(d, "blocks"), [c])
            for c in sorted({c for cs in probes.values() for c in cs})
        }
        file_query_ids: dict[str, list[int]] = {}
        for i, cs in probes.items():
            for c in cs:
                for f in by_list[c]:
                    file_query_ids.setdefault(f, []).append(i)
        adc = m.layout == "ivfpq"
        return vc, qvs, _Packed(
            ivf_dir=d,
            files=[f for fs in by_list.values() for f in fs],
            probes=probes,
            file_query_ids=file_query_ids,
            adc=adc,
            refine=(m.ivfpq_refine if refine is None else refine) if adc else 0,
        )

    @staticmethod
    def _normalize_query(qv: list[float]) -> list[float]:
        """Unit-normalize a cosine query in float64 (zero-norm guard).

        The norm is a SEQUENTIAL left-to-right sum (not numpy pairwise)
        so a SQL oracle's ``sqrt(list_dot_product(q, q))`` — also a
        sequential fold — reproduces it bit-for-bit; that exactness is
        what lets the quantized-KNN oracles replay f16/bf16/f8 rounding
        on identical inputs."""
        acc = 0.0
        for x in qv:
            acc += float(x) * float(x)
        n = math.sqrt(acc)
        return [float(x) / n for x in qv] if n else [float(x) for x in qv]

    @property
    def _kind(self) -> str:
        """Distance kernel of every read: cosine collections normalize
        at write and every read normalizes its query, so cosine scores
        ``|1 - dot|`` with no re-normalization (stored norms are NOT
        re-applied — quantized rows would otherwise drift from the
        oracle's contract)."""
        d = self.manifest.distance
        return "cosine_unit" if d == "cosine" else d

    def _scored_rows(
        self, vc: str, q: list[float] | dict[int, list[float]], filter_ast
    ) -> DataFrame:
        """The row path of every read: the dequantized view, filtered,
        with ``dist`` to ``q`` — one query vector, or a ``{query_id:
        vector}`` batch broadcast as a query table (the brute_topk
        shape: ONE corpus scan scores the cross join)."""
        df = self._dequantized()
        if filter_ast is not None:
            df = df.filter(compile_filter(df, filter_ast))
        if isinstance(q, dict):
            df = df.crossJoin(F.broadcast(self._query_table(q)))
            q = F.col("_qv")
        return df.withColumn("dist", vector_distance(self._kind, F.col(vc), q))

    def _query_table(self, qvs: dict[int, list[float]]) -> DataFrame:
        """A batch's queries as a (query_id, _qv) table to broadcast."""
        return self.spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in sorted(qvs.items())],
            T.StructType(
                [
                    T.StructField("query_id", T.LongType(), False),
                    T.StructField("_qv", T.ArrayType(T.DoubleType()), False),
                ]
            ),
        )

    def _payload_schema(self) -> T.StructType:
        """Every metadata column in storage order — what each packed
        index file carries as its per-row payload."""
        return T.StructType(
            [
                f for f in self._storage_schema()
                if f.name not in self._vector_cols() and f.name != _COMMIT
            ]
        )

    def _packed_scan(
        self,
        src: _Packed,
        q: list[float] | dict[int, list[float]],
        filter_ast,
        **mode: Any,
    ) -> DataFrame:
        """Score ``src``'s files. One query vector → each file's local
        top-``k`` (or per-group top, or radius ball — ``mode``) WITH
        its metadata payload, all in ONE lazy job; a ``{query_id:
        vector}`` batch → (query_id, commit id, dist) top-``k`` per
        query plus boundary ties, one ``X @ Qᵀ`` per file. Rows carry
        the commit id as ``_commit_id`` (the payload may hold a user
        column named ``id``). On ivfpq the files hold PQ codes, scored
        by ADC against per-(query, list) residual LUTs. A filter
        compiles to a vectorized mask over each file's payload,
        evaluated before the distance kernel; rows superseded by a
        delta flush are masked by the version's commit-id tombstones."""
        from coltt_spark import filters
        from coltt_spark.operators import blocks

        m = self.manifest
        payload_schema = self._payload_schema()
        payload_filter = (
            None if filter_ast is None
            else filters.compile_filter_mask(payload_schema, filter_ast)
        )
        tomb = self._tombstones_dir()
        batch = isinstance(q, dict)
        if src.adc:
            luts = self._adc_luts(src, q if batch else {0: q})
            kernel: dict[str, Any] = {
                "dim": m.pq_subspaces,
                "distance": "adc",
                "dtype": "uint8",
                "adc_luts": luts if batch else {c: t for (_, c), t in luts.items()},
            }
            if not batch:
                q = None  # the LUTs carry the query
        else:
            kernel = {"dim": m.dim, "distance": self._kind, "dtype": m.block_dtype}
        common = dict(
            tombstones=tomb if os.path.isdir(tomb) else None,
            payload_filter=payload_filter, files=src.files, **kernel, **mode,
        )
        if batch:
            return blocks.block_index_topk_batch(
                self.spark, src.path, q, file_query_ids=src.file_query_ids, **common
            ).withColumnRenamed("id", _COMMIT)
        return blocks.block_index_scan(
            self.spark, src.path, q,
            payload_schema=payload_schema, id_alias=_COMMIT, **common,
        )

    def _adc_luts(
        self, src: _Packed, qvs: dict[int, list[float]]
    ) -> dict[tuple[int, int], np.ndarray]:
        """Residual ADC lookup tables keyed (query_id, probed list):
        the query residual differs per coarse centroid — the defining
        IVFADC detail. Sequential-fold double
        (:func:`~coltt_spark.operators.pq.ivfpq_residual_luts` keeps
        the ordinal fold order), the arithmetic the registry oracle
        replays in SQL. An OPQ index rotates the residuals first:
        codes encode the ROTATED residual, while the exact rerank
        stays in the raw space (rotation-invariant)."""
        from coltt_spark.operators.pq import ivfpq_residual_luts

        Cn = np.load(os.path.join(src.ivf_dir, "centroids.npy"))
        book = np.load(os.path.join(src.ivf_dir, "book.npy"))
        pairs = [(qid, c) for qid, cs in sorted(src.probes.items()) for c in cs]
        qrs = np.array(
            [
                [float(qvs[qid][j]) - float(Cn[c][j]) for j in range(self.manifest.dim)]
                for qid, c in pairs
            ],
            dtype=np.float64,
        )
        rot_path = os.path.join(src.ivf_dir, "rotation.npy")
        if os.path.isfile(rot_path):
            qrs = qrs @ np.load(rot_path)
        lut_mat = ivfpq_residual_luts(qrs, book)
        return {pair: lut_mat[i] for i, pair in enumerate(pairs)}

    def _adc_serve(self, src: _Packed, vc: str, scored: DataFrame, q, cut) -> DataFrame:
        """Finish an ADC scan. ``refine=0`` serves the estimate: the
        scan scores the residual EUCLIDEAN distance, and on unit
        vectors ``|1 − dot| = euclid²/2``, so cosine collections map it
        into the cosine domain (monotone — the ranking is unchanged,
        and the refine dial never flips the dist/score scale).
        Otherwise ``cut`` keeps the top ``refine`` candidates by (adc,
        pk) and they are re-scored with the exact distance via ONE
        broadcast join against the PROBED lists' exact-vector rows
        (``vecs/centroid=<c>/`` written at flush — candidates are
        members of the probed lists by construction, so the rerank
        reads nprobe/n_centroids of the vector bytes, never a full
        snapshot scan). Those rows hold the same dequantized values as
        the snapshot, stored as double, so the exact fold — and the
        SQL oracle's replay — is unchanged to the bit. Indexes flushed
        before the rerank tree existed fall back to the column-pruned
        snapshot."""
        if not src.refine:
            if self.manifest.distance != "cosine":
                return scored
            return scored.withColumn("dist", F.col("dist") * F.col("dist") / F.lit(2.0))
        cand = cut(scored).drop("dist")
        vecs_root = os.path.join(src.ivf_dir, "vecs")
        if os.path.isdir(vecs_root):
            vschema = T.StructType(
                [
                    T.StructField(_COMMIT, T.LongType(), False),
                    T.StructField(vc, T.ArrayType(T.DoubleType()), False),
                ]
            )
            vdirs = [
                p
                for p in (
                    os.path.join(vecs_root, f"centroid={c}")
                    for c in sorted({c for cs in src.probes.values() for c in cs})
                )
                if os.path.isdir(p)
            ]
            vecs = (
                self.spark.read.schema(vschema).parquet(*vdirs)
                if vdirs
                else self.spark.createDataFrame([], vschema)
            )
        else:
            vecs = self._dequantized().select(_COMMIT, vc)
        rescored = vecs.join(F.broadcast(cand), on=_COMMIT)
        if isinstance(q, dict):
            rescored = rescored.join(F.broadcast(self._query_table(q)), on="query_id")
            q = F.col("_qv")
        return rescored.withColumn("dist", vector_distance(self._kind, F.col(vc), q))

    def _finish(self, scored: DataFrame, *, batch: bool = False) -> DataFrame:
        """THE result shape of every read, whichever path served it:
        metadata in index-design order, then ``query_id`` (batches),
        ``dist`` and ``score``. Stored vectors come back only from a
        single-query read of a ``rows`` collection (its long-standing
        output); commit ids and scratch columns never do."""
        m = self.manifest
        vcols = self._vector_cols()
        keep_vectors = m.layout == "rows" and not batch
        names = [
            f.name for f in self._storage_schema()
            if f.name != _COMMIT and (keep_vectors or f.name not in vcols)
        ] + (["query_id"] if batch else []) + ["dist"]
        # the projection is the same tree on every read of this shape:
        # build it once per session (a Column per name costs py4j
        # round-trips on every construction)
        return scored.select(*memo_columns(
            f"catalog.finish{(m.distance, tuple(names))!r}",
            lambda: [F.col(n) for n in names]
            + [score_expr(m.distance, F.col("dist")).alias("score")],
        ))

    def multi_search(
        self,
        fields: dict[str, dict[str, Any]],
        *,
        filter_ast: dict[str, Any] | None = None,
        limit: int = 10,
        offset: int = 0,
    ) -> DataFrame:
        """CFLAT weighted multi-vector fusion over named vector fields
        (experimental MultiVertexSearch; ratios must sum to 100)."""
        vcols = set(self._vector_cols())
        bad = set(fields) - vcols
        if bad:
            raise ValueError(f"unknown vector fields {sorted(bad)}; declared: {sorted(vcols)}")
        for spec in fields.values():
            validate_vector(self.manifest.dim, spec.get("query"))
        df = self._dequantized().drop(_COMMIT)
        if filter_ast is not None:
            df = df.filter(compile_filter(df, filter_ast))
        return multi_vector_search(
            df,
            fields,
            distance=self.manifest.distance,
            limit=limit,
            offset=offset,
            tie_break=self.manifest.index_design.primary_key,
        )

    def count(self) -> int:
        return self._view.count()

    # -- lifecycle ----------------------------------------------------

    def flush(self, *, compact: bool = False) -> None:
        """Materialize the in-memory view as the next snapshot version
        and atomically repoint the manifest at it: the durability
        boundary (coltt Flush → MinIO), one operation like the
        reference's store rebuild (``edge/none_vectorstore.go:129-180``).
        Every flush makes the same writes, in this order:

        1. the snapshot of version ``v+1``: the whole view (a full
           flush), or, incrementally, only the rows changed since the
           last flush beside hardlinks to version ``v``'s parts, plus a
           tombstone table of the commit ids they supersede
           (:meth:`_write_delta_snapshot`; the Iceberg/Delta manifest
           shape, realized with hardlinks on a local FS);
        2. for a packed layout, the index of the same rows through the
           one index writer (:meth:`_write_index`): a full build trains
           its quantizer, a delta routes the changed rows into version
           ``v``'s fixed quantizer and hardlinks ``v``'s index files;
        3. the manifest, last. Nothing before it commits: a flush that
           fails earlier leaves the handle and the disk at version
           ``v``, and the next flush first clears whatever the failed
           one left under ``v+1``.

        Packed collections flush incrementally once a base index
        exists, so flush cost scales with the change, not the
        collection, the way the reference's per-write in-place store
        update amortizes (``edge/none_vectorstore.go:66-103``).
        ``compact=True`` (or :meth:`compact`) forces the full rewrite:
        deltas fold, tombstones drop, IVF/PQ quantizers retrain. An
        ivf/ivfpq flush also auto-compacts once any inverted list's
        part-file fan-out has grown by ``ivf_max_list_files`` since the
        last full build (manifest knob, default 10, 0 disables), so
        probe-time read amplification stays bounded without anyone
        remembering to call :meth:`compact`."""
        m = self.manifest
        old_v = m.version
        vcols = self._vector_cols()
        if m.layout == "blocks":
            idx_ready = all(os.path.isdir(self._blocks_dir(vc, old_v)) for vc in vcols)
        elif m.layout in ("ivf", "ivfpq"):
            idx_ready = all(self._ivf_ready(vc, old_v, strict=False) for vc in vcols)
        else:
            idx_ready = False
        incremental = (
            idx_ready and not compact and os.path.isdir(self._data_dir(old_v))
        )
        if (
            incremental
            and m.layout in ("ivf", "ivfpq")
            and m.ivf_max_list_files > 0
            and any(
                self._ivf_worst_list_fanout(vc, old_v) - m.ivf_base_list_files
                >= m.ivf_max_list_files
                for vc in vcols
            )
        ):
            # Auto-compaction: the delta layout's per-list file fan-out
            # grew past the manifest threshold since the last full
            # build, so this flush folds the whole collection instead
            # of appending — bounding probe-time read amplification the
            # way the reference's ticker-driven diskv merge does
            # (diskv/merge.go:40-181), except keyed on the observed
            # fan-out rather than wall clock. Threshold rationale: the
            # measured curve (SURVEY §8) drifts ~25% by ~20 files/list;
            # 10 keeps the drift under ~10% while amortizing the
            # rebuild over ~10 delta flushes.
            incremental = False
        # a failed flush's leftovers would serve its rows under commit
        # ids since handed out again
        new_v = store.begin(self.root, old_v)
        if incremental:
            rows, n_rows = self._write_delta_snapshot(old_v, new_v)
        else:
            self._view.write.mode("overwrite").parquet(self._data_dir(new_v))
            rows, n_rows = self.read_version(new_v), 0
        nxt = dataclasses.replace(m, version=new_v)
        if m.layout != "rows":
            self._write_index(rows, new_v, old_v if incremental else None, n_rows)
        if m.layout in ("ivf", "ivfpq") and not incremental:
            # the fresh layout's fan-out: the baseline the
            # growth-triggered auto-compaction measures against
            nxt.ivf_base_list_files = max(
                (self._ivf_worst_list_fanout(vc, new_v) for vc in vcols), default=0
            )
        self._write_manifest(nxt)
        self.manifest = nxt
        self._view = self._read_version()
        self._dirty = False
        self._reset_pending()
        if not m.versioning:
            store.drop_version(self.root, old_v)

    def compact(self) -> None:
        """Full rewrite: fold all delta files and tombstones into one
        clean snapshot + freshly packed index (the explicit compaction
        a delta-maintained collection runs off the serving path)."""
        self.flush(compact=True)

    def _write_delta_snapshot(self, old_v: int, new_v: int) -> tuple[DataFrame, int]:
        """Write version ``new_v``'s snapshot as a MANIFEST over
        immutable files: hardlinks to every base data part
        (metadata-only ops — on an object store these would be file
        references in a table manifest) + freshly written delta parts
        + a cumulative tombstone table (commit ids superseded by
        upserts or removed by deletes). Readers subtract tombstones;
        the block scan masks them per file. Returns the delta rows
        and their count, for the index writer.

        Cost shape: delta rows come straight from the DML bookkeeping
        (:meth:`_track_upsert` — already checkpointed batches, no
        collection diff), and tombstones from ONE column-pruned pass
        over the base files (PK semi-join against the upserted-PK set
        + the recorded delete predicates; Catalyst prunes the scan to
        the referenced columns). Nothing re-reads or rewrites the
        unchanged bulk — the delta analogue of the reference's
        per-write in-place store update."""
        schema = self._storage_schema()
        pk = self.manifest.index_design.primary_key
        delta, n_delta = _checkpoint_counted(
            self._pending
            if self._pending is not None
            else self.spark.createDataFrame([], schema)
        )
        base = self.spark.read.schema(schema).parquet(self._data_dir(old_v))
        tomb_schema = T.StructType([T.StructField(_COMMIT, T.LongType(), False)])
        dead_parts = []
        if self._upserted_pks is not None:
            dead_parts.append(
                base.join(
                    F.broadcast(self._upserted_pks), on=pk, how="left_semi"
                ).select(_COMMIT)
            )
        for ast in self._delete_asts:
            # a base row matching the predicate but whose pk was since
            # re-upserted is dead via the pk semi-join anyway, so
            # evaluating against base values (not view state) is safe
            dead_parts.append(base.filter(compile_filter(base, ast)).select(_COMMIT))
        old_tomb = self._tombstones_dir(old_v)
        if os.path.isdir(old_tomb):
            dead_parts.append(self.spark.read.schema(tomb_schema).parquet(old_tomb))
        if dead_parts:
            dead = reduce(DataFrame.unionByName, dead_parts).distinct()
        else:
            dead = self.spark.createDataFrame([], tomb_schema)
        delta.write.mode("overwrite").parquet(self._data_dir(new_v))
        store.link_tree(self._data_dir(old_v), self._data_dir(new_v))
        dead.write.mode("overwrite").parquet(self._tombstones_dir(new_v))
        return delta, n_delta

    def _write_index(
        self, rows: DataFrame, version: int, base: int | None, n_rows: int
    ) -> None:
        """The one index writer behind every flush: pack ``rows``
        (storage schema) into version ``version``'s index, the same way
        for every layout. Without ``base``, ``rows`` is the whole
        snapshot and the IVF/PQ quantizer is trained on it; with it,
        ``rows`` are the ``n_rows`` changed rows, the quantizer is
        ``base``'s (fixed: it only moves on a full build), and
        ``base``'s index files are hardlinked in beside the new ones;
        tombstones mask the superseded ones.

        Rows are dequantized once and keep ``(commit id, payload…)``
        throughout: the commit id is the block row id (the handle
        tombstones use), and the payload is every non-vector field, so
        winners return their metadata in-scan. An ivf/ivfpq index
        routes the rows through
        :func:`~coltt_spark.operators.ann.ivf_assign`, which appends
        ``centroid`` to every column, so nothing joins back to the
        snapshot. Per vector column:

        - ``blocks``: one block index (``write_block_index``);
        - ``ivf``: each inverted list packed into block files under its
          own ``blocks/centroid=<c>/`` directory (``pack_blocks(
          group_col="centroid")`` + ``partitionBy``, so no block spans
          two lists). A probe prunes by PATH — the Spark analogue of
          HNSW's sub-linear candidate generation
          (``core/vectorindex/hnsw.go:243-278``) — and scans through the
          same node-local spool as ``blocks``;
        - ``ivfpq`` (IVFADC, Jégou et al. 2011; the reference declares
          PQ and never implements it, ``idl/proto/v3/core.proto:105-112``):
          the same tree over each row's M uint8 codes of its residual
          against its centroid, so a row costs M bytes instead of dim·4;
          plus the exact vectors as ``(commit id, vector)`` rows under
          ``vecs/centroid=<c>/``, the refined search's path-pruned
          rerank source, stored as array<double> so the rerank (and its
          SQL oracle) is unchanged to the bit.

        The quantizer lands beside the lists as ``centroids.npy`` (+
        ``book.npy``, + ``rotation.npy`` with OPQ). A full build writes
        ``defaultParallelism`` files per tree, a delta one per
        ``block_rows`` rows up to that, so a small delta is not
        shattered."""
        from coltt_spark.operators.ann import ivf_assign
        from coltt_spark.operators.blocks import pack_blocks, write_block_index
        from coltt_spark.operators.pq import _encode_udf, ivf_residuals

        m = self.manifest
        vcols = self._vector_cols()
        if m.quantization != "none":
            for vc in vcols:
                rows = rows.withColumn(vc, dequantize(m.quantization, vc))
        # payload = every non-vector field in STORAGE ORDER (pk
        # included) — must match _payload_schema()
        pcols = [
            f.name for f in self._storage_schema()
            if f.name not in vcols and f.name != _COMMIT
        ]
        n_files = self.spark.sparkContext.defaultParallelism
        if base is not None:
            block_rows = pack_blocks.__kwdefaults__["block_rows"]
            n_files = max(1, min(n_files, -(-n_rows // block_rows)))
        for vc in vcols:
            src = rows.select(_COMMIT, *pcols, vc)
            pack = dict(
                id_col=_COMMIT, vec_col=vc, dim=m.dim, dtype=m.block_dtype,
                payload_cols=pcols,
            )
            if m.layout == "blocks":
                out = self._blocks_dir(vc, version)
                write_block_index(pack_blocks(src, **pack), out, n_files=n_files)
                if base is not None:
                    store.link_tree(self._blocks_dir(vc, base), out)
                continue
            quant = self._quantizer(rows, vc, base)
            routed = ivf_assign(src, quant["centroids"], id_col=_COMMIT, vec_col=vc)
            lists, trees = routed, {}
            if m.layout == "ivfpq":
                # one file per inverted list and writer
                trees["vecs"] = routed.select(
                    "centroid", _COMMIT, F.col(vc).cast("array<double>").alias(vc)
                ).repartition(n_files, "centroid")
                encode = _encode_udf(quant["book"], rotation=quant.get("rotation"))
                lists = ivf_residuals(routed, quant["centroids"], vec_col=vc).select(
                    _COMMIT, *pcols, "centroid", encode(F.col("_rv")).alias("_codes")
                )
                pack.update(vec_col="_codes", dim=m.pq_subspaces, dtype="uint8")
            trees["blocks"] = pack_blocks(
                lists.repartition(n_files, "centroid"), group_col="centroid", **pack
            )
            out = self._ivf_dir(vc, version)
            for name, tree in trees.items():
                # the lists live under <dir>/<tree> to keep partition
                # discovery away from the sidecars
                tree.write.mode("overwrite").partitionBy("centroid").parquet(
                    os.path.join(out, name)
                )
                if base is not None:
                    store.link_tree(
                        os.path.join(self._ivf_dir(vc, base), name), os.path.join(out, name)
                    )
            for name, arr in quant.items():
                np.save(os.path.join(out, f"{name}.npy"), arr)

    def _quantizer(
        self, rows: DataFrame, vc: str, base: int | None
    ) -> dict[str, np.ndarray]:
        """The IVF quantizer of ``vc`` by sidecar name: the coarse
        ``centroids``, plus for ivfpq the residual PQ ``book`` and, with
        OPQ, its ``rotation``. A delta loads ``base``'s. A full build
        trains them on the dequantized snapshot ``rows`` keyed on the
        PK: md5-seeded, Lloyd-refined k-means
        (:func:`~coltt_spark.operators.ann.ivf_build`), then codebooks
        on the residuals against it
        (:func:`~coltt_spark.operators.pq.pq_train`) or, with OPQ (Ge
        et al. 2014), an orthogonal rotation and codebooks learned on a
        deterministic residual sample. The coarse quantizer, the vecs
        rerank tree and the exact rerank ignore the rotation:
        distances are rotation-invariant."""
        if base is not None:
            d = self._ivf_dir(vc, base)
            return {
                name: np.load(os.path.join(d, f"{name}.npy"))
                for name in ("centroids", "book", "rotation")
                if os.path.isfile(os.path.join(d, f"{name}.npy"))
            }
        from coltt_spark.operators.ann import ivf_build
        from coltt_spark.operators.pq import ivf_residuals, opq_sample, opq_train_np, pq_train

        m = self.manifest
        pk = m.index_design.primary_key
        assigned, Cn = ivf_build(
            rows.select(pk, vc), id_col=pk, vec_col=vc,
            n_centroids=m.ivf_centroids, kmeans_iters=m.ivf_kmeans_iters,
        )
        quant = {"centroids": Cn}
        if m.layout == "ivfpq":
            resid = ivf_residuals(assigned, Cn, vec_col=vc)
            geometry = dict(n_subspaces=m.pq_subspaces, n_codes=m.pq_codes)
            if m.pq_opq:
                sample = opq_sample(resid, id_col=pk, vec_col="_rv")
                quant["rotation"], quant["book"] = opq_train_np(sample, **geometry)
            else:
                quant["book"] = pq_train(resid, id_col=pk, vec_col="_rv", **geometry)
        return quant

    def versions(self) -> list[int]:
        """Snapshot versions currently retained on storage."""
        return store.versions(self.root)

    def read_version(self, version: int) -> DataFrame:
        """Time-travel read of a retained snapshot version (edge v4
        ``versioning`` buckets keep prior object versions until the
        lifecycle job prunes them — ``edge/edge_helper.go:97-105``)."""
        if not os.path.isdir(self._data_dir(version)):
            raise ValueError(
                f"version {version} is not retained (have {self.versions()})"
            )
        df = self.spark.read.schema(self._storage_schema()).parquet(
            self._data_dir(version)
        )
        return self._minus_tombstones(df, self._tombstones_dir(version))

    def lifecycle_cleanup(self) -> None:
        """Prune every non-latest snapshot version — the Spark analogue
        of the reference's BucketLifeCycleJob → VersionCleanUp, which
        removes all non-latest object versions from a versioned bucket
        (``edge/edge_helper.go:97-105``,
        ``pkg/minio/bucket_handler.go:106-119``)."""
        for v in self.versions():
            if v != self.manifest.version:
                store.drop_version(self.root, v)

    def load(self) -> None:
        """Pin the collection in memory (LoadCollection ⇔ cache)."""
        self._view = self._view.cache()
        self._cached = True

    def release(self) -> None:
        """Persist then evict (ReleaseCollection semantics)."""
        self.flush()
        if self._cached:
            self._view.unpersist()
            self._cached = False

    def info(self) -> dict[str, Any]:
        return {**self.manifest.to_json(), "rows": self.count(), "loaded": self._cached}


class Catalog:
    """Warehouse of collections (CreateCollection / GetCollection /
    DeleteCollection ⇔ directory + manifest lifecycle)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        self._open: dict[str, Collection] = {}

    def _root(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def create_collection(
        self,
        name: str,
        *,
        dim: int,
        distance: str = "cosine",
        quantization: str = "none",
        fields: list | None = None,
        layout: str = "rows",
        block_dtype: str = "float32",
        versioning: bool = False,
        ivf_centroids: int = 16,
        ivf_nprobe: int = 4,
        ivf_kmeans_iters: int = 1,
        ivf_max_list_files: int = 10,
        pq_subspaces: int = 8,
        pq_codes: int = 16,
        ivfpq_refine: int = 50,
        opq: bool = False,
    ) -> Collection:
        if distance not in DISTANCES:
            raise ValueError(f"distance must be one of {DISTANCES}")
        if quantization not in QUANTIZATIONS:
            raise ValueError(f"quantization must be one of {QUANTIZATIONS}")
        if quantization == "bq" and dim % 8:
            raise ValueError(f"bq quantization requires dim % 8 == 0, got dim={dim}")
        if layout not in LAYOUTS:
            raise ValueError(f"layout must be one of {LAYOUTS}")
        if layout == "ivfpq" and dim % pq_subspaces:
            raise ValueError(
                f"ivfpq layout requires dim % pq_subspaces == 0, got "
                f"dim={dim}, pq_subspaces={pq_subspaces}"
            )
        if opq and layout != "ivfpq":
            raise ValueError(
                "opq=True is an ivfpq-layout dial (an OPQ rotation only "
                f"affects PQ subspace encoding), got layout={layout!r}"
            )
        if layout == "ivfpq" and not 2 <= pq_codes <= 256:
            # codes are packed as uint8 — a bigger codebook would wrap
            # silently at pack time and ADC-score with wrong LUT rows
            raise ValueError(
                f"ivfpq layout requires 2 <= pq_codes <= 256 (codes are "
                f"stored as uint8), got pq_codes={pq_codes}"
            )
        root = self._root(name)
        if os.path.exists(root):
            raise ValueError(f"collection {name!r} already exists")
        design = IndexDesign(fields or [])
        manifest = Manifest(
            name, dim, distance, quantization, design, version=0,
            layout=layout, block_dtype=block_dtype, versioning=versioning,
            ivf_centroids=ivf_centroids, ivf_nprobe=ivf_nprobe,
            ivf_kmeans_iters=ivf_kmeans_iters,
            ivf_max_list_files=ivf_max_list_files,
            pq_subspaces=pq_subspaces, pq_codes=pq_codes,
            ivfpq_refine=ivfpq_refine, pq_opq=opq,
        )
        os.makedirs(root)
        coll = Collection.__new__(Collection)
        coll.spark, coll.root, coll.manifest, coll._cached = self.spark, root, manifest, False
        coll._dirty = False
        coll._reset_pending()
        # seed v0 with an empty snapshot so reads always succeed
        empty = self.spark.createDataFrame([], coll._storage_schema())
        empty.write.mode("overwrite").parquet(coll._data_dir(0))
        coll._write_manifest(manifest)
        coll._view = coll._read_version()
        self._open[name] = coll
        return coll

    def get_collection(self, name: str) -> Collection:
        if name in self._open:
            return self._open[name]
        root = self._root(name)
        d = store.read_manifest(root)
        if d is None:
            raise KeyError(f"collection {name!r} does not exist")
        manifest = Manifest.from_json(d)
        coll = Collection(self.spark, root, manifest)
        self._open[name] = coll
        return coll

    def drop_collection(self, name: str) -> None:
        self._open.pop(name, None)
        root = self._root(name)
        if not os.path.isdir(root):
            raise KeyError(f"collection {name!r} does not exist")
        shutil.rmtree(root)

    def list_collections(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isfile(os.path.join(self.warehouse, d, store.MANIFEST))
        )
