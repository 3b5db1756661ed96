"""The benchmark workloads, each a closed loop with one client.

- ``serve``: read-only searches on two flushed collections over the
  same seeded corpus (``layout="blocks"`` exact, ``layout="ivf"`` ANN).
- ``ingest``: upsert / delete / flush cycles on a ``layout="blocks"``
  collection, with an exact search after every flush.

Both call only public entry points (``Catalog`` and
``Collection.{search, search_batch, upsert_df, delete_where, flush,
count}``), check every answer against a numpy model of the
collection, and fill in a :class:`Result`.
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTERS = 100
TOP_K = 10
SERVE_ROWS = 50_000
INGEST_ROWS = 20_000
#: untimed write cycles of the ``ingest`` set-up, without searches. A
#: write cycle on a fresh JVM takes about twice its steady time and
#: comes within about 15% of it after six cycles; the timed cycles
#: start there, so the write median does not follow how fast the JIT
#: warms up
INGEST_WARMUP = 6
IVF_LISTS = 64
IVF_NPROBE = 8
BATCH_QUERIES = 32
#: fixed seeded queries of the ANN recall measurement, each answered
#: by a single-query ``search`` of ``c_ann`` (the path the ANN latency times)
RECALL_QUERIES = 12
#: a run fails if ANN recall@10 over its recall queries falls below
#: this. Seeded runs read 0.95 to 1.0; probing 2 of the 64 lists
#: instead of 8 reads 0.89 to 0.96, so a smaller loss passes the check
#: and shows only in ``ann_recall_at_10``, which repeats for a seed.
RECALL_FLOOR = 0.9
#: distance tolerance of the result checks: the packed scan scores in
#: float32, the reference in float64
DIST_TOL = 1e-3


@dataclass
class Result:
    """What a workload measured: sample lists in ms, counts, sizes."""

    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    ops_ms: list[float] = field(default_factory=list)
    cycles_s: list[float] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    values: dict[str, float] = field(default_factory=dict)
    context: dict[str, object] = field(default_factory=dict)

    def mark(self, phase: str, t0: float) -> None:
        """Record how far into set-up (seconds since ``t0``) a phase ended."""
        self.context.setdefault("setup_marks_s", {})[phase] = time.perf_counter() - t0

    def sample(self, key: str, ms: float) -> None:
        self.samples.setdefault(key, []).append(ms)

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {label}: {detail}", file=sys.stderr)

    def error(self, label: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"perfbench: ERROR {label}\n{traceback.format_exc()}", file=sys.stderr)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# generated inputs


class Corpus:
    """Distinct clustered vectors plus the metadata the filters use,
    kept in numpy as the reference model of the collection's state.

    Row ``i`` has primary key ``k{i:08d}``; ``live`` marks rows the
    collection should hold, so upserts and deletes of the ``ingest``
    workload apply to the model in place."""

    def __init__(self, rng: np.random.Generator, capacity: int):
        self.rng = rng
        # centers about twice as far apart as a cluster is wide, so
        # neighbours of a query straddle lists and IVF recall is < 1
        self.centers = rng.normal(size=(CLUSTERS, DIM)) * 1.5
        # float64 copies of the stored float32 vectors, and their norms
        self.X = np.zeros((capacity, DIM), np.float64)
        self.norm2 = np.zeros(capacity, np.float64)
        self.tag = np.zeros(capacity, np.int64)
        self.price = np.zeros(capacity, np.float64)
        self.grp = np.zeros(capacity, np.int64)
        self.live = np.zeros(capacity, bool)

    def fresh(self, n: int) -> dict[str, np.ndarray]:
        """Values for ``n`` rows (new keys or updates), not yet applied."""
        lab = self.rng.integers(0, CLUSTERS, n)
        return {
            "X": (self.centers[lab] + self.rng.normal(size=(n, DIM))).astype(np.float32),
            "tag": self.rng.integers(0, 10, n),
            "price": self.rng.random(n),
            "grp": self.rng.integers(0, 1000, n),
        }

    def apply(self, rows: np.ndarray, vals: dict[str, np.ndarray]) -> None:
        """Upsert ``vals`` at ``rows`` into the model."""
        for name, v in vals.items():
            getattr(self, name)[rows] = v
        self.norm2[rows] = np.einsum("ij,ij->i", self.X[rows], self.X[rows])
        self.live[rows] = True

    @staticmethod
    def table(rows: np.ndarray, vals: dict[str, np.ndarray]) -> pa.Table:
        return pa.table({
            "id": [f"k{i:08d}" for i in rows],
            "tag": vals["tag"],
            "price": vals["price"],
            "grp": vals["grp"],
            "vector": pa.FixedSizeListArray.from_arrays(
                pa.array(vals["X"].ravel()), DIM
            ).cast(pa.list_(pa.float32())),
        })

    def query(self) -> list[float]:
        c = self.centers[self.rng.integers(0, CLUSTERS)]
        return [float(x) for x in c + self.rng.normal(size=DIM)]

    def distances(self, q: list[float]) -> np.ndarray:
        qa = np.asarray(q)
        return np.sqrt(np.maximum(self.norm2 + qa @ qa - 2.0 * (self.X @ qa), 0.0))

    def logical_bytes(self) -> int:
        """User bytes of the live rows: key text, three 8-byte fields
        and the float32 vector."""
        n = int(self.live.sum())
        return n * (9 + 3 * 8 + 4 * DIM)


def mask_of(corpus: Corpus, ast: dict | None) -> np.ndarray:
    """Rows a filter AST of this benchmark selects, over live rows."""
    m = corpus.live.copy()
    if ast is None:
        return m
    col = getattr(corpus, ast["index_name"])
    if ast["op"] == "eq":
        return m & (col == ast["value"])
    if ast["op"] == "between":
        lo, hi = ast["value"]
        return m & (col >= lo) & (col <= hi)
    raise ValueError(ast)


def check_topk(
    res: Result, label: str, corpus: Corpus, q: list[float], rows: list,
    ast: dict | None = None, *, exact: bool = True,
) -> float:
    """Check one top-k answer against numpy over the model; returns
    its recall against the exact top-k.

    Exact answers must hold the k nearest candidates, up to swaps of
    neighbours whose distances differ by less than the float32 scan
    tolerance (ties fall to the primary key inside the program). ANN
    answers must be valid: live, filter-matching, correctly scored,
    sorted rows."""
    cand = mask_of(corpus, ast)
    D = corpus.distances(q)
    idx = np.flatnonzero(cand)
    want = np.sort(D[idx])[:TOP_K]
    try:
        got = np.array([int(r["id"][1:]) for r in rows], np.int64)
        got_d = np.array([float(r["dist"]) for r in rows])
    except (KeyError, ValueError, TypeError) as e:
        res.check(label, False, f"malformed rows: {e!r}")
        return 0.0
    problems = []
    if len(got) != min(TOP_K, len(idx)):
        problems.append(f"{len(got)} rows, want {min(TOP_K, len(idx))}")
    elif len(set(got.tolist())) != len(got):
        problems.append("duplicate ids")
    elif not cand[got].all():
        problems.append("row outside the live, filter-matching set")
    elif np.abs(got_d - D[got]).max(initial=0.0) > DIST_TOL:
        problems.append("dist differs from the true distance")
    elif np.any(np.diff(got_d) < -DIST_TOL):
        problems.append("rows not sorted by dist")
    elif exact and np.abs(np.sort(D[got]) - want).max(initial=0.0) > DIST_TOL:
        problems.append("not the exact top-k")
    res.check(label, not problems, "; ".join(problems))
    exact_ids = idx[np.argsort(D[idx], kind="stable")[:TOP_K]]
    return len(set(got.tolist()) & set(exact_ids.tolist())) / max(len(exact_ids), 1)


def _fields():
    from coltt_spark.schema import IndexField

    return [
        IndexField("id", "string", primary_key=True),
        IndexField("tag", "integer"),
        IndexField("price", "float"),
        IndexField("grp", "integer"),
    ]


def _build(spark, catalog, name: str, path: str, **layout):
    coll = catalog.create_collection(
        name, dim=DIM, distance="euclidean", fields=_fields(), **layout
    )
    coll.upsert_df(spark.read.parquet(path), dedupe_batch=False)
    coll.flush()
    return coll


def version_stats(coll) -> dict[str, float]:
    """Files and bytes of the collection's live version (each inode
    once: delta flushes hardlink unchanged parts into the new version)
    and its tombstoned row count, read from the directory tree."""
    v = coll.manifest.version
    inodes: dict[int, int] = {}
    files = 0
    for d in (f"v{v}", f"v{v}_blocks", f"v{v}_ivf", f"v{v}_tombstones"):
        for base, _dirs, names in os.walk(os.path.join(coll.root, d)):
            for n in names:
                st = os.stat(os.path.join(base, n))
                files += 1
                inodes[st.st_ino] = st.st_size
    tomb_dir = os.path.join(coll.root, f"v{v}_tombstones")
    tombs = 0
    if os.path.isdir(tomb_dir):
        tombs = sum(
            pq.read_metadata(os.path.join(tomb_dir, n)).num_rows
            for n in os.listdir(tomb_dir)
            if n.endswith(".parquet")
        )
    return {"files": files, "bytes": sum(inodes.values()), "tombstones": tombs}


# ---------------------------------------------------------------------------
# serve


def _search(tracer, coll, kind: str, q, ast):
    """One traced single-query search; returns (rows, ms)."""
    with tracer.op(f"search.{kind}"):
        t = time.perf_counter()
        with tracer.span("catalog.search"):
            df = coll.search(q, filter_ast=ast, limit=TOP_K)
        with tracer.span("catalog.search.collect"):
            rows = df.collect()
        ms = (time.perf_counter() - t) * 1e3
        tracer.catalyst(df)
    return rows, ms


def serve(spark, tracer, rng, seconds: float, scratch: str, res: Result) -> dict:
    from coltt_spark.catalog import Catalog

    t0 = time.perf_counter()
    corpus = Corpus(rng, SERVE_ROWS)
    rows = np.arange(SERVE_ROWS)
    vals = corpus.fresh(SERVE_ROWS)
    corpus.apply(rows, vals)
    path = os.path.join(scratch, "corpus.parquet")
    pq.write_table(Corpus.table(rows, vals), path)
    cat = Catalog(spark, os.path.join(scratch, "warehouse"))
    res.mark("generate", t0)
    exact = _build(spark, cat, "c_exact", path, layout="blocks")
    res.mark("build_c_exact", t0)
    ann = _build(
        spark, cat, "c_ann", path, layout="ivf",
        ivf_centroids=IVF_LISTS, ivf_nprobe=IVF_NPROBE,
    )
    res.mark("build_c_ann", t0)
    kinds = ("exact", "eq", "range", "ann")
    # ANN searches take their queries in turn from a fixed list drawn
    # before any request, and recall is measured over that list, so it
    # repeats exactly for a seed however many cycles a run makes
    recall_qs = [corpus.query() for _ in range(RECALL_QUERIES)]
    recall: dict[int, float] = {}
    ann_turn = itertools.count()

    def single(kind: str, timed: bool) -> float:
        if kind == "ann":
            turn = next(ann_turn) % RECALL_QUERIES
            q = recall_qs[turn]
        else:
            q = corpus.query()
        ast = None
        if kind == "eq":  # about 10% of rows
            ast = {"index_name": "tag", "op": "eq", "value": int(rng.integers(0, 10))}
        elif kind == "range":  # about 50% of rows
            lo = float(rng.random() * 0.5)
            ast = {"index_name": "price", "op": "between", "value": [lo, lo + 0.5]}
        try:
            rows, ms = _search(tracer, ann if kind == "ann" else exact, kind, q, ast)
        except Exception:
            res.error(f"search.{kind}")
            return 0.0
        r = check_topk(res, f"search.{kind}", corpus, q, rows, ast, exact=kind != "ann")
        if kind == "ann":
            recall[turn] = r
        if timed:
            # the workload's operation is an exact single-query search;
            # ANN searches are a latency class of their own
            if kind != "ann":
                res.ops_ms.append(ms)
            res.sample(kind, ms)
        return ms

    def exact_batch(timed: bool) -> float:
        qs = {i: corpus.query() for i in range(BATCH_QUERIES)}
        try:
            with tracer.op("search_batch"):
                t = time.perf_counter()
                with tracer.span("catalog.search_batch"):
                    df = exact.search_batch(qs, limit=TOP_K)
                with tracer.span("catalog.search_batch.collect"):
                    rows = df.collect()
                ms = (time.perf_counter() - t) * 1e3
                tracer.catalyst(df)
        except Exception:
            res.error("search_batch")
            return 0.0
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["query_id"]), []).append(r)
        for i, q in qs.items():
            check_topk(
                res, "search_batch", corpus, q,
                sorted(by_q.get(i, []), key=lambda r: (r["dist"], r["id"])),
            )
        if timed:
            res.sample("batch_per_query", ms / BATCH_QUERIES)
        return ms

    # warm-up, untimed: Python workers, page cache, and a spool entry
    # for every block file (an all-lists probe touches every IVF list)
    for kind in kinds:
        single(kind, timed=False)
    exact_batch(timed=False)
    ann.search(corpus.query(), limit=TOP_K, nprobe=IVF_LISTS).collect()
    res.mark("warm_up", t0)
    res.setup_s = time.perf_counter() - t0

    tracer.phase = "timed"
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or not res.cycles_s:
        busy_ms = sum(single(str(kind), timed=True) for kind in rng.permutation(kinds))
        busy_ms += exact_batch(timed=True)
        res.cycles_s.append(busy_ms / 1e3)

    # the recall queries the ANN searches of the run did not reach
    tracer.phase = "checks"
    for turn, q in enumerate(recall_qs):
        if turn in recall:
            continue
        try:
            rows, _ms = _search(tracer, ann, "ann_recall", q, None)
        except Exception:
            res.error("ANN recall search")
            continue
        recall[turn] = check_topk(res, "ANN recall search", corpus, q, rows, exact=False)
    recall_at_10 = float(np.mean(list(recall.values()))) if recall else 0.0
    res.check("ANN recall@10", recall_at_10 >= RECALL_FLOOR,
              f"{recall_at_10:.4f} over {len(recall)} queries, floor {RECALL_FLOOR}")
    singles = [ms for k in kinds for ms in res.samples.get(k, [])]
    stats = version_stats(exact)
    res.values.update({
        "search_p50_ms": median(res.samples.get("exact")),
        "search_p90_ms": float(np.percentile(singles, 90)) if singles else 0.0,
        "filtered_search_p50_ms": median(
            res.samples.get("eq", []) + res.samples.get("range", [])
        ),
        "ann_search_p50_ms": median(res.samples.get("ann")),
        "ann_recall_at_10": recall_at_10,
        "batch_search_ms_per_query": median(res.samples.get("batch_per_query")),
        "bytes_per_user_byte": stats["bytes"] / corpus.logical_bytes(),
    })
    res.context["rows"] = {"c_exact": SERVE_ROWS, "c_ann": SERVE_ROWS}
    return stats


# ---------------------------------------------------------------------------
# ingest


def ingest_cycles(seconds: float) -> int:
    """The timed write cycles of one ``ingest`` run: one per 2 s of
    ``--seconds``. The count is fixed, not left to the clock, so every
    run leaves the same number of delta flushes behind and
    read-after-write latency stays comparable across runs and commits."""
    return max(3, round(seconds / 2))


def ingest(spark, tracer, rng, seconds: float, scratch: str, res: Result) -> dict:
    from coltt_spark.catalog import Catalog

    cycles = ingest_cycles(seconds)
    batch_rows = INGEST_ROWS // 100
    new_per_batch = batch_rows // 2
    t0 = time.perf_counter()
    corpus = Corpus(rng, INGEST_ROWS + (INGEST_WARMUP + cycles) * new_per_batch)
    rows = np.arange(INGEST_ROWS)
    vals = corpus.fresh(INGEST_ROWS)
    corpus.apply(rows, vals)
    path = os.path.join(scratch, "corpus.parquet")
    pq.write_table(Corpus.table(rows, vals), path)
    cat = Catalog(spark, os.path.join(scratch, "warehouse"))
    res.mark("generate", t0)
    coll = _build(spark, cat, "c_ingest", path, layout="blocks")
    res.mark("build_c_ingest", t0)

    # every batch is generated and checkpointed before the clock
    # starts; half its keys update live rows, half are new
    plans = []
    live, grp = corpus.live.copy(), corpus.grp.copy()
    next_key = INGEST_ROWS
    for c in range(INGEST_WARMUP + cycles):
        upd = rng.choice(np.flatnonzero(live), batch_rows - new_per_batch, replace=False)
        rows = np.concatenate([upd, np.arange(next_key, next_key + new_per_batch)])
        next_key += new_per_batch
        vals = corpus.fresh(len(rows))
        live[rows], grp[rows] = True, vals["grp"]
        bpath = os.path.join(scratch, f"batch{c}.parquet")
        pq.write_table(Corpus.table(rows, vals), bpath)
        df = spark.read.parquet(bpath).localCheckpoint(eager=True)
        delete = None
        if c % 3 == 2:  # a small slice: about 0.1% of rows
            delete = {"index_name": "grp", "op": "eq", "value": int(rng.integers(0, 1000))}
            live &= grp != delete["value"]
        plans.append((rows, vals, df, delete))
    res.mark("batches", t0)

    write_ms: list[float] = []
    durable_rows = 0

    def read_after_write(label: str, timed: bool) -> float:
        """One exact search checked against the model; returns its ms."""
        q = corpus.query()
        try:
            got, search_ms = _search(tracer, coll, "read_after_write", q, None)
        except Exception:
            res.error(label)
            return 0.0
        check_topk(res, label, corpus, q, got)
        if timed:
            res.sample("read_after_write", search_ms)
        return search_ms

    def cycle(c: int, timed: bool) -> None:
        nonlocal durable_rows
        rows, vals, df, delete = plans[c]
        try:
            t = time.perf_counter()
            with tracer.op("upsert_df"), tracer.span("catalog.upsert_df"):
                n = coll.upsert_df(df, dedupe_batch=False)
            if delete is not None:
                with tracer.op("delete_where"), tracer.span("catalog.delete_where"):
                    coll.delete_where(delete)
            with tracer.op("flush"), tracer.span("catalog.flush"):
                coll.flush()
            ms = (time.perf_counter() - t) * 1e3
        except Exception:
            res.error(f"ingest cycle {c}")
            return
        res.check(f"upsert_df cycle {c}", n == len(rows), f"{n} rows, want {len(rows)}")
        corpus.apply(rows, vals)
        if delete is not None:
            corpus.live &= corpus.grp != delete["value"]
        if timed:
            # one search per flush: the first read of each new delta
            # file, cold in the spool
            busy_ms = ms + read_after_write(f"read-after-write search, cycle {c}", True)
            write_ms.append(ms)
            durable_rows += len(rows)
            res.cycles_s.append(busy_ms / 1e3)

    # warm-up, untimed: write cycles until the flush path is warm, then
    # one search
    for c in range(INGEST_WARMUP):
        cycle(c, timed=False)
    read_after_write("read-after-write search, warm-up", False)
    res.mark("warm_up", t0)
    res.setup_s = time.perf_counter() - t0

    tracer.phase = "timed"
    for c in range(INGEST_WARMUP, INGEST_WARMUP + cycles):
        cycle(c, timed=True)
    res.ops_ms.extend(write_ms)

    # end state: row count and one exact search against the model
    try:
        n_live = coll.count()
        res.check("final count", n_live == int(corpus.live.sum()),
                  f"count() {n_live}, model {int(corpus.live.sum())}")
        q = corpus.query()
        check_topk(res, "final search", corpus, q, coll.search(q, limit=TOP_K).collect())
    except Exception:
        res.error("final state")

    stats = version_stats(coll)
    res.values.update({
        "write_p50_ms": median(write_ms),
        "ingest_rows_per_s": durable_rows / (sum(write_ms) / 1e3) if write_ms else 0.0,
        "read_after_write_p50_ms": median(res.samples.get("read_after_write")),
        "bytes_per_user_byte": stats["bytes"] / corpus.logical_bytes(),
    })
    res.context["rows"] = {
        "c_ingest": INGEST_ROWS, "batch": batch_rows, "cycles": cycles,
        "live_at_end": int(corpus.live.sum()),
    }
    return stats


WORKLOADS = {"serve": serve, "ingest": ingest}
