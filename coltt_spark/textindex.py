"""Inverted BM25 text index: build-once postings, serve-many
lookups.

The ad-hoc BM25 operators (operators/fulltext.py) walk the corpus
lineage three times per query (corpus stats, postings, document
frequencies). This module is the serving configuration that removes
all three — the same build-once/scan-many trade as the packed vector
block layouts (`Collection(layout="blocks")`, operators/blocks.py):

* **Build** tokenizes the corpus ONCE and writes, as one version of
  the store (:mod:`coltt_spark.store`: ``v{N}_postings/`` …, committed
  by one atomic manifest repoint, like every other write here)
  - ``postings/`` — (t, id, dl, tf) parquet, repartitioned by term
    hash and sorted by term within each file, so a query's
    ``t IN (...)`` predicate prunes row groups via parquet min/max +
    dictionary stats (the text twin of the blocks index's partition
    pruning);
  - ``dfreq/`` — the (t, df) document-frequency table;
  - the corpus document count and total token count, in the store
    manifest.
* **Search** reads only the pruned postings of the query's terms,
  broadcasts the |q|-row df slice, scores with the SAME
  ``bm25_term_score`` expression the ad-hoc path uses (one source of
  the float recipe — results are bit-identical, so the indexed entry
  verifies against the ad-hoc oracle), and TakeOrders the top-k.
  Per-query cost is |postings(q)| — no corpus scan, no tokenize.

At 100 TB the build is one shuffle of the postings (term-hash
repartition, map-side-combined tf aggregation) and the index is
incrementally rebuildable per corpus shard (postings files are
additive; stats and dfreq merge by addition — same contract as the
sketches).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from coltt_spark import store
from coltt_spark.functions.text import tokens
from coltt_spark.operators.fulltext import (
    BM25_B,
    BM25_K1,
    bm25_fold,
    bm25_term_score,
    query_terms,
)
from coltt_spark.sources.tables import ensure_parallelism


def _write_postings(v: store.Version, postings: DataFrame, n_files: int) -> DataFrame:
    """Write ``postings`` as version ``v``'s postings in the serving
    layout (term-hash files, term-sorted within each); returns them
    read back."""
    (
        postings.repartition(n_files, "t")
        .sortWithinPartitions("t")
        .write.mode("overwrite")
        .parquet(v.path("postings"))
    )
    return postings.sparkSession.read.parquet(v.path("postings"))


def _doc_freq(postings: DataFrame) -> DataFrame:
    return postings.groupBy("t").agg(F.count(F.lit(1)).cast("double").alias("df"))


class TextIndex:
    """Handle on a built inverted index directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        st = store.read_manifest(root)
        if st is None:
            raise FileNotFoundError(f"no TextIndex at {root}")
        self._adopt(st)

    def _adopt(self, st: dict) -> None:
        self.manifest = st
        self.version = st["version"]
        #: (n_docs, total_dl) as exact integer-valued doubles — the
        #: same values the ad-hoc path aggregates per query.
        self.n_docs = float(st["n_docs"])
        self.total_dl = float(st["total_dl"])
        self.id_col = st["id_col"]

    def _part(self, name: str) -> str:
        return store.version_dir(self.root, self.version, name)

    # -- build ---------------------------------------------------------

    @staticmethod
    def build(
        docs: DataFrame,
        id_col: str,
        text_col: str,
        root: str,
        *,
        n_files: int = 16,
    ) -> "TextIndex":
        """Tokenize once, write postings/dfreq/stats under ``root`` as
        its next version (a build over an existing index replaces it
        at the commit, or not at all).

        ``n_files`` sizes the postings layout (term-hash
        repartition); at real scale set it so each file is a few
        hundred MB — row-group pruning does the rest.
        """
        spark = docs.sparkSession
        docs = ensure_parallelism(docs, id_col)
        v = store.Version(root)
        # persist the tokenized projection across the two build
        # actions (postings write, stats aggregate) so the corpus is
        # scanned and tokenized once — build is an eager method, so
        # the persist/unpersist pair is self-contained
        base = docs.select(
            F.col(id_col), tokens(text_col).alias("_tk")
        ).withColumn("_dl", F.size("_tk")).persist()
        try:
            postings = (
                base.select(F.col(id_col), "_dl", F.explode("_tk").alias("t"))
                .groupBy("t", id_col, "_dl")
                .agg(F.count(F.lit(1)).cast("double").alias("tf"))
                .select("t", F.col(id_col), F.col("_dl").alias("dl"), "tf")
            )
            built = _write_postings(v, postings, n_files)
            stats_row = base.agg(
                F.count(F.lit(1)).alias("n_docs"), F.sum("_dl").alias("total_dl")
            ).first()
        finally:
            base.unpersist()
        _doc_freq(built).write.mode("overwrite").parquet(v.path("dfreq"))
        v.commit(
            {
                "n_docs": int(stats_row["n_docs"]),
                "total_dl": int(stats_row["total_dl"]),
                "id_col": id_col,
            }
        )
        return TextIndex(spark, root)

    @staticmethod
    def merge(
        shards: list["TextIndex"], root: str, *, n_files: int = 16
    ) -> "TextIndex":
        """Merge per-shard indexes into one — the incremental-build
        path for a sharded corpus: postings union as-is (documents
        are disjoint across shards, so (t, id) stays unique), the
        document-frequency tables and corpus stats add. No corpus
        re-tokenize; cost is one |vocab|-keyed aggregation over the
        shard dfreq tables plus a postings rewrite into the merged
        layout."""
        if not shards:
            raise ValueError("TextIndex.merge: no shards")
        spark = shards[0].spark
        id_col = shards[0].id_col
        if any(s.id_col != id_col for s in shards):
            raise ValueError("TextIndex.merge: shards disagree on id column")
        if any(os.path.isdir(s._part("tombstones")) for s in shards):
            # merged stats/df add AS-BUILT shard values; a shard with
            # pending mask-only deletes would fold its deleted docs
            # into the merged statistics forever — compact it first
            raise ValueError(
                "TextIndex.merge: a shard has pending deletes; "
                "compact() it before merging"
            )
        postings = None
        dfreq = None
        for s in shards:
            p = spark.read.parquet(s._part("postings"))
            d = spark.read.parquet(s._part("dfreq"))
            postings = p if postings is None else postings.unionByName(p)
            dfreq = d if dfreq is None else dfreq.unionByName(d)
        v = store.Version(root)
        _write_postings(v, postings, n_files)
        (
            dfreq.groupBy("t")
            .agg(F.sum("df").alias("df"))
            .write.mode("overwrite")
            .parquet(v.path("dfreq"))
        )
        v.commit(
            {
                "n_docs": int(sum(s.n_docs for s in shards)),
                "total_dl": int(sum(s.total_dl for s in shards)),
                "id_col": id_col,
            }
        )
        return TextIndex(spark, root)

    # -- deletes -------------------------------------------------------

    def delete(self, ids) -> None:
        """Mask-only document deletes — the Lucene discipline: the ids
        land in a ``tombstones/`` table and serving drops their
        postings via a broadcast anti-join, while df/corpus stats keep
        their as-built values until :meth:`compact` folds the
        tombstones (deleted docs still count toward idf/avgdl, exactly
        like deleted-but-unmerged Lucene segments). Cost is O(|ids|)
        per call and one tiny broadcast per query — never a postings
        rewrite on the serving path: the ids are written as the next
        version's tombstones beside hardlinks to everything else, and
        the handle moves to that version once it commits. ``ids``: an
        iterable of id values or a single-column DataFrame."""
        id_type = self.spark.read.parquet(self._part("postings")).schema[
            self.id_col
        ].dataType
        if isinstance(ids, DataFrame):
            given = ids.schema[ids.columns[0]].dataType
            if given != id_type:
                # fail fast here rather than as a confusing parquet
                # schema-merge error later on the serving path (the
                # hybrid path already fails loudly on id-type mismatch)
                raise TypeError(
                    f"delete ids column has type {given.simpleString()} but the "
                    f"index id column {self.id_col!r} is {id_type.simpleString()}"
                )
            df = ids.select(F.col(ids.columns[0]).alias(self.id_col))
        else:
            df = self.spark.createDataFrame(
                [(i,) for i in ids],
                T.StructType([T.StructField(self.id_col, id_type, False)]),
            )
        v = store.Version(self.root, base=self.version)
        df.write.mode("overwrite").parquet(v.path("tombstones"))
        self._adopt(v.commit(self.manifest))

    def _minus_tombstones(self, postings: DataFrame) -> DataFrame:
        tomb = self._part("tombstones")
        if not os.path.isdir(tomb):
            return postings
        dead = self.spark.read.parquet(tomb).select(self.id_col).distinct()
        return postings.join(F.broadcast(dead), on=self.id_col, how="left_anti")

    def compact(self, root: str, *, n_files: int = 16) -> "TextIndex":
        """Fold tombstones into a fresh index under ``root``: postings
        minus deleted docs rewritten in the term-hash layout, df
        recounted per term, and corpus stats recomputed from the
        surviving postings' distinct (id, dl) pairs — no corpus
        re-tokenize. After compact, scores equal a from-scratch build
        over the surviving corpus (pinned by test; caveat: documents
        with zero indexable tokens never have postings rows, so they
        leave the stats at compact — they carry no scoring weight
        either way)."""
        survivors = self._minus_tombstones(self.spark.read.parquet(self._part("postings")))
        v = store.Version(root)
        rebuilt = _write_postings(v, survivors, n_files)
        _doc_freq(rebuilt).write.mode("overwrite").parquet(v.path("dfreq"))
        stats_row = (
            rebuilt.select(self.id_col, "dl")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl"))
            .first()
        )
        v.commit(
            {
                "n_docs": int(stats_row["n_docs"] or 0),
                "total_dl": int(stats_row["total_dl"] or 0),
                "id_col": self.id_col,
            }
        )
        return TextIndex(self.spark, root)

    # -- serve ---------------------------------------------------------

    def _scored(
        self, terms_by_q: dict[int, list[str]], *, k1: float, b: float
    ) -> DataFrame:
        """Shared serving front: ONE pruned postings read for the
        union of all query terms, broadcast dfreq + (query_id, term)
        fan-out, the shared term-score expression, sorted-term fold.
        Returns (query_id, id, n_terms_hit, score) with the RAW
        double score — both cut strategies (TakeOrdered single /
        partitioned-window batch) and the hybrid's raw ranking build
        on this one implementation, so the serving recipe cannot
        drift between paths."""
        if not terms_by_q or any(not ts for ts in terms_by_q.values()):
            raise ValueError("TextIndex: every query needs ≥1 indexable term")
        all_terms = sorted({t for ts in terms_by_q.values() for t in ts})
        qterms = self.spark.createDataFrame(
            [(q, t) for q in sorted(terms_by_q) for t in terms_by_q[q]],
            ["query_id", "t"],
        )
        postings = self._minus_tombstones(
            self.spark.read.parquet(self._part("postings"))
            .where(F.col("t").isin(all_terms))
        )
        dfreq = (
            self.spark.read.parquet(self._part("dfreq"))
            .where(F.col("t").isin(all_terms))
        )
        j = postings.join(F.broadcast(dfreq), on="t").join(
            F.broadcast(qterms), on="t"
        )
        ts = bm25_term_score(
            k1=k1, b=b,
            n_docs=F.lit(self.n_docs), total_dl=F.lit(self.total_dl),
            tf=F.col("tf"), df=F.col("df"), dl=F.col("dl"),
        )
        per_term = j.select(
            F.col("query_id"), F.col(self.id_col),
            F.col("t").alias("_t"), ts.alias("_ts"),
        )
        return bm25_fold(["query_id", self.id_col], per_term)

    def search_batch(
        self,
        queries: dict[int, str],
        *,
        k: int = 10,
        k1: float = BM25_K1,
        b: float = BM25_B,
        raw_scores: bool = False,
    ) -> DataFrame:
        """Batch serving from the index: top-k per query for B
        queries in ONE pruned postings read. Returns (query_id, id,
        n_terms_hit, score) — same scoring as the ad-hoc
        ``bm25_topk_batch`` (pinned by test), per-query
        partitioned-window cut. ``raw_scores=True`` skips the
        4-decimal display rounding (rank consumers — batched RRF
        fusion — order by the raw double, mirroring ``search``)."""
        from pyspark.sql import Window

        terms_by_q = {int(q): query_terms(t) for q, t in queries.items()}
        scored = self._scored(terms_by_q, k1=k1, b=b)
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col(self.id_col).asc()
        )
        out_score = (
            F.col("score") if raw_scores else F.round("score", 4).alias("score")
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select(
                "query_id",
                F.col(self.id_col),
                "n_terms_hit",
                out_score,
            )
        )

    def search(
        self,
        query: str,
        *,
        top_k: int = 10,
        k1: float = BM25_K1,
        b: float = BM25_B,
        raw_scores: bool = False,
    ) -> DataFrame:
        """Top-k BM25 from the index: same output columns and
        bit-identical scores as the ad-hoc ``bm25_search`` — but the
        only data read is the pruned postings of the query terms;
        the cut is a TakeOrderedAndProject over the raw scores.
        ``raw_scores=True`` skips the 4-decimal display rounding —
        rank consumers (RRF fusion) order by the raw double so
        rounding ties cannot reshuffle ranks."""
        scored = self._scored({0: query_terms(query)}, k1=k1, b=b)
        out_score = (
            F.col("score") if raw_scores else F.round("score", 4).alias("score")
        )
        return (
            scored.orderBy(F.col("score").desc(), F.col(self.id_col).asc())
            .limit(top_k)
            .select(F.col(self.id_col), "n_terms_hit", out_score)
        )
