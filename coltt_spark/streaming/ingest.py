"""Continuous ingestion: a record stream upserted into a collection.

Reference parity: the edge service's write surface IS a stream — the
``Index`` RPC is a client-streaming endpoint that applies CHANGED /
DELETE ops record-by-record as they arrive
(``idl/proto/v4/edge.proto`` Index rpc; handler loop
``edge/edge.go:555-608``). The Spark-native twin is Structured
Streaming into ``Collection.upsert_df`` via ``foreachBatch``: each
micro-batch lands as one distributed LWW upsert against the
collection's current view, so the collection is continuously
queryable while the stream runs.

Scale: ``foreachBatch`` hands the micro-batch over as a regular
DataFrame — the upsert inherits every batch-path property
(Catalyst-only transforms, Arrow-batched quantize, no driver
round-trip), and state lives in the collection's versioned store,
not the streaming state store, so stream restarts replay cleanly
from the checkpoint.
"""

from __future__ import annotations

import os
from coltt_spark.tmpdirs import scratch_dir

from pyspark.sql import DataFrame, SparkSession

#: schema cache keyed by (path, mtime_ns) — same invalidation contract
#: as the events stream (the driver may rewrite testdata files)
_SCHEMA_CACHE: dict[tuple[str, int], object] = {}


def read_table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Bounded file-source stream over one testdata parquet (staged
    behind a symlink directory like the events stream; in production
    the stream watches a landing directory or Kafka topic)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    ck = (path, os.stat(path).st_mtime_ns)
    if ck not in _SCHEMA_CACHE:  # footer probe costs a job — do it once
        _SCHEMA_CACHE[ck] = spark.read.parquet(path).schema
    stage = scratch_dir(prefix=f"coltt_stream_{table}_")
    link = os.path.join(stage, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    return spark.readStream.schema(_SCHEMA_CACHE[ck]).parquet(stage)


def stream_upsert(records: DataFrame, coll) -> None:
    """Drain a bounded record stream into a collection: every
    micro-batch is one ``Collection.upsert_df`` call (PK
    last-writer-wins, normalize/quantize-at-write — identical
    semantics to the batch ingest path). Blocks until the
    ``availableNow`` replay completes."""

    def sink(batch: DataFrame, _epoch_id: int) -> None:
        if batch.isEmpty():
            return
        coll.upsert_df(batch, dedupe_batch=False)

    q = (
        records.writeStream.foreachBatch(sink)
        .option("checkpointLocation", scratch_dir(prefix="coltt_ingest_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_text_index(
    docs: DataFrame, id_col: str, text_col: str, root: str
):
    """Continuous inverted-index maintenance: each micro-batch of a
    document stream builds a postings SHARD (one tokenize pass over
    the batch only — never the corpus), and the shards fold into one
    serving index with :meth:`TextIndex.merge` (postings union +
    df/stats addition; no re-tokenize). The postings analogue of the
    delta block flush: index maintenance cost scales with the CHANGE,
    and the merged index serves scores bit-identical to an ad-hoc
    BM25 over the full landed corpus (pinned by
    tests/test_streaming_ingest.py). Returns the merged TextIndex.

    Scale: per-batch shard build is the verified postings build shape
    (term-hash repartition, map-side tf combine); the merge shuffles
    only postings rows and a |vocab|-keyed dfreq aggregation. In
    production the merge runs on a cadence (or cascades, LSM-style)
    rather than once per replay — the composition is the same."""
    from coltt_spark.textindex import TextIndex

    shards: list[TextIndex] = []

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        shard_root = os.path.join(root, f"shard_{epoch_id}")
        shards.append(
            TextIndex.build(batch, id_col, text_col, shard_root, n_files=4)
        )

    q = (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", scratch_dir(prefix="coltt_textidx_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not shards:
        raise ValueError("stream_text_index: the stream delivered no documents")
    return TextIndex.merge(shards, os.path.join(root, "merged"))


def stream_minhash_merge(
    docs: DataFrame, id_col: str, text_col: str, root: str
) -> None:
    """Continuous near-dup index maintenance — the daily-crawl loop
    as a stream: each micro-batch of a document stream folds into the
    persisted :class:`~coltt_spark.operators.dedup.MinHashIndex` at
    ``root`` (the first batch bootstraps it with ``build``, every
    later batch ``merge``s: delta pairs vs the already-landed corpus
    + batch-internal pairs committed as the index's next version,
    signatures computed over the BATCH only — never the corpus). The
    signature analogue of :func:`stream_text_index`: maintenance cost
    scales with the CHANGE, and the landed pairs table equals a
    from-scratch dedup of the full landed corpus exactly (pairwise
    determination — pinned through the registry oracle). Blocks until
    the ``availableNow`` replay completes."""
    from coltt_spark import store
    from coltt_spark.operators.dedup import MinHashIndex

    def sink(batch: DataFrame, _epoch_id: int) -> None:
        if batch.isEmpty():
            return
        if store.read_manifest(root) is not None:
            MinHashIndex(batch.sparkSession, root).merge(
                batch, id_col, text_col
            )
        else:
            MinHashIndex.build(batch, id_col, text_col, root)

    q = (
        docs.writeStream.foreachBatch(sink)
        .option("checkpointLocation", scratch_dir(prefix="coltt_mhidx_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
