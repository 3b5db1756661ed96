"""Physical-plan regression guards: pin the plan shapes that keep the
engine fast at 100 TB (SURVEY §4 mappings)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coltt_spark.operators.analytics import top_revenue_orders
from coltt_spark.operators.search import filterable_vertex_search, vertex_search
from coltt_spark.plans import (
    has_broadcast_hash_join,
    has_pushed_filters,
    has_take_ordered,
    wholestage_codegen_spans,
)
from coltt_spark.plans.inspect import has_shuffle
from coltt_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def _q(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    return emb, list(emb.filter(F.col("vec_id") == 0).first()["embedding"])


def test_knn_is_take_ordered_no_shuffle(spark):
    """FLAT KNN must compile to TakeOrderedAndProject straight over
    the scan: per-partition top-K + driver merge, zero Exchange."""
    emb, qv = _q(spark)
    plan_df = vertex_search(emb, qv, vector_col="embedding", limit=10)
    assert has_take_ordered(plan_df)
    assert not has_shuffle(plan_df)
    assert wholestage_codegen_spans(plan_df) >= 1


def test_filtered_knn_pushes_predicate_to_scan(spark):
    """The compiled filter must reach the Parquet scan (PushedFilters)
    — this is the bitmap-index replacement doing its job."""
    emb, qv = _q(spark)
    ast = {
        "op": "and",
        "expressions": [
            {"index_name": "label", "op": "gte", "value": 5},
            {"index_name": "vec_id", "op": "lt", "value": 400},
        ],
    }
    plan_df = filterable_vertex_search(emb, qv, ast, vector_col="embedding")
    assert has_pushed_filters(plan_df)
    assert has_take_ordered(plan_df)


def test_dimension_join_broadcasts(spark):
    """Filtered customers must broadcast into the orders/lineitem side
    — the fact table never shuffles for the dimension join."""
    plan_df = top_revenue_orders(
        load_table(spark, SF_SMOKE, "customer"),
        load_table(spark, SF_SMOKE, "orders"),
        load_table(spark, SF_SMOKE, "lineitem"),
    )
    assert has_broadcast_hash_join(plan_df)


def test_column_pruning_reaches_scan(spark):
    """A two-column projection must not read the full documents
    schema (ReadSchema shows only what's needed)."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    from coltt_spark.plans import executed_plan

    plan = executed_plan(docs)
    assert "text" not in plan.split("ReadSchema")[-1]


def test_ivf_seed_sampling_has_no_global_window(spark):
    """IVF seed selection must stay parallel: a hash-mod filter, not a
    row_number over an un-partitioned Window (which funnels the whole
    corpus through one task at scale)."""
    from coltt_spark.operators.ann import seed_centroids
    from coltt_spark.plans import executed_plan

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cand = seed_centroids(emb, id_col="vec_id", vec_col="embedding",
                          n_centroids=8, n=emb.count())
    assert "Window" not in executed_plan(cand)
    assert len(cand.collect()) == 8


def test_chunking_is_narrow(spark):
    """Document chunking must not shuffle: tokenize → offsets →
    posexplode is a narrow pipeline over the scan (the only Exchange
    allowed is the small-input parallelism guard's round-robin)."""
    from coltt_spark.operators.pipeline import chunk_documents
    from coltt_spark.plans import executed_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = executed_plan(chunk_documents(docs, "doc_id", "text"))
    # the only allowed Exchange is the explicit small-input guard
    # (REPARTITION_BY_NUM); an ENSURE_REQUIREMENTS exchange would mean
    # an agg/join shuffle snuck into the chunking path
    assert "ENSURE_REQUIREMENTS" not in plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark side of the contamination join must broadcast —
    the corpus side streams through with no shuffle-for-join."""
    from coltt_spark.operators.pipeline import decontaminate

    docs = load_table(spark, SF_SMOKE, "documents")
    bench = docs.filter((docs.doc_id % 10) == 0)
    train = docs.filter((docs.doc_id % 10) != 0)
    assert has_broadcast_hash_join(
        decontaminate(train, bench, "doc_id", "text", ngram=5)
    )


def test_pack_sequences_has_no_global_window(spark):
    """Sequence packing must fold per shard: every Window in the plan
    is partitioned (no empty partition spec = no single-task global
    sort at corpus scale)."""
    import re

    from coltt_spark.operators.pipeline import pack_sequences
    from coltt_spark.plans import executed_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = executed_plan(pack_sequences(docs, "doc_id", "text"))
    for frag in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "shard" in frag  # every window keyed by the shard column
    # first_fit: the sequential fold is an applyInPandas GROUPED BY
    # the shard key — exactly one hash Exchange on shard, no window,
    # no global sort (a single-partition fold would serialize the
    # corpus through one task at scale)
    plan_ff = executed_plan(
        pack_sequences(docs, "doc_id", "text", mode="first_fit")
    )
    assert "FlatMapGroupsInPandas" in plan_ff or "mapInPandas" in plan_ff.lower()
    assert plan_ff.count("Exchange") <= 2, plan_ff[:600]
    assert "windowspecdefinition" not in plan_ff
    assert "Sort [shard" in plan_ff or "hashpartitioning(shard" in plan_ff


def test_ivf_collection_probe_prunes_partitions(spark):
    """An ivf-layout collection's search must prune to the probed
    inverted lists' PACKED BLOCK FILES — unprobed lists' files are
    never opened (path pruning happens on the driver), and the
    per-query plan is the shuffle-free file-list scan + TakeOrdered,
    never a Parquet row scan of the corpus."""
    import os
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F2

    from coltt_spark.catalog import Catalog
    from coltt_spark.operators.blocks import ivf_files, ivf_probe_centroids
    from coltt_spark.plans import executed_plan
    from coltt_spark.schema import IndexField

    emb = load_table(spark, SF_SMOKE, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    coll = Catalog(spark, tempfile.mkdtemp(prefix="wh_ivf_plan_")).create_collection(
        "ivp", dim=dim, distance="cosine",
        fields=[IndexField("id", "string", primary_key=True)],
        layout="ivf", ivf_centroids=4, ivf_nprobe=2,
    )
    coll.upsert_df(
        emb.select(F2.col("vec_id").cast("string").alias("id"),
                   F2.col("embedding").alias("vector")),
        dedupe_batch=False,
    )
    coll.flush()
    q = list(emb.select("embedding").first()["embedding"])
    # driver-side path pruning: the probed file set covers exactly
    # nprobe of the centroid directories and excludes the rest
    blocks_dir = os.path.join(coll._ivf_dir("vector"), "blocks")
    Cn = np.load(os.path.join(coll._ivf_dir("vector"), "centroids.npy"))
    probed = ivf_probe_centroids(Cn, coll._normalize_query(q), 2)
    files = ivf_files(blocks_dir, probed)
    assert files, "probed lists must have block files"
    assert all(f"centroid={c}" in f for f, c in zip(files, sorted(probed))) or all(
        any(f"centroid={c}{os.sep}" in f for c in probed) for f in files
    )
    all_files = ivf_files(blocks_dir, range(4))
    assert len(files) < len(all_files), "pruning must exclude unprobed lists"
    # physical plan: no Parquet scan of the corpus, TakeOrdered merge
    plan = executed_plan(coll.search(q, limit=5))
    assert "Scan parquet" not in plan, plan[:800]
    assert "TakeOrderedAndProject" in plan


def test_search_batch_fallback_is_one_scan(spark):
    """The non-indexed search_batch fallback must answer all B queries
    from ONE corpus scan (broadcast query table + per-query window),
    not B unioned orderBy/limit passes."""
    import tempfile

    from pyspark.sql import functions as F2

    from coltt_spark.catalog import Catalog
    from coltt_spark.plans import executed_plan
    from coltt_spark.schema import IndexField

    emb = load_table(spark, SF_SMOKE, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    coll = Catalog(spark, tempfile.mkdtemp(prefix="wh_batch_plan_")).create_collection(
        "bfall", dim=dim, distance="euclidean",
        fields=[IndexField("id", "string", primary_key=True)],
    )
    coll.upsert_df(
        emb.select(F2.col("vec_id").cast("string").alias("id"),
                   F2.col("embedding").alias("vector")),
        dedupe_batch=False,
    )
    rows = emb.select("embedding").limit(3).collect()
    queries = {i: list(r["embedding"]) for i, r in enumerate(rows)}
    plan = executed_plan(coll.search_batch(queries, limit=5))
    assert plan.count("Scan parquet") + plan.count("FileScan parquet") <= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_stratified_sample_prefilters_before_window(spark):
    """The skew-safe sampler must (a) broadcast the per-stratum counts
    back and hash-threshold-filter BEFORE ranking, and (b) keep every
    window partitioned by the stratum key."""
    import re

    from coltt_spark.operators.pipeline import stratified_sample
    from coltt_spark.plans import executed_plan, has_broadcast_hash_join

    docs = load_table(spark, SF_SMOKE, "documents")
    out = stratified_sample(docs, "doc_id", "lang", quota=5)
    plan = executed_plan(out)
    assert has_broadcast_hash_join(out)  # tiny counts join, corpus never shuffles for it
    for frag in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "lang" in frag  # every window keyed by the stratum column


def test_range_search_is_narrow_scan(spark):
    """Radius query must stay a pure narrow filter over the scan:
    no Exchange, no window, one codegen span."""
    from coltt_spark.operators.search import range_search

    emb, qv = _q(spark)
    plan_df = range_search(emb, qv, 0.9, vector_col="embedding")
    assert not has_shuffle(plan_df)
    assert wholestage_codegen_spans(plan_df) >= 1


def test_repetition_stats_no_hash_shuffle(spark):
    """The Gopher repetition trio is a per-row fold — no aggregation
    or join Exchange (grams never leave their document); the only
    allowed Exchange is ensure_parallelism's round-robin spread."""
    from coltt_spark.operators.textstats import repetition_stats
    from coltt_spark.plans.inspect import executed_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = executed_plan(repetition_stats(docs, "doc_id", "text")).lower()
    # the only Exchange is ensure_parallelism's doc_id spread; the
    # signals themselves never aggregate, explode, or join
    assert plan.count("exchange") <= 1
    assert "sortaggregate" not in plan and "hashaggregate" not in plan
    assert "generate" not in plan and "join" not in plan


def test_as_of_join_single_exchange(spark):
    """The as-of join must shuffle exactly once, on the equi-key: one
    hashpartitioning Exchange feeding the in-partition sort — no
    broadcast of either side, no range-join explosion."""
    from coltt_spark.operators.analytics import as_of_join
    from coltt_spark.plans.inspect import executed_plan

    ev = load_table(spark, SF_SMOKE, "events")
    plan_df = as_of_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
        on="user_id", ts_col="ts", tie_col="event_id",
        left_cols=["event_id"], right_cols=["event_id"],
    )
    plan = executed_plan(plan_df)
    assert plan.lower().count("exchange hashpartitioning") == 1, plan


def test_extended_filter_ops_push_to_scan(spark):
    """in/between/like/not must reach the Parquet scan as
    PushedFilters (Or/And/Not/StringContains trees), same as the
    proto six — the extended surface keeps the bitmap-index
    replacement free."""
    from coltt_spark.filters import compile_filter

    docs = load_table(spark, SF_SMOKE, "documents")
    ast = {
        "op": "and",
        "expressions": [
            {"index_name": "lang", "op": "in", "value": ["en", "de"]},
            {"index_name": "n_chars", "op": "between", "value": [150, 400]},
            {"index_name": "text", "op": "like", "value": "%window%"},
            {"op": "not", "expressions": [
                {"index_name": "source", "op": "in", "value": ["src0", "src1"]}]},
        ],
    }
    plan_df = docs.filter(compile_filter(docs, ast))
    assert has_pushed_filters(plan_df)
    from coltt_spark.plans.inspect import executed_plan

    pushed = [
        line for line in executed_plan(plan_df).splitlines()
        if "PushedFilters: [" in line
    ][0]
    # the plan string elides long filter lists — assert on the part
    # that stays visible: the in-list compiled to pushable equalities
    assert "EqualTo(lang" in pushed


def test_grouped_blocks_search_plan_shape(spark, tmp_path):
    """The grouped fast path must stay: mapInPandas block scan → ONE
    window keyed by the group column → final ordered limit. No global
    (unpartitioned) window, no second corpus scan."""
    import re
    import tempfile

    from pyspark.sql import functions as F2

    from coltt_spark.catalog import Catalog
    from coltt_spark.plans import executed_plan
    from coltt_spark.schema import IndexField

    emb = load_table(spark, SF_SMOKE, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    coll = Catalog(spark, tempfile.mkdtemp(prefix="wh_grp_plan_")).create_collection(
        "gp", dim=dim, distance="cosine",
        fields=[
            IndexField("id", "string", primary_key=True),
            IndexField("label", "integer"),
        ],
        layout="blocks", block_dtype="float64",
    )
    coll.upsert_df(
        emb.select(
            F2.col("vec_id").cast("string").alias("id"),
            F2.col("label").cast("int").alias("label"),
            F2.col("embedding").alias("vector"),
        ),
        dedupe_batch=False,
    )
    coll.flush()
    q = list(emb.select("embedding").first()["embedding"])
    plan = executed_plan(coll.search_grouped(q, "label", limit=5, per_group=2))
    # every window is keyed by the group column — no global sort task
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("label" in frag for frag in specs), specs
    # one block scan feeds it; the parquet snapshot is never re-read
    assert plan.count("FileScan parquet") == 0, "grouped path must not scan parquet"
    assert "mapInPandas" in plan or "MapInPandas" in plan


def test_bm25_plan_broadcasts_stats_and_takes_ordered(spark):
    """BM25's corpus-side shuffle carries only query-term hits: the
    document-frequency and corpus-stats tables join back as broadcasts
    (never a token-keyed shuffle of the corpus) and the top-k is a
    TakeOrderedAndProject, not a global sort."""
    from coltt_spark.operators.fulltext import bm25_search
    from coltt_spark.plans import has_broadcast_hash_join, has_take_ordered
    from coltt_spark.plans.inspect import executed_plan

    df = bm25_search(
        load_table(spark, SF_SMOKE, "documents"), "doc_id", "text", "vector dup"
    )
    assert has_take_ordered(df)
    assert has_broadcast_hash_join(df)
    plan = executed_plan(df)
    assert "Window" not in plan, "bm25 must not use a window"


def test_hll_sketch_aggregates_map_side(spark):
    """The HLL register build must be a partial+final hash aggregate
    on (group, bucket) — distinct keys themselves never shuffle when
    the exact column is off."""
    from coltt_spark.operators.sketch import hll_distinct
    from coltt_spark.plans.inspect import executed_plan

    df = hll_distinct(
        load_table(spark, SF_SMOKE, "events"), "user_id", ["event_type"]
    )
    plan = executed_plan(df)
    assert "partial_max" in plan, plan[:500]
    assert "Expand" not in plan, "no distinct-expand when include_exact=False"


def test_bm25_indexed_serves_from_pruned_postings(spark, tmp_path):
    """The indexed BM25 path must read ONLY the postings parquet with
    the term predicate pushed to the scan — no corpus scan, no
    tokenizer in the serving plan."""
    from coltt_spark.plans.inspect import executed_plan, has_take_ordered
    from coltt_spark.textindex import TextIndex

    idx = TextIndex.build(
        load_table(spark, SF_SMOKE, "documents"),
        "doc_id", "text", str(tmp_path / "tidx"),
    )
    df = idx.search("vector dup")
    plan = executed_plan(df)
    assert has_take_ordered(df)
    assert "PushedFilters: [In(t, [" in plan or "PushedFilters: [Or(EqualTo(t," in plan, plan[
        plan.find("PushedFilters"): plan.find("PushedFilters") + 200
    ]
    assert "documents.parquet" not in plan, "serving must not scan the corpus"
    assert "regexp" not in plan.lower(), "serving must not re-tokenize"


def test_cm_sketch_is_one_hash_aggregation(spark):
    """Count-min build: explode to d counter rows, then ONE partial+
    final hash aggregation on (r, cell) — no window, no join, no
    shuffle of raw keys."""
    from coltt_spark.operators.sketch import cm_build
    from coltt_spark.plans.inspect import executed_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    toks = docs.selectExpr(
        "explode(filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')) AS token"
    )
    plan = executed_plan(cm_build(toks, "token"))
    assert "partial_count" in plan
    assert "Window" not in plan and "SortMergeJoin" not in plan


def test_bloom_decontaminate_broadcasts_bits(spark):
    """The Bloom probe must join the corpus side against a BROADCAST
    set-bit table — never a shuffled join keyed on bit positions."""
    from coltt_spark.operators.pipeline import decontaminate_bloom
    from coltt_spark.plans import has_broadcast_hash_join
    from coltt_spark.plans.inspect import executed_plan

    docs = load_table(spark, SF_SMOKE, "documents")
    df = decontaminate_bloom(
        docs.filter("doc_id % 10 != 0"),
        docs.filter("doc_id % 10 = 0"),
        "doc_id", "text", ngram=5,
    )
    assert has_broadcast_hash_join(df)
    assert "CartesianProduct" not in executed_plan(df)


def test_hybrid_text_one_take_ordered_per_branch(spark):
    """The composed product hybrid (`Collection.search_hybrid_text`)
    must cut EACH candidate branch with a TakeOrderedAndProject (the
    packed-block KNN side and the pruned-postings BM25 side) before
    fusion — fusion itself touches only 2·K ranked rows, so the only
    data-sized work is the two verified candidate scans."""
    from coltt_spark.plans.inspect import executed_plan
    from coltt_spark.registry import _blocks_collection, _query_vec
    from coltt_spark.registry_fulltext import _BM25_QUERY, _text_index

    coll = _blocks_collection(spark, SF_SMOKE)
    idx = _text_index(spark, SF_SMOKE, str_ids=True)
    df = coll.search_hybrid_text(idx, _BM25_QUERY, _query_vec(spark, SF_SMOKE))
    plan = executed_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2, plan[:800]
    assert "CartesianProduct" not in plan


def test_packed_radius_is_single_narrow_stage(spark, tmp_path):
    """The packed radius query must stay a shuffle-free file-list scan
    — no Exchange, no Window, no global sort: every in-ball row
    streams straight from the per-file kernel to the caller."""
    import random

    from coltt_spark.catalog import Catalog
    from coltt_spark.plans import executed_plan
    from coltt_spark.schema import IndexField

    rng = random.Random(3)
    rows = [
        {"id": f"r{i}", "vector": [rng.gauss(0, 1) for _ in range(6)]}
        for i in range(100)
    ]
    coll = Catalog(spark, str(tmp_path / "wh")).create_collection(
        "radplan", dim=6, distance="cosine",
        fields=[IndexField("id", "string", primary_key=True)],
        layout="blocks", block_dtype="float64",
    )
    coll.upsert(rows)
    coll.flush()
    plan = executed_plan(coll.search_radius([rng.gauss(0, 1) for _ in range(6)], 1.2))
    assert "Exchange" not in plan, plan[:500]
    assert "Window" not in plan
    assert "Scan parquet" not in plan


def _assert_narrow_media_pipeline(feats):
    assert not has_shuffle(feats)
    plan = feats._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2
    # column pruning: the scan reads doc_id+text only, not the
    # unused lang/source/n_chars document columns
    read_schema = plan.split("ReadSchema")[-1]
    assert "text" in read_schema
    for unused in ("lang", "source", "n_chars"):
        assert unused not in read_schema


def test_audio_pipeline_is_narrow(spark):
    """Fabricate-WAV → decode → stats is scan → mapInPandas →
    mapInPandas with zero Exchange: per-document work only, so the
    pipeline scales in corpus bytes with no shuffle at 100 TB. The
    documents scan must also prune to the two referenced columns."""
    from coltt_spark.operators.multimodal import audio_features, audio_wav_table

    docs = load_table(spark, SF_SMOKE, "documents")
    _assert_narrow_media_pipeline(audio_features(audio_wav_table(docs)))


def test_video_pipeline_is_narrow(spark):
    """Fabricate-AVI → decode → per-frame stats has the identical
    narrow shape: the frame fan-out happens INSIDE the Arrow kernel,
    never as a join or explode shuffle."""
    from coltt_spark.operators.multimodal import video_avi_table, video_frame_stats

    docs = load_table(spark, SF_SMOKE, "documents")
    _assert_narrow_media_pipeline(video_frame_stats(video_avi_table(docs)))


def test_redact_pii_is_pure_codegen_project(spark):
    """PII scrubbing is a pure JVM projection: no shuffle, no Python
    stage, inside whole-stage codegen — it adds zero cost structure
    to a 100 TB cleaning pass beyond the scan itself."""
    from coltt_spark.operators.pipeline import redact_pii

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    red = redact_pii(docs)
    assert not has_shuffle(red)
    assert wholestage_codegen_spans(red) >= 1
    plan = red._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_png_pipeline_is_narrow(spark):
    """Fabricate-PNG → inflate/unfilter decode → channel stats keeps
    the same narrow shape as the audio/video pipelines: scan →
    mapInPandas → mapInPandas, zero Exchange — compressed-container
    decode adds CPU inside the Arrow kernel, never cost structure."""
    from coltt_spark.operators.multimodal import (
        image_channel_stats,
        png_image_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    _assert_narrow_media_pipeline(image_channel_stats(png_image_table(docs)))


def test_jpeg_pipeline_is_narrow(spark):
    """Fabricate-JPEG → Huffman/IDCT decode → channel stats keeps the
    same narrow shape as the PNG pipeline: scan → mapInPandas →
    mapInPandas, zero Exchange — the entropy decoder adds CPU inside
    the Arrow kernel, never cost structure."""
    from coltt_spark.operators.multimodal import (
        image_channel_stats,
        jpeg_image_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    _assert_narrow_media_pipeline(image_channel_stats(jpeg_image_table(docs)))


def test_gif_pipeline_is_narrow(spark):
    """Fabricate-GIF → LZW decode → channel stats keeps the same
    narrow shape as the PNG/JPEG pipelines: scan → mapInPandas →
    mapInPandas, zero Exchange — the from-scratch LZW decoder adds
    CPU inside the Arrow kernel, never cost structure."""
    from coltt_spark.operators.multimodal import (
        gif_image_table,
        image_channel_stats,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    _assert_narrow_media_pipeline(image_channel_stats(gif_image_table(docs)))


def test_tiff_pipeline_is_narrow(spark):
    """Fabricate-TIFF → IFD/LZW/PackBits decode → channel stats keeps
    the same narrow shape as the PNG/JPEG/GIF pipelines: scan →
    mapInPandas → mapInPandas, zero Exchange."""
    from coltt_spark.operators.multimodal import (
        image_channel_stats,
        tiff_image_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    _assert_narrow_media_pipeline(image_channel_stats(tiff_image_table(docs)))


def test_web_url_dedup_is_jvm_single_shuffle(spark):
    """URL normalize → group-by-canonical-URL is pure JVM: the
    normalization is Catalyst regexp/array expressions (no Python
    stage, whole-stage codegen), and the dedup is exactly ONE
    Exchange with a map-side partial aggregate before it — the shape
    a 100 TB URL-dedup pass needs."""
    from coltt_spark.registry_pipeline import q_web_url_dedup

    out = q_web_url_dedup(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange") == 1
    # two-phase aggregate: map-side partial combine below the shuffle
    assert "partial_count" in plan.split("Exchange")[1]
    assert plan.count("HashAggregate") == 2


def test_line_dedup_broadcasts_frequent_set(spark):
    """Corpus line dedup: the frequent-line set joins back as a
    BROADCAST LeftOuter (BuildRight) — never a shuffle join against
    the exploded lines — and every Exchange sits above a partial
    aggregate. Pure JVM end to end."""
    from coltt_spark.registry_pipeline import q_line_dedup

    out = q_line_dedup(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan and "BuildRight" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_collect_list" in plan  # rebuild combines map-side


def test_bucketed_join_has_no_exchange(spark):
    """Co-located bucketed fact-fact join: both sides are written
    16-bucket on the join key, so the SortMergeJoin AND the
    order-keyed aggregation above it reuse the on-disk hash layout —
    the executed plan has ZERO Exchange nodes. This is the
    pay-the-shuffle-once-at-ingest property a daily 100 TB join
    pipeline runs on (the reference's single-node diskv layout gets
    it by construction)."""
    from coltt_spark.registry_analytics import q_bucketed_join

    out = q_bucketed_join(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "BroadcastHashJoin" not in plan
    # the scans must carry the bucket spec (16 buckets selected)
    assert "SelectedBucketsCount: 16 out of 16" in plan


def test_web_robots_filter_is_broadcast_zero_shuffle(spark):
    """robots.txt gate: the rule arrays are parsed once per domain
    (4 rows) and BROADCAST into the URL table; the per-URL decision
    is a Catalyst array fold — no shuffle Exchange, no Python stage
    anywhere. The shape a 100 TB URL-politeness pass needs: the
    corpus is touched exactly once, map-side."""
    from coltt_spark.registry_pipeline import q_web_robots_filter

    out = q_web_robots_filter(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_media_exif_pipeline_is_narrow(spark):
    """EXIF extraction: fabricate + parse is ONE narrow mapInPandas
    chain over the documents scan — no Exchange anywhere. The marker
    walk reads only JPEG headers, so the 100 TB shape is a single
    metadata map pass before any decode."""
    from coltt_spark.registry_media import q_media_exif

    out = q_media_exif(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2  # fabricate + parse stages


def test_span_removal_is_inverted_list_shape(spark):
    """ExactSubstr removal: narrow chunking, ONE span-hash-keyed
    aggregation (map-side combined), ONE hash-keyed equi-join back,
    one doc-keyed rebuild — never a cartesian pairing and never a
    Python stage. The fan-out is bounded by the corpus's own span
    count (each span row joins exactly one count row)."""
    from coltt_spark.registry_dedup import q_dedup_span_removal

    out = q_dedup_span_removal(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan  # map-side combine on the span agg


def test_bigram_lm_is_jvm_side_with_partial_aggs(spark):
    """Bigram-LM scoring: the corpus bigram stream stays JVM-side
    (no Python stage), the count aggregations map-side combine, and
    the unigram table is BROADCAST onto the stream — the corpus is
    never shuffled on a unigram key (stopwords would be hot). The
    (w1,w2)-keyed joins are the one necessary shuffle; AQE skew-join
    covers hot function-word pairs. Since r14-opt the bigram stream
    is tokenized ONCE into a lazy local checkpoint and the unigram
    table likewise (its two consumers re-derived the explode
    before): every Generate lives inside a checkpoint that runs once
    per pass, so the consumer plan itself must contain NONE — five
    re-derived scan+explode subtrees was the old shape."""
    from coltt_spark.registry_text import q_doc_ppl_bigram

    out = q_doc_ppl_bigram(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # unigram + context tables
    assert "partial_count" in plan  # map-side combine on every count
    assert plan.count("Generate explode") == 0  # all inside checkpoints
    assert plan.count("Scan ExistingRDD") >= 3  # stream ×2 + unigram


def test_quality_classifier_step_is_scan_plus_partial_agg(spark):
    """Each training step must be ONE feature scan + a map-side
    partial aggregation of the four quantized gradient sums — pure
    Catalyst features (no Python stage), no join, no window. This is
    the textbook full-batch-GD shape that scales to any corpus: k
    steps = k scans."""
    from coltt_spark.operators.textstats import _qc_features

    docs = load_table(spark, SF_SMOKE, "documents")
    feats = docs.select(
        *[x.alias(f"_x{j}") for j, x in enumerate(_qc_features("text"))]
    )
    step = feats.agg(
        *[F.sum(F.round(F.col(f"_x{j}") * 1000000).cast("long")) for j in range(4)]
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "partial_sum" in plan  # map-side combine
    assert "Join" not in plan and "Window" not in plan


def test_web_sitemap_parse_is_narrow(spark):
    """Sitemap parsing: regexp block split + transform + posexplode
    is a single narrow projection over the scan — no shuffle, no
    Python stage. A 100 TB sitemap table parses in one map pass and
    the extracted locs feed url_normalize in the same stage."""
    from coltt_spark.registry_pipeline import q_web_sitemap

    out = q_web_sitemap(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode over parsed entries


def test_bpe_training_step_is_scan_plus_partial_agg(spark):
    """Each BPE merge step must be ONE scan of the (vocabulary-sized)
    word table + a map-side-combined pair-count aggregation feeding a
    1-row TakeOrdered — no Python stage, no window, no join. k merges
    = k such scans, the same shape as the classifier's GD steps; at
    100 TB only the one word_table build touches the corpus."""
    from coltt_spark.operators.tokenize import (
        _best_pair,  # noqa: F401 — shape built inline below
        _initial_symbols,
        bpe_word_table,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    words = bpe_word_table(docs, "text").select(
        "word", _initial_symbols(F.col("word")).alias("s"), "cnt"
    )
    s = F.col("s")
    pairs = F.transform(
        F.slice(s, 1, F.size(s) - 1),
        lambda x, i: F.struct(x.alias("a"), F.get(s, i + 1).alias("b")),
    )
    step = (
        words.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.desc("c"), "a", "b")
        .limit(1)
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "partial_sum" in plan  # map-side combine on the pair counts
    assert "TakeOrderedAndProject" in plan  # argmax is not a global sort
    assert "Join" not in plan and "Window" not in plan


def test_bpe_encode_is_dim_join_no_python(spark):
    """Encoding: the fold chain runs over the DISTINCT-word table
    only; the corpus-side work is explode + equi-join + partial-agg —
    no Python stage anywhere, no cartesian, no window."""
    from coltt_spark.registry_text import q_bpe_encode

    out = q_bpe_encode(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "Window" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # the corpus-side scan must stay inside whole-stage codegen: the
    # r7 OOV fallback briefly inlined the k-fold chain into the join
    # projection and knocked the ENTIRE stage out of codegen
    # (measured 4×) — the fold belongs on the vocabulary-sized side.
    # Execute first: under AQE the pre-execution plan shows no
    # codegen stars regardless
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final


def test_web_url_psl_is_codegen_projection(spark):
    """PSL-backed registrable_domain: one codegen'd narrow projection
    — the ~200-rule when-chain stays inside whole-stage codegen (no
    Python stage, no join against a rules table, no Exchange). At
    100 TB the PSL is a literal broadcast into every task's code."""
    from coltt_spark.registry_pipeline import q_web_url_psl

    out = q_web_url_psl(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan and "Join" not in plan
    assert plan.lstrip().startswith("*")  # whole-stage codegen root


def test_media_exif_orientation_pipeline_is_narrow(spark):
    """Orientation-corrected stats: fabricate + parse + decode +
    transform is ONE narrow Arrow-batched pipeline over the image
    rows — no shuffle anywhere (the family's standard shape)."""
    from coltt_spark.registry_media import q_media_exif_orientation

    out = q_media_exif_orientation(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 2  # fixture + stats seams


def test_token_count_unicode_is_codegen_projection(spark):
    """Byte-path token accounting: one codegen'd narrow projection
    over the documents scan — both tokenizers, char/byte lengths, no
    Python stage, no Exchange."""
    from coltt_spark.registry_text import q_token_count_unicode

    out = q_token_count_unicode(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan and "Join" not in plan
    assert plan.lstrip().startswith("*")


def test_bpe_encode_ids_is_dim_join_no_python(spark):
    """Token-id sequences: fold + id-map lookup live on the
    vocabulary-sized dim side; the corpus side is posexplode +
    equi-join + one regrouping aggregation. No Python stage, no
    cartesian, no window — the regroup's array_sort is per-row inside
    the agg, not a global sort."""
    from coltt_spark.registry_text import q_bpe_encode_ids

    out = q_bpe_encode_ids(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "Window" not in plan
    assert "Sort " not in plan.replace("array_sort", "")  # no global sort


def test_script_lang_id_is_codegen_projection(spark):
    """Script-aware lang-id: lead-byte band counts + marker scores in
    ONE codegen'd projection — no Python stage, no join, no agg (the
    byte walk is array arithmetic over the hex symbols, not a UDF).
    The only allowed Exchange is ensure_parallelism's local-mode
    round-robin (a no-op at scale — it fires only when the scan has
    fewer splits than the session's cores)."""
    from coltt_spark.registry_text import q_text_lang_id_unicode

    out = q_text_lang_id_unicode(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan and "HashAggregate" not in plan
    # any Exchange present must be the explicit repartition, never a
    # shuffle some operator REQUIRED (ENSURE_REQUIREMENTS)
    assert "ENSURE_REQUIREMENTS" not in plan
    assert "Exchange" not in plan or "REPARTITION_BY_NUM" in plan
    # under AQE the pre-execution plan hides codegen stars — execute
    # first (bpe_encode guard convention)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final


def test_pack_sequences_ids_single_shard_shuffle(spark):
    """pack_sequences_ids: ONE shuffle on the shard key serves both
    the packing window and the payload regroup (hashpartitioning by
    shard satisfies the (shard, seq_id) clustering — no second
    Exchange), and no Python stage anywhere."""
    from pyspark.sql import functions as F

    from coltt_spark.operators.pipeline import pack_sequences_ids

    ids = (
        spark.range(500)
        .select(
            F.col("id").alias("doc_id"),
            F.sequence(F.lit(0), (F.col("id") % 7).cast("int")).alias(
                "token_ids"
            ),
        )
    )
    out = pack_sequences_ids(ids, "doc_id", "token_ids", budget=16, n_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # no shuffle keyed on (shard, seq_id): the window's shard
    # partitioning is reused by the aggregation
    import re as _re

    keyed = _re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keyed and all("seq_id" not in k for k in keyed), keyed


def test_byte_shingle_table_is_pure_codegen_scan(spark):
    """The byte-shingle inverted table must be scan → narrow hex-slice
    projection → Generate (explode) → distinct — no Python stage
    anywhere. At 100 TB the shingle build is the dominant dedup cost;
    it has to stay inside whole-stage codegen like the word-shingle
    path it mirrors."""
    from coltt_spark.operators.dedup import shingle_table_bytes

    docs = load_table(spark, SF_SMOKE, "documents")
    sh = shingle_table_bytes(docs, "doc_id", "text", 12)
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Generate" in plan  # the explode over hex-slice shingles
    # the distinct aggregates map-side before the one shuffle
    assert "Exchange" in plan


def test_ivfpq_probe_joins_luts_broadcast(spark):
    """The IVF-PQ probe must join the per-(query, probed-centroid)
    LUTs to the codes table as a BROADCAST join — the corpus side
    never shuffles for the ADC scan (at 100 TB the codes table is
    centroid-partitioned and the probe reads ~nprobe/n_centroids of
    it; a sort-merge join here would shuffle the whole index per
    query batch). The only Exchange allowed is the per-query
    top-refine window over the scored candidates."""
    from coltt_spark.operators.pq import ivfpq_build, ivfpq_topk

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qs = {
        int(r["vec_id"]): list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 2).collect()
    }
    index = ivfpq_build(emb, id_col="vec_id", vec_col="embedding")
    out = ivfpq_topk(emb, qs, id_col="vec_id", vec_col="embedding",
                     k=5, nprobe=4, refine=20, index=index)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # no cartesian anywhere: every join is keyed (centroid / id / query)
    assert "Cartesian" not in plan


def test_script_profile_is_codegen_projection(spark):
    """Script composition fractions: same contract as the lang-id
    guard above — ONE codegen'd projection, no Python stage, no join,
    no agg; Exchange only as ensure_parallelism's explicit local-mode
    repartition."""
    from coltt_spark.registry_text import q_text_script_profile

    out = q_text_script_profile(spark, SF_SMOKE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan and "HashAggregate" not in plan
    assert "ENSURE_REQUIREMENTS" not in plan
    assert "Exchange" not in plan or "REPARTITION_BY_NUM" in plan
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final


def test_ivfpq_collection_probe_prunes_and_refines_broadcast(spark):
    """An ivfpq-layout collection's search must (a) path-prune to the
    probed lists' PACKED CODE FILES exactly like the ivf layout, (b)
    serve ADC-only (refine=0) with NO Parquet scan at all — the scan
    reads M uint8 bytes per row through the spool and nothing else —
    and (c) rerank the refined search through ONE broadcast join of
    the ≤ refine candidates against ONLY the PROBED lists'
    exact-vector files (``vecs/centroid=<c>/``), never the snapshot:
    candidates are members of the probed lists by construction, so a
    full-snapshot rerank scan would equal a flat exhaustive scan's IO
    at 100 TB whenever refine > 0 (VERDICT r9 #2); a sort-merge join
    or a full-width read would likewise re-shuffle/re-read the corpus
    per query."""
    import os
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F2

    from coltt_spark.catalog import Catalog
    from coltt_spark.operators.blocks import ivf_files, ivf_probe_centroids
    from coltt_spark.plans import executed_plan
    from coltt_spark.schema import IndexField

    emb = load_table(spark, SF_SMOKE, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    coll = Catalog(spark, tempfile.mkdtemp(prefix="wh_ivfpq_plan_")).create_collection(
        "pqp", dim=dim, distance="cosine",
        fields=[
            IndexField("id", "string", primary_key=True),
            IndexField("label", "integer"),
        ],
        layout="ivfpq", ivf_centroids=4, ivf_nprobe=2,
        pq_subspaces=8, pq_codes=8,
    )
    coll.upsert_df(
        emb.select(F2.col("vec_id").cast("string").alias("id"),
                   F2.col("label").cast("int").alias("label"),
                   F2.col("embedding").alias("vector")),
        dedupe_batch=False,
    )
    coll.flush()
    q = list(emb.select("embedding").first()["embedding"])
    # (a) driver-side path pruning over the CODE files
    blocks_dir = os.path.join(coll._ivf_dir("vector"), "blocks")
    Cn = np.load(os.path.join(coll._ivf_dir("vector"), "centroids.npy"))
    probed = ivf_probe_centroids(Cn, coll._normalize_query(q), 2)
    files = ivf_files(blocks_dir, probed)
    assert files and all(
        any(f"centroid={c}{os.sep}" in f for c in probed) for f in files
    )
    assert len(files) < len(ivf_files(blocks_dir, range(4)))
    # (b) ADC-only: the whole plan is the file-list scan + TakeOrdered
    plan0 = executed_plan(coll.search(q, limit=5, refine=0))
    assert "Scan parquet" not in plan0, plan0[:800]
    assert "TakeOrderedAndProject" in plan0
    # (c) refined: broadcast rerank join against a pruned vector scan
    refined = coll.search(q, limit=5)
    plan = executed_plan(refined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan
    assert "TakeOrderedAndProject" in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("vector" in ln and "label" not in ln for ln in read), read
    # the rerank's ONLY file-source input is the probed lists' vecs
    # tree — no snapshot parquet anywhere in the refined plan
    infiles = refined.inputFiles()
    assert infiles, "refined rerank should scan the vecs tree"
    for f in infiles:
        assert f"vecs{os.sep}centroid=" in f or "vecs/centroid=" in f, f
        assert any(f"centroid={c}" in f for c in probed), (f, probed)
        # note the trailing separator: .../v1 is a string prefix of
        # the legitimate .../v1_ivf index dir
        assert coll._data_dir() + os.sep not in f, f


def test_domain_quota_windows_are_salted_then_bounded(spark):
    """The per-domain quota must never route a megadomain to one
    reducer: the FIRST window is keyed (domain, _salt) — a Zipf head
    spreads over `salts` reducers — and only the ≤ cap·salts local
    survivors reach the domain-keyed window, so the final sort is
    bounded regardless of skew. Pin: exactly two window specs, the
    first salted, the second domain-only over the filtered survivor
    set; no empty (global) window partition spec; the pre-quota
    domain counts join back as a BroadcastHashJoin."""
    from coltt_spark.registry import QUERIES
    from coltt_spark.plans import executed_plan, has_broadcast_hash_join

    import re

    df = QUERIES["web_domain_quota"](spark, SF_SMOKE)
    plan = executed_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan[:600]
    salted = [s for s in specs if "_salt" in s]
    domain_only = [s for s in specs if "_salt" not in s]
    assert salted and domain_only, specs
    for s in specs:
        assert "domain" in s  # no global window anywhere
    assert has_broadcast_hash_join(df)


def test_image_dedup_plan_banded_no_allpairs(spark):
    """The perceptual image dedup must stay the LSH shape at 100 TB:
    candidates come from the 4-word Hamming-band equi-join — never a
    cross join or nested-loop — and the pixel work is exactly TWO
    narrow Arrow stages (fixture fabricate + decode/hash), with no
    shuffle between payload and signature."""
    from coltt_spark.operators.multimodal import dhash_image_table, image_dhash
    from coltt_spark.plans import executed_plan
    from coltt_spark.registry import QUERIES

    # pixel side: fabricate + decode/hash are the ONLY Python stages,
    # chained narrowly over the documents scan (no shuffle between
    # payload and signature)
    docs = load_table(spark, SF_SMOKE, "documents")
    sig_plan = executed_plan(image_dhash(dhash_image_table(docs)))
    assert sig_plan.count("MapInPandas") == 2, sig_plan[:800]
    assert "ENSURE_REQUIREMENTS" not in sig_plan
    # pair side: banded equi-joins only (the signature table enters
    # through a checkpoint, so it shows as Scan ExistingRDD here)
    df = QUERIES["media_image_dedup"](spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]
    assert "band_idx" in plan and "band_val" in plan


def test_semantic_decontaminate_broadcasts_benchmark_no_allpairs(spark):
    """The embedding decontamination must stay the bipartite-LSH shape
    at 100 TB: the blocked benchmark side broadcasts into the corpus
    stream (no shuffle-for-join, no cross join) and the only join is
    the within-block equi-join."""
    from coltt_spark.plans import executed_plan, has_broadcast_hash_join
    from coltt_spark.registry import QUERIES

    df = QUERIES["decontaminate_semantic"](spark, SF_SMOKE)
    plan = executed_plan(df)
    assert has_broadcast_hash_join(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan

def test_audio_dedup_plan_banded_no_allpairs(spark):
    """The acoustic near-dup dedup must keep the image dedup's LSH
    shape at 100 TB: candidates come from the 4-word Hamming-band
    equi-join — never a cross join or nested-loop — and the sample
    work is exactly TWO narrow Arrow stages (fixture fabricate +
    decode/fingerprint) with no shuffle between payload and
    signature."""
    from coltt_spark.operators.multimodal import audio_dedup_table, audio_fingerprint
    from coltt_spark.plans import executed_plan
    from coltt_spark.registry import QUERIES

    docs = load_table(spark, SF_SMOKE, "documents")
    sig_plan = executed_plan(audio_fingerprint(audio_dedup_table(docs)))
    assert sig_plan.count("MapInPandas") == 2, sig_plan[:800]
    assert "ENSURE_REQUIREMENTS" not in sig_plan
    df = QUERIES["media_audio_dedup"](spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]
    assert "band_idx" in plan and "band_val" in plan

def test_video_dedup_plan_banded_no_allpairs(spark):
    """The video near-dup dedup must keep the audio dedup's LSH shape
    at 100 TB: candidates come from the 4-word Hamming-band equi-join
    — never a cross join or nested-loop — and the sample work is
    exactly TWO narrow Arrow stages (fixture fabricate +
    decode/fingerprint) with no shuffle between payload and
    signature."""
    from coltt_spark.operators.multimodal import video_dedup_table, video_fingerprint
    from coltt_spark.plans import executed_plan
    from coltt_spark.registry import QUERIES

    docs = load_table(spark, SF_SMOKE, "documents")
    sig_plan = executed_plan(video_fingerprint(video_dedup_table(docs)))
    assert sig_plan.count("MapInPandas") == 2, sig_plan[:800]
    assert "ENSURE_REQUIREMENTS" not in sig_plan
    df = QUERIES["media_video_dedup"](spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]
    assert "band_idx" in plan and "band_val" in plan


def test_minhash_delta_serves_old_side_from_index_only(spark, tmp_path):
    """Incremental dedup must NOT recompute the frozen corpus: the
    delta plan's only parquet sources are the four MinHashIndex
    artifacts (band_keys / fp_shingles / members / pairs) — zero
    scans of the corpus documents table. The new batch enters through
    its one materialized shingle table; the old side is equi-joins
    against the stored layout (band_hash, fp), which is what keeps a
    daily delta proportional to the batch, not the corpus, at 100 TB."""
    from coltt_spark.operators.dedup import MinHashIndex
    from coltt_spark.plans.inspect import explain_formatted

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = MinHashIndex.build(
        docs.filter(F.col("doc_id") % 3 != 0),
        "doc_id",
        "text",
        str(tmp_path / "idx"),
    )
    delta = idx.delta_pairs(
        docs.filter(F.col("doc_id") % 3 == 0), "doc_id", "text"
    )
    plan = explain_formatted(delta)
    assert "documents.parquet" not in plan
    for artifact in ("band_keys", "fp_shingles", "members", "pairs"):
        assert artifact in plan, f"missing index artifact scan: {artifact}"


def test_av_dedup_plan_banded_no_allpairs(spark):
    """The joint AV dedup must keep the banded shape: BOTH tracks
    fingerprinted in exactly TWO narrow Arrow stages (fixture
    fabricate + decode/fingerprint, no shuffle between payload and
    signature), candidates from the video Hamming-band equi-join,
    audio verify as equi-joins on the pair ids — never a cross join
    or nested loop."""
    from coltt_spark.operators.multimodal import av_dedup_table, av_fingerprint
    from coltt_spark.plans import executed_plan
    from coltt_spark.registry import QUERIES

    docs = load_table(spark, SF_SMOKE, "documents")
    sig_plan = executed_plan(av_fingerprint(av_dedup_table(docs)))
    assert sig_plan.count("MapInPandas") == 2, sig_plan[:800]
    assert "ENSURE_REQUIREMENTS" not in sig_plan
    df = QUERIES["media_av_dedup"](spark, SF_SMOKE)
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]
    assert "band_idx" in plan and "band_val" in plan


def test_block_scan_source_is_jvm_range_one_python_hop(spark, tmp_path):
    """The block scan's file-group source must be JVM-native (a Range),
    not a Python RDD: ``Scan ExistingRDD`` would convert its rows in a
    second Python worker pass inside every scan task. The scan's
    ``mapInPandas`` is the only Python operator, with one task per
    file group, groups dealt round-robin in partition order."""
    import random

    from coltt_spark.catalog import Catalog
    from coltt_spark.operators.blocks import _file_group_df
    from coltt_spark.plans import executed_plan
    from coltt_spark.schema import IndexField

    files = [f"/blocks/part-{i:05d}.parquet" for i in range(11)]
    for max_tasks in (4, 32):
        fdf = _file_group_df(spark, files, max_tasks)
        n = min(len(files), max_tasks)
        assert fdf.rdd.getNumPartitions() == n
        assert "Scan ExistingRDD" not in executed_plan(fdf)
        got = fdf.rdd.glom().map(lambda rows: [r.paths for r in rows]).collect()
        assert [p for part in got for p in part] == [
            ";".join(files[i::n]) for i in range(n)
        ]
        assert all(len(part) == 1 for part in got)

    rng = random.Random(5)
    coll = Catalog(spark, str(tmp_path / "wh")).create_collection(
        "srcplan", dim=6, distance="cosine",
        fields=[IndexField("id", "string", primary_key=True)],
        layout="blocks", block_dtype="float64",
    )
    coll.upsert(
        [{"id": f"r{i}", "vector": [rng.gauss(0, 1) for _ in range(6)]} for i in range(100)]
    )
    coll.flush()
    plan = executed_plan(coll.search([rng.gauss(0, 1) for _ in range(6)], limit=5))
    assert "Scan ExistingRDD" not in plan, plan[:800]
    assert plan.count("MapInPandas") == 1, plan[:800]


def _run_in_group(spark, action) -> list[int]:
    """The ids of the Spark jobs that ``action()`` runs, found by its
    own job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _jobs_run(spark, action) -> int:
    """Spark jobs that ``action()`` runs, counted by its own job group."""
    return len(_run_in_group(spark, action))


def test_upsert_and_delta_flush_job_counts(spark, tmp_path):
    """A PK-unique checkpointed batch upserts in ONE job: the eager
    checkpoint also counts the rows (an ``Observation``), with no
    second ``count()`` job. A one-batch blocks delta flush counts its
    delta in its checkpoint job too, and semi-joins the upserted PKs
    without a ``distinct()`` shuffle."""
    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    def batch(lo, hi):
        return spark.range(lo, hi, 1, 2).select(
            F.concat(F.lit("r"), F.col("id").cast("string")).alias("id"),
            (F.col("id") % 5).cast("int").alias("grp"),
            F.array(*[F.sin(F.col("id") + k) for k in range(4)]).alias("vector"),
        ).localCheckpoint(eager=True)

    coll = Catalog(spark, str(tmp_path / "wh")).create_collection(
        "jobcount", dim=4, distance="euclidean",
        fields=[IndexField("id", "string", primary_key=True), IndexField("grp", "integer")],
        layout="blocks",
    )
    coll.upsert_df(batch(0, 200), dedupe_batch=False)
    coll.flush()  # v1: full pack
    updates = batch(150, 250)  # 50 updates, 50 inserts
    n = []
    assert _jobs_run(spark, lambda: n.append(coll.upsert_df(updates, dedupe_batch=False))) == 1
    assert n == [100]
    base = spark.read.parquet(coll._data_dir(1))
    superseded = base.filter(F.col("id").isin([f"r{i}" for i in range(150, 200)]))
    want_tombs = sorted(r[0] for r in superseded.select("_commit_id").collect())
    # as measured: the delta checkpoint (which also counts the delta),
    # the delta write, then the AQE stage and broadcast jobs of the
    # tombstone and block-pack writes
    assert _jobs_run(spark, coll.flush) == 7
    assert coll.manifest.version == 2 and coll.count() == 250
    tombs = spark.read.parquet(coll._tombstones_dir(2)).collect()
    assert sorted(r[0] for r in tombs) == want_tombs and len(want_tombs) == 50


def _stages_and_plans(spark, job_ids) -> tuple[int, list[str]]:
    """The stages the jobs ran (skipped stages not counted, as the
    benchmark's trace counts them) and the final physical plans of the
    SQL executions those jobs belong to."""
    st = spark.sparkContext.statusTracker()
    stages = sum(
        1 for j in job_ids for s in st.getJobInfo(j).stageIds if st.getStageInfo(s) is not None
    )
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        if any(ex.jobs().contains(j) for j in job_ids):
            plans.append(ex.physicalPlanDescription())
    return stages, plans


def _join_keys(plan: str) -> set[str]:
    """Column names of every equi-join key in a physical plan, as the
    SQL status store keeps it (the formatted explain mode)."""
    import re

    return {
        re.sub(r"#\d+L?$", "", k.strip())
        for keys in re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
        for k in keys.split(",")
    }


@pytest.mark.parametrize("layout, want_jobs, want_stages", [("ivf", 9, 12), ("ivfpq", 20, 26)])
def test_full_index_build_job_counts_and_no_join_back(spark, tmp_path, layout, want_jobs, want_stages):
    """A full ivf/ivfpq flush routes the snapshot rows through the
    trained quantizer with their commit id and payload attached, so
    the index writes (the per-centroid block tree, and the ivfpq
    ``vecs/`` rerank tree) join neither on the primary key nor on the
    commit id: only the ivfpq residual's broadcast join on
    ``centroid`` is left. Job and stage counts are pinned as measured
    (skipped stages not counted)."""
    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField

    rows = spark.range(0, 200, 1, 2).select(
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("id"),
        (F.col("id") % 5).cast("int").alias("grp"),
        F.array(*[F.sin(F.col("id") + k) for k in range(4)]).alias("vector"),
    ).localCheckpoint(eager=True)
    coll = Catalog(spark, str(tmp_path / "wh")).create_collection(
        f"full_{layout}", dim=4, distance="euclidean",
        fields=[IndexField("id", "string", primary_key=True), IndexField("grp", "integer")],
        layout=layout, ivf_centroids=4, pq_subspaces=2, pq_codes=8,
    )
    coll.upsert_df(rows, dedupe_batch=False)
    jobs = _run_in_group(spark, coll.flush)
    stages, plans = _stages_and_plans(spark, jobs)
    assert (len(jobs), stages) == (want_jobs, want_stages)
    index_writes = [p for p in plans if coll._ivf_dir("vector", 1) in p]
    assert len(index_writes) == (2 if layout == "ivfpq" else 1), plans
    # the ivfpq residual's broadcast join on centroid is the only join
    # left, and shows that the keys are parsed
    keys = set().union(*map(_join_keys, index_writes))
    assert keys == ({"centroid"} if layout == "ivfpq" else set()), index_writes
    assert coll.count() == 200
