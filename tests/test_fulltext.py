"""Unit tests for BM25 / RRF hybrid retrieval and the HLL sketch."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from coltt_spark.operators.fulltext import (
    BM25_B,
    BM25_K1,
    bm25_search,
    bm25_topk_batch,
    hybrid_rrf_search,
    query_terms,
    rrf_fuse,
)
from coltt_spark.operators.sketch import hll_distinct
from coltt_spark.sources.tables import load_table

from .conftest import SF_SMOKE


def _py_bm25(corpus: dict[int, str], query: str, k1=BM25_K1, b=BM25_B):
    """Independent reference implementation (pure Python)."""
    toks = {i: [t for t in t_.lower().split() if t] for i, t_ in corpus.items()}
    n = float(len(corpus))
    avgdl = sum(len(v) for v in toks.values()) / n
    terms = query_terms(query)
    dfreq = {
        t: float(sum(1 for v in toks.values() if t in v)) for t in terms
    }
    out = {}
    for i, v in toks.items():
        s = 0.0
        hit = 0
        for t in sorted(terms):
            tf = float(v.count(t))
            if tf == 0 or dfreq[t] == 0:
                continue
            hit += 1
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * (len(v) / avgdl))
            )
        if hit:
            out[i] = (hit, round(s, 4))
    return out


def test_bm25_matches_pure_python_reference(spark):
    corpus = {
        1: "spark shuffles the big table",
        2: "broadcast the small table to every executor",
        3: "spark spark spark tuning guide",
        4: "completely unrelated words here",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_terms_hit"], r["score"])
        for r in bm25_search(df, "doc_id", "text", "spark table", top_k=10).collect()
    }
    want = _py_bm25(corpus, "spark table")
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0]
        assert got[i][1] == pytest.approx(want[i][1], abs=1e-4)


def test_bm25_rare_term_outranks_common(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    rows = bm25_search(docs, "doc_id", "text", "vector hash join dup").collect()
    assert len(rows) == 10
    # 'dup' is the one discriminative term — every top hit contains it
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.filter(
            F.col("doc_id").isin([int(r["doc_id"]) for r in rows[:3]])
        ).collect()
    }
    assert all("dup" in t for t in texts.values())
    # scores sorted desc with id tie-break
    assert rows == sorted(
        rows, key=lambda r: (-r["score"], r["doc_id"])
    )


def test_rrf_fuse_scores_and_sentinels(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], ["id", "rank"])
    b = spark.createDataFrame([(2, 1), (3, 2)], ["id", "rank"])
    rows = {
        r["id"]: r["rrf_score"]
        for r in rrf_fuse([a, b], "id", top_k=10).collect()
    }
    assert rows[2] == pytest.approx(1 / 61 + 1 / 62)
    assert rows[1] == pytest.approx(1 / 61)
    assert rows[3] == pytest.approx(1 / 62)


def test_hybrid_contains_both_modalities(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    rows = hybrid_rrf_search(docs, emb, "vector hash join dup", qv).collect()
    assert len(rows) == 10
    # rank-0 sentinel: no NULLs, and the vector query's own id (exact
    # match, vec rank 1) must surface
    assert all(r["bm25_rank"] is not None and r["vec_rank"] is not None for r in rows)
    by_id = {r["doc_id"]: r for r in rows}
    assert 0 in by_id and by_id[0]["vec_rank"] == 1


def test_hll_estimate_within_error_bound(spark):
    # 2000 distinct keys, two groups — 1.04/sqrt(256) ≈ 6.5% expected
    # relative error; assert a generous 3-sigma bound.
    df = spark.range(4000).select(
        (F.col("id") % 2000).alias("k"),
        (F.col("id") % 2).cast("string").alias("g"),
    )
    rows = hll_distinct(df, "k", ["g"], include_exact=True).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["exact_distinct"] == 1000
        assert r["n_rows"] == 2000
        assert abs(r["hll_distinct"] - 1000) / 1000 < 0.2
    # determinism: md5-derived registers give identical reruns
    again = hll_distinct(df, "k", ["g"], include_exact=True).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_hll_small_range_linear_counting(spark):
    # 20 distinct keys << m=256: the linear-counting branch engages
    # and is near-exact there.
    df = spark.range(100).select((F.col("id") % 20).alias("k"), F.lit("a").alias("g"))
    [r] = hll_distinct(df, "k", ["g"], include_exact=True).collect()
    assert r["exact_distinct"] == 20
    assert abs(r["hll_distinct"] - 20) < 2


def test_bm25_batch_b1_equals_single_query(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    single = {
        (r["doc_id"]): (r["n_terms_hit"], r["score"])
        for r in bm25_search(docs, "doc_id", "text", "vector dup", top_k=5).collect()
    }
    batch = {
        r["doc_id"]: (r["n_terms_hit"], r["score"])
        for r in bm25_topk_batch(
            docs, "doc_id", "text", {7: "vector dup"}, k=5
        ).collect()
    }
    assert single == batch


def test_bm25_batch_window_is_partitioned(spark):
    from coltt_spark.plans.inspect import executed_plan

    df = bm25_topk_batch(
        load_table(spark, SF_SMOKE, "documents"),
        "doc_id", "text", {0: "vector dup", 1: "stream window"}, k=3,
    )
    import re
    plan = executed_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("query_id" in s for s in specs), specs


def test_cm_sketch_overestimates_within_bound(spark):
    from coltt_spark.operators.sketch import CM_W, cm_build, cm_estimate

    docs = load_table(spark, SF_SMOKE, "documents")
    toks = docs.select(F.explode(F.expr(
        "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"
    )).alias("token"))
    n_total = toks.count()
    exact = {
        r["token"]: r["c"]
        for r in toks.groupBy("token").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    probes = sorted(exact)[:8]
    sketch = cm_build(toks, "token")
    assert sketch.count() <= 4 * CM_W
    est = {
        r["key"]: r["cm_estimate"]
        for r in cm_estimate(sketch, probes).collect()
    }
    for t in probes:
        # CM never under-counts; additive error bounded by ~2N/w
        assert est[t] >= exact[t]
        assert est[t] - exact[t] <= 2 * n_total / CM_W + 1


def test_quantile_histogram_within_bin_error(spark):
    from coltt_spark.operators.sketch import QS_BIN_WIDTH, quantile_histogram

    li = load_table(spark, SF_SMOKE, "lineitem")
    qs = [0.25, 0.5, 0.75, 0.95, 0.99]
    est = {r["q"]: r["est"] for r in quantile_histogram(li, "l_extendedprice", qs).collect()}
    exact = li.selectExpr(
        *[f"percentile(l_extendedprice, {q}) AS q{int(q*100)}" for q in qs]
    ).first()
    for q in qs:
        # histogram midpoint is within one bin of the exact quantile
        assert abs(est[q] - exact[f"q{int(q*100)}"]) <= QS_BIN_WIDTH, (q, est[q])


def test_bloom_decontaminate_is_superset_of_exact(spark):
    from coltt_spark.operators.pipeline import decontaminate, decontaminate_bloom

    docs = load_table(spark, SF_SMOKE, "documents")
    bench = docs.filter((docs.doc_id % 10) == 0)
    train = docs.filter((docs.doc_id % 10) != 0)
    exact = {
        r["doc_id"]: r["n_hit_shingles"]
        for r in decontaminate(train, bench, "doc_id", "text", ngram=5).collect()
    }
    bloom = {
        r["doc_id"]: r["n_bloom_shingles"]
        for r in decontaminate_bloom(train, bench, "doc_id", "text", ngram=5).collect()
    }
    # no false negatives: every exactly-contaminated doc is flagged,
    # with at least as many flagged shingles
    for d, n in exact.items():
        assert d in bloom and bloom[d] >= n


def test_hll_ignores_null_keys(spark):
    df = spark.range(200).select(
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id") % 50).alias("k"),
        F.lit("g").alias("g"),
    )
    [r] = hll_distinct(df, "k", ["g"], include_exact=True).collect()
    # 150 rows carry a non-null key; nulls are invisible to the sketch
    assert r["n_rows"] == 150
    assert r["exact_distinct"] == df.filter("k IS NOT NULL").select("k").distinct().count()


def test_bloom_probe_survives_duplicate_rows(spark):
    from coltt_spark.functions.text import hash60 as h60
    from coltt_spark.operators.sketch import bloom_build, bloom_probe

    members = spark.createDataFrame([("a",), ("b",)], ["key"]).select(
        "key", h60(F.col("key")).alias("_h")
    )
    bits = bloom_build(members, "_h")
    probes = spark.createDataFrame(
        [("a",), ("a",), ("b",)], ["key"]
    ).select("key", h60(F.col("key")).alias("_h"))
    got = sorted(r["key"] for r in bloom_probe(probes, "_h", bits).collect())
    # duplicate probe rows must not create false negatives; output is
    # set-deduplicated
    assert got == ["a", "b"]


def test_cm_sketch_merges_across_shards(spark):
    """Cell-wise addition of two shard sketches equals the sketch of
    the union — the property that makes the sketch a shuffle-free
    aggregate at scale."""
    from coltt_spark.operators.sketch import cm_build

    docs = load_table(spark, SF_SMOKE, "documents")
    toks = docs.select(F.explode(F.expr(
        "filter(split(lower(text), '[^a-z0-9]+'), t -> t != '')"
    )).alias("token"), F.col("doc_id"))
    a = toks.filter("doc_id % 2 = 0").select("token")
    b = toks.filter("doc_id % 2 = 1").select("token")
    merged = (
        cm_build(a, "token").unionByName(cm_build(b, "token"))
        .groupBy("r", "cell").agg(F.sum("n").alias("n"))
    )
    whole = cm_build(toks.select("token"), "token")
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_hll_registers_merge_across_shards(spark):
    """Register-wise max of two shard register files equals the
    union's register file (max is the HLL merge operator)."""
    from coltt_spark.functions.text import hash60 as h60

    def registers(df):
        h = h60(F.col("k").cast("string"))
        rho = F.lit(53) - F.length(
            F.regexp_replace(F.bin(F.shiftright(h, 8)), "^0+", "")
        )
        return (
            df.select(h.bitwiseAND(F.lit(255)).alias("b"), rho.alias("rho"))
            .groupBy("b").agg(F.max("rho").alias("m"))
        )

    full = spark.range(3000).select(F.col("id").alias("k"))
    a = full.filter("k < 1700")
    b = full.filter("k >= 1700")
    merged = (
        registers(a).unionByName(registers(b))
        .groupBy("b").agg(F.max("m").alias("m"))
    )
    whole = registers(full)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_indexed_bm25_equals_adhoc(spark, tmp_path):
    from coltt_spark.textindex import TextIndex

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = TextIndex.build(docs, "doc_id", "text", str(tmp_path / "tidx"))
    for query in ("vector hash join dup", "stream window", "dup"):
        adhoc = sorted(map(tuple, bm25_search(docs, "doc_id", "text", query).collect()))
        served = sorted(map(tuple, idx.search(query).collect()))
        assert adhoc == served, query


def test_textindex_shard_merge_equals_whole_build(spark, tmp_path):
    """Merging per-shard indexes (postings union, df/stats addition)
    serves bit-identical results to the index built over the whole
    corpus — the incremental-build contract."""
    from coltt_spark.textindex import TextIndex

    docs = load_table(spark, SF_SMOKE, "documents")
    a = TextIndex.build(
        docs.filter("doc_id % 2 = 0"), "doc_id", "text", str(tmp_path / "a")
    )
    b = TextIndex.build(
        docs.filter("doc_id % 2 = 1"), "doc_id", "text", str(tmp_path / "b")
    )
    merged = TextIndex.merge([a, b], str(tmp_path / "m"))
    whole = TextIndex.build(docs, "doc_id", "text", str(tmp_path / "w"))
    for query in ("vector hash join dup", "stream window"):
        got = sorted(map(tuple, merged.search(query).collect()))
        want = sorted(map(tuple, whole.search(query).collect()))
        assert got == want, query


def test_collection_hybrid_text_search(spark, tmp_path):
    """Product-level hybrid: packed-block vector candidates fused
    with inverted-index BM25 candidates on the primary key."""
    import pyspark.sql.functions as F2

    from coltt_spark.catalog import Catalog
    from coltt_spark.schema import IndexField
    from coltt_spark.textindex import TextIndex

    emb = load_table(spark, SF_SMOKE, "embeddings")
    docs = load_table(spark, SF_SMOKE, "documents").select(
        F2.col("doc_id").cast("string").alias("id"), "text"
    )
    dim = len(emb.select("embedding").first()["embedding"])
    coll = Catalog(spark, str(tmp_path / "wh")).create_collection(
        "h", dim=dim, distance="cosine",
        fields=[
            IndexField("id", "string", primary_key=True),
            IndexField("label", "integer"),
        ],
        layout="blocks",
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
    idx = TextIndex.build(docs, "id", "text", str(tmp_path / "tidx"))
    qv = [float(x) for x in emb.filter(F2.col("vec_id") == 0).first()["embedding"]]
    rows = coll.search_hybrid_text(idx, "vector hash join dup", qv).collect()
    assert len(rows) == 10
    by_id = {r["id"]: r for r in rows}
    # the query's own vector is an exact match -> vec rank 1 surfaces
    assert "0" in by_id and by_id["0"]["vec_rank"] == 1
    # fusion drew from the lexical list too
    assert any(r["bm25_rank"] > 0 for r in rows)
    assert all(r["bm25_rank"] is not None and r["vec_rank"] is not None for r in rows)
    # deterministic
    again = coll.search_hybrid_text(idx, "vector hash join dup", qv).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_textindex_batch_equals_adhoc_batch(spark, tmp_path):
    from coltt_spark.textindex import TextIndex

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = TextIndex.build(docs, "doc_id", "text", str(tmp_path / "tib"))
    qs = {0: "vector hash join dup", 1: "stream window agg"}
    adhoc = sorted(map(tuple, bm25_topk_batch(docs, "doc_id", "text", qs, k=5).collect()))
    served = sorted(map(tuple, idx.search_batch(qs, k=5).collect()))
    assert adhoc == served


def test_text_index_delete_compact_merge_lifecycle(spark, tmp_path):
    """Mask-only deletes keep as-built stats (Lucene discipline);
    compact folds tombstones and must score EXACTLY like a fresh
    build over the surviving corpus; merge refuses shards with
    pending deletes and accepts them after compact."""
    import pytest as _pytest

    from coltt_spark.textindex import TextIndex

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    q = "vector hash join dup"
    idx = TextIndex.build(docs, "doc_id", "text", str(tmp_path / "idx"))
    before = [(r["doc_id"], r["score"]) for r in idx.search(q, top_k=10).collect()]
    dead = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    idx.delete(dead)
    masked = [(r["doc_id"], r["score"]) for r in idx.search(q, top_k=10).collect()]
    dead_ids = {r["doc_id"] for r in dead.collect()}
    assert all(d not in dead_ids for d, _ in masked)
    # as-built stats: a surviving doc's score is unchanged by the mask
    before_scores = dict(before)
    assert all(
        before_scores[d] == s for d, s in masked if d in before_scores
    )
    # compact == fresh rebuild over survivors, bit-identical scores
    compacted = idx.compact(str(tmp_path / "idx_c"))
    survivors = docs.join(dead, on="doc_id", how="left_anti")
    fresh = TextIndex.build(survivors, "doc_id", "text", str(tmp_path / "idx_f"))
    got = [(r["doc_id"], r["score"]) for r in compacted.search(q, top_k=10).collect()]
    want = [(r["doc_id"], r["score"]) for r in fresh.search(q, top_k=10).collect()]
    assert got == want
    assert compacted.n_docs == fresh.n_docs
    assert compacted.total_dl == fresh.total_dl
    # merge refuses dirty shards, accepts compacted ones
    other = TextIndex.build(
        docs.filter(F.col("doc_id") % 5 == 0),
        "doc_id", "text", str(tmp_path / "idx_o"),
    )
    with _pytest.raises(ValueError, match="pending deletes"):
        TextIndex.merge([idx, other], str(tmp_path / "m_bad"))
    merged = TextIndex.merge([compacted, other], str(tmp_path / "m_ok"))
    full = [(r["doc_id"], r["score"]) for r in merged.search(q, top_k=10).collect()]
    assert full == [(d, s) for d, s in before]


def test_textindex_delete_rejects_mismatched_id_type(spark, tmp_path):
    """delete() with a DataFrame whose id column type differs from the
    postings id type fails FAST with a TypeError — not later as a
    parquet schema-merge error on the serving path."""
    from coltt_spark.textindex import TextIndex

    docs = load_table(spark, SF_SMOKE, "documents").limit(30)
    idx = TextIndex.build(docs, "doc_id", "text", str(tmp_path / "tdel"))
    bad = spark.createDataFrame([("1",), ("2",)], "doc_id string")
    with pytest.raises(TypeError, match="id column"):
        idx.delete(bad)
    # the matching type still works
    ok = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    idx.delete(ok)
    assert idx.search("the", top_k=5).count() >= 0


def test_hybrid_batch_equals_sequential(spark):
    """Batched hybrid serving ≡ per-query sequential hybrid through
    the SAME quantized collection + text index fixtures the registry
    serves (gate scale) — per query_id, row for row."""
    from coltt_spark.registry import _ivfpq_opq_collection, _query_vec
    from coltt_spark.registry_fulltext import (
        _HYBRID_BATCH_QUERIES,
        _text_index,
    )

    from .conftest import SF_CORRECT

    coll = _ivfpq_opq_collection(spark, SF_CORRECT)
    idx = _text_index(spark, SF_CORRECT, str_ids=True)
    queries = {
        qid: (text, _query_vec(spark, SF_CORRECT, vid))
        for qid, (text, vid) in enumerate(_HYBRID_BATCH_QUERIES)
    }
    batch = coll.search_hybrid_text_batch(idx, queries)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["id"], r["bm25_rank"], r["vec_rank"], r["rrf_score"])
        )
    for qid, (text, _vid) in enumerate(_HYBRID_BATCH_QUERIES):
        single = [
            (r["id"], r["bm25_rank"], r["vec_rank"], r["rrf_score"])
            for r in coll.search_hybrid_text(
                idx, text, queries[qid][1]
            ).collect()
        ]
        assert sorted(got[qid]) == sorted(single), qid


def _served(idx) -> list[tuple]:
    return [tuple(r) for r in idx.search("vector hash join dup", top_k=20).collect()]


@pytest.mark.parametrize(
    "k,after", [(1, False), (2, False), (2, True)], ids=["before-1", "before-2", "after-2"]
)
def test_textindex_failed_rebuild_keeps_the_committed_index(
    spark, tmp_path, monkeypatch, k, after
):
    """A build over an existing index that fails at its postings or
    dfreq write, or after both, leaves the old index whole: a
    reopened handle serves the old corpus statistics and scores
    (never new postings under old stats), and a retry equals a fresh
    build."""
    from coltt_spark.textindex import TextIndex

    from .conftest import InjectedWriteFailure, fail_at_parquet_write

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    root = str(tmp_path / "idx")
    old = TextIndex.build(docs.filter("doc_id % 2 = 0"), "doc_id", "text", root)
    committed = (old.n_docs, _served(old))
    fail_at_parquet_write(monkeypatch, k, after=after)
    with pytest.raises(InjectedWriteFailure):
        TextIndex.build(docs, "doc_id", "text", root)
    reopened = TextIndex(spark, root)
    assert (reopened.n_docs, _served(reopened)) == committed
    retried = TextIndex.build(docs, "doc_id", "text", root)
    fresh = TextIndex.build(docs, "doc_id", "text", str(tmp_path / "fresh"))
    assert (retried.n_docs, _served(retried)) == (fresh.n_docs, _served(fresh))


@pytest.mark.parametrize("after", [False, True], ids=["before", "after"])
def test_textindex_failed_delete_keeps_the_committed_index(
    spark, tmp_path, monkeypatch, after
):
    """A delete that fails at its tombstone write, before or after
    the files land, leaves the index serving as before on the same
    handle and on a reopened one; retrying it equals a clean delete."""
    from coltt_spark.textindex import TextIndex

    from .conftest import InjectedWriteFailure, fail_at_parquet_write

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    dead = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    root = str(tmp_path / "idx")
    idx = TextIndex.build(docs, "doc_id", "text", root)
    committed = _served(idx)
    fail_at_parquet_write(monkeypatch, 1, after=after)
    with pytest.raises(InjectedWriteFailure):
        idx.delete(dead)
    assert _served(idx) == _served(TextIndex(spark, root)) == committed
    idx.delete(dead)
    clean = TextIndex.build(docs, "doc_id", "text", str(tmp_path / "clean"))
    clean.delete(dead)
    assert _served(idx) == _served(clean) != committed
