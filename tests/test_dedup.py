"""Structural properties of the dedup operators (value-level parity
vs DuckDB is covered by test_oracle_parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coltt_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from coltt_spark.sources.tables import load_table

from .conftest import SF_CORRECT


def test_lsh_catches_high_jaccard_pairs(spark):
    """At jaccard ≥ 0.8 the 4×4 banding s-curve passes ≥ ~88% per
    pair; on the planted near-dups it should catch them all."""
    docs = load_table(spark, SF_CORRECT, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed {missed}"


def test_minhash_estimates_jaccard(spark):
    """Signature agreement rate ≈ jaccard (k=16 ⇒ coarse, allow 0.35)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    sig = minhash_signatures(docs, "doc_id", "text")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.6)
    a = sig.select([F.col(c).alias(f"{c}_a") for c in sig.columns])
    b = sig.select([F.col(c).alias(f"{c}_b") for c in sig.columns])
    joined = pairs.join(a, pairs.id_a == a.doc_id_a).join(b, pairs.id_b == b.doc_id_b)
    agree = sum(
        F.when(F.col(f"mh{i}_a") == F.col(f"mh{i}_b"), 1).otherwise(0) for i in range(16)
    ) / F.lit(16.0)
    rows = joined.select("jaccard", agree.alias("est")).collect()
    assert rows
    for r in rows:
        assert abs(r["est"] - r["jaccard"]) < 0.35


def test_simhash_blocking_is_lossless(spark):
    """Chunk-blocked pairs == brute-force pairs for hamming ≤ 3."""
    from coltt_spark.operators.dedup import simhash

    docs = load_table(spark, SF_CORRECT, "documents").filter(F.col("doc_id") < 150)
    blocked = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    sig = simhash(docs, "doc_id", "text")
    a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert blocked == brute


def test_connected_components_chain(spark):
    """A 5-node chain needs >1 label-propagation round; all collapse
    to root 1. A disjoint pair keeps its own root."""
    from coltt_spark.operators.components import connected_components, dedup_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    comp = {r["id"]: r["root"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    groups = {r["id"]: (r["root"], r["group_size"]) for r in dedup_groups(pairs).collect()}
    assert groups[5] == (1, 5)
    assert groups[11] == (10, 2)


def test_blocked_neardup_finds_planted_copies(spark):
    """sign_block keeps positive-scaled copies in their original's
    block, so the distributed within-block equi-join recalls every
    planted pair; the blas path (small-corpus verification) agrees."""
    from pyspark.sql import functions as F

    from coltt_spark.operators.dedup import embedding_neardup_pairs, sign_block
    from coltt_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    corpus = emb.unionByName(copies).withColumn("blk", sign_block("embedding", bits=16))
    pairs = embedding_neardup_pairs(
        corpus, "vec_id", "embedding", threshold=0.95, block_col="blk"
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {
        (int(r["vec_id"]), int(r["vec_id"]) + 100000)
        for r in emb.filter(F.col("vec_id") % 100 == 0).select("vec_id").collect()
    }
    assert planted <= got  # recall 1.0 on planted pairs


def test_blas_neardup_caps_driver_collect(spark):
    """The blas all-pairs path must refuse corpora it would have to
    materialize on the driver."""
    import pytest
    from pyspark.sql import functions as F

    import coltt_spark.operators.dedup as d

    df = spark.range(0, 10).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0), F.lit(2.0)).alias("v")
    )
    old = d._BLAS_MAX_ROWS
    d._BLAS_MAX_ROWS = 5
    try:
        with pytest.raises(ValueError, match="block_col"):
            d.embedding_neardup_pairs(df, "vec_id", "v", strategy="blas")
    finally:
        d._BLAS_MAX_ROWS = old


def test_containment_catches_doc_in_doc(spark):
    """A short document fully embedded in a long one: containment = 1
    while Jaccard stays low because the union is dominated by the long
    side — the case the asymmetric measure exists for."""
    from coltt_spark.operators.dedup import ngram_containment_pairs, ngram_jaccard_pairs

    short = " ".join(f"w{i}" for i in range(10))
    long = short + " " + " ".join(f"x{i}" for i in range(90))
    df = spark.createDataFrame([(1, short), (2, long)], "doc_id long, text string")
    cont = ngram_containment_pairs(df, "doc_id", "text", n=3, threshold=0.95).collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert jac == []  # symmetric jaccard misses it


def test_span_dup_stats_flags_copies(spark):
    """A doc and its exact copy share every span (frac 1.0); a
    disjoint doc shares none (frac 0.0)."""
    from coltt_spark.operators.dedup import span_dup_stats

    rows = [
        (1, "alpha beta gamma delta " * 8),
        (2, "alpha beta gamma delta " * 8),          # exact copy of 1
        (3, "zig zag zebra quux " * 8),              # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_dup_stats(df, "doc_id", "text", size=8).collect()}
    assert out[1]["dup_token_frac"] == 1.0 and out[2]["dup_token_frac"] == 1.0
    assert out[3]["dup_token_frac"] == 0.0
    assert out[1]["n_spans"] == out[1]["n_dup_spans"] == 4


def test_repetition_stats_known_values(spark):
    """Hand-checked Gopher signals on a tiny doc: 'a a a b' has
    top-unigram 3/4, top-bigram 2/3 ('a a' twice of 3 bigrams), and
    no 5-grams -> 0.0; a looping 6-token doc has duplicated
    5-grams."""
    from coltt_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y x y x y x y x y")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["top_unigram_frac"] == 0.75
    assert out[1]["top_bigram_frac"] == round(2 / 3, 4)
    assert out[1]["dup_ngram_frac"] == 0.0
    # 10 tokens of x/y alternation: 6 five-grams, each appearing
    # 3x ('x y x y x') or 3x ('y x y x y') -> every occurrence a repeat
    assert out[2]["dup_ngram_frac"] == 1.0


def test_token_vocab_topk(spark):
    """Counts match a local recount; ordering is count desc, token asc."""
    from collections import Counter
    import re

    from coltt_spark.operators.textstats import token_vocab

    docs = load_table(spark, SF_CORRECT, "documents")
    rows = token_vocab(docs, "doc_id", "text", top_k=10).collect()
    local_occ = Counter()
    local_docs = Counter()
    for r in docs.select("doc_id", "text").collect():
        toks = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        local_occ.update(toks)
        local_docs.update(set(toks))
    expect = sorted(local_occ.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["token"], r["n_occurrences"]) for r in rows]
    assert got == expect
    assert all(r["n_docs"] == local_docs[r["token"]] for r in rows)


def test_lm_score_matches_local(spark):
    """avg_logprob equals a local recount of ln(count/total) means."""
    import math
    import re
    from collections import Counter

    from coltt_spark.operators.textstats import lm_score

    docs = load_table(spark, SF_CORRECT, "documents")
    rows = {r["doc_id"]: r for r in lm_score(docs, "doc_id", "text").collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    occ = Counter()
    toks = {}
    for did, t in texts.items():
        toks[did] = [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]
        occ.update(toks[did])
    total = sum(occ.values())
    for did, tk in list(toks.items())[:50]:
        exp = sum(math.log(occ[t] / total) for t in tk) / len(tk)
        assert rows[did]["n_tokens"] == len(tk)
        assert abs(rows[did]["avg_logprob"] - round(exp, 4)) <= 1e-4


def test_span_removal_keeps_first_occurrence(spark):
    """ExactSubstr removal on a hand-built corpus: doc 0 owns the
    boilerplate (keeper by smallest (doc_id, chunk_id)), docs 1-2
    lose their copies of it but keep their unique tails; rebuild text
    is checked exactly, not just counted."""
    import hashlib

    from coltt_spark.operators.dedup import span_dedup_removal

    boiler = " ".join(f"b{i}" for i in range(4))  # one 4-token span
    docs = spark.createDataFrame(
        [
            (0, boiler + " u0 u1 u2 u3"),
            (1, boiler + " v0 v1 v2 v3"),
            (2, "w0 w1 w2 w3 " + boiler),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in span_dedup_removal(docs, "doc_id", "text", size=4).collect()
    }
    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    # doc 0: both spans kept (it is the keeper of the boilerplate)
    assert rows[0]["n_removed"] == 0
    assert rows[0]["clean_md5"] == md5(boiler + " u0 u1 u2 u3")
    # doc 1: boilerplate span (chunk 0) cut, unique tail kept
    assert rows[1]["n_removed"] == 1
    assert rows[1]["n_tokens_kept"] == 4
    assert rows[1]["clean_md5"] == md5("v0 v1 v2 v3")
    # doc 2: boilerplate is its SECOND span — removal is positional,
    # not prefix-based
    assert rows[2]["n_removed"] == 1
    assert rows[2]["clean_md5"] == md5("w0 w1 w2 w3")


def test_span_removal_total_duplicate_collapses_to_empty(spark):
    """A full copy of another document loses every span: rebuilt text
    is '' (md5 of the empty string), the idempotence fixpoint."""
    import hashlib

    from coltt_spark.operators.dedup import span_dedup_removal

    text = " ".join(f"t{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(0, text), (1, text)], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in span_dedup_removal(docs, "doc_id", "text", size=4).collect()
    }
    assert rows[0]["n_removed"] == 0
    assert rows[1]["n_removed"] == rows[1]["n_spans"] == 2
    assert rows[1]["n_tokens_kept"] == 0
    assert rows[1]["clean_md5"] == hashlib.md5(b"").hexdigest()


def test_bigram_lm_score_hand_computed(spark):
    """Interpolated bigram LM on a corpus small enough to work by
    hand: docs 'a b a', 'b a', 'x' → unigrams a:3 b:2 x:1 (N=6),
    bigrams (a,b):1 (b,a):2, contexts a·:1 b·:2, so
    p(b|a) = .8·(1/1) + .2·(2/6) and p(a|b) = .8·(2/2) + .2·(3/6)."""
    import math

    from coltt_spark.operators.textstats import bigram_lm_score

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "b a"), (2, "x")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in bigram_lm_score(docs, "doc_id", "text", lam=0.8).collect()
    }
    assert set(rows) == {0, 1}  # the 1-token doc has no bigrams
    p_b_a = 0.8 * (1 / 1) + 0.2 * (2 / 6)
    p_a_b = 0.8 * (2 / 2) + 0.2 * (3 / 6)
    lp0 = (math.log(p_b_a) + math.log(p_a_b)) / 2
    assert rows[0]["n_bigrams"] == 2
    assert abs(rows[0]["avg_logprob"] - round(lp0, 4)) <= 1e-9
    assert abs(rows[0]["ppl"] - round(math.exp(-lp0), 4)) <= 1e-9
    assert rows[1]["n_bigrams"] == 1
    assert abs(rows[1]["avg_logprob"] - round(math.log(p_a_b), 4)) <= 1e-9


def test_bigram_lm_frequent_patterns_score_low_ppl(spark):
    """The filter's discriminating property: a document made of the
    corpus's dominant bigram pattern gets lower perplexity than a
    document of one-off bigrams over rare tokens — within the same
    trained model."""
    from coltt_spark.operators.textstats import bigram_lm_score

    docs = spark.createDataFrame(
        [
            (0, "a b " * 20),  # dominant repeated pattern
            (1, "c d e f g h"),  # every bigram and token unique
            (2, "a b " * 10),  # more of the dominant pattern
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in bigram_lm_score(docs, "doc_id", "text").collect()
    }
    assert rows[0]["ppl"] < rows[1]["ppl"]
    assert rows[2]["ppl"] < rows[1]["ppl"]


def test_quality_classifier_first_step_hand_computed(spark):
    """With zero init the step-1 sigmoid is exactly 0.5, so the
    one-step weights are -lr·mean((0.5-y)·x) — computable by hand
    through the same 1e-6 quantization."""
    from coltt_spark.operators.textstats import (
        QC_QUANT,
        train_quality_classifier,
    )

    docs = spark.createDataFrame(
        [("the cat and the dog", 1), ("spam spam spam spam", 0)],
        ["text", "label"],
    )
    row = train_quality_classifier(docs, "text", "label", steps=1, lr=0.5).collect()[0]
    # doc 1 (y=1): toks 5 (all len 3), stop {the,and,the}→3/5,
    # distinct 4/5, mean len (15/5)/10
    # doc 2 (y=0): stop 0, distinct 1/4, mean len (16/4)/10
    import math

    def q(v):  # round-half-away like both engines
        return math.floor(abs(v) * QC_QUANT + 0.5) * (1 if v >= 0 else -1)

    x_pos = [1.0, 3 / 5, 4 / 5, (15 / 5) / 10]
    x_neg = [1.0, 0.0, 1 / 4, (16 / 4) / 10]
    for j, name in enumerate(
        ("w_bias", "w_stopword_ratio", "w_distinct_ratio", "w_mean_token_len")
    ):
        s = q((0.5 - 1.0) * x_pos[j]) + q((0.5 - 0.0) * x_neg[j])
        expect = 0.0 - 0.5 * (s / (QC_QUANT * 2))
        assert row[name] == expect, (name, row[name], expect)
    assert row["n_docs"] == 2


def test_quality_classifier_is_partition_order_invariant(spark):
    """The integer-quantized gradient makes training BIT-deterministic
    under any partitioning — the property that lets a SQL oracle (and
    a rerun on a different cluster) reproduce the weights exactly."""
    from coltt_spark.operators.textstats import train_quality_classifier

    rows = [
        (f"the quick brown fox number {i} jumps over the lazy dog", 1)
        for i in range(60)
    ] + [(f"spam{i % 5} " * 20, 0) for i in range(60)]
    df = spark.createDataFrame(rows, ["text", "label"])
    w1 = train_quality_classifier(df, "text", "label").collect()[0]
    w2 = train_quality_classifier(
        df.repartition(17, "text"), "text", "label"
    ).collect()[0]
    assert w1.asDict() == w2.asDict()
    # and the model actually separates the two classes
    assert w1["n_correct"] / w1["n_docs"] >= 0.95


def test_connected_components_random_graphs_match_union_find(spark):
    """Model check: on random graphs (mixed densities, long chains,
    cliques, isolated pairs) min-label propagation must produce the
    exact same partition as a reference union-find, with root = min
    member id — including graphs whose diameter exceeds the typical
    near-dup clique (propagation must actually iterate)."""
    import random

    from coltt_spark.operators.components import connected_components

    for seed, n, m in ((11, 40, 25), (13, 60, 80), (17, 80, 40)):
        rng = random.Random(seed)
        edges = {tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)}
        # force one long path (diameter stress) and one clique
        edges |= {(i, i + 1) for i in range(0, 12)}
        edges |= {(i, j) for i in range(20, 25) for j in range(i + 1, 25)}
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        seen = {v for e in edges for v in e}
        want = {v: find(v) for v in sorted(seen)}
        df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
        got = {
            r["id"]: r["root"]
            for r in connected_components(df).collect()
        }
        assert got == want, (seed, {k: (got.get(k), want[k]) for k in want if got.get(k) != want[k]})


def test_byte_shingles_known_values(spark):
    """'aé' is UTF-8 61 C3 A9 — n=2 byte shingles are the hex-pair
    slices ['61C3', 'C3A9']; a string shorter than n bytes has no
    shingles."""
    from coltt_spark.functions.text import byte_shingles

    df = spark.range(1)
    out = df.select(byte_shingles(F.lit("aé"), 2).alias("s")).first()["s"]
    assert out == ["61C3", "C3A9"]
    out = df.select(byte_shingles(F.lit("é"), 3).alias("s")).first()["s"]
    assert out == []


def test_byte_shingles_match_python_reference(spark):
    """Spark's hex-slice shingles must equal an independently-written
    Python reference (encode → hex → sliding window) on every script
    class the multilingual fixture exercises."""
    from coltt_spark.functions.text import byte_shingles

    texts = [
        "日本語のテキスト処理",
        "привет мир данные",
        "café naïve résumé",
        "plain ascii words",
        "混合 mixed テキスト 텍스트",
        "",
        "ab",
    ]
    n = 5
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, t string"
    )
    got = {
        r["id"]: r["s"]
        for r in df.select("id", byte_shingles("t", n).alias("s")).collect()
    }
    for i, t in enumerate(texts):
        b = t.encode("utf-8")
        hx = b.hex().upper()
        exp = (
            [hx[j * 2 : (j + n) * 2] for j in range(len(b) - n + 1)]
            if len(b) >= n
            else []
        )
        assert got[i] == exp, (t, got[i][:3], exp[:3])


def test_byte_dedup_sees_cjk_where_word_path_is_blind(spark):
    """Pure-CJK documents have NO [a-z0-9] word shingles (the word
    path is structurally blind to them); the byte-shingle path feeds
    the SAME minhash/LSH machinery and catches the planted suffix
    variant — and nothing else."""
    from coltt_spark.operators.dedup import shingle_table, shingle_table_bytes

    rows = [
        (1, "日本語 の テキスト 処理 パイプライン 重複 排除 試験"),
        (2, "日本語 の テキスト 処理 パイプライン 重複 排除 試験 了"),
        (3, "русский текст пример данные очень разные слова здесь"),
        (4, "随机 中文 句子 和 其他 词 完全 不同"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert shingle_table(df, "doc_id", "text", 3).count() == 0
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text",
        shingles=shingle_table_bytes(df, "doc_id", "text", 12),
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(1, 2)}, got
    j = [r["jaccard"] for r in pairs][0]
    assert j > 0.8


def test_byte_shingle_table_collapses_whitespace_preserves_case(spark):
    """Whitespace runs normalize away (an extra-spaces copy has the
    IDENTICAL shingle set), but case does NOT fold — byte-level dedup
    is byte-exact by design (Unicode case-folding is engine-divergent
    on adversarial code points, so it stays out of the oracle-checked
    path)."""
    from coltt_spark.operators.dedup import shingle_table_bytes

    rows = [(1, "Café Data Zürich"), (2, "  Café  Data  Zürich "), (3, "café data zürich")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = {}
    for r in shingle_table_bytes(df, "doc_id", "text", 6).collect():
        sets.setdefault(r["doc_id"], set()).add(r["sh"])
    assert sets[1] == sets[2]
    assert sets[1] != sets[3]


def test_byte_shingles_match_duckdb_on_adversarial_unicode(spark):
    """Cross-engine contract for the byte-shingle table on ARBITRARY
    text (the script-lang fuzz convention): every script band, astral
    4-byte UTF-8, combining marks, NBSP, whitespace runs (the
    normalizer must agree too), and sub-window-length strings. The
    (doc_id, shingle-hash) SETS must agree exactly — this is the
    relation every byte-level dedup/decontamination join keys on."""
    import random

    import duckdb as dd

    from coltt_spark.operators.dedup import shingle_table_bytes

    rng = random.Random(777)
    pools = [
        "abcdefgh ",
        "日本語処理文章",
        "のテキストですがを",
        "、。〒〓",
        "한국어텍스트서울",
        "русскийтекстабв",
        "àéîõüçñ",
        "𝄞🎉𠀀",
        "áë",
        " \t\n  ",
    ]
    texts = ["", " ", "a", "short", "の", "𝄞", "exactly12byt", "有十二个字节"]
    for _ in range(150):
        n = rng.randint(1, 6)
        texts.append(
            "".join(
                "".join(rng.choices(rng.choice(pools), k=rng.randint(1, 10)))
                + (" " if rng.random() < 0.5 else "")
                for _ in range(n)
            )
        )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = set()
    for r in shingle_table_bytes(df, "doc_id", "text", 12).collect():
        got.add((r["doc_id"], r["sh"]))
    con = dd.connect()
    con.execute("CREATE TABLE fuzz(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO fuzz VALUES (?, ?)", list(enumerate(texts)))
    want = set(
        con.execute(
            """
WITH hx AS (
  SELECT doc_id, hex(encode(t)) AS hs, octet_length(encode(t)) AS nb
  FROM (SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM fuzz)
),
shing AS (
  SELECT doc_id, unnest(CASE WHEN nb < 12 THEN []::VARCHAR[]
      ELSE list_transform(range(1, nb - 10), i -> substr(hs, (i-1)*2+1, 24)) END) AS s
  FROM hx
)
SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS sh FROM shing
"""
        ).fetchall()
    )
    assert got == want, (len(got), len(want), list(got ^ want)[:4])


def test_image_dhash_planted_near_dups(spark):
    """The dHash fixture's planted variants behave as designed: the
    2×-resized image decodes at 18×16 yet hashes IDENTICALLY to its
    9×8 base (the nearest-neighbor grid maps the upsample back onto
    the base pixels), every (base, resized) pair surfaces at hamming
    0, the brightness variant's hamming equals an independent numpy
    recomputation from the md5 stream, and word-blocking is LOSSLESS
    vs brute force at hamming ≤ 3 (pigeonhole over 4 words)."""
    import hashlib

    import numpy as np

    from coltt_spark.operators.media_codecs import decode_image
    from coltt_spark.operators.multimodal import (
        dhash_image_table,
        dhash_pairs,
        image_dhash,
    )

    docs = spark.range(0, 45).select(
        F.col("id").alias("doc_id"), F.lit("unused").alias("text")
    )
    imgs = dhash_image_table(docs)
    shapes = {
        int(r["doc_id"]): decode_image(bytes(r["payload"])).shape
        for r in imgs.collect()
    }
    for d, shape in shapes.items():
        assert shape == ((16, 18, 3) if (d // 3) % 3 == 1 else (8, 9, 3)), (d, shape)
    sig = image_dhash(imgs)
    rows = {
        int(r["doc_id"]): (r["w0"], r["w1"], r["w2"], r["w3"])
        for r in sig.collect()
    }

    def np_words(img):
        lum = (
            299 * img[:, :, 0].astype(np.int64)
            + 587 * img[:, :, 1].astype(np.int64)
            + 114 * img[:, :, 2].astype(np.int64)
        )
        bits = (lum[:, 1:] > lum[:, :-1]).ravel().astype(np.int64)
        return tuple(
            int((bits[16 * k : 16 * k + 16] << np.arange(16)).sum())
            for k in range(4)
        )

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_pairs(sig, "doc_id", max_hamming=3).collect()
    }
    for cl in range(5):
        base, resized, bright = rows[9 * cl], rows[9 * cl + 3], rows[9 * cl + 6]
        assert base == resized
        assert pairs.get((9 * cl, 9 * cl + 3)) == 0
        raw = b"".join(
            hashlib.md5(f"dh:{cl}:{b}".encode()).digest() for b in range(14)
        )[:216]
        b0 = np.frombuffer(raw, dtype=np.uint8).reshape(8, 9, 3)
        assert np_words(b0) == base
        b2 = np.minimum(b0.astype(np.int64) + 32, 255).astype(np.uint8)
        assert np_words(b2) == bright
        exp_ham = sum(
            bin(a ^ b).count("1") for a, b in zip(base, bright)
        )
        if exp_ham <= 3:
            assert pairs.get((9 * cl, 9 * cl + 6)) == exp_ham
        else:
            assert (9 * cl, 9 * cl + 6) not in pairs
    # blocking lossless vs brute force over the signature table
    brute = set()
    ids = sorted(rows)
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            h = sum(bin(a ^ b).count("1") for a, b in zip(rows[da], rows[db]))
            if h <= 3:
                brute.add((da, db, h))
    assert {(a, b, h) for (a, b), h in pairs.items()} == brute


def test_image_dedup_groups_resolve_planted_clusters(spark):
    """Group resolution over the dHash pairs: every planted cluster
    whose three pairwise hammings clear the threshold resolves to ONE
    component rooted at the base doc_id with size 3; when only the
    (base, resized) edge survives, the brightness doc is absent or in
    its own 2-member component — never merged across clusters."""
    from coltt_spark.operators.components import dedup_groups
    from coltt_spark.operators.multimodal import (
        dhash_image_table,
        dhash_pairs,
        image_dhash,
    )

    docs = spark.range(0, 90).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    pairs_df = dhash_pairs(
        image_dhash(dhash_image_table(docs)), "doc_id", max_hamming=3
    )
    pairs = {(r["id_a"], r["id_b"]) for r in pairs_df.collect()}
    groups = {
        int(r["id"]): (int(r["root"]), int(r["group_size"]))
        for r in dedup_groups(pairs_df).collect()
    }
    for cl in range(10):
        base, resized, bright = 9 * cl, 9 * cl + 3, 9 * cl + 6
        # base-resized always pairs (hamming 0) -> same component
        assert groups[base] == (base, groups[base][1])
        assert groups[resized][0] == base
        if (base, bright) in pairs:
            assert groups[bright][0] == base
            assert groups[base][1] == 3
        else:
            assert bright not in groups or groups[bright][0] != base
            assert groups[base][1] == 2
    # roots never cross cluster boundaries
    for i, (root, _size) in groups.items():
        assert root // 9 == i // 9, (i, root)

def test_multiband_sign_lsh_catches_sign_flip_paraphrases(spark):
    """The recall contract of VERDICT r10 #3, measured: the planted
    sign-flip paraphrases (each benchmark row re-planted with its 1-3
    smallest-|x| components among the FIRST 16 negated — cosine stays
    ≥ 0.99) are missed by the r10 single-block sign-LSH on EVERY plant
    (any flipped bit changes the 16-bit block id — recall 0.0 by
    construction), while the 4×16-bit multi-band OR-union recalls ALL
    of them (≤ 3 flips dirty ≤ 3 bands, so one band always survives —
    pigeonhole, the same discipline as dHash's Hamming bands). Both
    paths run the same cosine threshold, so the delta is pure
    blocking recall."""
    from pyspark.sql import functions as F

    from coltt_spark.operators.dedup import (
        embedding_neardup_pairs,
        sign_bands,
        sign_block,
    )
    from coltt_spark.registry_dedup import _flipped_bench_plants
    from coltt_spark.sources.tables import load_table

    from .conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.unionByName(_flipped_bench_plants(bench))
    planted = {
        (int(r["vec_id"]), int(r["vec_id"]) + 200000)
        for r in bench.select("vec_id").collect()
    }
    single = corpus.withColumn("blk", sign_block("embedding", bits=16))
    got_single = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            single, "vec_id", "embedding", threshold=0.95, block_col="blk"
        ).collect()
    }
    assert not (got_single & planted), sorted(got_single & planted)[:5]
    multi = corpus.withColumn(
        "bkeys", sign_bands("embedding", bands=4, band_bits=16)
    )
    got_multi = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            multi, "vec_id", "embedding", threshold=0.95, bands_col="bkeys"
        ).collect()
    }
    assert planted <= got_multi, sorted(planted - got_multi)[:5]

def test_audio_fingerprint_plants_within_banding_threshold(spark):
    """The acoustic fingerprint's recall/precision contract, measured
    end-to-end through the REAL containers: every planted 3-clip
    cluster (base WAV / gain-shifted AIFF / μ-law-re-encoded AU) pairs
    up within Hamming 3 — inside the lossless 4-band pigeonhole — and
    NO cross-cluster pair does (unrelated md5 clips sit at hamming
    ~32, so precision on the fixture is exact)."""
    from coltt_spark.operators.multimodal import (
        audio_dedup_table,
        audio_fingerprint,
        dhash_pairs,
    )
    from coltt_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    sig = audio_fingerprint(audio_dedup_table(docs))
    pairs = dhash_pairs(sig, "doc_id", max_hamming=3).collect()
    audio_ids = [
        int(r["doc_id"]) for r in docs.filter("doc_id % 3 = 1").select("doc_id").collect()
    ]
    clusters: dict[int, list[int]] = {}
    for d in audio_ids:
        clusters.setdefault(d // 9, []).append(d)
    expected = {
        (a, b)
        for mem in clusters.values()
        for i, a in enumerate(sorted(mem))
        for b in sorted(mem)[i + 1 :]
    }
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == expected, (sorted(expected - got)[:5], sorted(got - expected)[:5])
    assert all(r["hamming"] <= 3 for r in pairs)

def test_sign_bands_cross_engine_and_block_consistency(spark):
    """The oracle-critical blocking expressions on ADVERSARIAL vectors
    (±0.0, exact zeros, tiny/huge magnitudes, sign boundaries):
    (a) Spark sign_bands ≡ the DuckDB sign_bands_sql mirror key for
    key; (b) band 0 of the 16-bit banding ≡ the legacy single
    sign_block(bits=16) (the banding is a strict refinement, so every
    old-block collision survives in band 0); (c) the flip-plant
    expression agrees across engines on the same vectors."""
    import duckdb as dd
    import numpy as np

    from pyspark.sql import functions as F

    from coltt_spark.operators.dedup import sign_bands, sign_bands_sql, sign_block
    from coltt_spark.registry_dedup import _FLIPPED_PLANTS_SQL, _flipped_bench_plants

    rng = np.random.default_rng(9119)
    vecs = []
    for i in range(200):
        v = rng.normal(0.0, 1.0, 64)
        # adversarial edits: plant exact 0.0, -0.0, tiny magnitudes
        v[i % 64] = [0.0, -0.0, 1e-300, -1e-300, 1e300][i % 5]
        vecs.append([float(x) for x in v])
    rows = [(50 * i, v) for i, v in enumerate(vecs)]  # ids % 50 == 0 for plants
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        int(r["vec_id"]): list(r["k"])
        for r in df.select(
            "vec_id", sign_bands("embedding", bands=4, band_bits=16).alias("k")
        ).collect()
    }
    blk = {
        int(r["vec_id"]): int(r["b"])
        for r in df.select(
            "vec_id", sign_block("embedding", bits=16).alias("b")
        ).collect()
    }
    con = dd.connect()
    con.execute("CREATE TABLE t(vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    keys = ", ".join(sign_bands_sql("embedding", bands=4, band_bits=16))
    want = {
        r[0]: list(r[1])
        for r in con.execute(
            f"SELECT vec_id, [{keys}] FROM t"
        ).fetchall()
    }
    assert got == want
    for vid, ks in got.items():
        assert ks[0] == blk[vid]  # band 0 ≡ the legacy 16-bit block
    # flip plants: Spark vs DuckDB on the same rows
    sp = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in _flipped_bench_plants(df).collect()
    }
    dk = {
        r[0]: [float(x) for x in r[1]]
        for r in con.execute(
            "WITH b AS (SELECT vec_id, embedding AS v FROM t)"
            + _FLIPPED_PLANTS_SQL
            + " FROM b"
        ).fetchall()
    }
    assert sp == dk

def test_video_fingerprint_plants_within_banding_threshold(spark):
    """The temporal video fingerprint's recall/precision contract,
    measured end-to-end through the REAL containers: every planted
    3-clip cluster (base DIB AVI / Motion-JPEG DC-requantized /
    regraded+tail-extended GIF) pairs up within Hamming 3 — inside
    the lossless 4-band pigeonhole — and NO cross-cluster pair does
    (unrelated md5 clips sit at hamming ~32). The GIF role carries 4
    extra trailing frames, so this also pins head-aligned trim
    tolerance."""
    from coltt_spark.operators.multimodal import (
        dhash_pairs,
        video_dedup_table,
        video_fingerprint,
    )
    from coltt_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    sig = video_fingerprint(video_dedup_table(docs))
    pairs = dhash_pairs(sig, "doc_id", max_hamming=3).collect()
    video_ids = [
        int(r["doc_id"])
        for r in docs.filter(
            "doc_id % 3 = 2 AND (doc_id div 9) % 2 = 0"
        ).select("doc_id").collect()
    ]
    clusters: dict[int, list[int]] = {}
    for d in video_ids:
        clusters.setdefault(d // 9, []).append(d)
    expected = {
        (a, b)
        for mem in clusters.values()
        for i, a in enumerate(sorted(mem))
        for b in sorted(mem)[i + 1 :]
    }
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == expected, (sorted(expected - got)[:5], sorted(got - expected)[:5])
    assert all(r["hamming"] <= 3 for r in pairs)

def test_jpeg_dc24_round_trip_matches_closed_form():
    """The video-dedup requant plant leans on the q=24 DC round trip
    being TIE-FREE and hence exactly SQL-replayable: for EVERY 8-bit
    value, a constant YCbCr block encoded DC-only under flat q=24
    tables must decode to clip(3·⌊(v−128)/3 + ½⌋ + 128) — pinned
    against the real encoder+decoder so a codec rounding change
    breaks loudly here instead of as a gate hash mismatch."""
    import numpy as np

    from coltt_spark.operators.media_codecs import decode_jpeg, encode_jpeg

    qt = np.full(64, 24, dtype=np.int64)
    vals = np.arange(256)
    # pack 256 values as 16 images of 16 constant blocks? keep it
    # simple: one 8x8-block-constant 16x16 ycbcr image per 4 values
    for base in range(0, 256, 4):
        ycc = np.array(
            [[ [vals[base], vals[base + 1], vals[base + 2]],
               [vals[base + 3], vals[base], vals[base + 1]]],
             [[ vals[base + 2], vals[base + 3], vals[base]],
              [vals[base + 1], vals[base + 2], vals[base + 3]]]],
            dtype=np.uint8,
        )
        img = np.repeat(np.repeat(ycc, 8, axis=0), 8, axis=1)
        out = decode_jpeg(
            encode_jpeg(img, input_color="ycbcr", luma_quant=qt, chroma_quant=qt)
        )
        # decode returns RGB from the requantized YCbCr; recover the
        # expected RGB by applying the closed form then the pinned
        # BT.601 rounding
        import math

        def dc24(v: int) -> int:
            return min(max(3 * math.floor((v - 128) / 3.0 + 0.5) + 128, 0), 255)

        for i in range(2):
            for j in range(2):
                y, cb, cr = (dc24(int(c)) for c in ycc[i, j])
                r = min(max(math.floor(y + 1.402 * (cr - 128) + 0.5), 0), 255)
                g = min(
                    max(
                        math.floor(
                            y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5
                        ),
                        0,
                    ),
                    255,
                )
                b = min(max(math.floor(y + 1.772 * (cb - 128) + 0.5), 0), 255)
                block = out[8 * i : 8 * i + 8, 8 * j : 8 * j + 8]
                assert (block == np.array([r, g, b], dtype=np.uint8)).all(), (
                    ycc[i, j],
                    block[0, 0],
                    (r, g, b),
                )


# --- incremental dedup against a frozen MinHashIndex (r13) -------------------


def test_minhash_index_delta_equals_from_scratch(spark, tmp_path):
    """Pairwise determination makes incremental composition exact:
    index 2/3 of the corpus, delta the held-out batch — the full
    updated pairs table must equal the from-scratch operator on the
    union, row for row."""
    from coltt_spark.operators.dedup import MinHashIndex

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = MinHashIndex.build(
        docs.filter(F.col("doc_id") % 3 != 0),
        "doc_id",
        "text",
        str(tmp_path / "idx"),
    )
    inc = sorted(
        map(tuple, idx.delta_pairs(
            docs.filter(F.col("doc_id") % 3 == 0), "doc_id", "text"
        ).collect())
    )
    full = sorted(map(tuple, minhash_lsh_pairs(docs, "doc_id", "text").collect()))
    assert inc == full


def test_minhash_index_merge_composes_across_batches(spark, tmp_path):
    """The daily-crawl lifecycle: build on batch 0, merge batch 1,
    delta batch 2 — still equal to from-scratch over all three. Also
    pins merge idempotence on content: batch 1 re-plants batch-0
    content (same fp), which must not duplicate band_keys or
    fp_shingles rows."""
    from coltt_spark.operators.dedup import MinHashIndex

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    b0 = docs.filter(F.col("doc_id") % 3 == 1)
    b1 = docs.filter(F.col("doc_id") % 3 == 2)
    b2 = docs.filter(F.col("doc_id") % 3 == 0)
    idx = MinHashIndex.build(b0, "doc_id", "text", str(tmp_path / "idx"))
    idx.merge(b1, "doc_id", "text")
    inc = sorted(
        map(tuple, idx.delta_pairs(b2, "doc_id", "text").collect())
    )
    full = sorted(map(tuple, minhash_lsh_pairs(docs, "doc_id", "text").collect()))
    assert inc == full
    # content-keyed artifacts stay unique per fingerprint after merge
    bands = idx._read("band_keys")
    assert (
        bands.groupBy("fp", "band_idx").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_minhash_index_delta_exact_copy_of_old_doc(spark, tmp_path):
    """A new-batch document whose content EXACTLY matches an indexed
    document must pair with it at jaccard 1.0 through the stored
    band keys (equal fingerprints share every band; the verify
    division yields exactly 1.0)."""
    from coltt_spark.operators.dedup import MinHashIndex

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    idx = MinHashIndex.build(old, "doc_id", "text", str(tmp_path / "idx"))
    # new batch: an exact copy of old doc 1 plus an unrelated doc
    src = docs.filter(F.col("doc_id") == 1).select(
        F.lit(900001).alias("doc_id"), "text"
    )
    other = spark.createDataFrame(
        [(900002, "completely unrelated text with no shingle overlap at all")],
        ["doc_id", "text"],
    )
    out = idx.delta_pairs(src.unionByName(other), "doc_id", "text")
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert got.get((1, 900001)) == 1.0
    assert not any(900002 in p for p in got)


def test_dhash_pairs_quotes_backticked_id_column(spark):
    """dhash_pairs renders the id column into SQL text; a name holding
    a backtick must be escaped (doubled), not break the parse or bind
    the wrong column."""
    from coltt_spark.operators.multimodal import dhash_pairs

    rows = [(1, 1, 2, 3, 4), (2, 1, 2, 3, 5), (3, 100, 200, 300, 400)]
    schema = "{} long, w0 long, w1 long, w2 long, w3 long"
    plain = spark.createDataFrame(rows, schema.format("doc_id"))
    odd = spark.createDataFrame(rows, schema.format("`doc``id`"))
    assert odd.columns[0] == "doc`id"
    want = [tuple(r) for r in dhash_pairs(plain, "doc_id").collect()]
    assert want == [(1, 2, 1)]
    assert [tuple(r) for r in dhash_pairs(odd, "doc`id").collect()] == want


def test_av_dedup_joint_contract(spark):
    """The AV AND-composition's recall/precision contract, measured
    end-to-end through the REAL two-stream containers: in every
    planted 3-clip cluster, the TRUE RE-UPLOAD pair (base, regraded
    video + gain-shifted audio) is emitted, while BOTH
    soundtrack-swap pairs — (base, swap) and (re-upload, swap), each
    an exact-or-near VIDEO match — are video-band candidates the
    audio verify kills; no cross-cluster pair appears."""
    from coltt_spark.operators.multimodal import (
        av_dedup_pairs,
        av_dedup_table,
        av_fingerprint,
        dhash_pairs,
    )
    from coltt_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    sig = av_fingerprint(av_dedup_table(docs)).localCheckpoint(eager=True)
    pairs = av_dedup_pairs(sig, "doc_id").collect()
    av_ids = [
        int(r["doc_id"])
        for r in docs.filter(
            "doc_id % 3 = 0 AND (doc_id div 9) % 2 = 0"
        ).select("doc_id").collect()
    ]
    full = {c for c in {d // 9 for d in av_ids}
            if sum(1 for d in av_ids if d // 9 == c) == 3}
    expected = {(9 * c, 9 * c + 3) for c in full}
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == expected, (sorted(expected - got)[:5], sorted(got - expected)[:5])
    assert all(r["v_hamming"] <= 3 and r["a_hamming"] <= 3 for r in pairs)
    # the audio verify did real work: video-only candidates include
    # the soundtrack swaps (role 2 shares the base frames exactly)
    vonly = {
        (r["id_a"], r["id_b"])
        for r in dhash_pairs(
            sig.select(
                "doc_id", *[F.col(f"v{k}").alias(f"w{k}") for k in range(4)]
            ),
            "doc_id",
            max_hamming=3,
        ).collect()
    }
    killed = vonly - got
    assert {(9 * c, 9 * c + 6) for c in full} <= vonly
    assert all((b - a) in (3, 6) for a, b in killed)
    assert len(killed) >= 2 * len(full)


def test_minhash_index_compact_preserves_delta_answers(spark, tmp_path):
    """The merge→compact lifecycle: after two merges (many small
    appended files), compact rewrites the snapshot into n_files per
    artifact WITHOUT recompute — and the delta answer over a fresh
    batch is unchanged, still equal to from-scratch over the union."""
    from coltt_spark.operators.dedup import MinHashIndex

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    b0 = docs.filter(F.col("doc_id") % 3 == 1)
    b1 = docs.filter(F.col("doc_id") % 3 == 2)
    b2 = docs.filter(F.col("doc_id") % 3 == 0)
    idx = MinHashIndex.build(b0, "doc_id", "text", str(tmp_path / "idx"))
    idx.merge(b1, "doc_id", "text")
    before = sorted(map(tuple, idx.delta_pairs(b2, "doc_id", "text").collect()))
    cidx = idx.compact(str(tmp_path / "compacted"), n_files=2)
    after = sorted(map(tuple, cidx.delta_pairs(b2, "doc_id", "text").collect()))
    assert before == after
    full = sorted(map(tuple, minhash_lsh_pairs(docs, "doc_id", "text").collect()))
    assert after == full
    # the compacted layout is actually smaller-file-count
    n_band_files = len(cidx._read("band_keys").inputFiles())
    assert n_band_files <= 2


@pytest.mark.parametrize(
    "k,after", [(1, False), (2, False), (3, False), (4, False), (4, True)],
    ids=["before-1", "before-2", "before-3", "before-4", "after-4"],
)
def test_minhash_merge_failure_commits_nothing(spark, tmp_path, monkeypatch, k, after):
    """A merge that fails at any of its four artifact writes, or after
    the last, leaves the index at its committed version (a reopened
    handle answers as before), and retrying it ends equal to a
    from-scratch dedup. Writes that append in place would keep a
    failed attempt's members (duplicate pairs on retry) or its band
    keys without their shingle sets (lost pairs)."""
    from coltt_spark.operators.dedup import MinHashIndex

    from .conftest import InjectedWriteFailure, fail_at_parquet_write

    docs = load_table(spark, SF_CORRECT, "documents")
    b0, b1, b2 = (docs.filter(F.col("doc_id") % 3 == i) for i in (1, 2, 0))
    root = str(tmp_path / "idx")

    def answer(index, batch):
        return sorted(map(tuple, index.delta_pairs(batch, "doc_id", "text").collect()))

    idx = MinHashIndex.build(b0, "doc_id", "text", root)
    committed = answer(idx, b1)
    fail_at_parquet_write(monkeypatch, k, after=after)
    with pytest.raises(InjectedWriteFailure):
        idx.merge(b1, "doc_id", "text")
    assert answer(MinHashIndex(spark, root), b1) == committed
    idx.merge(b1, "doc_id", "text")
    assert answer(idx, b2) == sorted(
        map(tuple, minhash_lsh_pairs(docs, "doc_id", "text").collect())
    )
