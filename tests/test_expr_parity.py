"""r13-opt seams: SQL-text-parsed expressions must equal their
Column-built twins BIT-EXACTLY.

The optimization round replaced per-operator py4j construction with
single-parse ``F.expr`` fragments in the hot constructors
(lit_double_array, sign_block/sign_bands, the simhash packs, the
minhash aggregates, registrable_domain_expr). Values are pinned
against the (still-present) Column forms so any future drift in the
SQL rendering — float formatting, escaping, precedence — fails
loudly here instead of surfacing as an oracle mismatch.
"""

from __future__ import annotations

import struct

import pytest

from pyspark.sql import functions as F


def _bits(x: float) -> bytes:
    return struct.pack("<d", float(x))


def test_lit_double_array_bit_exact(spark):
    from coltt_spark.functions.vector import lit_double_array

    vals = [0.1, -0.0, 1e-300, 1.5e17, 123456789.123456789, 3.3e-5,
            -7.25, 2.0 ** -1074, 0.30000000000000004]
    per_element = F.array(*[F.lit(float(x)) for x in vals])
    row = spark.range(1).select(
        lit_double_array(vals).alias("a"), per_element.alias("b")
    ).first()
    assert [_bits(x) for x in row["a"]] == [_bits(x) for x in row["b"]]


def test_lit_long_array_min_long(spark):
    from coltt_spark.functions.vector import lit_long_array
    from coltt_spark.operators.pq import _pow2_long

    vals = [_pow2_long(i) for i in (0, 1, 31, 62, 63)]
    row = spark.range(1).select(lit_long_array(vals).alias("a")).first()
    assert list(row["a"]) == vals  # incl. the bit-63 wrap to Long.MIN


def test_sign_bands_expr_equals_column_path(spark):
    import pytest

    from coltt_spark.operators.dedup import sign_bands

    emb = spark.createDataFrame(
        [(i, [((i * 7 + j) % 5) - 2.0 for j in range(64)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    got = emb.select(
        sign_bands("embedding", bands=4, band_bits=16).alias("s"),  # expr path
        sign_bands(F.col("embedding"), bands=4, band_bits=16).alias("c"),  # Column path
    ).collect()
    for r in got:
        assert list(r["s"]) == list(r["c"])
    # under ANSI (the Spark 4 default) an out-of-range component fails
    # loudly in BOTH construction paths — parity of the failure mode
    short = spark.createDataFrame(
        [(0, [1.0] * 40)], "vec_id long, embedding array<double>"
    )
    for col in (
        sign_bands("embedding", bands=4, band_bits=16),
        sign_bands(F.col("embedding"), bands=4, band_bits=16),
    ):
        with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
            short.select(col.alias("k")).collect()


def test_minhash_agg_exprs_match_column_form(spark):
    from coltt_spark.functions.text import HASH_P, MINHASH_PARAMS, minhash_term
    from coltt_spark.operators.dedup import _minhash_agg_exprs

    sh = spark.createDataFrame(
        [(i % 7, (i * 982_451_653 + 11) % (1 << 60)) for i in range(500)],
        "id long, sh long",
    )
    new = sh.groupBy("id").agg(*_minhash_agg_exprs())
    old = sh.groupBy("id").agg(
        *[
            F.min(minhash_term(F.col("sh"), a, b)).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_PARAMS)
        ]
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
    assert HASH_P == 2_147_483_647  # the SQL text inlines this constant


def test_wide_layout_expr_equals_column_form(spark):
    """r14-opt tranche 2: the wide-KNN layout + distance chains
    (widen_vectors / vertex_search_wide) parse as ONE SQL string; the
    Column twins must match bit-exactly on every distance, including
    a sign-flipping query with tiny/large magnitudes."""
    from coltt_spark.operators.search import vertex_search_wide, widen_vectors

    emb = spark.createDataFrame(
        [
            (i, [((i * 13 + j) % 9 - 4) * 0.37 + (1e-13 if j == 3 else 0.0) for j in range(16)])
            for i in range(80)
        ],
        "vec_id long, embedding array<double>",
    )
    q = [((j * 7) % 5 - 2) * 0.81 for j in range(16)]
    q[5] = 1.5e17
    q[7] = -(2.0 ** -1040)
    for dist in ("cosine", "euclidean", "manhattan"):
        a = vertex_search_wide(
            widen_vectors(emb, vector_col="embedding", dim=16, expr=True),
            q, distance=dist, limit=80, tie_break="vec_id", expr=True,
        ).collect()
        b = vertex_search_wide(
            widen_vectors(emb, vector_col="embedding", dim=16, expr=False),
            q, distance=dist, limit=80, tie_break="vec_id", expr=False,
        ).collect()
        assert [(r["vec_id"], _bits(r["dist"]), _bits(r["score"])) for r in a] == [
            (r["vec_id"], _bits(r["dist"]), _bits(r["score"])) for r in b
        ], dist


def test_lang_scorer_expr_equals_column_form(spark):
    """r14-opt tranche 2: the 11-language marker scorer + argmax CASE
    parse as SQL text with each score materialized once
    (textstats._lang_scores / _LANG_PRED_SQL). Pin against a frozen
    copy of the old inline Column chain, including fixed-order
    tie-breaks and the `und` fallback."""
    from pyspark.sql import Column

    from coltt_spark.operators.textstats import (
        _LANG_ORDER,
        _marker_score,
        lang_id,
    )
    from coltt_spark.functions.text import tokens

    texts = [
        "the cat and the dog of the house",       # en
        "der hund und die katze ist nicht da",    # de
        "el perro y la casa de que en un",        # es
        "le chien et la maison est dans pour",    # fr
        "xyzzy qwerty plugh",                     # und (no markers)
        "",                                        # empty
        "que de la en un",                        # es/fr tie surface
        "the der el le que und dan bir jest het", # cross-language tie
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    new = {r["doc_id"]: (r["pred_lang"], r["marker_hits"])
           for r in lang_id(df, "doc_id", "text").collect()}
    # frozen pre-r14 Column chain
    toks = tokens("text")
    scores = {lang: _marker_score(toks, lang) for lang in _LANG_ORDER}
    best = F.greatest(*scores.values())
    pred: Column = F.lit("und")
    for lang in reversed(_LANG_ORDER):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    old = {r["doc_id"]: (r["pred_lang"], r["marker_hits"]) for r in df.select(
        "doc_id", pred.alias("pred_lang"), best.cast("long").alias("marker_hits")
    ).collect()}
    assert new == old


def test_qc_step_aggs_expr_equals_column_form(spark):
    """r14-opt tranche 2: one training step's quantized-gradient sums
    (textstats._qc_step_aggs) parse as SQL text. Pin against the
    frozen Column chain on awkward weight doubles — the BIGINT sums
    must be exactly equal (the integer-quantization contract)."""
    from coltt_spark.operators.textstats import QC_QUANT, _qc_step_aggs

    rows = [
        (float(i % 2), 1.0, (i % 7) / 7.0, (i % 5) / 5.0, ((i % 9) + 1) / 10.0)
        for i in range(300)
    ]
    feats = spark.createDataFrame(
        rows, "_y double, _x0 double, _x1 double, _x2 double, _x3 double"
    )
    w = [0.1234567890123, -0.75, 2.0 ** -30, 1.5000000000000002]
    new = feats.agg(*_qc_step_aggs(w)).collect()[0]
    z = sum(
        (F.lit(w[j]) * F.col(f"_x{j}") for j in range(1, 4)),
        F.lit(w[0]) * F.col("_x0"),
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 12)
    old = feats.agg(*[
        F.sum(
            F.round((p - F.col("_y")) * F.col(f"_x{j}") * QC_QUANT)
            .cast("long")
        ).alias(f"s{j}")
        for j in range(4)
    ]).collect()[0]
    assert tuple(new) == tuple(old)


def test_run_stats_expr_equals_column_form(spark):
    """r14-opt tranche 2: the Gopher repetition run-length fold
    (textstats._run_stats_expr) parses as SQL text. Pin against the
    frozen Column fold on adversarial gram arrays (empty, all-same,
    runs at both ends, singletons)."""
    from coltt_spark.operators.textstats import _run_stats_expr

    arrays = [
        [],
        ["a"],
        ["a", "a", "a"],
        ["a", "a", "b", "b", "b", "c"],
        ["a", "b", "c", "d"],
        ["x", "x", "y", "y"],
        ["q"] * 50 + ["r"] + ["s"] * 2,
    ]
    df = spark.createDataFrame(
        [(i, sorted(a)) for i, a in enumerate(arrays)],
        "i long, _u array<string>",
    )
    # frozen pre-r14 Column fold
    init = F.struct(
        F.lit(None).cast("string").alias("p"),
        F.lit(0).cast("long").alias("r"),
        F.lit(0).cast("long").alias("mx"),
        F.lit(0).cast("long").alias("dp"),
    )

    def merge(acc, x):
        same = F.coalesce(x == acc["p"], F.lit(False))
        r2 = F.when(same, acc["r"] + 1).otherwise(F.lit(1).cast("long"))
        dp2 = acc["dp"] + F.when(
            ~same & (acc["r"] > 1), acc["r"]
        ).otherwise(F.lit(0).cast("long"))
        return F.struct(
            x.alias("p"), r2.alias("r"),
            F.greatest(acc["mx"], r2).alias("mx"), dp2.alias("dp"),
        )

    def finish(acc):
        return F.struct(
            acc["mx"].alias("mx"),
            (acc["dp"] + F.when(acc["r"] > 1, acc["r"]).otherwise(
                F.lit(0).cast("long"))).alias("dp"),
        )

    rows = df.select(
        "i",
        _run_stats_expr("_u").alias("new"),
        F.aggregate(F.col("_u"), init, merge, finish).alias("old"),
    ).collect()
    for r in rows:
        assert r["new"].asDict() == r["old"].asDict(), r["i"]


def test_byte_vocab_pick_expr_equals_column_form(spark):
    """r14-opt tranche 2: the multilingual fixture's md5 word pick
    (registry_dedup._uni_neardup_docs) parses as SQL text; pin the
    hash60/element_at pick against the Column twin over a real id
    range (covers CJK/Cyrillic/accented vocab literals)."""
    from coltt_spark.functions.text import hash60
    from coltt_spark.registry_dedup import _BYTE_VOCAB

    v = len(_BYTE_VOCAB)
    vocab_sql = "array(" + ", ".join(f"'{w}'" for w in _BYTE_VOCAB) + ")"
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    vocab = F.array(*[F.lit(w) for w in _BYTE_VOCAB])
    for i in (0, 7):
        col_form = F.element_at(
            vocab,
            (
                hash60(F.concat(F.col("doc_id").cast("string"), F.lit(f"-{i}")))
                % v
                + 1
            ).cast("int"),
        )
        sql_form = (
            f"element_at({vocab_sql}, CAST(CAST(conv(substring(md5("
            f"concat(CAST(doc_id AS STRING), '-{i}')), 1, 15), 16, 10) "
            f"AS BIGINT) % {v} + 1 AS INT))"
        )
        rows = df.select(
            col_form.alias("c"), F.expr(sql_form).alias("e")
        ).collect()
        assert all(r["c"] == r["e"] for r in rows)


def test_registrable_domain_expr_equals_column_form(spark):
    from coltt_spark.functions.urls import registrable_domain, registrable_domain_expr

    hosts = ["", "a", "a.b", "a..b", "a.b.", ".b", "www.ck", "x.www.ck",
             "foo.ck", "a.foo.ck", "github.io", "u.github.io",
             "deep.k12.ca.us", "a.deep.k12.ca.us", "localhost", "b.a.np",
             "c.b.a.np", "s3.amazonaws.com", "b.s3.amazonaws.com",
             "example.com.", ".example.com", "news.portal.com.fj",
             "xn--55qx5d.cn", "a.xn--55qx5d.cn"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    rows = df.select(
        "host",
        registrable_domain_expr("host").alias("e"),
        registrable_domain(F.col("host")).alias("c"),
    ).collect()
    for r in rows:
        assert r["e"] == r["c"], r["host"]


def test_memo_columns_identity_and_session_invalidation(spark):
    """r14-opt: memo_columns returns the SAME Column tree within one
    session (the whole point — zero repeat py4j round-trips, values
    identical by object identity), is rebuilt after clear_column_memo,
    and a memoized tree still evaluates correctly when reused across
    two different DataFrames."""
    from coltt_spark.functions.memo import clear_column_memo, memo_columns

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return F.col("x") * 2 + 1

    try:
        a = memo_columns("_test.tree", build)
        b = memo_columns("_test.tree", build)
        assert a is b and calls["n"] == 1
        clear_column_memo()
        c = memo_columns("_test.tree", build)
        assert calls["n"] == 2
        # one memoized tree, two different source DataFrames
        df1 = spark.createDataFrame([(1,), (2,)], "x long")
        df2 = spark.createDataFrame([(10,)], "x long")
        assert [r[0] for r in df1.select(c.alias("y")).collect()] == [3, 5]
        assert [r[0] for r in df2.select(c.alias("y")).collect()] == [21]
    finally:
        clear_column_memo()


def test_memo_columns_never_keys_on_none_session(spark):
    """A plain thread has no active session; memo_columns must key its
    entry on the instantiated session, never on None (a None entry
    would match forever, even after the session restarts)."""
    import threading

    from pyspark.sql import SparkSession

    from coltt_spark.functions import memo

    seen = {}

    def run():
        seen["active"] = SparkSession.getActiveSession()
        seen["tree"] = memo.memo_columns("_test.thread", lambda: F.col("x") + 1)

    try:
        t = threading.Thread(target=run)
        t.start()
        t.join(timeout=60)
        assert not t.is_alive() and "tree" in seen
        session, tree = memo._MEMO["_test.thread"]
        assert session is spark and tree is seen["tree"]
        df = spark.createDataFrame([(1,)], "x long")
        assert df.select(tree.alias("y")).first()["y"] == 2
    finally:
        memo.clear_column_memo()


def test_sql_text_literals_reject_non_finite(spark):
    """The single-parse SQL renderers fail loudly on inf/nan instead
    of emitting unparseable 'infD'/'nanD' text: the wide-layout
    distance and the quality-classifier gradient step."""
    from coltt_spark.operators.search import vertex_search_wide, widen_vectors
    from coltt_spark.operators.textstats import _qc_step_aggs

    emb = spark.createDataFrame([(0, [0.5, 1.0])], "vec_id long, embedding array<double>")
    wide = widen_vectors(emb, vector_col="embedding", dim=2)
    for bad in (float("inf"), float("-inf"), float("nan")):
        for dist in ("cosine", "euclidean", "manhattan"):
            with pytest.raises(ValueError, match="non-finite"):
                vertex_search_wide(wide, [1.0, bad], distance=dist, tie_break="vec_id")
        with pytest.raises(ValueError, match="non-finite"):
            _qc_step_aggs([0.1, bad, 0.0, 0.0])


def test_memo_columns_registry_trees_stable_across_constructions(spark):
    """Constructing web_sitemap / web_robots_filter twice (the memo-hit
    path) yields identical rows both times — the oracle parity suite
    covers values; this pins the reuse path specifically."""
    from coltt_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    for key in ("web_sitemap", "web_robots_filter"):
        r1 = sorted(map(tuple, QUERIES[key](spark, sf).collect()))
        r2 = sorted(map(tuple, QUERIES[key](spark, sf).collect()))
        assert r1 == r2 and r1, key
