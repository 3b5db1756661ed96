"""Text analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All four are pure Catalyst expressions (regexp + array lambdas inside
whole-stage codegen) — no Python in the row path, so a 100 TB
documents scan runs at parquet-read speed with the filter/projection
pushed down. Each has an exact DuckDB-SQL equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from coltt_spark.functions.text import (
    HASH_P,
    hash60,
    tokens,
    utf8_byte_symbols,
)
from coltt_spark.functions.vector import sql_double
from coltt_spark.sources.tables import ensure_parallelism

# marker stopwords per language for the n-gram/stopword heuristic.
# Deterministic and tiny by design — the oracle re-states the same
# sets; swap in real wordlists at deployment. The r9 tier adds the
# next seven high-volume Latin-script web languages (VERDICT r8 #6:
# pt/it/nl/pl/tr/id/vi). Markers are chosen ≥2 chars and ASCII-clean
# so the [a-z0-9] tokenizer extracts them intact even from accented
# text (Vietnamese/Polish function words WITH diacritics never
# survive tokens() — only their ASCII-clean siblings are usable), and
# curated against tokenization shrapnel: "naïve" splits to
# ("na", "ve"), so "na" (pl) and "ve" (tr) are deliberately absent.
# Cross-language sharing ("que" es+pt, "la" es+fr) is fine — argmax
# with multiplicity decides, ties resolve to the earliest _LANG_ORDER
# entry, so the original four languages keep their r1-r8 behavior on
# every document they used to win.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "es": ("el", "la", "los", "las", "de", "que", "y", "en", "un", "por"),
    "fr": ("le", "la", "les", "des", "et", "est", "une", "dans", "pour", "sur"),
    "pt": ("que", "para", "com", "uma", "mais", "dos", "das", "pelo", "pela", "isso"),
    "it": ("che", "della", "delle", "sono", "anche", "come", "questo", "questa", "gli", "nella"),
    "nl": ("het", "een", "van", "dat", "niet", "voor", "ook", "maar", "naar", "zijn"),
    "pl": ("jest", "nie", "tak", "jak", "czy", "przez", "tego", "ale", "tym", "jego"),
    "tr": ("bir", "bu", "daha", "gibi", "kadar", "ama", "ile", "olarak", "sonra", "ancak"),
    "id": ("yang", "dan", "untuk", "dengan", "tidak", "ini", "itu", "dari", "akan", "pada"),
    "vi": ("anh", "em", "khi", "trong", "theo", "nhau", "cho", "hay", "con", "ngay"),
}

#: fixed language evaluation order — ties resolve to the earliest;
#: the original four lead so their r1-r8 tie behavior is preserved
_LANG_ORDER = ("en", "de", "es", "fr", "pt", "it", "nl", "pl", "tr", "id", "vi")

#: rolling-hash base (fingerprint); with HASH_P < 2^31 the fold value
#: stays under 2^39 — no int64 overflow in either engine.
FP_BASE = 131

#: BPE-ish token pattern: letter runs, digit runs, single symbols
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

STOPWORDS = LANG_MARKERS["en"]


def _marker_score(toks: Column, lang: str) -> Column:
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def _marker_score_sql(tk: str, lang: str) -> str:
    """SQL-text twin of :func:`_marker_score` — same
    size/filter/array_contains tree, one parser call instead of ~30
    py4j round-trips per language (r14-opt, guide §4)."""
    ms = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"size(filter({tk}, t -> array_contains(array({ms}), t)))"


#: the argmax CASE over the materialized per-language score columns
#: (`_s_<lang>`, `_best`) — fixed-order tie-break, `und` fallback;
#: value-identical to the old inline when-chain (integer compares)
_LANG_PRED_SQL = (
    "CASE WHEN `_best` = 0 THEN 'und' "
    + " ".join(f"WHEN `_s_{lang}` = `_best` THEN '{lang}'" for lang in _LANG_ORDER)
    + " ELSE 'und' END"
)


def _lang_scores(df: DataFrame, tk: str = "_tk") -> DataFrame:
    """Attach the 11 per-language marker scores (``_s_<lang>``) and
    their max (``_best``) to ``df`` from its token-array column — TWO
    parsed selectExpr calls total. Materializing each score ONCE as a
    column (instead of re-inlining the filter into every argmax WHEN,
    which the Column form did 12× per language) also keeps the plan
    ~12× smaller; the projections stay one fused codegen stage."""
    scored = df.selectExpr(
        "*",
        *[
            f"{_marker_score_sql(f'`{tk}`', lang)} AS `_s_{lang}`"
            for lang in _LANG_ORDER
        ],
    )
    best = "greatest(" + ", ".join(f"`_s_{lang}`" for lang in _LANG_ORDER) + ")"
    return scored.selectExpr("*", f"{best} AS `_best`")


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-marker language ID: score each language by marker-token
    occurrences (with multiplicity), argmax with fixed-order
    tie-break, ``und`` when nothing matches."""
    df = ensure_parallelism(df, id_col)
    # materialize the token array once (the inline form re-derived the
    # tokenizer into every score — same lesson as script_lang_id)
    df = df.select(F.col(id_col), tokens(text_col).alias("_tk"))
    return _lang_scores(df).selectExpr(
        f"`{id_col}`",
        f"{_LANG_PRED_SQL} AS pred_lang",
        "CAST(`_best` AS BIGINT) AS marker_hits",
    )


def lang_id_windows(
    df: DataFrame, id_col: str, text_col: str, *, window: int = 32
) -> DataFrame:
    """Windowed language SEGMENTATION — the code-switch detector a
    multilingual pipeline runs before doc-level filtering (a document
    that flips language mid-stream should be split or flagged, not
    averaged): the marker scorer applied per fixed-size token window.
    One row per (doc, window) with the window's argmax language and
    marker hits; documents with no tokens emit no windows; the final
    window is the remainder. Same fixed-order tie-break and ``und``
    fallback as :func:`lang_id`, pure codegen (token array
    materialized once, windows sliced from it — no second
    tokenization, no shuffle: posexplode is a narrow fan-out)."""
    df = ensure_parallelism(df, id_col)
    df = df.select(F.col(id_col), tokens(text_col).alias("_tk"))
    n_win = F.ceil(F.size("_tk") / F.lit(window)).cast("int")
    wins = F.when(F.size("_tk") == 0, F.array().cast("array<array<string>>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: F.slice(F.col("_tk"), i * window + 1, window),
        )
    )
    ex = df.select(
        F.col(id_col), F.posexplode(wins).alias("window_idx", "_wt")
    )
    return _lang_scores(ex, tk="_wt").selectExpr(
        f"`{id_col}`",
        "CAST(`window_idx` AS BIGINT) AS window_idx",
        f"{_LANG_PRED_SQL} AS pred_lang",
        "CAST(`_best` AS BIGINT) AS marker_hits",
    )


def script_lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Script-aware language ID (VERDICT r7 #7, unlocked by the byte
    path): the stopword scorer is blind to non-Latin scripts — every
    CJK/Cyrillic document came back ``und``. This variant counts
    UTF-8 lead-byte bands on the hex symbol stream (no Unicode regex
    on either engine):

    - ``n_kana``:   ``E3`` lead + second byte ``81``–``83``
      (U+3040–30FF, hiragana+katakana EXACTLY — pair-indexed so CJK
      punctuation under other E3 second bytes never misfires)
    - ``n_hangul``: leads ``EA``–``ED`` (the Hangul-syllable band)
    - ``n_cjk``:    leads ``E4``–``E9`` (CJK Unified Ideographs)
    - ``n_cyr``:    leads ``D0``/``D1`` (U+0400–04FF Cyrillic)

    Continuation bytes (80–BF) never collide with any band, so plain
    symbol filters count lead bytes only. Precedence encodes script
    linguistics, not frequency: any kana ⇒ ja (kana is uniquely
    Japanese — Japanese text is typically MAJORITY han), any Hangul ⇒
    ko, han-only ⇒ zh, Cyrillic ⇒ ru; otherwise the Latin marker
    scorer decides exactly as ``lang_id`` (same tie-break, same
    ``und`` fallback). Pure codegen projection — one scan, no
    Python."""
    df = ensure_parallelism(df, id_col)
    # materialize the symbol/token arrays ONCE in a prior projection:
    # Catalyst does not common-subexpression-eliminate the nested
    # hex-transform lambdas, and inlining them into every band count
    # re-derives the array 6x per row (measured 2.5x slower)
    df = df.select(
        F.col(id_col),
        utf8_byte_symbols(F.col(text_col)).alias("_sy"),
        tokens(text_col).alias("_tk"),
    )

    def band(lo: str, hi: str) -> str:
        return (
            f"CAST(size(filter(`_sy`, s -> s >= '{lo}' AND s <= '{hi}')) AS BIGINT)"
        )

    # Spark's sequence(1, n-1) DESCENDS when n < 2 (DuckDB's
    # generate_series returns empty) — guard the pair walk explicitly.
    # Band/kana counts land in the same single-parse projection as the
    # marker scores (r14-opt, guide §4); integer counts, same trees.
    kana = (
        "CAST(CASE WHEN size(`_sy`) >= 2 THEN "
        "size(filter(sequence(1, size(`_sy`) - 1), "
        "j -> element_at(`_sy`, j) = 'E3' "
        "AND element_at(`_sy`, j + 1) IN ('81', '82', '83'))) "
        "ELSE 0 END AS BIGINT)"
    )
    counted = df.selectExpr(
        "*",
        f"{kana} AS `_kana`",
        f"{band('EA', 'ED')} AS `_hangul`",
        f"{band('E4', 'E9')} AS `_cjk`",
        f"{band('D0', 'D1')} AS `_cyr`",
    )
    pred = (
        "CASE WHEN `_kana` > 0 THEN 'ja' "
        "WHEN `_hangul` > 0 THEN 'ko' "
        "WHEN `_cjk` > 0 THEN 'zh' "
        "WHEN `_cyr` > 0 THEN 'ru' "
        f"ELSE {_LANG_PRED_SQL} END"
    )
    return _lang_scores(counted).selectExpr(
        f"`{id_col}`",
        f"{pred} AS pred_lang",
        "`_kana` AS n_kana",
        "`_hangul` AS n_hangul",
        "`_cjk` AS n_cjk",
        "`_cyr` AS n_cyr",
        "CAST(`_best` AS BIGINT) AS marker_hits",
    )


def script_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document script COMPOSITION — the multilingual curation
    signal next to :func:`script_lang_id`'s single label: fractions
    of characters per script class, for gating mixed-script spam
    (keyword-stuffed pages interleaving CJK and Latin), measuring
    translation-pair contamination, and per-script corpus accounting.

    Characters are UTF-8 LEAD bytes on the hex symbol stream (a lead
    is any symbol outside the 80–BF continuation band), so counts are
    code points without a Unicode regex on either engine. Classes:
    ascii (00–7F), latin_ext (C3–C5 leads — Latin-1 supplement
    letters + Latin Extended-A/B), cyrillic (D0–D1), kana (pair-
    indexed ``E3`` + ``81``–``83``, exactly U+3040–30FF), cjk
    (E4–E9), hangul (EA–ED), and ``other`` = the remaining leads
    (CJK punctuation under E3, symbols, C2-lead punctuation, …).
    Fractions are over total characters, rounded to 4 decimals on
    both engines. Pure codegen projection — one scan, no Python."""
    df = ensure_parallelism(df, id_col)
    # materialize the symbol array ONCE (Catalyst does not CSE the
    # nested hex-transform lambdas — same lesson as script_lang_id)
    df = df.select(F.col(id_col), utf8_byte_symbols(F.col(text_col)).alias("_sy"))
    syms = F.col("_sy")
    n = F.size(syms)

    def band(lo: str, hi: str) -> Column:
        return F.size(
            F.filter(syms, lambda s: (s >= F.lit(lo)) & (s <= F.lit(hi)))
        ).cast("long")

    leads = F.size(
        F.filter(syms, lambda s: (s < F.lit("80")) | (s >= F.lit("C0")))
    ).cast("long")
    n_ascii = band("00", "7F")
    n_latin = band("C3", "C5")
    n_cyr = band("D0", "D1")
    n_cjk = band("E4", "E9")
    n_hangul = band("EA", "ED")
    kana = F.when(
        n >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(1), n - 1),
                lambda j: (F.element_at(syms, j) == F.lit("E3"))
                & F.element_at(syms, j + 1).isin("81", "82", "83"),
            )
        ),
    ).otherwise(F.lit(0)).cast("long")
    n_other = leads - n_ascii - n_latin - n_cyr - n_cjk - n_hangul - kana

    def frac(x: Column) -> Column:
        return F.when(leads > 0, F.round(x / leads, 4)).otherwise(F.lit(0.0))

    return df.select(
        F.col(id_col),
        leads.alias("n_chars"),
        frac(n_ascii).alias("frac_ascii"),
        frac(n_latin).alias("frac_latin_ext"),
        frac(n_cyr).alias("frac_cyrillic"),
        frac(kana).alias("frac_kana"),
        frac(n_cjk).alias("frac_cjk"),
        frac(n_hangul).alias("frac_hangul"),
        frac(n_other).alias("frac_other"),
    )


def text_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Length / punctuation / stopword heuristics + a composite
    quality score in [0, 1].

    score = 0.4·min(1, tokens/100) + 0.3·(1 − punct_ratio)
          + 0.3·min(1, stopword_ratio·5)
    """
    df = ensure_parallelism(df, id_col)
    t = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    punct = n_chars - F.length(F.regexp_replace(t, r"[^a-zA-Z0-9\s]", ""))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_hits = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), stop_ratio * 5)
    )
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (letter
    runs / digit runs / single symbols — a cheap proxy for subword
    tokenizer cost estimation)."""
    df = ensure_parallelism(df, id_col)
    t = F.col(text_col)
    ws = F.size(F.array_remove(F.split(F.trim(t), r"\s+"), ""))
    bpe = F.size(F.regexp_extract_all(F.lower(t), F.lit(BPE_PATTERN), 0))
    return df.select(
        F.col(id_col),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
    )


def token_vocab(
    df: DataFrame, id_col: str, text_col: str, *, top_k: int = 50
) -> DataFrame:
    """Corpus-wide token frequency table, ``top_k`` most frequent
    first (count desc, token asc) — the input a tokenizer-training or
    stopword-selection step reads. Returns (token, n_occurrences,
    n_docs).

    Scale shape: explode → ONE hash aggregation keyed by token with
    map-side combine (counts + per-doc distinct via the (token, doc)
    pre-aggregate), then a TakeOrdered top-k — no global sort; the
    full vocabulary never materializes on the driver."""
    df = ensure_parallelism(df, id_col)
    e = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    per_doc = e.groupBy("token", id_col).agg(F.count(F.lit(1)).alias("_c"))
    vocab = per_doc.groupBy("token").agg(
        F.sum("_c").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return vocab.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(top_k)


def lm_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unigram language-model quality score: each document's mean
    log-probability under the corpus's own unigram distribution —
    the cheap stand-in for CCNet-style perplexity filtering (documents
    of rare/atypical tokens score low, boilerplate scores high).
    Returns (id, n_tokens, avg_logprob).

    Scale shape: one explode + one token-keyed count (map-side
    combined), the |V|-row unigram table BROADCAST back onto the
    exploded stream (no token-keyed shuffle of the corpus — hot
    tokens like stopwords never become a skewed join key), then one
    doc-keyed aggregation. Token probabilities need no smoothing:
    the LM is trained on the scored corpus itself, so every token is
    in-vocabulary.

    Broadcast bound: a web-scale corpus can push |V| past broadcast
    limits (hundreds of millions of junk tokens). The standard split
    applies unchanged here: broadcast the head (top ~1M tokens cover
    >99% of occurrences), shuffle-join only the long-tail remainder —
    tail tokens are by construction rare, so that join has no hot
    keys either."""
    df = ensure_parallelism(df, id_col)
    e = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    vocab = e.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("_c"))
    # the corpus token total is the sum of the tiny vocab aggregate —
    # never a second full-corpus scan
    tot = vocab.groupBy().agg(F.sum("_c").alias("_n"))
    scored = (
        e.join(F.broadcast(vocab), on="token")
        .crossJoin(F.broadcast(tot))
        .withColumn("_lp", F.log(F.col("_c") / F.col("_n")))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("_lp"), 4).alias("avg_logprob"),
    )


def bigram_lm_score(
    df: DataFrame, id_col: str, text_col: str, *, lam: float = 0.8
) -> DataFrame:
    """Interpolated bigram language-model scoring — the CCNet-style
    perplexity filter at its real shape (CCNet trains a KenLM n-gram
    model and keeps the low-perplexity tail; the unigram
    :func:`lm_score` is the cheap proxy, this is the contextual
    version): each document's mean log-probability and perplexity
    under ``p(w2|w1) = λ·c(w1,w2)/c(w1·) + (1−λ)·c(w2)/N``, both
    count tables trained on the scored corpus itself. Returns
    (id, n_bigrams, avg_logprob, ppl); documents with fewer than two
    tokens have no bigrams and drop out (same contract both engines).

    Scale shape (r14-opt, guide §1.2/§2.3 — tokenize once, shuffle
    the stream once): the corpus is exploded into its bigram stream
    ONCE into a lazy local checkpoint — before, every consumer
    (count table, context table, probability join) re-derived the
    whole scan+tokenize+explode subtree, 3 Generate passes per run
    at runtime. The count aggregation partial-aggregates map-side
    off the checkpoint (vocab²-bounded exchange); the context table
    re-aggregates the count table and is BROADCAST back onto it
    (vocab-sized at any scale — the same posture as the unigram
    broadcast below), so the count side keeps one small exchange;
    the probability join then moves the heavy stream at most once
    (broadcast of the count table at local stats, stream shuffle at
    scale — hot function-word pairs like "of the" are the skew
    risk; AQE skew-join splits them, the same posture as the BM25
    hot-token datapoint). All counts are integer-valued doubles, so
    every sum is exact regardless of partition order; the only float
    surface is the final log/avg, shared verbatim with the oracle."""
    df = ensure_parallelism(df, id_col)
    toks = tokens(text_col)
    e = df.select(F.col(id_col), F.explode(toks).alias("token"))
    # vocab-sized; the checkpoint makes the unigram tokenize pass run
    # ONCE (its two consumers — the broadcast onto the stream and the
    # corpus total — each re-derived the explode before)
    uni = (
        e.groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("_c1"))
        .localCheckpoint(eager=False)
    )
    tot = uni.groupBy().agg(F.sum("_c1").alias("_n"))
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bg = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = (
        df.select(F.col(id_col), F.explode(bg).alias("p"))
        .select(F.col(id_col), F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        # materialize the tokenized/exploded stream ONCE per run —
        # without this Catalyst prunes each consumer's copy
        # differently (with/without the doc id), exchange reuse never
        # fires, and the corpus is re-tokenized per branch (measured:
        # 3 Generate passes at runtime). No pre-shuffle: AQE drops a
        # checkpoint's outputPartitioning to Unknown, so clustering
        # before the checkpoint would be a wasted full-stream
        # exchange. Per-run intermediate, nothing cached across runs.
        .localCheckpoint(eager=False)
    )
    c2 = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("_c2")
    )
    ctx = c2.groupBy("w1").agg(F.sum("_c2").alias("_ctx"))
    # ctx is vocab-sized at any scale (one row per distinct context
    # word) — broadcasting it keeps c2 on the stream's (w1, w2)
    # partitioning, exactly the posture the unigram broadcast below
    # already takes
    probs = c2.join(F.broadcast(ctx), "w1")
    scored = (
        pairs.join(probs, ["w1", "w2"])
        .join(F.broadcast(uni.withColumnRenamed("token", "w2")), "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_lp",
            F.log(
                F.lit(lam) * (F.col("_c2") / F.col("_ctx"))
                + (F.lit(1.0) - F.lit(lam)) * (F.col("_c1") / F.col("_n"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lp"), 4).alias("avg_logprob"),
        F.round(F.exp(-F.avg("_lp")), 4).alias("ppl"),
    )


#: quality-classifier feature names, in weight-vector order
QC_FEATURES = ("bias", "stopword_ratio", "distinct_ratio", "mean_token_len")

#: gradient quantization: per-doc contributions are rounded to 1e-6
#: and summed as BIGINT, so the full-batch gradient is EXACT under
#: any partition order — the trick that makes distributed training
#: oracle-replayable (sums of doubles are order-dependent; sums of
#: integers are not)
QC_QUANT = 1_000_000


def _qc_features(text_col: str) -> list[Column]:
    """The four documents-quality features, identically expressible
    in DuckDB: bias, stopword ratio, distinct-token ratio, mean token
    length scaled to ~[0, 1]."""
    toks = tokens(text_col)
    n = F.size(toks).cast("double")
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    n_dist = F.size(F.array_distinct(toks))
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    )
    return [
        F.lit(1.0),
        n_stop.cast("double") / n,
        n_dist.cast("double") / n,
        (sum_len.cast("double") / n) / F.lit(10.0),
    ]


def _qc_step_aggs(w: list[float]) -> list[Column]:
    """One training step's four quantized-gradient sums as
    single-parse SQL expressions — the exact trees the Column form
    built: z = ((w0·x0 + w1·x1) + w2·x2) + w3·x3 (left-assoc),
    p = round(1/(1+exp(-z)), 12) — the 12-decimal quantization that
    keeps a 1-ulp JVM-vs-DuckDB exp() divergence from flipping the
    gradient integer — then sum(CAST(round((p - y)·xj·QC_QUANT) AS
    BIGINT)) per feature."""
    lit = [sql_double(x) for x in w]  # non-finite weights raise
    z = f"(({lit[0]} * `_x0`) + ({lit[1]} * `_x1`))"
    for j in (2, 3):
        z = f"({z} + ({lit[j]} * `_x{j}`))"
    p = f"round(1.0D / (1.0D + exp(-{z})), 12)"
    return [
        F.expr(
            f"sum(CAST(round(({p} - `_y`) * `_x{j}` * {QC_QUANT}) AS BIGINT))"
        ).alias(f"s{j}")
        for j in range(4)
    ]


def train_quality_classifier(
    df: DataFrame,
    text_col: str,
    label_col: str,
    *,
    steps: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Train a logistic-regression quality classifier ON the corpus —
    the fastText-style quality-filter step (CCNet trains one against
    Wikipedia; Llama/Dolma-style pipelines against curated positives)
    as DISTRIBUTED full-batch gradient descent: ``steps`` passes,
    each ONE map-side-combined aggregation of the per-document
    gradient (4 BIGINT sums + a count) collected to the driver
    (k-value reduce), weights updated driver-side and folded into
    the next pass as literals. Features are pure Catalyst
    (:func:`_qc_features`); no shuffle anywhere beyond the 2-phase
    aggregate. Returns ONE row: the trained weights (rounded to 6)
    plus the training accuracy counts under the final weights.

    Determinism contract (what makes this oracle-checkable): initial
    weights are zero (step-1 sigmoid is exactly 0.5 — no
    transcendental in the first gradient), per-document gradient
    contributions are quantized to ``1/QC_QUANT`` and summed as
    integers (exact under any partition order), and the driver-side
    update ``w - lr * (S / (QC_QUANT * N))`` uses the same literal
    expression the SQL oracle evaluates — so the weight trajectory
    is bit-reproducible across engines and cluster layouts. At 100
    TB: persist the feature projection once, then each step is one
    scan + partial agg — the textbook batch-GD shape."""
    y = F.col(label_col).cast("double")
    feats = df.select(y.alias("_y"), *[
        x.alias(f"_x{j}") for j, x in enumerate(_qc_features(text_col))
    ]).where(F.col("_x1").isNotNull())
    feats = feats.persist()
    try:
        n_docs = feats.count()
        w = [0.0, 0.0, 0.0, 0.0]
        for _ in range(steps):
            # the whole step's four gradient aggregates parse as SQL
            # text in ONE call each (r14-opt, guide §4 — the Column
            # form marshaled ~1.6k py4j round-trips per 3-step
            # construction); `repr` round-trips the weight doubles
            # bit-exactly, and the quantize-to-12-decimals /
            # integer-sum contract (see below) is unchanged — pinned
            # by tests/test_expr_parity.py and the oracle's replay of
            # the full trajectory.
            sums = feats.agg(*_qc_step_aggs(w)).collect()[0]
            w = [
                w[j] - lr * (sums[f"s{j}"] / (QC_QUANT * n_docs))
                for j in range(4)
            ]
        zf = sum(
            (F.lit(w[j]) * F.col(f"_x{j}") for j in range(1, 4)),
            F.lit(w[0]) * F.col("_x0"),
        )
        correct = F.when((zf > 0) == (F.col("_y") == 1.0), 1).otherwise(0)
        out = feats.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(correct).cast("long").alias("n_correct"),
        ).select(
            # F.round (HALF_UP, like DuckDB round()) — the oracle emits
            # round(wj, 6) on the same trajectory double, so raw typed
            # values match, not just canonicalized ones.
            *[
                F.round(F.lit(w[j]), 6).alias(f"w_{QC_FEATURES[j]}")
                for j in range(4)
            ],
            "n_docs",
            "n_correct",
        )
        # eager checkpoint materializes the 1-row result before the
        # feature cache is released below
        return out.localCheckpoint(eager=True)
    finally:
        feats.unpersist()


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprints: md5 of canonical text (exact-dup key)
    plus an order-sensitive rolling polynomial hash over token hashes
    (acc·B + h mod p left fold — two docs with the same token
    *multiset* but different order fingerprint differently)."""
    df = ensure_parallelism(df, id_col)
    from coltt_spark.functions.text import norm_text

    toks = tokens(text_col)
    hs = F.transform(toks, lambda x: hash60(x) % F.lit(HASH_P))
    rolling = F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(FP_BASE) + x) % F.lit(HASH_P),
    )
    return df.select(
        F.col(id_col),
        F.md5(norm_text(text_col)).alias("md5_fp"),
        rolling.alias("rolling_fp"),
    )


def _run_stats_expr(col: str) -> Column:
    """(max gram count, Σ counts over grams with count > 1) via a
    run-length fold over a pre-sorted gram array column — rendered as
    ONE SQL string (r14-opt, guide §4: the Column fold marshaled ~40
    py4j round-trips per signal). Integer-only state; the parsed tree
    is the identical aggregate/named_struct fold, pinned against the
    frozen Column twin in tests/test_expr_parity.py."""
    same = "coalesce(x = acc.p, false)"
    r2 = f"CASE WHEN {same} THEN acc.r + 1 ELSE CAST(1 AS BIGINT) END"
    return F.expr(
        f"aggregate(`{col}`, "
        "named_struct('p', CAST(NULL AS STRING), 'r', CAST(0 AS BIGINT), "
        "'mx', CAST(0 AS BIGINT), 'dp', CAST(0 AS BIGINT)), "
        "(acc, x) -> named_struct("
        f"'p', x, 'r', {r2}, 'mx', greatest(acc.mx, {r2}), "
        f"'dp', acc.dp + CASE WHEN NOT {same} AND acc.r > 1 "
        "THEN acc.r ELSE CAST(0 AS BIGINT) END), "
        "acc -> named_struct('mx', acc.mx, "
        "'dp', acc.dp + CASE WHEN acc.r > 1 THEN acc.r "
        "ELSE CAST(0 AS BIGINT) END))"
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, *, ngram: int = 5
) -> DataFrame:
    """Gopher-style intra-document repetition signals, the standard
    quality-filter trio: the occurrence share of the most frequent
    unigram (``top_unigram_frac``) and bigram (``top_bigram_frac``),
    and the fraction of ``ngram``-gram occurrences that are repeats
    of an n-gram already seen in the same document
    (``dup_ngram_frac`` — Σ count over grams with count>1 / Σ count).
    Documents dominated by one token, one phrase, or looping n-grams
    score high and get dropped/downweighted.

    Scale: grams never leave their document, so the whole trio is a
    single NARROW projection — per row, sort each gram array and fold
    run lengths (max run = top count; runs > 1 sum to the duplicated
    occurrences). No shuffle, no join, no Python: a map-only stage
    whose cost is exactly one pass over the corpus regardless of
    cluster size. Documents with zero tokens produce no row;
    documents too short for a gram size report 0.0 for that signal.
    """
    from coltt_spark.functions.text import word_shingles

    df = ensure_parallelism(df, id_col)

    # materialize each gram array once (sorted) so the fold and the
    # size() don't re-derive the tokenization — keeps the expression
    # tree (and its codegen) linear in the number of signals
    grams = df.select(
        F.col(id_col),
        F.array_sort(tokens(text_col)).alias("_u"),
        F.array_sort(word_shingles(text_col, 2)).alias("_b"),
        F.array_sort(word_shingles(text_col, ngram)).alias("_n"),
    )
    base = grams.select(
        F.col(id_col),
        F.size("_u").cast("long").alias("u_tot"),
        _run_stats_expr("_u").alias("u"),
        F.size("_b").cast("long").alias("b_tot"),
        _run_stats_expr("_b").alias("b"),
        F.size("_n").cast("long").alias("n_tot"),
        _run_stats_expr("_n").alias("n"),
    ).filter(F.col("u_tot") > 0)
    return base.select(
        F.col(id_col),
        F.col("u_tot").alias("n_tokens"),
        F.round(F.col("u")["mx"].cast("double") / F.col("u_tot"), 4).alias(
            "top_unigram_frac"
        ),
        F.round(
            F.when(
                F.col("b_tot") > 0, F.col("b")["mx"].cast("double") / F.col("b_tot")
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("top_bigram_frac"),
        F.round(
            F.when(
                F.col("n_tot") > 0, F.col("n")["dp"].cast("double") / F.col("n_tot")
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_ngram_frac"),
    )
