"""Deduplication operators for large-scale training-data pipelines.

Five strategies, ordered by cost/recall trade-off:

- :func:`exact_dedup` — hash-groupBy on canonicalized text. One
  shuffle on the group key with map-side partial aggregation.
- :func:`ngram_jaccard_pairs` — exact Jaccard over word-shingle sets
  via a shingle-inverted-list self-join (no cross join: pairs only
  materialize for documents sharing a shingle).
- :func:`minhash_lsh_pairs` — MinHash signatures + LSH banding; the
  scale path. Candidate pairs come from an equi-join on (band,
  band-hash) buckets, so the shuffle is O(docs·bands), never O(n²).
- :func:`simhash_pairs` — 60-bit SimHash + pigeonhole blocking on
  15-bit chunks; near-dups differ in ≤3 bits ⇒ share ≥1 of 4 chunks.
- :func:`embedding_neardup_pairs` — cosine similarity over an
  embedding column; exact within blocks (or brute-force when
  ``block_col`` is None — small corpora / verification only).

All hashes are md5-derived (:mod:`coltt_spark.functions.text`), so
every operator is reproducible in the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coltt_spark import store
from coltt_spark.functions.text import (
    HASH_P,
    MINHASH_PARAMS,
    byte_shingles,
    hash60,
    norm_text,
    word_shingles,
)
from coltt_spark.functions.vector import dot, l2_norm
from coltt_spark.sources.tables import ensure_parallelism


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on canonicalized text: keep the smallest id per
    group. Returns (survivor id, group size)."""
    return (
        df.select(F.col(id_col), norm_text(text_col).alias("_norm"))
        .groupBy("_norm")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, "dup_count")
    )


def span_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    size: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span accounting — the CCNet/Dolma
    "fraction of text in duplicated paragraphs" signal, computed over
    non-overlapping ``size``-token spans (this corpus is single-line,
    so fixed token spans stand in for paragraphs). Every document is
    chunked, each span's ``hash60`` is counted across DISTINCT
    documents, and the report says per document how many spans — and
    what fraction of its tokens — also occur in ≥ ``min_docs``
    documents. High ``dup_token_frac`` is the standard drop/downweight
    signal for boilerplate.

    Scale: chunking is narrow (zero shuffles,
    :func:`~coltt_spark.operators.pipeline.chunk_documents`); then one
    map-side-combinable count per span hash and one hash-partitioned
    equi-join back — the inverted-list shape. A viral span produces ONE
    counting row after the map-side combine, and the join fan-out is
    bounded by the corpus's own span count (each span row joins exactly
    one count row), so there is no quadratic blow-up anywhere.
    """
    from coltt_spark.operators.pipeline import chunk_documents

    chunks = chunk_documents(df, id_col, text_col, size=size, stride=size)
    ch = chunks.select(
        F.col(id_col), F.col("n_tokens"), hash60(F.col("chunk_text")).alias("_h")
    )
    docs_per = ch.groupBy("_h").agg(F.countDistinct(id_col).alias("_nd"))
    dup = F.col("_nd") >= min_docs
    return (
        ch.join(docs_per, on="_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(dup.cast("long")).alias("n_dup_spans"),
            F.sum("n_tokens").alias("_tok"),
            F.sum(F.when(dup, F.col("n_tokens")).otherwise(F.lit(0))).alias("_dt"),
        )
        .select(
            F.col(id_col),
            "n_spans",
            "n_dup_spans",
            F.round(F.col("_dt").cast("double") / F.col("_tok"), 4).alias(
                "dup_token_frac"
            ),
        )
    )


def span_dedup_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    size: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Duplicated-span REMOVAL — the ExactSubstr step (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better")
    at the span granularity :func:`span_dup_stats` already measures:
    chunk every document into non-overlapping ``size``-token spans,
    find spans whose hash occurs in ≥ ``min_docs`` distinct
    documents, and CUT every occurrence except the globally first
    (smallest ``(doc_id, chunk_id)`` — deterministic, so the rebuilt
    corpus is reproducible). Operates on the canonical token stream
    (the same stream chunking/packing read), returning per document
    the span counts and the rebuilt text + its md5 — a value-level
    check of the rebuild, not just counts.

    Scale: chunking is narrow; then ONE span-hash-keyed aggregation
    (map-side combined; the keeper is a ``min(struct)`` merged the
    same way) and ONE hash-keyed equi-join back — the inverted-list
    shape of :func:`span_dup_stats`, with the same bounded fan-out
    (each span row joins exactly one count row). The per-doc rebuild
    is one doc-keyed aggregation; no global sort."""
    from coltt_spark.operators.pipeline import chunk_documents

    chunks = chunk_documents(df, id_col, text_col, size=size, stride=size)
    ch = chunks.select(
        F.col(id_col),
        "chunk_id",
        "n_tokens",
        "chunk_text",
        hash60(F.col("chunk_text")).alias("_h"),
    )
    per = ch.groupBy("_h").agg(
        F.countDistinct(id_col).alias("_nd"),
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("chunk_id").alias("c"))
        ).alias("_keep"),
    )
    j = ch.join(per, "_h")
    keep = (F.col("_nd") < min_docs) | (
        (F.col("_keep.i") == F.col(id_col))
        & (F.col("_keep.c") == F.col("chunk_id"))
    )
    marked = j.withColumn("_kept", keep)
    agg = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((~F.col("_kept")).cast("long")).alias("n_removed"),
        F.sum(
            F.when(F.col("_kept"), F.col("n_tokens")).otherwise(F.lit(0))
        ).alias("n_tokens_kept"),
        # collect_list drops nulls, so only kept spans enter; sort by
        # chunk_id restores document order before the join
        F.collect_list(
            F.when(
                F.col("_kept"),
                F.struct(
                    F.col("chunk_id").alias("c"), F.col("chunk_text").alias("t")
                ),
            )
        ).alias("_kept_spans"),
    )
    clean = F.array_join(
        F.transform(F.array_sort("_kept_spans"), lambda s: s["t"]), " "
    )
    return agg.select(
        F.col(id_col),
        "n_spans",
        "n_removed",
        "n_tokens_kept",
        F.md5(clean).alias("clean_md5"),
    )


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (id, shingle-hash) pairs — the inverted-list base for
    Jaccard and MinHash."""
    df = ensure_parallelism(df, id_col)
    return (
        df.select(F.col(id_col), F.explode(word_shingles(text_col, n)).alias("_sh"))
        .select(id_col, hash60(F.col("_sh")).alias("sh"))
        .distinct()
    )


def shingle_table_bytes(
    df: DataFrame, id_col: str, text_col: str, n: int = 12
) -> DataFrame:
    """Distinct (id, byte-n-gram-hash) pairs — the script-agnostic
    inverted-list base. The word-shingle table
    (:func:`shingle_table`) inherits the ``[a-z0-9]`` tokenizer, so
    CJK/Cyrillic/accented documents contribute no shingles and are
    invisible to every downstream dedup strategy; this variant
    shingles the raw UTF-8 byte stream
    (:func:`~coltt_spark.functions.text.byte_shingles`), so every
    script deduplicates. Whitespace runs are collapsed first (ASCII
    ``\\s`` in both regex engines — parity structural), but case is
    PRESERVED: byte-level dedup is byte-exact by design (Unicode
    case-folding differs between engines on adversarial code points,
    and near-dup recall does not need it — a case-mangled copy still
    shares every shingle outside the edited bytes).

    Drops into the same consumers as the word table:
    ``ngram_jaccard_pairs(..., shingles=...)`` /
    ``minhash_lsh_pairs(..., shingles=...)`` take it unchanged, so
    LSH banding, the mega-duplicate guard, and the candidate-verify
    join all work byte-level with zero new join topology."""
    df = ensure_parallelism(df, id_col)
    normed = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return (
        df.select(F.col(id_col), F.explode(byte_shingles(normed, n)).alias("_sh"))
        .select(id_col, hash60(F.col("_sh")).alias("sh"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.6,
    shingles: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥
    threshold). Inverted-list self-join: only documents sharing at
    least one shingle ever pair up, so sparsity — not n² — bounds the
    shuffle. Pass a prebuilt (materialized) ``shingles`` table to
    amortize the explode+hash+distinct across several dedup passes
    over the same corpus.

    ``max_doc_freq`` drops shingles shared by more than that many
    documents before the self-join (Jaccard is then over the filtered
    shingle universe — standard stop-shingle removal). Without it, ONE
    boilerplate shingle shared by 10⁶ documents materializes ~10¹²
    join pairs; with it the join fan-out per shingle is bounded at
    max_doc_freq², which is what makes exact Jaccard survive a web
    corpus. Always set it at scale."""
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, n)
    if max_doc_freq is not None:
        keep = sh.groupBy("sh").agg(F.count("*").alias("_df")).filter(
            F.col("_df") <= max_doc_freq
        )
        # equi-join on sh, co-partitioned with the pair join that follows
        sh = sh.join(keep.select("sh"), on="sh")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("_sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb")), "id_b")
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double") / (F.col("_sza") + F.col("_szb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT near-dup pairs:
    ``containment = |A∩B| / min(|A|, |B|)`` ≥ threshold — catches
    doc-in-doc duplication (a page embedded in a longer page, a
    quoted article inside a digest) that symmetric Jaccard misses
    because the union is dominated by the longer side.

    Same inverted-list self-join shape (and the same ``max_doc_freq``
    stop-shingle cap) as :func:`ngram_jaccard_pairs`; only the final
    normalization differs, so the scale posture is identical."""
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, n)
    if max_doc_freq is not None:
        keep = sh.groupBy("sh").agg(F.count("*").alias("_df")).filter(
            F.col("_df") <= max_doc_freq
        )
        sh = sh.join(keep.select("sh"), on="sh")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("_sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "sh")
    b = sh.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, on="sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb")), "id_b")
        .withColumn(
            "containment",
            F.col("_inter").cast("double") / F.least("_sza", "_szb"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.round("containment", 4).alias("containment"))
    )


def _minhash_agg_exprs() -> list:
    """The k=16 ``min((a·(sh mod P) + b) mod P)`` aggregate columns,
    each parsed as ONE SQL expression (r13-opt — the Column form cost
    ~10 py4j round-trips per permutation of construction time; the
    integer math is identical either way)."""
    return [
        F.expr(
            f"min(({a}L * (sh % {HASH_P}L) + {b}L) % {HASH_P}L)"
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, *, n: int = 3) -> DataFrame:
    """k=16 MinHash signature columns mh0..mh15 per document.
    Documents with no shingles (fewer than n tokens) are dropped —
    they have no set to sketch."""
    sh = shingle_table(df, id_col, text_col, n)
    return sh.groupBy(id_col).agg(*_minhash_agg_exprs())


def _minhash_sig_fp(sh: DataFrame, id_col: str) -> DataFrame:
    """Per-key MinHash signature columns ``mh0..mh{k-1}`` plus the
    exact-content fingerprint ``_fp`` (md5 over the sorted distinct
    shingle hashes — deterministic, internal only), in ONE pass over
    a ``(id, sh)`` shingle table."""
    return sh.groupBy(id_col).agg(
        *_minhash_agg_exprs(),
        F.expr(
            "md5(concat_ws(',', transform(sort_array(collect_set(sh)),"
            " c -> CAST(c AS STRING))))"
        ).alias("_fp"),
    )


def _band_stack(sig: DataFrame, key_col: str, bands: int) -> DataFrame:
    """``(key, band_idx, band_hash)`` rows — one per band per
    signature row; band_hash is md5 over the band's k/bands minhash
    columns, so a band bucket is an equi-join key."""
    k = len(MINHASH_PARAMS)
    rows_per_band = k // bands
    # single-parse expressions (r13-opt): the per-column Column form
    # cost ~0.6 s of py4j round-trips per call on the delta path
    band_cols = [
        F.expr(
            "md5(concat_ws('-', "
            + ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
            + "))"
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(key_col), *band_cols)
    stack = ", ".join(
        f"struct({b} AS band_idx, band{b} AS band_hash)" for b in range(bands)
    )
    return banded.select(
        F.col(key_col),
        F.expr(f"explode(array({stack}))").alias("_b"),
    ).select(key_col, "_b.band_idx", "_b.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    sig_fp: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified against exact
    Jaccard (candidates only — the verify join touches O(candidates)
    rows, not O(n²)).

    ``sig_fp``: a precomputed (and checkpointed)
    ``_minhash_sig_fp(shingles, id_col)`` table, when the caller has
    already paid for it — ``MinHashIndex.build``/``_delta_parts``
    need the same signature+fingerprint aggregation for the index
    artifacts, and without sharing it the 16-permutation + sorted-
    fingerprint aggregation over the batch ran TWICE per delta
    (r13-opt, guide §1.2 "don't compute things you throw away").

    k=16 signature split into ``bands`` bands of k/bands rows; a pair
    is a candidate iff some band hashes identically. With 4 bands × 4
    rows the s-curve crosses ~0.5 at s ≈ 0.66 — tune ``bands`` up for
    lower thresholds. ``shingles``: see :func:`ngram_jaccard_pairs`.

    Mega-duplicate guard: documents with IDENTICAL shingle sets
    collapse to one representative before the band join (a 10⁴-copy
    template cluster would otherwise put 10⁴ rows in every band
    bucket and make the candidate join quadratic in cluster size —
    the classic LSH skew killer). Banding, candidate generation, and
    exact-Jaccard verification run over representatives only; the
    verified pairs then expand back to document pairs, and
    within-cluster pairs (Jaccard exactly 1) are emitted directly
    from the content groups — the OUTPUT is unchanged (it is
    inherently quadratic in true-duplicate cluster size), but the
    join/verify work is bounded by distinct-content counts."""
    k = len(MINHASH_PARAMS)
    # the shingle table feeds the content collapse, the signature
    # aggregation AND the candidate-verify join; materialize it once
    # (explode+hash+distinct is the dominant cost) instead of
    # recomputing the lineage per use
    sh = (
        shingles
        if shingles is not None
        else shingle_table(df, id_col, text_col, n).localCheckpoint(eager=False)
    )
    # ONE pass over the shingle table computes both the 16 minhashes
    # and the exact-content fingerprint
    per_doc = (
        sig_fp
        if sig_fp is not None
        else _minhash_sig_fp(sh, id_col).localCheckpoint(eager=False)
    )
    reps = per_doc.groupBy("_fp").agg(F.min(F.col(id_col)).alias("_rep"))
    rep_of = per_doc.select(F.col(id_col).alias("_member"), "_fp").join(
        reps, on="_fp"
    ).localCheckpoint(eager=False)
    sh_reps = sh.join(
        reps.select(F.col("_rep").alias(id_col)), on=id_col, how="left_semi"
    )
    sig = per_doc.join(
        reps.select(F.col("_rep").alias(id_col)), on=id_col, how="left_semi"
    ).select(id_col, *[f"mh{i}" for i in range(k)])
    stacked = _band_stack(sig, id_col, bands)
    a = stacked.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = stacked.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    candidates = (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # verify ONLY candidate pairs against exact jaccard: re-attach the
    # two shingle lists by key, count the intersection. Cost is
    # O(candidates · shingles-per-doc) over REPRESENTATIVES, never the
    # all-co-shingle-pairs blowup of the exact operator.
    sizes = sh_reps.groupBy(id_col).agg(F.count("*").alias("_sz"))
    inter = (
        candidates.join(sh_reps.select(F.col(id_col).alias("id_a"), "sh"), on="id_a")
        .join(sh_reps.select(F.col(id_col).alias("id_b"), "sh"), on=["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    rep_pairs = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sza")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_szb")), "id_b")
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double") / (F.col("_sza") + F.col("_szb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    # expand verified representative pairs to member pairs (identical
    # shingle sets ⇒ identical jaccard against everything), and emit
    # within-cluster pairs (jaccard exactly 1) straight from the
    # content groups — both are sized by the TRUE answer, not by the
    # banding
    m_a = rep_of.select(F.col("_member").alias("_ma"), F.col("_rep").alias("id_a"))
    m_b = rep_of.select(F.col("_member").alias("_mb"), F.col("_rep").alias("id_b"))
    cross = (
        rep_pairs.join(m_a, on="id_a")
        .join(m_b, on="id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "jaccard",
        )
    )
    wa = rep_of.select(F.col("_member").alias("_ma"), "_fp")
    wb = rep_of.select(F.col("_member").alias("_mb"), "_fp")
    within = (
        wa.join(wb, on="_fp")
        .filter(F.col("_ma") < F.col("_mb"))
        .select(
            F.col("_ma").alias("id_a"),
            F.col("_mb").alias("id_b"),
            F.round(F.lit(1.0), 4).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


class MinHashIndex:
    """Persisted MinHash/LSH signature index — the frozen-corpus side
    of INCREMENTAL near-dup dedup (the daily-crawl shape: dedup a new
    batch against an already-processed corpus WITHOUT recomputing the
    corpus side).

    Artifacts under ``root``, each a parquet part of one version of
    the store (``v{N}_members/`` …, :mod:`coltt_spark.store`, the
    discipline ``TextIndex`` and ``Collection`` share):

    - ``members/``      ``(member, fp)`` — one row per indexed doc;
      ``fp`` is the exact-content fingerprint (md5 of the sorted
      distinct shingle hashes), the mega-duplicate-guard key.
    - ``band_keys/``    ``(fp, band_idx, band_hash)`` — LSH band keys
      per DISTINCT content, not per doc: a 10⁴-copy template costs
      ``bands`` rows, not ``bands``·10⁴ (the content collapse is
      baked into the stored layout).
    - ``fp_shingles/``  ``(fp, sh)`` — shingle sets per distinct
      content, the exact-Jaccard verify side.
    - ``pairs/``        ``(id_a, id_b, jaccard)`` — verified near-dup
      pairs WITHIN the indexed corpus.

    The store manifest carries the shingle width / bands / threshold.

    Pair membership is PAIRWISE-determined: (a, b) is emitted iff
    their signatures share a band (each signature is a function of
    its own document's shingle set alone) and exact Jaccard ≥
    threshold. Hence results compose exactly across batches —
    ``pairs(old ∪ new) = pairs(old) ∪ delta(new vs old) ∪
    pairs(new)`` — and ``delta_pairs`` can return the full updated
    table whose oracle is the FROM-SCRATCH oracle over the union
    corpus (the ``bm25_index_merged`` equivalence discipline).

    100 TB posture: the delta never touches corpus text — the old
    side enters only through the three index artifacts (``band_keys``
    equi-join on (band_idx, band_hash) for candidates; ``fp_shingles``
    equi-join on fp for verification; ``members`` equi-join on fp for
    pair expansion), each written hash-distributed by its join key so
    a daily delta shuffles new-batch rows plus matched index
    partitions only. ``merge`` writes only the batch's rows as the
    next version and hardlinks the rest forward, committing the four
    artifacts at once.
    """

    #: artifact → its delta-side join key (the write layout's hash key)
    _ARTIFACTS = {
        "members": ("fp",),
        "band_keys": ("band_hash",),
        "fp_shingles": ("fp",),
        "pairs": (),
    }

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        self.meta = store.read_manifest(root)
        if self.meta is None:
            raise FileNotFoundError(f"no MinHashIndex at {root}")

    # -- construction -------------------------------------------------

    @staticmethod
    def build(
        df: DataFrame,
        id_col: str,
        text_col: str,
        root: str,
        *,
        n: int = 3,
        bands: int = 4,
        threshold: float = 0.5,
        shingles: DataFrame | None = None,
        n_files: int = 8,
    ) -> "MinHashIndex":
        """Index a corpus: signatures + content collapse + band keys,
        plus the corpus's own verified pairs (so the index answers
        "all pairs so far" without rescoring history)."""
        sh = (
            shingles
            if shingles is not None
            else shingle_table(df, id_col, text_col, n)
        ).localCheckpoint(eager=False)
        per_doc = _minhash_sig_fp(sh, id_col).localCheckpoint(eager=False)
        members = per_doc.select(
            F.col(id_col).alias("member"), F.col("_fp").alias("fp")
        )
        reps = per_doc.groupBy("_fp").agg(F.min(F.col(id_col)).alias("_rep"))
        rep_sig = per_doc.join(
            reps.select(F.col("_rep").alias(id_col)), on=id_col, how="left_semi"
        )
        band_keys = _band_stack(
            rep_sig.select("_fp", *[f"mh{i}" for i in range(len(MINHASH_PARAMS))]),
            "_fp",
            bands,
        ).withColumnRenamed("_fp", "fp")
        fp_shingles = sh.join(
            reps.select(F.col("_rep").alias(id_col), F.col("_fp").alias("fp")),
            on=id_col,
        ).select("fp", "sh")
        pairs = minhash_lsh_pairs(
            df, id_col, text_col, n=n, bands=bands, threshold=threshold,
            shingles=sh, sig_fp=per_doc,
        )
        return MinHashIndex._snapshot(
            df.sparkSession,
            root,
            dict(members=members, band_keys=band_keys, fp_shingles=fp_shingles, pairs=pairs),
            {"n": n, "bands": bands, "threshold": threshold, "k": len(MINHASH_PARAMS)},
            n_files,
        )

    @staticmethod
    def _snapshot(spark, root: str, artifacts: dict, meta: dict, n_files: int) -> "MinHashIndex":
        """Commit ``artifacts`` as the whole next version of the index
        at ``root``, each hash-distributed by its delta-side join key."""
        v = store.Version(root)
        for name, df in artifacts.items():
            df.repartition(n_files, *MinHashIndex._ARTIFACTS[name]).write.mode(
                "overwrite"
            ).parquet(v.path(name))
        v.commit(meta)
        return MinHashIndex(spark, root)

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(
            store.version_dir(self.root, self.meta["version"], name)
        )

    # -- incremental dedup --------------------------------------------

    def _delta_parts(
        self,
        new_df: DataFrame,
        id_col: str,
        text_col: str,
        *,
        shingles: DataFrame | None = None,
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        """(members_new, band_keys_new, fp_shingles_new, new_pairs)
        where new_pairs = pairs involving at least one new-batch doc:
        new-vs-new via the standard operator, new-vs-old via band-key
        candidates against the STORED index, verified with exact
        Jaccard on stored shingle sets, expanded through the
        content-group maps on both sides. New-batch ids must be
        disjoint from indexed ids (snowflake/monotonic ids — the
        upsert discipline handles re-crawled ids upstream)."""
        meta = self.meta
        n, bands, threshold = meta["n"], meta["bands"], meta["threshold"]
        # the shingle seam: pass the SAME shingler's output the index
        # was built with (e.g. shingle_table_bytes for the
        # script-agnostic path) — word shingles are the default
        sh_new = (
            shingles
            if shingles is not None
            else shingle_table(new_df, id_col, text_col, n)
        ).localCheckpoint(eager=False)
        per_new = _minhash_sig_fp(sh_new, id_col).localCheckpoint(eager=False)
        nn = minhash_lsh_pairs(
            new_df, id_col, text_col, n=n, bands=bands, threshold=threshold,
            shingles=sh_new, sig_fp=per_new,
        )
        members_new = per_new.select(
            F.col(id_col).alias("member"), F.col("_fp").alias("fp")
        )
        reps_new = per_new.groupBy("_fp").agg(F.min(F.col(id_col)).alias("_rep"))
        rep_sig_new = per_new.join(
            reps_new.select(F.col("_rep").alias(id_col)), on=id_col, how="left_semi"
        )
        band_keys_new = _band_stack(
            rep_sig_new.select(
                "_fp", *[f"mh{i}" for i in range(len(MINHASH_PARAMS))]
            ),
            "_fp",
            bands,
        ).withColumnRenamed("_fp", "fp")
        fp_sh_new = sh_new.join(
            reps_new.select(F.col("_rep").alias(id_col), F.col("_fp").alias("fp")),
            on=id_col,
        ).select("fp", "sh")
        # candidates: new band keys against the stored index ONLY —
        # the frozen corpus contributes parquet scans, never a
        # re-shingle. Same-content matches (equal fp) ride the same
        # path: identical signatures share every band, and the verify
        # division yields exactly 1.0.
        cand = (
            band_keys_new.withColumnRenamed("fp", "fp_n")
            .join(
                self._read("band_keys").withColumnRenamed("fp", "fp_o"),
                on=["band_idx", "band_hash"],
            )
            .select("fp_n", "fp_o")
            .distinct()
        )
        old_sh = self._read("fp_shingles").withColumnRenamed("fp", "fp_o")
        sz_n = fp_sh_new.groupBy("fp").agg(F.count("*").alias("_sza"))
        sz_o = old_sh.groupBy("fp_o").agg(F.count("*").alias("_szb"))
        inter = (
            cand.join(fp_sh_new.withColumnRenamed("fp", "fp_n"), on="fp_n")
            .join(old_sh, on=["fp_o", "sh"])
            .groupBy("fp_n", "fp_o")
            .agg(F.count("*").alias("_inter"))
        )
        fpairs = (
            inter.join(sz_n.withColumnRenamed("fp", "fp_n"), on="fp_n")
            .join(sz_o, on="fp_o")
            .withColumn(
                "jaccard",
                F.col("_inter").cast("double")
                / (F.col("_sza") + F.col("_szb") - F.col("_inter")),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        m_new = members_new.select(
            F.col("member").alias("_mn"), F.col("fp").alias("fp_n")
        )
        m_old = self._read("members").select(
            F.col("member").alias("_mo"), F.col("fp").alias("fp_o")
        )
        cross = (
            fpairs.join(m_new, on="fp_n")
            .join(m_old, on="fp_o")
            .select(
                F.least("_mn", "_mo").alias("id_a"),
                F.greatest("_mn", "_mo").alias("id_b"),
                F.round("jaccard", 4).alias("jaccard"),
            )
        )
        return members_new, band_keys_new, fp_sh_new, nn.unionByName(cross)

    def delta_pairs(
        self,
        new_df: DataFrame,
        id_col: str,
        text_col: str,
        *,
        shingles: DataFrame | None = None,
    ) -> DataFrame:
        """Full UPDATED pairs table for the union corpus: stored
        corpus pairs ∪ pairs involving the new batch. Equals the
        from-scratch result over old ∪ new (pairwise determination,
        see the class docstring) — the registry oracle replays exactly
        that, so incremental == from-scratch is driver-checked."""
        _, _, _, new_pairs = self._delta_parts(
            new_df, id_col, text_col, shingles=shingles
        )
        return self._read("pairs").unionByName(new_pairs)

    def merge(
        self,
        new_df: DataFrame,
        id_col: str,
        text_col: str,
        *,
        shingles: DataFrame | None = None,
    ) -> None:
        """Fold the new batch into the index as its next version: the
        batch's members and delta pairs, and the band_keys/fp_shingles
        of fingerprints NOT already indexed (content-keyed artifacts
        are naturally idempotent under duplicates), written beside
        hardlinks to the current version's files and committed at
        once — a merge that fails part-way leaves the index as it was,
        and retrying it is safe. After merge the batch is frozen
        corpus and subsequent deltas compose exactly (three-batch ==
        from-scratch is pinned by tests/test_dedup.py)."""
        members_new, band_keys_new, fp_sh_new, new_pairs = self._delta_parts(
            new_df, id_col, text_col, shingles=shingles
        )
        known_fps = self._read("band_keys").select("fp").distinct()
        fresh = {
            "members": members_new,
            "band_keys": band_keys_new.join(known_fps, on="fp", how="left_anti"),
            "fp_shingles": fp_sh_new.join(known_fps, on="fp", how="left_anti"),
            "pairs": new_pairs,
        }
        v = store.Version(self.root, base=self.meta["version"])
        for name, df in fresh.items():
            df.write.mode("overwrite").parquet(v.path(name))
        self.meta = v.commit(self.meta)

    def compact(self, root: str, *, n_files: int = 8) -> "MinHashIndex":
        """Rewrite the index as a fresh snapshot under ``root`` —
        the ``TextIndex.compact`` discipline on the signature
        artifacts: daily ``merge``s append small files (one set per
        batch), and a weekly compact folds each artifact back into
        ``n_files`` hash-distributed by its delta-side join key.
        Content is copied verbatim (no recompute, no re-shingle), so
        every subsequent ``delta_pairs`` answer is unchanged — pinned
        by tests/test_dedup.py."""
        return MinHashIndex._snapshot(
            self.spark, root, {name: self._read(name) for name in self._ARTIFACTS},
            self.meta, n_files,
        )


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 60) -> DataFrame:
    """60-bit SimHash per document: bit j of the fingerprint is the
    sign of Σ_tokens (±1 depending on bit j of the token hash).
    Distinct tokens weighted once (set semantics).

    Entirely JVM-side: tokenize + md5 hash (codegen'd,
    oracle-identical), then ONE hash aggregation with ``bits``+1
    per-bit popcount sums — map-side partial combine means the shuffle
    carries ≤ 61 longs per document per task instead of every token
    hash, and there are no Python workers to spin up (the previous
    Arrow-batched variant paid worker startup plus a ``collect_list``
    of all token hashes through the shuffle). The wide aggregate is a
    one-time codegen compile that amortizes across any corpus size —
    the shape a 10⁹-document scan wants."""
    df = ensure_parallelism(df, id_col)
    tok = (
        df.select(F.col(id_col), F.explode(F.array_distinct(
            F.array_remove(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), "")
        )).alias("_t"))
        .select(F.col(id_col).cast("long").alias(id_col), hash60(F.col("_t")).alias("h"))
    )
    # 3 bit-counters packed per sum (21 bits each — exact up to 2M
    # distinct tokens/doc): each token adds bit_j << (21·slot), so one
    # int64 sum carries 3 independent per-bit popcounts. bits/3 agg
    # columns instead of `bits` — 3× less codegen and hashmap update
    # work for the same exact result. Each pack is ONE parsed SQL
    # expression (r13-opt): the per-operator Column form cost ~15 py4j
    # round-trips per pack — construction, not execution, dominated
    # the key.
    packs = []
    for g in range(0, bits, 3):
        terms = " + ".join(
            f"shiftleft(shiftright(h, {j}) & 1, {21 * s})"
            for s, j in enumerate(range(g, min(g + 3, bits)))
        )
        packs.append(F.expr(f"sum({terms})").alias(f"_p{g // 3}"))
    agg = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *packs)
    # the packed 21-bit counters are exact only while every per-bit
    # popcount (≤ _n) stays below 2^21; a pathological document with
    # ≥ 2.1M distinct tokens must fail loudly, never silently corrupt
    # its fingerprint by carrying into the adjacent counter slot
    agg = agg.withColumn(
        "_n",
        F.when(
            F.col("_n") >= F.lit(1 << 21),
            F.raise_error(
                F.concat(
                    F.lit("simhash: document "),
                    F.col(id_col).cast("string"),
                    F.lit(
                        " has >= 2^21 distinct tokens; packed 21-bit "
                        "counters would overflow (split the document "
                        "or truncate its token set)"
                    ),
                )
            ).cast("long"),
        ).otherwise(F.col("_n")),
    )
    # one parsed expression for the 60-term fingerprint rebuild too
    # (same r13-opt rationale; bit-identical integer math)
    mask = (1 << 21) - 1
    sim_terms = " + ".join(
        f"(CASE WHEN 2 * (shiftright(_p{j // 3}, {21 * (j % 3)}) & {mask}) - _n > 0"
        f" THEN {1 << j}L ELSE 0L END)"
        for j in range(bits)
    )
    sim = F.expr(f"CAST({sim_terms} AS BIGINT)")
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, *, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Blocking: the 60-bit fingerprint splits into 4 chunks of 15 bits;
    by pigeonhole, any pair within hamming 3 agrees on ≥1 chunk, so
    candidates come from 4 equi-joins (union), never a cross join.

    The chunk self-join runs over DISTINCT signatures, not documents:
    exact-duplicate clusters share one signature, so a 10⁵-document
    template cluster contributes ONE row per join bucket instead of
    10⁵ (the join-skew killer on template-heavy corpora), and every
    qualifying signature pair expands back to document pairs at the
    end. A document pair maps to exactly one ordered signature pair,
    so no distinct() over the (inherently quadratic-in-cluster-size)
    pair output is needed."""
    # materialize the signature table (n rows, two longs) before the
    # self-join: both join branches would otherwise recompute the whole
    # tokenize→hash→count lineage
    sig = simhash(df, id_col, text_col).localCheckpoint(eager=False)
    usig = sig.select("simhash").distinct()
    chunks = usig.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), 15 * c)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("_c"),
    ).select("simhash", "_c.chunk_idx", "_c.chunk_val")
    a = chunks.select(F.col("simhash").alias("sim_a"), "chunk_idx", "chunk_val")
    b = chunks.select(F.col("simhash").alias("sim_b"), "chunk_idx", "chunk_val")
    sig_pairs = (
        a.join(b, on=["chunk_idx", "chunk_val"])
        # <= keeps the (s, s) diagonal: exact-duplicate cliques expand
        # to within-cluster pairs below
        .filter(F.col("sim_a") <= F.col("sim_b"))
        .select(
            "sim_a",
            "sim_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # a pair of signatures appears once per agreeing chunk (≤ 4) —
        # distinct() over signature pairs, a far smaller set than
        # document pairs
        .distinct()
    )
    da = sig.select(F.col(id_col).alias("_ida"), F.col("simhash").alias("sim_a"))
    db = sig.select(F.col(id_col).alias("_idb"), F.col("simhash").alias("sim_b"))
    return (
        sig_pairs.join(da, on="sim_a")
        .join(db, on="sim_b")
        .filter(F.col("_ida") != F.col("_idb"))
        .filter((F.col("sim_a") < F.col("sim_b")) | (F.col("_ida") < F.col("_idb")))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )


def sign_block(vec_col, *, bits: int = 16):
    """Axis-aligned sign-LSH block id: bit i of the block is
    ``[x_i >= 0]`` over the first ``bits`` components. This is
    hyperplane LSH with coordinate hyperplanes — positive rescalings
    (and near-dups that keep component signs) land in the same block —
    chosen over random hyperplanes so the blocking is exactly
    expressible in the DuckDB oracle and blocked near-dup stays
    value-checked end-to-end."""
    if isinstance(vec_col, str):
        # one parsed expression (r13-opt): the per-bit Column form cost
        # ~10 py4j round-trips per bit of pure construction time
        terms = " + ".join(
            f"(CASE WHEN `{vec_col}`[{i}] >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(bits)
        )
        return F.expr(f"CAST({terms} AS BIGINT)")
    c = vec_col
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(c[i] >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out.cast("long")


def sign_block_sql(vec_expr: str, *, bits: int = 16) -> str:
    """The DuckDB-SQL mirror of :func:`sign_block` (1-based list
    indexing), so oracles can reproduce the blocking bit-for-bit."""
    return " + ".join(
        f"(CASE WHEN {vec_expr}[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )


def sign_bands(vec_col, *, bands: int = 4, band_bits: int = 16):
    """Multi-band sign-LSH keys (VERDICT r10 #3): band ``k`` covers the
    DISJOINT coordinate slice ``[k·band_bits, (k+1)·band_bits)`` and
    contributes the key ``k·2^band_bits + Σ 2^i·[x_{k·band_bits+i} ≥ 0]``
    — the MinHash banding discipline applied to sign bits. A pair is a
    candidate when ANY band agrees (OR-union of the per-band blocks),
    so a near-dup that flips up to ``bands − 1`` component signs inside
    the banded coordinates STILL collides by pigeonhole — where the
    single-block :func:`sign_block` is a guaranteed miss on the first
    flipped bit. Still axis-aligned, so every band is exactly
    replayable in SQL (:func:`sign_bands_sql`) and blocked near-dup /
    decontamination stays value-checked end-to-end.

    Band WIDTH is the collision dial: 16-bit bands keep the expected
    random-collision rate at the single-block scheme's n²/65536 per
    band (×bands) — the dHash/simhash word discipline — where 8-bit
    bands would be n²/256 per band, quadratic-with-a-small-constant at
    corpus scale (measured 7× slower on the sf0.1 fixture before this
    default was widened). With the 4×16 default the bands tile the
    FULL 64 dimensions, so ≤ 3 sign flips ANYWHERE still leave one
    clean band. A vector shorter than ``bands·band_bits`` fails loudly
    (ANSI out-of-bounds — the Spark 4 default; identical in both
    construction paths, pinned by tests/test_expr_parity.py). Returns
    an ``array<long>`` of ``bands`` keys; explode + equi-join per
    key."""
    if isinstance(vec_col, str):
        # one parsed expression per band (r13-opt): the per-bit Column
        # form was ~650 py4j round-trips of construction per call
        keys_sql = []
        for k in range(bands):
            terms = " + ".join(
                f"(CASE WHEN `{vec_col}`[{k * band_bits + i}] >= 0"
                f" THEN {1 << i} ELSE 0 END)"
                for i in range(band_bits)
            )
            keys_sql.append(f"CAST({k * (1 << band_bits)} + {terms} AS BIGINT)")
        return F.expr("array(" + ", ".join(keys_sql) + ")")
    c = vec_col
    keys = []
    for k in range(bands):
        out = F.lit(k * (1 << band_bits))
        for i in range(band_bits):
            out = out + F.when(
                c[k * band_bits + i] >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
        keys.append(out.cast("long"))
    return F.array(*keys)


def sign_bands_sql(vec_expr: str, *, bands: int = 4, band_bits: int = 16) -> list[str]:
    """DuckDB mirrors of :func:`sign_bands` (1-based list indexing),
    one key expression per band — oracles ``unnest`` the list to
    replay the OR-union blocking bit-for-bit."""
    return [
        f"({k * (1 << band_bits)} + "
        + " + ".join(
            f"(CASE WHEN {vec_expr}[{k * band_bits + i + 1}] >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(band_bits)
        )
        + ")"
        for k in range(bands)
    ]


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    block_col: str | None = None,
    bands_col: str | None = None,
    strategy: str = "expr",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos_sim ≥ threshold).

    With ``block_col`` the self-join is an equi-join within blocks
    (e.g. an LSH bucket or cluster id) — the scale path. With
    ``bands_col`` (an array of per-band keys, :func:`sign_bands`) the
    keys explode and the equi-join runs per band with an OR-union of
    candidates — same scale shape, but a pair survives a sign flip in
    any ``bands − 1`` bands (VERDICT r10 #3); duplicate cross-band
    candidates collapse on the pair key before the cosine verify.
    Without either the pair space is O(n²): ``strategy="expr"``
    evaluates it as a Catalyst cross join (exact left-fold arithmetic,
    oracle-grade); ``strategy="blas"`` broadcasts the corpus matrix
    and computes one numpy matmul per partition — orders of magnitude
    faster, values equal to the expr path up to BLAS summation order
    (≪1e-12, safe under round-4 output).
    """
    if strategy not in ("expr", "blas"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if block_col is not None and bands_col is not None:
        raise ValueError("block_col and bands_col are mutually exclusive")
    if strategy == "blas":
        if block_col is not None or bands_col is not None:
            raise ValueError("blas strategy implies all-pairs; drop blocking")
        return _neardup_blas(df, id_col, vec_col, threshold=threshold)
    if bands_col is not None:
        a = df.select(
            F.col(id_col).alias(f"{id_col}_a"),
            F.col(vec_col).alias(f"{vec_col}_a"),
            F.explode(F.col(bands_col)).alias("_bkey"),
        )
        b = df.select(
            F.col(id_col).alias(f"{id_col}_b"),
            F.col(vec_col).alias(f"{vec_col}_b"),
            F.explode(F.col(bands_col)).alias("_bkey"),
        )
        va, vb = F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")
        return (
            a.join(b, on="_bkey")
            .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
            # OR-union: a pair agreeing in several bands appears once
            # per agreeing band (≤ bands). Verify the cosine FIRST —
            # map-side inside the join's codegen, so the ≤ bands×
            # duplicate candidates cost arithmetic only — then collapse
            # on the surviving pair rows. The alternative (dedup before
            # verify) shuffles every candidate WITH both vector copies:
            # on clustered corpora, where band buckets hold whole
            # near-dup cliques, that shuffle dominated the operator
            # (measured 7-10× on the sf0.1 fixture).
            .withColumn("cos_sim", dot(va, vb) / (l2_norm(va) * l2_norm(vb)))
            .filter(F.col("cos_sim") >= threshold)
            .select(
                F.col(f"{id_col}_a").alias("id_a"),
                F.col(f"{id_col}_b").alias("id_b"),
                F.round("cos_sim", 4).alias("cos_sim"),
            )
            .distinct()
        )
    cols = [F.col(id_col), F.col(vec_col)] + ([F.col(block_col)] if block_col else [])
    base = df.select(*cols)
    a = base.select(
        *[c.alias(f"{n}_a") for c, n in zip([F.col(id_col), F.col(vec_col)], [id_col, vec_col])],
        *([F.col(block_col)] if block_col else []),
    )
    b = base.select(
        *[c.alias(f"{n}_b") for c, n in zip([F.col(id_col), F.col(vec_col)], [id_col, vec_col])],
        *([F.col(block_col)] if block_col else []),
    )
    joined = a.join(b, on=block_col) if block_col else a.crossJoin(b)
    va, vb = F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")
    return (
        joined.filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .withColumn("cos_sim", dot(va, vb) / (l2_norm(va) * l2_norm(vb)))
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col(f"{id_col}_a").alias("id_a"),
            F.col(f"{id_col}_b").alias("id_b"),
            F.round("cos_sim", 4).alias("cos_sim"),
        )
    )


_BLAS_MAX_ROWS = 200_000


def _neardup_blas(df: DataFrame, id_col: str, vec_col: str, *, threshold: float) -> DataFrame:
    """All-pairs cosine via broadcast corpus matrix + one matmul per
    partition. Each partition compares only its own rows against the
    full corpus (upper triangle enforced by id), so work distributes
    evenly and nothing but the final survivors shuffles.

    Small-corpus verification path ONLY: it materializes the corpus on
    the driver and broadcasts the normalized matrix, so it is hard-
    capped at ``_BLAS_MAX_ROWS`` rows — beyond that, block the corpus
    (:func:`sign_block` or an IVF/LSH bucket) and use the distributed
    ``block_col`` equi-join instead."""
    from collections.abc import Iterator

    from pyspark.sql import types as T

    spark = df.sparkSession
    n = df.count()
    if n > _BLAS_MAX_ROWS:
        raise ValueError(
            f"blas all-pairs strategy is driver-bound and capped at {_BLAS_MAX_ROWS} rows "
            f"(got {n}); use block_col (e.g. sign_block) for the distributed path"
        )
    corpus = df.select(id_col, vec_col).toPandas()
    ids = corpus[id_col].to_numpy(dtype=np.int64)
    from coltt_spark.operators.ann import _list_col_matrix

    X = _list_col_matrix(corpus[vec_col])
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    bc = spark.sparkContext.broadcast((ids, Xn))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), False),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        ids_b, Xn_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            my_ids = pdf[id_col].to_numpy(dtype=np.int64)
            M = _list_col_matrix(pdf[vec_col])
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)
            S = Mn @ Xn_b.T  # (m, n)
            mask = (S >= threshold) & (my_ids[:, None] < ids_b[None, :])
            ai, bj = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "id_a": my_ids[ai],
                    "id_b": ids_b[bj],
                    "cos_sim": S[ai, bj],
                }
            )

    local = df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col)
    ).mapInPandas(kernel, out_schema)
    return local.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))
