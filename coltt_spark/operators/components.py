"""Connected components over near-duplicate pair edges → dedup groups.

Pair-level dedup (MinHash/SimHash/Jaccard) emits edges; a pipeline
keeps ONE document per connected component. This resolves components
with distributed min-label propagation: every vertex starts labeled
with its own id, and each round adopts the minimum label among itself
and its neighbors until fixpoint — the component root is its smallest
member id (deterministic canonical survivor).

Scale: each round is one equi-join edges⋈labels + one aggregation —
no adjacency ever sits on one machine. Rounds ≈ graph diameter, and
near-dup graphs are overwhelmingly tiny cliques (diameter ≤ 2), so
convergence takes 1–3 rounds. ``localCheckpoint`` truncates lineage
between rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve (id, root) for every vertex appearing in ``pairs``.
    ``root`` = min id of the component."""
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .unionByName(pairs.select(F.col(dst).alias("s"), F.col(src).alias("t")))
        .distinct()
        # materialize once — every propagation round joins against edges,
        # and without this the full upstream pair pipeline (e.g. MinHash
        # shingling + band join) would re-execute per round. LAZY: the
        # first round's count job materializes it (no standalone job;
        # r14-opt, one fewer action per resolve)
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("root", F.col("id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "s"), on="s")
            .groupBy("t")
            .agg(F.min("root").alias("nb_root"))
            .withColumnRenamed("t", "id")
        )
        new_labels = (
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.least(F.col("root"), F.coalesce("nb_root", F.col("root"))).alias("root"),
                (F.col("nb_root") < F.col("root")).alias("_changed"),
            )
        )
        # LAZY checkpoint + count in ONE action (r14-opt, guide §1.2):
        # the count job materializes the checkpoint as a side effect,
        # so each propagation round costs one job where the eager
        # checkpoint + separate count cost two (each bounded below by
        # the local-mode job floor, ~60 ms for a JVM job; at cluster
        # scale, one scheduler round-trip fewer per round). Subsequent
        # rounds read the materialized partitions, never the lineage.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    return labels


def dedup_groups(pairs: DataFrame, *, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """(id, root, group_size) for every document in a duplicate group;
    the pipeline keeps rows where id == root."""
    comp = connected_components(pairs, src=src, dst=dst)
    sizes = comp.groupBy("root").agg(F.count("*").alias("group_size"))
    return comp.join(sizes, on="root").select("id", "root", "group_size")


def keep_canonical(
    groups: DataFrame,
    scores: DataFrame,
    *,
    id_col: str = "id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Canonical-survivor policy: per duplicate group, keep the member
    with the best ``score_col`` (ties → smallest id) — the keep-the-
    best-copy step a dedup pipeline runs after group resolution
    (min-label root = keep-ANY-copy; this is keep-the-BEST-copy).

    One window per group (partitioned — no global sort); output is one
    row per multi-document group: (root, kept_id, group_size,
    kept_score). Documents outside any group survive by definition and
    are not listed.

    Score coverage: the join is a LEFT join from groups to scores, so
    a member with no score row still competes — it ranks after every
    scored member (nulls last) and surfaces with ``kept_score`` NULL
    if an entirely unscored group wins. Missing scores are therefore
    visible in the output, never a silent drop of the whole group."""
    j = groups.join(
        scores.select(F.col(id_col), F.col(score_col)), on=id_col, how="left"
    )
    w = Window.partitionBy("root").orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "root",
            F.col(id_col).alias("kept_id"),
            "group_size",
            F.col(score_col).alias("kept_score"),
        )
    )
