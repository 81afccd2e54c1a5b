"""Lineage + quality metrics (operator K10).

* per-partition lineage rows: counts per (snapshot_id, part_id) for
  pages/parsed/errors/entries/triples,
* error-class histogram (reference S11's error taxonomy as a groupBy),
* triple-level precision/recall vs a golden triple set via exact-match
  join on (subj, pred, obj, src_url) — the BASELINE.json north metric
  (P >= 0.95 and R >= 0.95).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def partition_lineage(parsed: DataFrame, snapshot_id: int) -> DataFrame:
    """Counts per explicit part_id (url-hash partition), map-side combined."""
    return (
        parsed.groupBy("part_id")
        .agg(
            F.count("*").alias("n_pages"),
            F.count(F.when(F.col("error").isNull(), 1)).alias("n_parsed"),
            F.count(F.when(F.col("error").isNotNull(), 1)).alias("n_errors"),
            F.sum(F.coalesce(F.size("entries"), F.lit(0))).alias("n_entries"),
        )
        .withColumn("snapshot_id", F.lit(snapshot_id))
        .withColumn("status", F.lit("done"))
    )


def error_histogram(parsed: DataFrame) -> DataFrame:
    return (
        parsed.filter(F.col("error_class").isNotNull())
        .groupBy("error_class")
        .count()
    )


def clustering_pairwise_prf(predicted: DataFrame, golden: DataFrame) -> dict[str, float]:
    """Pairwise precision/recall/F1 of an entity clustering.

    Inputs: (item, cluster) assignments.  A "pair" is two items sharing a
    cluster; P = |pred pairs ∩ gold pairs| / |pred pairs|, R likewise.
    Pairs are generated with self-joins on the cluster id — distributed,
    but quadratic in cluster size, so intended for evaluation corpora.
    """

    def pairs(df: DataFrame, cluster_col: str) -> DataFrame:
        a, b = df.alias("a"), df.alias("b")
        return (
            a.join(
                b,
                on=[
                    F.col(f"a.{cluster_col}") == F.col(f"b.{cluster_col}"),
                    F.col("a.item") < F.col("b.item"),
                ],
            )
            .select(F.col("a.item").alias("x"), F.col("b.item").alias("y"))
            .distinct()
        )

    p_pairs = pairs(predicted.select("item", "cluster"), "cluster")
    g_pairs = pairs(golden.select("item", "cluster"), "cluster")
    n_p = p_pairs.count()
    n_g = g_pairs.count()
    n_i = p_pairs.join(g_pairs, ["x", "y"]).count()
    precision = n_i / n_p if n_p else 0.0
    recall = n_i / n_g if n_g else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "n_pred_pairs": n_p,
        "n_gold_pairs": n_g,
        "n_intersect": n_i,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def precision_recall(
    ours: DataFrame, golden: DataFrame, keys: tuple[str, ...] = ("subj", "pred", "obj", "src_url")
) -> dict[str, float]:
    """Exact-match triple P/R.  Both sides deduplicated on the key; the
    intersection is a broadcast-friendly inner join at fixture scale and
    a plain shuffled join at corpus scale (AQE picks the strategy)."""
    ours_d = ours.select(*keys).distinct()
    golden_d = golden.select(*keys).distinct()
    n_ours = ours_d.count()
    n_gold = golden_d.count()
    n_hit = ours_d.join(golden_d, on=list(keys), how="inner").count()
    precision = n_hit / n_ours if n_ours else 0.0
    recall = n_hit / n_gold if n_gold else 0.0
    return {
        "n_ours": n_ours,
        "n_golden": n_gold,
        "n_intersect": n_hit,
        "precision": precision,
        "recall": recall,
    }
