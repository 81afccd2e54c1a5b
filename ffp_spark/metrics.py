"""Lineage + quality metrics (operator K10).

* one small aggregate per snapshot (:func:`snapshot_counts`): pages,
  entries and triples (``emit_triples``' own rule, counted per page, no
  explode) per (part_id, error_class) of the parse, folded on the driver
  into the per-partition lineage rows, the error-class histogram
  (reference S11's error taxonomy) and the page count,
* the DataFrame forms of lineage and the histogram, kept as the
  aggregate's differential reference,
* triple-level precision/recall vs a golden triple set via exact-match
  join on (subj, pred, obj, src_url) — the BASELINE.json north metric
  (P >= 0.95 and R >= 0.95).
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .triples import page_triple_count


def snapshot_counts(parsed: DataFrame, snapshot_id: int) -> tuple[pa.Table, dict[str, int], int]:
    """(lineage, error histogram, page count) of one snapshot's parse.

    One grouped aggregate over ``parsed`` (with its pages' ``part_id``)
    sums pages, entries and triples per (part_id, error_class), a page's
    triples by :func:`triples.page_triple_count`, the rule
    ``emit_triples`` explodes; the driver collects its at most n_parts x
    error classes rows and folds them.  ``udfs`` sets ``error`` and
    ``error_class`` together, so a null class is a parsed page.  Lineage
    is an Arrow table with one row per part of ``parsed``: part_id,
    n_pages, n_parsed, n_errors, n_entries, n_triples, snapshot_id,
    status."""
    rows = (
        parsed.groupBy("part_id", "error_class")
        .agg(
            F.count(F.lit(1)).alias("pages"),
            F.sum(F.coalesce(F.size("entries"), F.lit(0))).alias("entries"),
            F.sum(page_triple_count()).alias("triples"),
        )
        .collect()
    )
    parts: dict[int, Counter] = defaultdict(Counter)
    errors: Counter = Counter()
    for r in rows:
        p = parts[r.part_id]
        p["n_pages"] += r.pages
        p["n_parsed" if r.error_class is None else "n_errors"] += r.pages
        p["n_entries"] += r.entries
        p["n_triples"] += r.triples
        if r.error_class is not None:
            errors[r.error_class] += r.pages
    ids = sorted(parts)
    counts = ("n_pages", "n_parsed", "n_errors", "n_entries", "n_triples")
    lineage = pa.table({
        "part_id": pa.array(ids, pa.int32()),
        **{c: pa.array([parts[i][c] for i in ids], pa.int64()) for c in counts},
        "snapshot_id": pa.array([snapshot_id] * len(ids), pa.int32()),
        "status": pa.array(["done"] * len(ids), pa.string()),
    })
    return lineage, dict(errors), sum(p["n_pages"] for p in parts.values())


def partition_lineage(parsed: DataFrame, snapshot_id: int) -> DataFrame:
    """Counts per explicit part_id (url-hash partition), map-side combined.

    The differential reference for :func:`snapshot_counts`' lineage:
    its callers are the traced replay (``perfbench/replay.py``) and the
    aggregate's differential test, and it goes with the replay (ROADMAP
    Direction 1)."""
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
    """Pages per non-null ``error_class``.

    The differential reference for :func:`snapshot_counts`' histogram:
    its callers are the traced replay (``perfbench/replay.py``), the
    aggregate's differential test and ``tests/test_parse_stage.py``, and
    it goes with the replay (ROADMAP Direction 1)."""
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
