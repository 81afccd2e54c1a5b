"""Triple emission (operator K2): PARSED -> (subj, pred, obj) rows.

Vocabulary (north_star spec): item->publishedAt, item->author,
item->partOfFeed, feed->hasEntry.  Pure DataFrame ops, no shuffle until
the caller aggregates.  The per-entry rule is held once: four candidate
structs and a non-null test, which :func:`emit_triples` explodes and
filters and :func:`page_triple_count` counts (lineage's triple count).
Subject/object ids follow the reference's id-resolution rules
(entry.id with link fallback, main.py:1445-1450; feed node id =
coalesce(feed.id, feed.link)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .schemas import (
    PRED_AUTHOR,
    PRED_HAS_ENTRY,
    PRED_PART_OF_FEED,
    PRED_PUBLISHED_AT,
)


def _feed_node() -> Column:
    return F.coalesce(F.col("feed.id"), F.col("feed.link"))


def _entry_triples(entry: Column, feed_node: Column) -> Column:
    """The four candidate (subj, pred, obj) structs of one entry."""
    entry_id = entry["id"]
    return F.array(*(
        F.struct(subj.alias("subj"), F.lit(pred).alias("pred"), obj.alias("obj"))
        for subj, pred, obj in (
            (entry_id, PRED_PUBLISHED_AT, entry["published"]),
            (entry_id, PRED_AUTHOR, entry["author"]),
            (entry_id, PRED_PART_OF_FEED, feed_node),
            (feed_node, PRED_HAS_ENTRY, entry_id),
        )
    ))


def _is_triple(t: Column) -> Column:
    return t["subj"].isNotNull() & t["obj"].isNotNull()


def _is_parsed() -> Column:
    return F.col("error").isNull() & F.col("entries").isNotNull()


def exploded_entries(parsed: DataFrame) -> DataFrame:
    """One row per (page, entry); nested-schema pruning keeps the scan
    narrow when callers select few entry fields."""
    return parsed.filter(_is_parsed()).select(
        "url", _feed_node().alias("feed_node"), F.explode("entries").alias("entry")
    )


def emit_triples(parsed: DataFrame) -> DataFrame:
    """PARSED -> TRIPLES (subj, pred, obj, src_url).

    Single-pass: one explode + one generator projection.  (A union of
    four per-predicate projections reads cleaner but Catalyst does not
    de-duplicate the shared mapInArrow subtree, so the Python parse
    stage would execute once per union branch — 4x the work.)"""
    candidates = _entry_triples(F.col("entry"), F.col("feed_node"))
    return (
        exploded_entries(parsed)
        .select(F.explode(candidates).alias("t"), F.col("url").alias("src_url"))
        .filter(_is_triple(F.col("t")))
        .select("t.subj", "t.pred", "t.obj", "src_url")
    )


def page_triple_count() -> Column:
    """Per PARSED row, the number of rows :func:`emit_triples` emits for
    it: the sizes of its entries' filtered candidate arrays, summed."""
    def add(n: Column, e: Column) -> Column:
        kept = F.filter(_entry_triples(e, _feed_node()), _is_triple)
        return n + F.size(kept)

    return F.when(_is_parsed(), F.aggregate("entries", F.lit(0), add)).otherwise(0)


def triples_from_golden_dicts(goldens: dict[str, dict]) -> list[tuple[str, str, str, str]]:
    """Mechanically derive the golden triple set from the reference's
    golden parse dicts (FIXTURES.md §3) — the P/R oracle, no Spark."""
    out: list[tuple[str, str, str, str]] = []
    for url, parsed in goldens.items():
        feed = parsed.get("feed", {})
        feed_node = feed.get("id") or feed.get("link")
        for entry in parsed.get("entries", []):
            eid = entry.get("id")
            if eid is None:
                continue
            published = entry.get("published")
            if published is not None:
                out.append((eid, PRED_PUBLISHED_AT, published, url))
            author = entry.get("author")
            if author is not None:
                out.append((eid, PRED_AUTHOR, author, url))
            if feed_node is not None:
                out.append((eid, PRED_PART_OF_FEED, feed_node, url))
                out.append((feed_node, PRED_HAS_ENTRY, eid, url))
    return out
