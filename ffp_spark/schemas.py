"""Frozen engine schemas (SURVEY.md §1.2).

The reference's dynamic/sparse dict model maps to fixed superset
StructTypes with nullable fields (absent key ≡ NULL).  Date fields that
the reference emits as ISO-8601 UTC *strings* stay StringType here for
byte identity; analytics derive TimestampType via to_timestamp.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(name: str) -> StructField:
    return StructField(name, StringType(), True)


# Input table shape fixed by BASELINE.json input_hint.
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

DETAIL_STRUCT = StructType([_s("type"), _s("language"), _s("base"), _s("value")])
LINK_STRUCT = StructType([_s("rel"), _s("type"), _s("href"), _s("title")])
TAG_STRUCT = StructType([_s("term"), _s("scheme"), _s("label")])
GENERATOR_STRUCT = StructType([_s("name"), _s("version"), _s("href")])
AUTHOR_STRUCT = StructType([_s("name")])
ENCLOSURE_STRUCT = StructType(
    [_s("url"), _s("type"), StructField("length", LongType(), True)]
)
MEDIA_STRUCT = StructType(
    [
        _s("url"),
        _s("type"),
        _s("medium"),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        _s("title"),
        _s("text"),
        _s("description"),
        _s("credit"),
        _s("credit_scheme"),
        _s("thumbnail_url"),
    ]
)

FEED_STRUCT = StructType(
    [
        _s("title"),
        _s("link"),
        _s("subtitle"),
        _s("generator"),
        _s("publisher"),
        _s("author"),
        _s("id"),
        _s("language"),
        _s("updated"),  # raw string — feed-level dates are not normalized
        _s("comments"),
        _s("icon"),
        _s("favicon"),
        StructField("title_detail", DETAIL_STRUCT, True),
        StructField("subtitle_detail", DETAIL_STRUCT, True),
        StructField("generator_detail", GENERATOR_STRUCT, True),
        StructField("links", ArrayType(LINK_STRUCT), True),
        StructField("tags", ArrayType(TAG_STRUCT), True),
    ]
)

ENTRY_STRUCT = StructType(
    [
        _s("id"),
        _s("title"),
        _s("description"),
        _s("link"),
        _s("published"),  # ISO-8601 UTC string (normalized)
        _s("updated"),
        _s("author"),
        _s("comments"),
        _s("image"),
        _s("banner_image"),
        StructField("author_detail", AUTHOR_STRUCT, True),
        StructField("links", ArrayType(LINK_STRUCT), True),
        StructField("tags", ArrayType(TAG_STRUCT), True),
        StructField("content", ArrayType(DETAIL_STRUCT), True),
        StructField("enclosures", ArrayType(ENCLOSURE_STRUCT), True),
        StructField("media_content", ArrayType(MEDIA_STRUCT), True),
    ]
)

PARSED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("lang", StringType(), True),
        StructField("feed_type", StringType(), True),
        StructField("feed", FEED_STRUCT, True),
        StructField("entries", ArrayType(ENTRY_STRUCT), True),
        StructField("error", StringType(), True),
        StructField("error_class", StringType(), True),
    ]
)

# schema.org-flavored predicate vocabulary (north_star spec)
PRED_PUBLISHED_AT = "publishedAt"
PRED_AUTHOR = "author"
PRED_PART_OF_FEED = "partOfFeed"
PRED_HAS_ENTRY = "hasEntry"
