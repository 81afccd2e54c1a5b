"""Pure-Python feed parser: bytes/str -> normalized dict.

Behavior-parity reimplementation of kagisearch/fastfeedparser's parse
path for already-fetched content (reference ``main.py:772-835``; network
fetch is out of scope — the Spark pipeline reads pages at rest).  The
output dict deep-equals the reference's golden fixtures
(``/root/reference/tests/integration/``), which is asserted by
``tests/test_golden_fixtures.py``.
"""

from __future__ import annotations

from typing import Any

from .extract import (
    detect_structure,
    extract_entry_atom,
    extract_entry_generic,
    extract_entry_rss,
    extract_feed_info,
    gate_non_feed_root,
)
from .htmlsoup import meta_refresh_url
from .jsonfeed import try_parse_json_feed
from .prep import prepare_feed_bytes
from .xmlio import load_feed_xml

__all__ = ["parse_feed", "meta_refresh_url", "FeedError"]


class FeedError(ValueError):
    """Unparseable or non-feed payload; str(err) is the error-class text."""


def parse_feed(
    source: str | bytes,
    include_content: bool = True,
    include_tags: bool = True,
    include_media: bool = True,
    include_enclosures: bool = True,
    with_feed_type: bool = False,
) -> dict[str, Any]:
    """Parse feed payload (XML or JSON Feed) into {'feed': ..., 'entries': [...]}.

    The four include_* flags are the reference's projection-pruning knobs
    (main.py:838-845); the Spark parse stage keeps every field.
    ``with_feed_type=True`` adds a ``feed_type`` key carrying the
    structure detector's verdict (rss/atom/rdf/json) — what the Spark
    layer surfaces as a column (byte-sniffing the payload instead can
    mislabel, e.g. an RSS body that merely mentions ``<feed``).
    """
    as_json = try_parse_json_feed(
        source,
        include_content=include_content,
        include_tags=include_tags,
        include_enclosures=include_enclosures,
    )
    if as_json is not None:
        if with_feed_type:
            as_json["feed_type"] = "json"
        return as_json

    data = prepare_feed_bytes(source)
    doc = load_feed_xml(data)
    gate_non_feed_root(doc, data)
    feed_type, channel, items, atom_ns = detect_structure(doc, data)

    info = extract_feed_info(channel, feed_type, atom_ns, include_tags=include_tags)

    has_media_ns = b"search.yahoo.com/mrss" in data

    entries: list[dict[str, Any]] = []
    default_atom = atom_ns or "http://www.w3.org/2005/Atom"
    for item in items:
        if feed_type == "rss":
            entry = extract_entry_rss(
                doc, item, default_atom, has_media_ns,
                include_content, include_tags, include_media, include_enclosures,
            )
        elif feed_type == "atom":
            entry = extract_entry_atom(
                doc, item, default_atom, has_media_ns,
                include_content, include_tags, include_media, include_enclosures,
            )
        else:
            entry = extract_entry_generic(
                doc, item, feed_type, atom_ns, has_media_ns,
                include_content, include_tags, include_media, include_enclosures,
            )
        entry["title"] = entry.get("title", "").strip()
        entry["description"] = entry.get("description", "").strip()
        author = entry.get("author")
        if author:
            detail = {"name": author}
            entry["author_detail"] = detail
            entry["authors"] = [detail]
        entries.append(entry)

    out = {"feed": info, "entries": entries}
    if with_feed_type:
        out["feed_type"] = feed_type
    return out
