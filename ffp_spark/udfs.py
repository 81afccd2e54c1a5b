"""Vectorized parse stage (operator K1, SURVEY.md §2.B).

``parse_pages`` maps the PAGES table through the pure-Python parser via
``mapInArrow`` — Arrow-batched, one Python worker per core, no per-row
Python UDFs (north-rule API requirement).  Catalyst sees a typed
PARSED_SCHEMA output, so nested-schema pruning applies downstream.

Reference parity: the parse itself is ffp_spark.feedparse (golden-tested
against the reference's integration fixtures).  Its dicts go to Arrow as
they are: Arrow takes the schema's fields by name, ignores extra keys
and sets missing ones to null.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from .schemas import PARSED_SCHEMA


def _classify_error(exc: Exception) -> str:
    msg = str(exc)
    if "HTML" in msg:
        return "html_page"
    if "Empty content" in msg or "empty content" in msg:
        return "empty"
    if "OPML" in msg or "sitemap" in msg:
        return "not_feed"
    if "status message" in msg or "returned error" in msg:
        return "server_error"
    if "Unknown feed type" in msg or "Unknown Atom namespace" in msg:
        return "unknown_type"
    if "missing channel" in msg:
        return "bad_structure"
    if "parse XML" in msg or "parsed as XML" in msg:
        return "xml_error"
    return "other"


_ZLIB_SECOND = (0x01, 0x5E, 0x9C, 0xDA)


def _maybe_decompress(payload: bytes, enc: Optional[str]) -> bytes:
    """Stored-payload decompression, mirroring the reference's
    Content-Encoding handling (main.py:443-475) for at-rest pages.

    An explicit ``content_encoding`` column value wins; otherwise magic
    bytes are sniffed (gzip 1f 8b; zlib 78 xx with a valid header
    checksum — the FCHECK field makes the two-byte header a multiple of
    31, so text false-positives are excluded).  Raises ValueError on
    a declared encoding that fails to decompress (callers turn that
    into an error ROW, never a task failure)."""
    import gzip
    import zlib

    enc = (enc or "").lower()
    if enc in ("gzip", "x-gzip") or (not enc and payload[:2] == b"\x1f\x8b"):
        try:
            return gzip.decompress(payload)
        except Exception as exc:
            raise ValueError(f"failed to decompress gzip payload: {exc}") from exc
    if enc == "deflate":
        try:
            return zlib.decompress(payload)
        except zlib.error:
            try:
                return zlib.decompress(payload, -zlib.MAX_WBITS)
            except Exception as exc:
                raise ValueError(f"failed to decompress deflate payload: {exc}") from exc
    if enc == "br":
        try:
            import brotli  # not shipped in this sandbox; gate behind import
        except ImportError as exc:
            raise ValueError(
                "Received brotli-compressed response but 'brotli' is not installed"
            ) from exc
        try:
            return brotli.decompress(payload)
        except Exception as exc:
            raise ValueError(f"failed to decompress brotli payload: {exc}") from exc
    if (
        not enc
        and len(payload) >= 2
        and payload[0] == 0x78
        and payload[1] in _ZLIB_SECOND
        and (payload[0] * 256 + payload[1]) % 31 == 0
    ):
        try:
            return zlib.decompress(payload)
        except zlib.error:
            return payload  # sniff was wrong; parse the raw bytes
    return payload


# what from_pylist raises on a value its field cannot hold (OverflowError:
# an int beyond int64, such as a JSON Feed size_in_bytes of 2**63)
_UNFIT = (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError)


def _fitted(rec: dict[str, Any], schema: pa.Schema) -> dict[str, Any]:
    """``rec``, or its error row if Arrow cannot convert it to ``schema``."""
    try:
        pa.RecordBatch.from_pylist([rec], schema=schema)
    except _UNFIT as exc:
        return {**rec, "feed_type": None, "feed": None, "entries": None,
                "error": str(exc)[:500], "error_class": _classify_error(exc)}
    return rec


def parse_page_rows(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow worker: PAGES record batches -> PARSED record batches.

    mapInArrow, not mapInPandas: converting large binary columns into
    pandas object arrays serializes badly under concurrency (measured
    ~15x slower at 32 cores); pyarrow list/struct building stays in C.
    """
    from .feedparse import parse_feed  # import on executor

    out_schema = to_arrow_schema(PARSED_SCHEMA)
    for batch in batches:
        names = set(batch.schema.names)
        urls = batch.column("url").to_pylist()
        htmls = batch.column("html").to_pylist()
        tss = batch.column("warc_ts").to_pylist() if "warc_ts" in names else [None] * len(urls)
        langs = batch.column("lang").to_pylist() if "lang" in names else [None] * len(urls)
        encs = (
            batch.column("content_encoding").to_pylist()
            if "content_encoding" in names
            else [None] * len(urls)
        )
        rows: list[dict[str, Any]] = []
        for url, payload, ts, lang, enc in zip(urls, htmls, tss, langs, encs):
            rec: dict[str, Any] = {
                "url": url,
                "warc_ts": ts,
                "lang": lang,
                "feed_type": None,
                "feed": None,
                "entries": None,
                "error": None,
                "error_class": None,
            }
            if payload is None:
                rec["error"], rec["error_class"] = "null payload", "empty"
                rows.append(rec)
                continue
            try:
                try:
                    payload = _maybe_decompress(payload, enc)
                except ValueError as exc:
                    rec["error"] = str(exc)[:500]
                    rec["error_class"] = "decompress_error"
                    rows.append(rec)
                    continue
                parsed = parse_feed(payload, with_feed_type=True)
                # a JSON Feed's size_in_bytes is taken as given: anything
                # but an int commits as a null enclosure length
                for entry in parsed["entries"]:
                    for encl in entry.get("enclosures") or ():
                        if not isinstance(encl.get("length"), int):
                            encl["length"] = None
                rec["feed"] = parsed["feed"]
                rec["entries"] = parsed["entries"]
                # the structure detector's verdict, not a byte re-sniff
                # (an RSS body mentioning "<feed" must not label as atom)
                rec["feed_type"] = parsed["feed_type"]
            except Exception as exc:  # error row, never a task failure
                rec["error"] = str(exc)[:500]
                rec["error_class"] = _classify_error(exc)
                # offline analogue of the reference's meta-refresh retry
                # (main.py:877-893): record the redirect target so
                # pipeline.resolve_meta_refresh can resolve it (SURVEY S3)
                if rec["error_class"] == "html_page":
                    try:
                        from .feedparse import meta_refresh_url

                        target = meta_refresh_url(payload, url or "")
                        if target:
                            rec["error"] = f"meta_refresh:{target}"
                            rec["error_class"] = "meta_refresh"
                    except Exception:
                        pass
            rows.append(rec)
        try:
            out = pa.RecordBatch.from_pylist(rows, schema=out_schema)
        except _UNFIT:
            # some page holds a value the schema cannot (a JSON Feed
            # item's numeric id): convert page by page, so only that
            # page becomes an error row and its batch-mates still parse
            out = pa.RecordBatch.from_pylist(
                [_fitted(rec, out_schema) for rec in rows], schema=out_schema
            )
        yield out


def parse_pages(pages: DataFrame) -> DataFrame:
    """PAGES -> PARSED.  Column-prunes the scan to what the parse needs
    (url/warc_ts/lang/html) before crossing into Python."""
    cols = [
        c
        for c in ("url", "warc_ts", "html", "lang", "content_encoding")
        if c in pages.columns
    ]
    return pages.select(*cols).mapInArrow(parse_page_rows, schema=PARSED_SCHEMA)
