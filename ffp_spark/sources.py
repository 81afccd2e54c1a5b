"""WARC source connector (S8): read web-archive files distributed.

CommonCrawl-style ingestion: a crawl ships as thousands of ~1 GB
.warc(.gz) files, and the scale unit is the FILE — Spark parallelizes
across files (a binaryFile listing packs them into tasks by size), each
task streams its file's bytes into records locally, and only the
projected record fields leave the task.  That is exactly how production
WARC pipelines shard 100 TB crawls; no record-level split index is
needed because file count >> executor count at any realistic crawl
size.  Both readers run one task body, :func:`_read_ranges`, over
(path, start, end) rows: ``read_warc`` gives each file one range,
``read_warc_ranges`` takes the slices of :func:`warc_split_ranges`
(the single-huge-file case), which start only where the reader's own
scanner starts a record and, in a gzip file, its decompressor a member.

Memory profile: a task never holds a file.  It reads its range through
``pyarrow.fs`` in ``_IN_CHUNK`` slices; gzip members decompress one at
a time through a capped ``zlib.decompressobj`` window (never
``gzip.decompress`` of the whole stream), records parse incrementally
out of a rolling buffer, and output leaves the task as bounded Arrow
batches (``_BATCH_RECORDS`` rows / ``_BATCH_BYTES`` payload bytes per
batch).  Peak task heap is therefore about one read chunk + the
inflation window (``_OUT_CAP``) + the largest record + one batch,
independent of both the compressed and the raw archive size (measured:
bench/warc_stress.py, row in SCALE.md); the split index runs the same
decompressor and scanner, so its bound is the same less the batch.
The one exception is a corrupt gzip member: its error row carries the
rest of the range, from the read chunk in which zlib rejects the member
to the end of the range.

Error discipline (pipeline-wide invariant): malformed bytes NEVER fail
the task.  Corrupt gzip members, non-numeric Content-Length, non-UTF8
header bytes, truncated records and trailing garbage all become
``rec_type='error'`` rows carrying the unparseable remainder.  A
damaged member holding one record yields it as an error row, never as
a normal one (the CRC rule of :func:`_gunzip_stream`); a member holding
several records can still emit its earlier records before its CRC is
checked.

Format essentials implemented here (public WARC/1.1 spec, ISO 28500):
records are "WARC/1.0\\r\\n" + header lines + CRLF CRLF + exactly
Content-Length payload bytes + CRLF CRLF.  The .gz variant
concatenates one gzip member per record (the CommonCrawl layout); the
reader handles records spanning member boundaries and plain
concatenated files equally, because the scanner is a pure byte-stream
consumer.  The encoder exists so tests and queries can synthesize
deterministic archives — byte-for-byte reproducible, no wall clock.
"""

from __future__ import annotations

import gzip
import io
import itertools
import re
import zlib
from collections import deque
from typing import Iterable, Iterator
from urllib.parse import quote

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_CRLF = b"\r\n"

# Bounded-emission knobs: a batch leaves the scanner when either trips.
_BATCH_RECORDS = 256
_BATCH_BYTES = 16 << 20
# Bytes per range read (= compressed bytes fed to the decompressor per
# call) / max inflated bytes pulled back per call — together they cap
# the inflation window.
_IN_CHUNK = 1 << 20
_OUT_CAP = 4 << 20

WARC_SCHEMA = StructType(
    [
        StructField("file", StringType(), False),
        StructField("rec_type", StringType(), True),
        StructField("target_uri", StringType(), True),
        StructField("warc_date", StringType(), True),
        StructField("content_length", LongType(), False),
        StructField("payload", BinaryType(), False),
        # absolute offset of the record in the DECOMPRESSED stream —
        # the CDX-index column (replayable as record-length prefix sums)
        StructField("rec_offset", LongType(), True),
    ]
)


def warc_record(
    rec_type: str,
    target_uri: str | None,
    payload: bytes,
    date: str | None = None,
) -> bytes:
    """One WARC record, spec-shaped (header block + CRLFCRLF + payload
    + CRLFCRLF).  WARC-Record-ID is derived from the target URI and
    WARC-Date is caller-supplied (ISO-8601) or omitted — the encoder is
    a pure function of its arguments, no wall clock."""
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + rec_type.encode(),
        b"WARC-Record-ID: <urn:ffp:" + (target_uri or "none").encode() + b">",
    ]
    if target_uri is not None:
        headers.append(b"WARC-Target-URI: " + target_uri.encode())
    if date is not None:
        headers.append(b"WARC-Date: " + date.encode())
    headers.append(b"Content-Length: " + str(len(payload)).encode())
    return _CRLF.join(headers) + _CRLF + _CRLF + payload + _CRLF + _CRLF


def warc_file_bytes(
    records: Iterable[tuple], gz: bool = False
) -> bytes:
    """Concatenated records — tuples of (rec_type, uri, payload) or
    (rec_type, uri, payload, warc_date); with ``gz`` one gzip member
    per record (mtime pinned to 0 — byte-deterministic)."""
    out = io.BytesIO()
    for rec in records:
        raw = warc_record(*rec)
        if gz:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                g.write(raw)
            out.write(buf.getvalue())
        else:
            out.write(raw)
    return out.getvalue()


def _error_rec(payload: bytes) -> dict:
    return {
        "rec_type": "error",
        "target_uri": None,
        "warc_date": None,
        "content_length": len(payload),
        "payload": payload,
        "rec_offset": None,
    }


class _RecordScanner:
    """Incremental WARC record scanner: ``feed()`` byte chunks in any
    framing, get back the records that completed; ``finish()`` flushes
    the tail.  Uses the Content-Length header to jump payloads — never
    scans payload bytes for record markers (payloads may contain
    'WARC/1.0').  Once the stream stops looking like WARC (garbage
    where a header should start, a Content-Length that cannot be
    parsed so the payload cannot be jumped, or a stream that ends
    before the payload does) the scanner goes
    *poisoned*: everything from that point becomes one error row at
    ``finish()`` — the error-row discipline, incrementally.

    Every record carries ``rec_offset`` = its absolute byte offset in
    the (decompressed) stream the scanner consumed — the CDX-index
    column; replayable as record-length prefix sums."""

    def __init__(self) -> None:
        self._buf = bytearray()
        self._poisoned = False
        self._abs = 0  # absolute stream offset of _buf[0]

    def feed(self, chunk: bytes) -> list[dict]:
        self._buf += chunk
        return self._drain(final=False)

    def finish(self) -> list[dict]:
        return self._drain(final=True) + self.discard()

    def discard(self, tail: bytes = b"") -> list[dict]:
        """The buffered bytes plus ``tail`` as one error row at the
        buffer's offset, completing no record (none if both are empty)."""
        self._buf += tail
        if not self._buf:
            return []
        err = _error_rec(bytes(self._buf))
        err["rec_offset"] = self._abs
        self._abs += len(self._buf)
        self._buf.clear()
        return [err]

    def _drain(self, final: bool) -> list[dict]:
        # scan with an OFFSET and compact the buffer once at the end:
        # deleting from the front per record is O(records * buffer) —
        # quadratic on a whole-archive parse (measured: 451 s on a
        # 1.2 GB buffer before this; 11 s after)
        out: list[dict] = []
        buf = self._buf
        pos, n = 0, len(buf)
        while not self._poisoned and pos < n:
            if n - pos < 5 and not final:
                break  # could still be a partial record magic
            if bytes(buf[pos:pos + 5]) != b"WARC/":
                self._poisoned = True
                break
            hdr_end = buf.find(_CRLF + _CRLF, pos)
            if hdr_end < 0:
                if final:
                    self._poisoned = True  # header never completed
                break
            raw_pairs: list[tuple[bytes, bytes]] = []
            clen_raw = b"0"
            for line in bytes(buf[pos:hdr_end]).split(_CRLF)[1:]:
                k, _, v = line.partition(b":")
                k, v = k.strip().lower(), v.strip()
                raw_pairs.append((k, v))
                if k == b"content-length":
                    clen_raw = v
            if not clen_raw.isdigit():
                self._poisoned = True  # cannot jump the payload safely
                break
            clen = int(clen_raw)
            body_start = hdr_end + 4
            rec_end = body_start + clen + 4  # payload + CRLF CRLF
            if n < rec_end and not final:
                break  # record incomplete; wait for more bytes
            if n < body_start + clen:
                self._poisoned = True  # stream ends inside the payload
                break
            payload = bytes(buf[body_start:body_start + clen])
            try:
                headers = {k.decode(): v.decode() for k, v in raw_pairs}
                out.append(
                    {
                        "rec_type": headers.get("warc-type"),
                        "target_uri": headers.get("warc-target-uri"),
                        "warc_date": headers.get("warc-date"),
                        "content_length": clen,
                        "payload": payload,
                        "rec_offset": self._abs + pos,
                    }
                )
            except UnicodeDecodeError:
                # non-UTF8 header bytes: THIS record becomes an error
                # row (its raw bytes), but the stream stays parseable —
                # Content-Length was digits, so the jump is sound
                err = _error_rec(bytes(buf[pos:min(rec_end, n)]))
                err["rec_offset"] = self._abs + pos
                out.append(err)
            pos = min(rec_end, n)
        if pos:
            self._abs += pos
            del buf[:pos]
        return out


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Split one (decompressed) WARC byte string into records — the
    whole-buffer convenience over :class:`_RecordScanner` (tests and
    small fixtures; the distributed path feeds the scanner
    incrementally).  Malformed bytes yield ``rec_type='error'`` rows,
    never exceptions."""
    s = _RecordScanner()
    return s.feed(data) + s.finish()


class _CorruptGzip(Exception):
    """Raised by :func:`_gunzip_stream` with the damaged member's held
    inflated piece and the not-yet-decompressed rest of the stream, as
    a lazy iterable, so the caller can emit them as error rows."""

    def __init__(self, held: bytes, remaining: Iterable[bytes]) -> None:
        super().__init__("corrupt gzip member")
        self.held = held
        self.remaining = remaining


def _gunzip_stream(
    chunks: Iterable[bytes], member_ends: deque | None = None
) -> Iterator[bytes]:
    """Decompress a (possibly multi-member) gzip stream, given as a
    chunk iterator, member-at-a-time through a bounded window: each
    call is fed at most one chunk and pulls back at most ``_OUT_CAP``
    inflated bytes, so peak inflation memory is O(chunk + _OUT_CAP),
    independent of archive size.  CRC rule: a member's latest inflated
    piece is handed on only after the next decompress call on that
    member succeeds, so its last piece leaves only once zlib has checked
    the member's CRC.  A corrupt member raises :class:`_CorruptGzip`
    with the held piece and the rest of the stream from the chunk that
    failed; a truncated one, with nothing remaining.  ``member_ends``
    gets (compressed, inflated) stream offsets just past each member."""
    it = iter(chunks)
    pending = b""
    taken = 0  # compressed bytes read from ``chunks``
    inflated = 0  # inflated bytes handed on
    while True:
        if not pending:  # at a member boundary (or clean end)
            nxt = next(it, None)
            if nxt is None:
                return
            pending = nxt
            taken += len(nxt)
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        held = b""
        while not d.eof:
            if not pending:
                nxt = next(it, None)
                if nxt is None:
                    raise _CorruptGzip(held, ())  # truncated member
                pending = nxt
                taken += len(nxt)
            try:
                out = d.decompress(pending, _OUT_CAP)
            except zlib.error:
                raise _CorruptGzip(held, itertools.chain([pending], it)) from None
            pending = d.unconsumed_tail
            if out:
                if held:
                    inflated += len(held)
                    yield held
                held = out
        if held:
            inflated += len(held)
            yield held
        # bytes past the member end = start of the next member
        pending = d.unused_data
        if member_ends is not None:
            member_ends.append((taken - len(pending), inflated))


HTTP_HEADER_STRUCT = StructType(
    [
        StructField("name", StringType(), True),
        StructField("value", StringType(), True),
    ]
)

WARC_HTTP_SCHEMA = StructType(
    [
        StructField("file", StringType(), False),
        StructField("rec_type", StringType(), True),
        StructField("target_uri", StringType(), True),
        StructField("warc_date", StringType(), True),
        StructField("http_status", IntegerType(), True),
        StructField("content_type", StringType(), True),
        StructField("http_headers", ArrayType(HTTP_HEADER_STRUCT), True),
        StructField("body", BinaryType(), True),
        StructField("rec_offset", LongType(), True),
    ]
)

_STATUS_RE = re.compile(rb"^HTTP/\d+\.\d+[ \t]+(\d{3})")


def _split_http_one(payload: bytes) -> tuple[int, str | None, list[dict], bytes]:
    """One response payload -> (status, content_type, headers, body).
    Real WARC ``response`` records carry the HTTP status line + headers
    BEFORE the entity body (the reference's fetch path gets this split
    for free from its response object, main.py:443-475; this is the
    at-rest analogue).  Header bytes decode as latin-1 (the HTTP/1.1
    charset — lossless, never raises); the body honors
    Content-Encoding through the same ``_maybe_decompress`` ladder the
    parser uses for stored pages.  Raises ValueError on a payload with
    no header block, a non-HTTP status line, or a declared encoding
    that fails to decompress — callers turn that into an error ROW."""
    from .udfs import _maybe_decompress

    i = payload.find(_CRLF + _CRLF)
    if i < 0:
        raise ValueError("no HTTP header/body separator")
    lines = payload[:i].split(_CRLF)
    m = _STATUS_RE.match(lines[0])
    if m is None:
        raise ValueError("payload does not start with an HTTP status line")
    status = int(m.group(1))
    headers: list[dict] = []
    hmap: dict[str, str] = {}
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        name = k.strip().lower().decode("latin-1")
        value = v.strip().decode("latin-1")
        headers.append({"name": name, "value": value})
        hmap.setdefault(name, value)
    body = _maybe_decompress(payload[i + 4:], hmap.get("content-encoding"))
    return status, hmap.get("content-type"), headers, body


def split_http(records: DataFrame) -> DataFrame:
    """WARC rows -> WARC_HTTP_SCHEMA rows: ``response`` payloads split
    into (http_status, content_type, http_headers, body), with the body
    Content-Encoding-decoded.  Non-response records pass through with
    NULL HTTP columns and ``body = payload``.  Malformed response
    payloads (no CRLFCRLF, non-HTTP status line, undecompressable
    declared encoding) become ``rec_type='error'`` rows carrying the
    raw payload — never task failures.

    mapInArrow (binary payloads stay inside Arrow batches; upstream
    read_warc already bounds batch sizes, so this stage inherits the
    bounded memory profile)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    def run(batches):
        out_schema = to_arrow_schema(WARC_HTTP_SCHEMA)
        for batch in batches:
            rows = []
            for rec in batch.to_pylist():
                payload = bytes(rec["payload"]) if rec["payload"] is not None else b""
                out = {
                    "file": rec["file"],
                    "rec_type": rec["rec_type"],
                    "target_uri": rec["target_uri"],
                    "warc_date": rec["warc_date"],
                    "http_status": None,
                    "content_type": None,
                    "http_headers": None,
                    "body": payload,
                    "rec_offset": rec["rec_offset"],
                }
                if rec["rec_type"] == "response":
                    try:
                        status, ct, headers, body = _split_http_one(payload)
                        out.update(
                            http_status=status,
                            content_type=ct,
                            http_headers=headers,
                            body=body,
                        )
                    except ValueError:
                        out["rec_type"] = "error"
                rows.append(out)
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    return records.mapInArrow(run, schema=WARC_HTTP_SCHEMA)


def _warc_stream(
    chunks: Iterable[bytes], member_ends: deque | None = None
) -> tuple[bool, Iterable[bytes]]:
    """(gzipped, byte stream) of one range: gzip is detected by the
    magic bytes of the first chunk — every range starts at a file start
    or a member and record start."""
    it = iter(chunks)
    head = next(it, b"")
    stream = itertools.chain([head], it)
    if head[:2] != b"\x1f\x8b":
        return False, stream
    return True, _gunzip_stream(stream, member_ends)


def scan_warc_chunks(fname: str, chunks: Iterable[bytes]) -> Iterator[dict]:
    """Stream all records out of one range's chunks (the task body of
    both readers, kept module-level so bench/warc_stress.py measures
    the exact production code path).  A corrupt gzip member turns into
    an error row of the damaged record's bytes at its ``rec_offset`` and
    one of the undecompressed remainder, unconditionally, so corruption
    is never silent even when every byte was already fed."""
    _, stream = _warc_stream(chunks)
    scanner = _RecordScanner()

    def _tag(recs: list[dict]) -> Iterator[dict]:
        for rec in recs:
            rec["file"] = fname
            yield rec

    try:
        for chunk in stream:
            yield from _tag(scanner.feed(chunk))
        yield from _tag(scanner.finish())
    except _CorruptGzip as exc:
        # not finish(): its final drain could complete the damaged record
        yield from _tag(scanner.discard(exc.held))
        yield from _tag([_error_rec(b"".join(exc.remaining))])


def warc_range_starts(chunks: Iterable[bytes]) -> Iterator[int]:
    """The split index of :func:`warc_split_ranges` over one file's
    chunks (module-level so bench/warc_stress.py measures it): offsets
    where :class:`_RecordScanner` starts a record it completes and, in
    a gzip file, :func:`_gunzip_stream` also starts a member, so a
    reader started there continues the whole-file read.  Memory: one
    read chunk + the inflation window + one record.  It stops at a
    corrupt member or unparseable bytes; the rest is the last range."""
    member_ends: deque = deque()
    gzipped, stream = _warc_stream(chunks, member_ends)
    scanner = _RecordScanner()
    try:
        for piece in stream:
            for rec in scanner.feed(piece):
                off = rec["rec_offset"]
                if not gzipped:
                    yield off
                    continue
                while member_ends and member_ends[0][1] < off:
                    member_ends.popleft()
                if member_ends and member_ends[0][1] == off:
                    yield member_ends[0][0]
            if scanner._poisoned:
                return  # it would buffer the rest of the file
    except _CorruptGzip:
        return


def _iter_file_range(uri: str, start: int, end: int) -> Iterator[bytes]:
    """Stream [start, end) of a file in ``_IN_CHUNK`` slices through
    pyarrow.fs — seekable range reads work the same against local
    paths, file://, hdfs:// (with libhdfs), s3:// and gs:// (the
    property that makes range-parallel WARC processing cluster-real,
    not a local-mode trick)."""
    from pyarrow import fs as pafs

    if uri.startswith("file:") and not uri.startswith("file:///"):
        uri = "file:///" + uri[len("file:"):].lstrip("/")
    if "://" in uri:
        # Spark lists Hadoop path strings, which are not percent-encoded
        filesystem, p = pafs.FileSystem.from_uri(quote(uri, safe=":/@"))
    else:
        filesystem, p = pafs.LocalFileSystem(), uri
    with filesystem.open_input_file(p) as f:
        if start:
            f.seek(start)
        remaining = end - start
        while remaining > 0:
            chunk = f.read(min(_IN_CHUNK, remaining))
            if not chunk:
                break
            remaining -= len(chunk)
            yield chunk


def warc_split_ranges(
    spark: SparkSession, path: str, target_bytes: int = 64 << 20
) -> DataFrame:
    """First-pass index for RANGE-parallel WARC processing: one row
    per ~``target_bytes`` slice of each archive, every slice starting
    at a record start that is, in a gzip file, also a member start
    (:func:`warc_range_starts`).  This is the fix for the pathological
    single-huge-file case — file-level parallelism is right when file
    count >> executor count, but one 50 GB archive serializes; an
    offset index restores balance at the cost of one extra streaming
    pass.

    The index pass streams each file through pyarrow.fs (column-pruned
    binaryFile listing — content is never loaded here) into the
    reader's own decompressor and scanner, so its memory is the
    reader's: one read chunk + the inflation window + one record.
    Returns (path, start, end)."""
    files = spark.read.format("binaryFile").load(path).select("path", "length")

    def index(batches):
        import pyarrow as pa

        schema = pa.schema(
            [("path", pa.string()), ("start", pa.int64()), ("end", pa.int64())]
        )
        for batch in batches:
            rows = []
            for uri, length in zip(
                batch.column("path").to_pylist(),
                batch.column("length").to_pylist(),
            ):
                start = 0
                for off in warc_range_starts(_iter_file_range(uri, 0, length)):
                    if off - start >= target_bytes:
                        rows.append({"path": uri, "start": start, "end": off})
                        start = off
                if start < length:
                    rows.append({"path": uri, "start": start, "end": length})
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return files.mapInArrow(index, schema="path string, start long, end long")


def _read_ranges(ranges: DataFrame) -> DataFrame:
    """(path, start, end) rows -> WARC_SCHEMA rows: each task streams
    only its byte ranges through pyarrow.fs and emits bounded Arrow
    batches (``_BATCH_RECORDS`` / ``_BATCH_BYTES``)."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    def run(batches):
        out_schema = to_arrow_schema(WARC_SCHEMA)
        rows: list[dict] = []
        nbytes = 0
        for batch in batches:
            for rec in batch.to_pylist():
                uri, start, end = rec["path"], rec["start"], rec["end"]
                fname = uri.rsplit("/", 1)[-1]
                chunks = _iter_file_range(uri, start, end)
                for row in scan_warc_chunks(fname, chunks):
                    rows.append(row)
                    nbytes += len(row["payload"])
                    if len(rows) >= _BATCH_RECORDS or nbytes >= _BATCH_BYTES:
                        yield pa.RecordBatch.from_pylist(rows, schema=out_schema)
                        rows, nbytes = [], 0
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    return ranges.mapInArrow(run, schema=WARC_SCHEMA)


def read_warc_ranges(spark: SparkSession, ranges: DataFrame) -> DataFrame:
    """Second pass: parse WARC records range-parallel.  ``ranges`` is
    (path, start, end) from :func:`warc_split_ranges`; each range is
    one unit of work — repartitioned so slices of the same huge file
    land on different tasks.  Each task streams only its byte ranges
    through pyarrow.fs, with the same scanner and batch bounds as
    :func:`read_warc`.  ``rec_offset`` is range-relative here (the
    decompressed stream restarts at each range start), and a corrupt
    gzip member's error row ends at the end of its range.  Returns
    WARC_SCHEMA rows."""
    # the ranges table is tiny (one row per ~64 MB slice): checkpoint
    # so the read does not re-run the index pass (its job counts them)
    obs = Observation()
    ranges = ranges.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    n_ranges = obs.get["n"]
    src = ranges.repartition(max(1, min(n_ranges, 2048)), "path", "start")
    return _read_ranges(src)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC reader: one range per file — a binaryFile
    listing of (path, length), which never loads ``content``, so files
    of any size read and Spark packs them into tasks by size — parsed
    by :func:`_read_ranges` with an incremental record split and
    bounded Arrow batches (peak profile in the module docstring;
    measured in bench/warc_stress.py).  ``rec_offset`` is absolute in
    the file's decompressed stream.  Malformed members/records become
    ``rec_type='error'`` rows.  Returns WARC_SCHEMA rows.

    Files open through ``pyarrow.fs``, not Hadoop's file system layer:
    local paths and file://, hdfs:// (with libhdfs), s3:// and gs://
    are read; Hadoop-only schemes such as s3a:// or abfs:// are not."""
    files = spark.read.format("binaryFile").load(path)
    return _read_ranges(
        files.select(
            "path", F.lit(0).cast("long").alias("start"), F.col("length").alias("end")
        )
    )
