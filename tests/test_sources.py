"""WARC source connector (ffp_spark.sources, S8)."""

from __future__ import annotations

from pathlib import Path

from ffp_spark.sources import (
    parse_warc_bytes,
    read_warc,
    warc_file_bytes,
    warc_record,
)


def test_roundtrip_plain_and_gz():
    recs = [
        ("response", "https://a.example/", b"hello world"),
        ("request", "https://a.example/", b""),
        ("metadata", None, b"\x00\x01\x02binary ok"),
    ]
    for gz in (False, True):
        data = warc_file_bytes(recs, gz=gz)
        if gz:
            import gzip

            data = gzip.decompress(data)
        got = parse_warc_bytes(data)
        assert [(r["rec_type"], r["target_uri"], r["payload"]) for r in got] == [
            ("response", "https://a.example/", b"hello world"),
            ("request", "https://a.example/", b""),
            ("metadata", None, b"\x00\x01\x02binary ok"),
        ]
        assert all(r["content_length"] == len(r["payload"]) for r in got)


def test_payload_containing_record_marker_is_not_split():
    # Content-Length jumps MUST win over scanning: a payload embedding
    # a full record header must stay one payload
    evil = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nfake\r\n\r\n"
    data = warc_file_bytes([("response", "u", evil), ("response", "v", b"x")])
    got = parse_warc_bytes(data)
    assert len(got) == 2 and got[0]["payload"] == evil and got[1]["payload"] == b"x"


def test_trailing_garbage_becomes_error_row_not_exception():
    data = warc_file_bytes([("response", "u", b"ok")]) + b"NOT A RECORD"
    got = parse_warc_bytes(data)
    assert [r["rec_type"] for r in got] == ["response", "error"]
    assert got[1]["payload"] == b"NOT A RECORD"


def test_truncated_record_becomes_error_row():
    # the stream ends 50 bytes before the second record's payload does:
    # that record's bytes, from its header on, are one error row
    data = warc_file_bytes([("response", "u", b"ok"), ("response", "v", b"x" * 100)])
    got = parse_warc_bytes(data[:-50])
    assert [r["rec_type"] for r in got] == ["response", "error"]
    start = len(warc_file_bytes([("response", "u", b"ok")]))
    assert got[1]["rec_offset"] == start
    assert got[1]["payload"] == data[start:-50]


def test_read_warc_distributed_multi_file(spark, tmp_path: Path):
    # a directory name that is not a valid URI unescaped: Spark lists
    # it as "file:/.../crawl 1%" and the reader must still open it
    base = tmp_path / "crawl 1%"
    base.mkdir()
    for i, gz in ((0, True), (1, False)):
        recs = [
            ("response", f"https://s{i}.example/{j}", f"doc {i}-{j}".encode())
            for j in range(5)
        ]
        suffix = ".warc.gz" if gz else ".warc"
        (base / f"f{i}{suffix}").write_bytes(warc_file_bytes(recs, gz=gz))
    df = read_warc(spark, str(base / "f*.warc*"))
    rows = df.collect()
    assert len(rows) == 10
    by_file = {}
    for r in rows:
        by_file.setdefault(r.file, []).append(r)
    assert set(by_file) == {"f0.warc.gz", "f1.warc"}
    assert all(
        bytes(r.payload).decode().startswith("doc ") and r.rec_type == "response"
        for r in rows
    )
    assert {r.target_uri for r in by_file["f0.warc.gz"]} == {
        f"https://s0.example/{j}" for j in range(5)
    }


def test_non_numeric_content_length_is_error_row_not_exception():
    # ADVICE r5: int() on a bad Content-Length used to raise inside the
    # task; the remainder must become one error row instead
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: NaN\r\n\r\n"
        b"whatever"
    )
    data = warc_file_bytes([("response", "u", b"ok")]) + bad
    got = parse_warc_bytes(data)
    assert [r["rec_type"] for r in got] == ["response", "error"]
    assert got[1]["payload"] == bad


def test_non_utf8_header_is_error_row_stream_continues():
    # a single record with latin-1 header bytes errors out alone; the
    # stream stays parseable because Content-Length is still digits
    evil = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: caf\xe9\r\n"
        b"Content-Length: 2\r\n\r\nhi\r\n\r\n"
    )
    data = warc_file_bytes([("response", "a", b"x")]) + evil + warc_file_bytes(
        [("response", "b", b"y")]
    )
    got = parse_warc_bytes(data)
    assert [r["rec_type"] for r in got] == ["response", "error", "response"]
    assert got[0]["payload"] == b"x" and got[2]["payload"] == b"y"
    assert got[1]["payload"] == evil


def test_record_spanning_gzip_members():
    # the scanner is a pure stream consumer: a record split across gzip
    # member boundaries (NOT the record-per-member layout) still parses
    import gzip as _gz
    import io as _io

    raw = warc_file_bytes(
        [("response", "u", b"A" * 1000), ("response", "v", b"B" * 1000)]
    )
    out = _io.BytesIO()
    for i in range(0, len(raw), 301):  # members cut mid-record
        buf = _io.BytesIO()
        with _gz.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
            g.write(raw[i:i + 301])
        out.write(buf.getvalue())
    from ffp_spark.sources import _gunzip_stream, _RecordScanner

    s = _RecordScanner()
    recs = []
    for chunk in _gunzip_stream([out.getvalue()]):
        recs += s.feed(chunk)
    recs += s.finish()
    assert [(r["rec_type"], r["payload"]) for r in recs] == [
        ("response", b"A" * 1000),
        ("response", b"B" * 1000),
    ]


def test_gunzip_chunks_window_is_bounded():
    # one highly-compressible 64 MB member must inflate through the
    # capped window, never as one blob
    import gzip as _gz
    import io as _io

    from ffp_spark.sources import _OUT_CAP, _gunzip_stream

    buf = _io.BytesIO()
    with _gz.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(b"z" * (64 << 20))
    total = 0
    for chunk in _gunzip_stream([buf.getvalue()]):
        assert len(chunk) <= _OUT_CAP
        total += len(chunk)
    assert total == 64 << 20


def test_corrupt_gzip_member_becomes_error_row(spark, tmp_path: Path):
    import random

    from ffp_spark.sources import read_warc_ranges, warc_split_ranges

    good = warc_file_bytes([("response", "https://ok.example/", b"fine")], gz=True)
    # > 1 MiB of good members after the corrupt one: the error row must
    # hold all of them, not only the read chunk the error hit
    tail = warc_file_bytes(
        [
            ("response", f"https://t.example/{j}", random.Random(j).randbytes(1 << 20))
            for j in range(3)
        ],
        gz=True,
    )
    data = good + b"\x1f\x8b\x08\x00CORRUPTED-NOT-DEFLATE-DATA" + tail
    (tmp_path / "c.warc.gz").write_bytes(data)
    ranges = warc_split_ranges(spark, str(tmp_path / "c.warc.gz"))
    assert [(r.start, r.end) for r in ranges.collect()] == [(0, len(data))]
    for rows in (
        read_warc(spark, str(tmp_path / "c.warc.gz")).collect(),
        read_warc_ranges(spark, ranges).collect(),
    ):
        assert sorted(r.rec_type for r in rows) == ["error", "response"]
        by_type = {r.rec_type: r for r in rows}
        assert bytes(by_type["response"].payload) == b"fine"
        # the undecompressed remainder is preserved in the error row
        assert bytes(by_type["error"].payload) == data[len(good):]


def test_read_warc_file_over_binaryfile_max_length(spark, tmp_path: Path):
    # read_warc never loads binaryFile's content column, so an archive
    # larger than binaryFile.maxLength still reads in full
    recs = [
        ("response", f"https://big.example/{j}", f"payload-{j}".encode())
        for j in range(40)
    ]
    data = warc_file_bytes(recs, gz=True)
    (tmp_path / "big.warc.gz").write_bytes(data)
    key = "spark.sql.sources.binaryFile.maxLength"
    spark.conf.set(key, str(len(data) - 1))
    try:
        rows = read_warc(spark, str(tmp_path / "big.warc.gz")).collect()
    finally:
        spark.conf.unset(key)
    assert sorted((r.target_uri, bytes(r.payload)) for r in rows) == sorted(
        (u, p) for (_, u, p) in recs
    )


def test_read_warc_many_records_bounded_batches(spark, tmp_path: Path):
    # > _BATCH_RECORDS records in one file: emission crosses the flush
    # boundary and every record still arrives exactly once
    recs = [
        ("response", f"https://m.example/{j}", f"payload-{j}".encode())
        for j in range(700)
    ]
    (tmp_path / "m.warc.gz").write_bytes(warc_file_bytes(recs, gz=True))
    df = read_warc(spark, str(tmp_path / "m.warc.gz"))
    got = sorted(
        (r.target_uri, bytes(r.payload)) for r in df.collect()
    )
    assert got == sorted(
        (u, p) for (_, u, p) in recs
    )


def test_split_http_response_records(spark, tmp_path: Path):
    import gzip as _gz

    html = b"<html>hello</html>"
    gzbody = _gz.compress(b"compressed body", mtime=0)
    recs = [
        (
            "response",
            "https://a.example/ok",
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            b"X-Custom: yes\r\n\r\n" + html,
        ),
        (
            "response",
            "https://a.example/gone",
            b"HTTP/1.0 404\r\nContent-Type: text/plain\r\n\r\nnot here",
        ),
        (
            "response",
            "https://a.example/gz",
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
            b"Content-Type: text/plain\r\n\r\n" + gzbody,
        ),
        ("request", "https://a.example/req", b"GET /ok HTTP/1.1\r\n\r\n"),
        ("response", "https://a.example/bad", b"no header block here"),
    ]
    from ffp_spark.sources import read_warc, split_http, warc_file_bytes

    (tmp_path / "h.warc.gz").write_bytes(warc_file_bytes(recs, gz=True))
    out = {
        r.target_uri: r
        for r in split_http(read_warc(spark, str(tmp_path / "h.warc.gz"))).collect()
    }
    ok = out["https://a.example/ok"]
    assert ok.http_status == 200
    assert ok.content_type == "text/html; charset=utf-8"
    assert bytes(ok.body) == html
    assert {h.name: h.value for h in ok.http_headers}["x-custom"] == "yes"
    gone = out["https://a.example/gone"]
    assert gone.http_status == 404 and bytes(gone.body) == b"not here"
    gz = out["https://a.example/gz"]
    assert gz.http_status == 200 and bytes(gz.body) == b"compressed body"
    reqs = [r for r in out.values() if r.rec_type == "request"]
    assert len(reqs) == 1 and reqs[0].http_status is None
    assert bytes(reqs[0].body) == b"GET /ok HTTP/1.1\r\n\r\n"
    bad = out["https://a.example/bad"]
    assert bad.rec_type == "error" and bad.http_status is None
    assert bytes(bad.body) == b"no header block here"


def test_split_http_bad_declared_encoding_is_error_row(spark, tmp_path: Path):
    recs = [
        (
            "response",
            "https://a.example/liar",
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot gzip at all",
        )
    ]
    from ffp_spark.sources import read_warc, split_http, warc_file_bytes

    (tmp_path / "l.warc.gz").write_bytes(warc_file_bytes(recs, gz=True))
    rows = split_http(read_warc(spark, str(tmp_path / "l.warc.gz"))).collect()
    assert len(rows) == 1 and rows[0].rec_type == "error"
    assert bytes(rows[0].body).endswith(b"not gzip at all")


def test_warc_split_ranges_and_ranged_read_match_whole_read(spark, tmp_path: Path):
    """Range-parallel processing of oversized archives: ranges start at
    safe boundaries and the ranged reader reproduces read_warc's rows
    exactly (offsets are range-relative, so compared without them)."""
    from ffp_spark.sources import read_warc_ranges, warc_split_ranges

    big = [
        ("response", f"https://big.example/{j}", (f"doc-{j}-" * 40).encode())
        for j in range(300)
    ]
    small = [("response", "https://small.example/", b"tiny")]
    (tmp_path / "big.warc.gz").write_bytes(warc_file_bytes(big, gz=True))
    (tmp_path / "plain.warc").write_bytes(warc_file_bytes(big[:100], gz=False))
    (tmp_path / "small.warc.gz").write_bytes(warc_file_bytes(small, gz=True))

    ranges = warc_split_ranges(
        spark, str(tmp_path / "*.warc*"), target_bytes=4096
    )
    rng = sorted(
        (r.path.rsplit("/", 1)[-1], r.start, r.end) for r in ranges.collect()
    )
    by_file: dict[str, list] = {}
    for f, s, e in rng:
        by_file.setdefault(f, []).append((s, e))
    assert len(by_file["big.warc.gz"]) > 3  # the big file actually splits
    assert len(by_file["plain.warc"]) > 3
    assert by_file["small.warc.gz"] == [(0, (tmp_path / "small.warc.gz").stat().st_size)]
    for fname, spans in by_file.items():
        data = (tmp_path / fname).read_bytes()
        # contiguous, full cover
        assert spans[0][0] == 0 and spans[-1][1] == len(data)
        assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
        magic = b"\x1f\x8b" if fname.endswith(".gz") else b"WARC/"
        assert all(data[s:s + len(magic)] == magic for s, _ in spans)

    whole = read_warc(spark, str(tmp_path / "*.warc*"))
    ranged = read_warc_ranges(spark, ranges)
    key = lambda r: (r.file, r.target_uri, bytes(r.payload))  # noqa: E731
    assert sorted(map(key, ranged.collect())) == sorted(map(key, whole.collect()))


def test_rec_offset_is_decompressed_stream_prefix_sum(spark, tmp_path: Path):
    from ffp_spark.sources import warc_record

    recs = [
        ("response", f"https://o.example/{j}", f"payload {j} {'x' * j}".encode())
        for j in range(20)
    ]
    (tmp_path / "o.warc.gz").write_bytes(warc_file_bytes(recs, gz=True))
    rows = {
        r.target_uri: r.rec_offset
        for r in read_warc(spark, str(tmp_path / "o.warc.gz")).collect()
    }
    off = 0
    for rec_type, uri, payload in recs:
        assert rows[uri] == off
        off += len(warc_record(rec_type, uri, payload))
