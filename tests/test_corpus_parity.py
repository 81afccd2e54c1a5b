"""Spark-path parity over the reference's 200-feed benchmark cache:
the distributed parse must agree with the in-process parser row by row
(entry counts + error behavior), and meta-refresh redirects must be
recorded as resolvable error rows."""

import pytest

from ffp_spark.datagen import BENCHMARK_CORPUS, corpus_pages
from ffp_spark.udfs import parse_pages


@pytest.mark.skipif(not BENCHMARK_CORPUS.exists(), reason="no benchmark corpus")
def test_benchmark_corpus_spark_matches_inprocess(spark):
    from ffp_spark.feedparse import parse_feed

    expected: dict[str, int] = {}
    for f in sorted(BENCHMARK_CORPUS.glob("*")):
        url = f"https://corpus.example/0/{f.name}"
        try:
            expected[url] = len(parse_feed(f.read_bytes())["entries"])
        except Exception:
            expected[url] = -1

    parsed = parse_pages(corpus_pages(spark))
    rows = parsed.selectExpr(
        "url", "coalesce(size(entries), -1) as n", "error"
    ).collect()
    assert len(rows) == len(expected)
    bad = [(r.url, r.n, expected[r.url]) for r in rows if r.n != expected[r.url]]
    assert bad == [], bad[:5]


def test_meta_refresh_recorded_as_error_row(spark):
    html = (
        b"<!DOCTYPE html><html><head>"
        b'<meta http-equiv="refresh" content="0; url=https://n.example/feed.xml">'
        b"</head><body>moved</body></html>"
    )
    pages = spark.createDataFrame(
        [("https://o.example/", None, bytearray(html), None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    row = parse_pages(pages).collect()[0]
    assert row.error_class == "meta_refresh"
    assert row.error == "meta_refresh:https://n.example/feed.xml"


_RSS = (
    b'<?xml version="1.0"?><rss version="2.0"><channel>'
    b"<title>Target Feed</title><link>https://t.example/</link>"
    b"<description>d</description>"
    b"<item><title>A</title><link>https://t.example/a</link></item>"
    b"<item><title>B</title><link>https://t.example/b</link></item>"
    b"</channel></rss>"
)

_PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _redirect_html(target: str) -> bytes:
    return (
        b"<!DOCTYPE html><html><head>"
        b'<meta http-equiv="refresh" content="0; url=' + target.encode() + b'">'
        b"</head><body>moved</body></html>"
    )


def _u(name: str) -> str:
    return f"https://{name}.example/"


def _mr(name: str) -> str:
    return f"meta_refresh:{_u(name)}"


_HTML_ERROR = "Content appears to be HTML, not a valid RSS/Atom feed"


class TestMetaRefreshResolution:
    def test_redirect_to_in_corpus_feed_resolves(self, spark):
        from ffp_spark.pipeline import resolve_meta_refresh

        pages = spark.createDataFrame(
            [
                ("https://o.example/", None, bytearray(_redirect_html("https://t.example/feed.xml")), None, "en"),
                ("https://t.example/feed.xml", None, bytearray(_RSS), None, "en"),
            ],
            _PAGES_DDL,
        )
        parsed = parse_pages(pages)
        resolved = resolve_meta_refresh(parsed, pages)
        rows = {r.url: r for r in resolved.collect()}
        assert len(rows) == 2
        # the redirecting url now carries its TARGET's parse result
        orig = rows["https://o.example/"]
        assert orig.error is None and orig.error_class is None
        assert orig.feed.title == "Target Feed"
        assert len(orig.entries) == 2
        # the target itself still parses under its own url
        assert rows["https://t.example/feed.xml"].feed.title == "Target Feed"

    def test_redirect_to_missing_target_keeps_error_row(self, spark):
        from ffp_spark.pipeline import resolve_meta_refresh

        pages = spark.createDataFrame(
            [("https://o.example/", None, bytearray(_redirect_html("https://gone.example/feed.xml")), None, "en")],
            _PAGES_DDL,
        )
        parsed = parse_pages(pages)
        row = resolve_meta_refresh(parsed, pages).collect()[0]
        assert row.error_class == "meta_refresh"
        assert row.error == "meta_refresh:https://gone.example/feed.xml"

    def test_redirect_to_html_target_keeps_target_error(self, spark):
        from ffp_spark.pipeline import resolve_meta_refresh

        plain_html = b"<!DOCTYPE html><html><body>just a page</body></html>"
        pages = spark.createDataFrame(
            [
                ("https://o.example/", None, bytearray(_redirect_html("https://t.example/page.html")), None, "en"),
                ("https://t.example/page.html", None, bytearray(plain_html), None, "en"),
            ],
            _PAGES_DDL,
        )
        parsed = parse_pages(pages)
        rows = {r.url: r for r in resolve_meta_refresh(parsed, pages).collect()}
        # target parsed, but it is an HTML page -> its error propagates
        assert rows["https://o.example/"].error_class == "html_page"

    def test_lineage_counts_resolution_in_run_snapshot(self, spark, tmp_path):
        from ffp_spark.pipeline import run_snapshot
        from ffp_spark.snapshots import read_manifest

        pages = spark.createDataFrame(
            [
                ("https://o.example/", None, bytearray(_redirect_html("https://t.example/feed.xml")), None, "en"),
                ("https://t.example/feed.xml", None, bytearray(_RSS), None, "en"),
            ],
            _PAGES_DDL,
        )
        rep = run_snapshot(spark, pages, str(tmp_path), snapshot_id=1, n_parts=4)
        assert rep["pages"] == 2
        # both rows parsed: the redirect was resolved, so no error classes
        assert rep["errors"] == {}

    @pytest.mark.parametrize(
        "links, expected",
        [
            pytest.param(
                {"a": "b", "b": "c", "c": "d", "d": "f", "f": None},
                [
                    # three hops reach d, which still redirects: d's row
                    ("a", _mr("f"), "meta_refresh", None),
                    ("b", None, None, "Target Feed"),
                    ("c", None, None, "Target Feed"),
                    ("d", None, None, "Target Feed"),
                    ("f", None, None, "Target Feed"),
                ],
                id="chain-longer-than-budget",
            ),
            pytest.param(
                {"a": "a", "o": "a"},
                [
                    # the parse drops a self-referential refresh: a is a
                    # plain HTML page, and so is what o resolves to
                    ("a", _HTML_ERROR, "html_page", None),
                    ("o", _HTML_ERROR, "html_page", None),
                ],
                id="self-redirect",
            ),
            pytest.param(
                {"a": "b", "b": "gone"},
                [
                    ("a", _mr("gone"), "meta_refresh", None),
                    ("b", _mr("gone"), "meta_refresh", None),
                ],
                id="chain-to-missing-target",
            ),
            pytest.param(
                {"a": "f", "b": "f", "f": None},
                [
                    ("a", None, None, "Target Feed"),
                    ("b", None, None, "Target Feed"),
                    ("f", None, None, "Target Feed"),
                ],
                id="two-origins-one-target",
            ),
            pytest.param(
                {"a": "b", "b": "c", "c": "d", "d": "f", "x": "d", "f": None},
                [
                    # d is a's third hop and x's first
                    ("a", _mr("f"), "meta_refresh", None),
                    ("b", None, None, "Target Feed"),
                    ("c", None, None, "Target Feed"),
                    ("d", None, None, "Target Feed"),
                    ("f", None, None, "Target Feed"),
                    ("x", None, None, "Target Feed"),
                ],
                id="target-at-two-depths",
            ),
            pytest.param({}, [], id="empty-parse"),
        ],
    )
    def test_chain_shapes(self, spark, links, expected):
        from ffp_spark.pipeline import resolve_meta_refresh

        pages = spark.createDataFrame(
            [
                (_u(name), None, bytearray(_redirect_html(_u(to)) if to else _RSS), None, "en")
                for name, to in links.items()
            ],
            _PAGES_DDL,
        )
        rows = sorted(
            (r.url, r.error, r.error_class, r.feed.title if r.feed else None)
            for r in resolve_meta_refresh(parse_pages(pages), pages).collect()
        )
        assert rows == [(_u(name), *rest) for name, *rest in expected]

    def test_recrawled_target_resolves_to_its_newest_capture(self, spark):
        from datetime import datetime

        from ffp_spark.pipeline import resolve_meta_refresh

        def capture(year, title):
            return (_u("t"), datetime(year, 1, 1), bytearray(_RSS.replace(b"Target Feed", title)),
                    None, "en")

        origin = (_u("o"), datetime(2023, 5, 6, 7, 8, 9, 123456),
                  bytearray(_redirect_html(_u("t"))), None, "de")

        def resolve(captures):
            pages = spark.createDataFrame([origin, *captures], _PAGES_DDL)
            return next(r for r in resolve_meta_refresh(parse_pages(pages), pages).collect()
                        if r.url == _u("o"))

        old, new = capture(2020, b"Old"), capture(2024, b"New")
        for captures in ([old, new], [new, old]):
            row = resolve(captures)
            # the newest capture's feed, whatever the input order
            assert row.feed.title == "New", captures
            # the redirecting row keeps its own columns outside the payload
            assert (row.url, row.warc_ts, row.lang) == (origin[0], origin[1], origin[4])
        # captures tied on warc_ts: one pick, the same in both orders
        tied = [capture(2024, b"Left"), capture(2024, b"Right")]
        assert resolve(tied) == resolve(tied[::-1])

    @pytest.mark.parametrize("redirects", [0, 1], ids=["redirect-free", "one-hop"])
    def test_resolution_runs_one_job_plus_two_per_hop(self, spark, redirects):
        from ffp_spark.datagen import synth_page, synth_pages
        from ffp_spark.pipeline import resolve_meta_refresh

        pages = synth_pages(spark, 40)
        if redirects:  # one refresh page to a corpus feed: one hop
            pages = pages.unionByName(spark.createDataFrame(
                [(_u("o"), None, bytearray(_redirect_html(synth_page(42, 7)["url"])), None, "en")],
                _PAGES_DDL,
            ))
        parsed = parse_pages(pages).cache()
        try:
            assert parsed.where("error_class = 'meta_refresh'").count() == redirects
            sc = spark.sparkContext

            def jobs(group, run):
                sc.setJobGroup(group, group)
                try:
                    run()
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                return len(sc.statusTracker().getJobIdsForGroup(group))

            # the jobs resolve_meta_refresh adds to reading its input: the
            # redirecting rows' collect, then per hop two, the broadcast of
            # the target urls (one task) and the targets' parse
            plain = jobs(f"parse-only-{redirects}", lambda: parsed.collect())
            resolved = jobs(f"resolve-{redirects}",
                            lambda: resolve_meta_refresh(parsed, pages).collect())
            assert resolved - plain <= 1 + 2 * redirects, (plain, resolved)
        finally:
            parsed.unpersist()


class TestStoredPayloadDecompression:
    def test_gzip_payload_parses_to_same_result(self, spark):
        import gzip

        pages = spark.createDataFrame(
            [
                ("https://a.example/feed", None, bytearray(_RSS), None, "en"),
                ("https://b.example/feed", None, bytearray(gzip.compress(_RSS)), None, "en"),
            ],
            _PAGES_DDL,
        )
        rows = {r.url: r for r in parse_pages(pages).collect()}
        a, b = rows["https://a.example/feed"], rows["https://b.example/feed"]
        assert b.error is None
        assert a.feed == b.feed and a.entries == b.entries

    def test_zlib_payload_sniffed_by_header_checksum(self, spark):
        import zlib

        pages = spark.createDataFrame(
            [("https://z.example/feed", None, bytearray(zlib.compress(_RSS)), None, "en")],
            _PAGES_DDL,
        )
        row = parse_pages(pages).collect()[0]
        assert row.error is None
        assert len(row.entries) == 2

    def test_declared_encoding_column_wins(self, spark):
        import zlib

        # raw-deflate bytes (no zlib header) only decompress when the
        # content_encoding column declares deflate
        co = zlib.compressobj(wbits=-zlib.MAX_WBITS)
        raw_deflate = co.compress(_RSS) + co.flush()
        pages = spark.createDataFrame(
            [("https://d.example/feed", None, bytearray(raw_deflate), None, "en", "deflate")],
            _PAGES_DDL + ", content_encoding string",
        )
        row = parse_pages(pages).collect()[0]
        assert row.error is None and len(row.entries) == 2

    def test_corrupt_gzip_is_error_row_not_task_failure(self, spark):
        pages = spark.createDataFrame(
            [("https://c.example/feed", None, bytearray(b"\x1f\x8b garbage"), None, "en")],
            _PAGES_DDL,
        )
        row = parse_pages(pages).collect()[0]
        assert row.error_class == "decompress_error"

    def test_page_the_schema_cannot_hold_is_error_row_not_task_failure(self, spark):
        import json

        def json_feed(item):
            return bytearray(json.dumps({
                "version": "https://jsonfeed.org/version/1.1",
                "title": "J",
                "items": [{"url": "https://j.example/1", **item}],
            }).encode())

        unfit = {
            "https://id.example/feed.json": {"id": 12345},
            "https://title.example/feed.json": {"id": "t", "title": 7},
            "https://name.example/feed.json": {"id": "n", "authors": [{"name": ["x", "y"]}]},
            "https://size.example/feed.json": {
                "id": "s",
                "attachments": [{"url": "https://j.example/a.mp3", "size_in_bytes": 2**63}],
            },
        }
        pages = spark.createDataFrame(
            [("https://a.example/feed", None, bytearray(_RSS), None, "en")]
            + [(url, None, json_feed(item), None, "en") for url, item in unfit.items()],
            _PAGES_DDL,
        ).coalesce(1)  # one batch: the fitting page shares it with the unfit ones
        rows = {r.url: r for r in parse_pages(pages).collect()}
        ok = rows.pop("https://a.example/feed")
        assert ok.error is None and len(ok.entries) == 2
        assert rows.keys() == unfit.keys()
        for row in rows.values():
            assert row.error_class == "other", row
            assert row.feed is None and row.entries is None and row.feed_type is None
        assert "Expected bytes, got a 'int' object" in rows["https://id.example/feed.json"].error

    def test_brotli_declared_without_library_is_error_row(self, spark):
        pages = spark.createDataFrame(
            [("https://br.example/feed", None, bytearray(b"\x8b\x02\x80data"), None, "en", "br")],
            _PAGES_DDL + ", content_encoding string",
        )
        row = parse_pages(pages).collect()[0]
        # brotli isn't shipped in this sandbox -> deterministic error row
        assert row.error_class == "decompress_error"
        assert "brotli" in row.error

    def test_duplicate_target_rows_do_not_fan_out(self, spark):
        from ffp_spark.pipeline import resolve_meta_refresh

        # the target url appears TWICE in PAGES (re-crawl): the
        # redirecting row must still resolve to exactly one output row
        pages = spark.createDataFrame(
            [
                ("https://o.example/", None, bytearray(_redirect_html("https://t.example/feed.xml")), None, "en"),
                ("https://t.example/feed.xml", None, bytearray(_RSS), None, "en"),
                ("https://t.example/feed.xml", None, bytearray(_RSS), None, "en"),
            ],
            _PAGES_DDL,
        )
        parsed = parse_pages(pages)
        resolved = resolve_meta_refresh(parsed, pages)
        n = resolved.filter("url = 'https://o.example/'").count()
        assert n == 1

    def test_incremental_run_resolves_target_seen_by_parent(self, spark, tmp_path):
        from ffp_spark.pipeline import run_snapshot
        from ffp_spark.snapshots import read_snapshot

        target = ("https://t.example/feed.xml", None, bytearray(_RSS), None, "en")
        base = spark.createDataFrame([target], _PAGES_DDL)
        run_snapshot(spark, base, str(tmp_path), snapshot_id=1, n_parts=4)
        # snapshot 2 adds only the redirecting page; its target was seen
        # by the parent — resolution must still find it in the corpus
        grown = spark.createDataFrame(
            [
                target,
                ("https://o.example/", None, bytearray(_redirect_html("https://t.example/feed.xml")), None, "en"),
            ],
            _PAGES_DDL,
        )
        rep = run_snapshot(
            spark, grown, str(tmp_path), snapshot_id=2, n_parts=4, incremental_from=1
        )
        assert rep["pages"] == 1  # only the delta parsed
        assert rep["errors"] == {}  # the redirect resolved, not an error

    def test_redirect_chain_resolves_through_two_hops(self, spark):
        from ffp_spark.pipeline import resolve_meta_refresh

        # A -> B -> C, C is the feed: A and B both end up with C's parse
        pages = spark.createDataFrame(
            [
                ("https://a.example/", None, bytearray(_redirect_html("https://b.example/")), None, "en"),
                ("https://b.example/", None, bytearray(_redirect_html("https://c.example/feed.xml")), None, "en"),
                ("https://c.example/feed.xml", None, bytearray(_RSS), None, "en"),
            ],
            _PAGES_DDL,
        )
        rows = {r.url: r for r in resolve_meta_refresh(parse_pages(pages), pages).collect()}
        assert rows["https://a.example/"].feed.title == "Target Feed"
        assert rows["https://b.example/"].feed.title == "Target Feed"
        assert rows["https://c.example/feed.xml"].feed.title == "Target Feed"

    def test_redirect_cycle_terminates_with_error_row(self, spark):
        from ffp_spark.pipeline import resolve_meta_refresh

        pages = spark.createDataFrame(
            [
                ("https://a.example/", None, bytearray(_redirect_html("https://b.example/")), None, "en"),
                ("https://b.example/", None, bytearray(_redirect_html("https://a.example/")), None, "en"),
            ],
            _PAGES_DDL,
        )
        rows = {r.url: r for r in resolve_meta_refresh(parse_pages(pages), pages).collect()}
        assert len(rows) == 2
        for r in rows.values():
            assert r.error_class == "meta_refresh"  # bounded, no hang
