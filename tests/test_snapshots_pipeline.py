"""Snapshot commit/read/resume semantics + end-to-end pipeline run."""

import json

import pytest
from pyspark.sql import functions as F

from ffp_spark.datagen import synth_page, synth_pages
from ffp_spark.pipeline import add_part_id, run_snapshot
from ffp_spark.schemas import PAGES_SCHEMA
from ffp_spark.snapshots import (
    current_snapshot_id,
    read_manifest,
    read_snapshot,
    remaining_pages,
    snapshots_of,
    write_snapshot,
)


def _redirects(spark):
    """Redirect pages: a chain r1 -> r2 -> a seed-3 corpus feed, and a
    refresh to a page missing from the corpus."""
    def refresh(url, target):
        html = b'<html><head><meta http-equiv="refresh" content="0; url=%s"></head></html>'
        return (url, None, html % target.encode(), None, "en")

    return spark.createDataFrame(
        [
            refresh("https://r1.example/", "https://r2.example/"),
            refresh("https://r2.example/", synth_page(3, 0)["url"]),
            refresh("https://r3.example/", "https://gone.example/"),
        ],
        PAGES_SCHEMA,
    )


def _jobs_in_group(spark, group, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestSnapshots:
    def test_commit_read_roundtrip(self, spark, tmp_path):
        df = spark.range(100).withColumn("k", F.col("id") % 7)
        nested = df.withColumn("s", F.struct(F.array("k").alias("ks")))  # all non-null
        m = write_snapshot(nested, tmp_path, "t", snapshot_id=1)
        assert m["row_count"] == 100
        # the partition column first in the frame, last in the read
        part = df.select((F.col("k") % 3).cast("int").alias("p"), "id", "k")
        write_snapshot(part, tmp_path, "p", snapshot_id=1, partition_by=["p"])
        for table, cols in (("t", ["id", "k", "s"]), ("p", ["id", "k", "p"])):
            # the manifest holds the schema: reading it runs no job, and
            # gives the columns and types a directory inference gives
            back, jobs = _jobs_in_group(
                spark, f"read-{table}", lambda: read_snapshot(spark, tmp_path, table)
            )
            assert jobs == 0
            inferred = spark.read.parquet(str(tmp_path / table / "snap-1"))
            assert back.columns == cols
            assert back.dtypes == inferred.dtypes
            assert back.count() == 100
        # the manifest records the schema a read serves: every field,
        # nested ones included, nullable
        served = spark.read.parquet(str(tmp_path / "t" / "snap-1")).schema
        assert m["schema"] == served.jsonValue() != nested.schema.jsonValue()
        # no lineage table: each table's newest manifest is its commit
        assert current_snapshot_id(tmp_path, "t") == current_snapshot_id(tmp_path, "p") == 1

    def test_snapshot_evolution_and_time_travel(self, spark, tmp_path):
        write_snapshot(spark.range(10), tmp_path, "t", snapshot_id=1)
        write_snapshot(spark.range(25), tmp_path, "t", snapshot_id=2)
        assert snapshots_of(tmp_path, "t") == [1, 2]
        assert read_snapshot(spark, tmp_path, "t").count() == 25
        assert read_snapshot(spark, tmp_path, "t", snapshot_id=1).count() == 10
        m2 = read_manifest(tmp_path, "t", 2)
        assert m2["parent_snapshot_id"] == 1
        # with a lineage table, only ids with a lineage manifest are
        # committed: a table manifest for snapshot 2 alone is not served
        root = tmp_path / "lineage_root"
        write_snapshot(spark.range(10), root, "t", snapshot_id=1)
        write_snapshot(spark.range(1), root, "lineage", snapshot_id=1)
        write_snapshot(spark.range(25), root, "t", snapshot_id=2)
        assert current_snapshot_id(root, "t") == 1
        assert read_snapshot(spark, root, "t").count() == 10
        assert read_manifest(root, "t", 2)["parent_snapshot_id"] == 1

    def test_no_partial_snapshot_visible(self, spark, tmp_path):
        # a snapshot is served only once its data and manifest are in
        # place: a write that fails leaves the default read where it was
        write_snapshot(spark.range(5), tmp_path, "t", snapshot_id=7)
        tdir = tmp_path / "t"
        assert not list(tdir.glob("_tmp-*"))
        assert current_snapshot_id(tmp_path, "t") == 7
        failing = spark.range(9).where(F.assert_true(F.col("id") < 0).isNull())
        with pytest.raises(Exception):
            write_snapshot(failing, tmp_path, "t", snapshot_id=8)
        assert snapshots_of(tmp_path, "t") == [7]
        assert current_snapshot_id(tmp_path, "t") == 7
        assert read_snapshot(spark, tmp_path, "t").count() == 5
        assert not list(tmp_path.rglob("CURRENT"))

    def test_commit_is_single_scan(self, spark, tmp_path):
        # row count comes from df.observe during the write — exactly one
        # Spark job per committed table, no post-write re-read
        sc = spark.sparkContext
        df = spark.range(1000).withColumn("k", F.col("id") % 3)
        sc.setJobGroup("ws-one-scan", "write_snapshot single-scan check")
        try:
            m = write_snapshot(df, tmp_path, "one", snapshot_id=1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert m["row_count"] == 1000
        jobs = sc.statusTracker().getJobIdsForGroup("ws-one-scan")
        assert len(jobs) == 1

    def test_commit_empty_dataframe(self, spark, tmp_path):
        df = spark.range(5).filter("id < 0").withColumn("k", F.col("id") % 3)
        m = write_snapshot(df, tmp_path, "empty", snapshot_id=1)
        assert m["row_count"] == 0
        back, jobs = _jobs_in_group(
            spark, "read-empty", lambda: read_snapshot(spark, tmp_path, "empty")
        )
        assert jobs == 0
        inferred = spark.read.parquet(str(tmp_path / "empty" / "snap-1"))
        assert back.dtypes == inferred.dtypes
        assert back.count() == 0
        # an empty partitioned commit leaves no data file to infer from:
        # the manifest schema still reads, partition column last
        part = df.select(F.col("k").cast("int").alias("part_id"), "id")
        write_snapshot(part, tmp_path, "empty_p", snapshot_id=1, partition_by=["part_id"])
        back, jobs = _jobs_in_group(
            spark, "read-empty-p", lambda: read_snapshot(spark, tmp_path, "empty_p")
        )
        assert jobs == 0
        assert back.dtypes == [("id", "bigint"), ("part_id", "int")]
        assert back.count() == 0

    def test_bucketed_commit_under_a_relative_root(self, spark, tmp_path, monkeypatch):
        from ffp_spark.snapshots import read_snapshot_bucketed, write_snapshot_bucketed

        monkeypatch.chdir(tmp_path)
        df = spark.range(50).select(
            F.col("id").cast("string").alias("node_id"), (F.col("id") % 3).alias("k")
        )
        m = write_snapshot_bucketed(df, "rel", "nodes", snapshot_id=1, bucket_col="node_id")
        assert m["row_count"] == 50
        assert (tmp_path / "rel" / "nodes" / "snap-1").is_dir()
        assert read_snapshot_bucketed(spark, "rel", "nodes").count() == 50
        assert read_snapshot(spark, "rel", "nodes").count() == 50

    def test_remaining_pages_anti_join(self, spark):
        pages = add_part_id(synth_pages(spark, 100), n_parts=8)
        lineage = spark.createDataFrame(
            [(0, "done"), (1, "done"), (2, "failed")], "part_id int, status string"
        )
        left = remaining_pages(pages, lineage)
        parts = {r.part_id for r in left.select("part_id").distinct().collect()}
        assert 0 not in parts and 1 not in parts and 2 in parts


class TestPipeline:
    def test_run_snapshot_end_to_end(self, spark, tmp_path, monkeypatch):
        from ffp_spark import pipeline

        pages = synth_pages(spark, 120, seed=3)
        tables = {t.name for t in spark.catalog.listTables()}

        # the sizes of the storage RDDs a run has created when linking starts
        def stored():
            return {i.id(): i.memSize() + i.diskSize()
                    for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

        before, held = stored(), []
        link = pipeline.link_and_canonicalize

        def recording_link(*args, **kwargs):
            held.append(sorted(b for i, b in stored().items() if i not in before))
            return link(*args, **kwargs)

        monkeypatch.setattr(pipeline, "link_and_canonicalize", recording_link)
        report = run_snapshot(spark, pages, str(tmp_path / "kg"), snapshot_id=1, n_parts=8)
        # a redirect-free run holds one copy of the parse: its checkpoint
        assert [len(sizes) for sizes in held] == [1], held
        # so does a run with redirects: the rewritten rows are a
        # driver-built local relation, and the targets' parse is not cached
        before, held = stored(), []
        run_snapshot(spark, pages.unionByName(_redirects(spark)), str(tmp_path / "redirects"),
                     snapshot_id=1, n_parts=8)
        assert [len(sizes) for sizes in held] == [1], held
        # a run registers nothing in the session catalog
        assert {t.name for t in spark.catalog.listTables()} == tables
        assert report["pages"] == 120
        assert report["triples"] > 0
        assert report["nodes"] > 0
        assert report["edges"] > 0
        triples = read_snapshot(spark, tmp_path / "kg", "triples")
        preds = {r.pred for r in triples.select("pred").distinct().collect()}
        assert preds == {"publishedAt", "author", "partOfFeed", "hasEntry"}
        lineage = read_snapshot(spark, tmp_path / "kg", "lineage")
        assert lineage.filter("status = 'done'").count() == report["lineage_rows"]
        # lineage totals reconcile with the page count
        assert (
            lineage.agg(F.sum("n_pages").alias("s")).collect()[0].s == 120
        )
        # SURVEY §1.2 schema: every lineage row carries the run's
        # wall-clock bracket (started at run entry, finished at commit)
        stamps = lineage.select("started_ts", "finished_ts").collect()
        assert stamps and all(
            r.started_ts is not None
            and r.finished_ts is not None
            and r.started_ts <= r.finished_ts
            for r in stamps
        )

    def test_committed_nodes_edges_read_back_with_graph_columns(self, spark, tmp_path):
        """Nodes and edges commit with exactly the graph columns, and the
        reads return every committed row."""
        pages = synth_pages(spark, 80, seed=5)
        report = run_snapshot(spark, pages, str(tmp_path), snapshot_id=1, n_parts=8)
        nodes = read_snapshot(spark, tmp_path, "nodes")
        edges = read_snapshot(spark, tmp_path, "edges")
        assert nodes.columns == ["node_id", "kind", "canonical_id", "label"]
        assert edges.columns == ["src", "dst", "pred", "weight"]
        assert report["nodes"] > 0 and report["edges"] > 0
        assert nodes.count() == report["nodes"] == read_manifest(tmp_path, "nodes", 1)["row_count"]
        assert edges.count() == report["edges"] == read_manifest(tmp_path, "edges", 1)["row_count"]

    def test_resume_skips_done_partitions_and_converges(self, spark, tmp_path):
        """A committed snapshot is final: a re-run returns its report and
        runs no job, a re-run over grown input commits nothing, and the
        late pages go to an incremental snapshot equal to a full build."""
        from collections import Counter

        pages = synth_pages(spark, 120, seed=3)
        full = run_snapshot(spark, pages, str(tmp_path), snapshot_id=1, n_parts=8)
        # a second run with the same snapshot_id finds it committed
        again, jobs = _jobs_in_group(spark, "resume-same-input", lambda: run_snapshot(
            spark, pages, str(tmp_path), snapshot_id=1, n_parts=8
        ))
        assert jobs == 0
        assert again == {**full, "pages": 0, "errors": {}}
        # lineage still carries the full history
        lineage = read_snapshot(spark, tmp_path, "lineage")
        assert (
            lineage.agg(F.sum("n_pages").alias("s")).collect()[0].s
            == full["pages"]
        )

        # a re-run over grown input (same first 120 pages) marks no late
        # page seen: it was never parsed
        grown = synth_pages(spark, 180, seed=3)
        assert run_snapshot(spark, grown, str(tmp_path), snapshot_id=1, n_parts=8) == again

        def urls(root, sid):
            return {r.url for r in read_snapshot(spark, root, "pages_seen", sid).collect()}

        assert urls(tmp_path, 1) == {r.url for r in pages.select("url").collect()}
        # the late pages go to an incremental snapshot 2: a full build's rows
        run_snapshot(spark, grown, str(tmp_path), snapshot_id=2, n_parts=8, incremental_from=1)
        run_snapshot(spark, grown, str(tmp_path / "full"), snapshot_id=2, n_parts=8)

        def rows(root, table):
            return Counter(map(tuple, read_snapshot(spark, root, table, snapshot_id=2).collect()))

        for table in ("triples", "nodes", "edges", "pages_seen"):
            assert rows(tmp_path, table) == rows(tmp_path / "full", table), table
        assert len(urls(tmp_path, 2)) == 180

    def test_resume_after_crash_before_lineage_commit(self, spark, tmp_path, monkeypatch):
        """A crash between the data commits and the lineage commit leaves
        the snapshot uncommitted: the re-run re-derives it, without
        doubling triples, and a root holding another snapshot does not
        make it a resume (no more jobs than in an empty root)."""
        import ffp_spark.pipeline as P
        from ffp_spark.snapshots import write_snapshot as real_ws

        # snapshot 1 commits fully, so the root holds a lineage TABLE, but
        # no lineage manifest for snapshot 2
        run_snapshot(spark, synth_pages(spark, 60, seed=3), str(tmp_path), snapshot_id=1, n_parts=8)
        ref, ref_jobs = _jobs_in_group(spark, "crash-ref", lambda: run_snapshot(
            spark, synth_pages(spark, 120, seed=4), str(tmp_path / "ref"), snapshot_id=2, n_parts=8
        ))

        class Boom(RuntimeError):
            pass

        def crashing_ws(df, root, table, snapshot_id, **kw):
            if table == "lineage" and snapshot_id == 2:
                raise Boom("simulated crash before lineage commit")
            return real_ws(df, root, table, snapshot_id, **kw)

        monkeypatch.setattr(P, "write_snapshot", crashing_ws)
        with pytest.raises(Boom):
            run_snapshot(spark, synth_pages(spark, 120, seed=4), str(tmp_path), snapshot_id=2, n_parts=8)
        # snapshot-2 triples are committed, lineage is not
        assert 2 in snapshots_of(tmp_path, "triples")
        assert 2 not in snapshots_of(tmp_path, "lineage")

        monkeypatch.setattr(P, "write_snapshot", real_ws)
        rep, rep_jobs = _jobs_in_group(spark, "crash-recovery", lambda: run_snapshot(
            spark, synth_pages(spark, 120, seed=4), str(tmp_path), snapshot_id=2, n_parts=8
        ))
        assert rep["triples"] == ref["triples"]  # not doubled
        assert rep_jobs <= ref_jobs
        t = read_snapshot(spark, tmp_path, "triples", snapshot_id=2)
        assert t.count() == ref["triples"]

    def test_failed_data_commit_leaves_every_default_read_on_the_last_snapshot(
        self, spark, tmp_path, monkeypatch
    ):
        """The lineage manifest is the one commit point: a snapshot-2 run
        whose nodes write raises leaves every table's default read and
        analyze_snapshot on snapshot 1, and the resumed re-run commits
        the rows and manifests of a run that never failed."""
        import importlib.util
        import shutil
        from collections import Counter
        from pathlib import Path

        import ffp_spark.pipeline as P
        from ffp_spark.graph import analyze_snapshot
        from ffp_spark.snapshots import write_snapshot as real_ws

        tables = ("triples", "nodes", "edges", "pages_seen", "lineage")
        root, ref = tmp_path / "failed", tmp_path / "undisturbed"
        run_snapshot(spark, synth_pages(spark, 60, seed=3), str(root), snapshot_id=1, n_parts=4)
        shutil.copytree(root, ref)
        run_snapshot(spark, synth_pages(spark, 100, seed=3), str(ref), snapshot_id=2, n_parts=4)

        def failing_nodes(df, out_root, table, snapshot_id, **kw):
            if table == "nodes":
                raise RuntimeError("simulated nodes write failure")
            return real_ws(df, out_root, table, snapshot_id, **kw)

        monkeypatch.setattr(P, "write_snapshot", failing_nodes)
        with pytest.raises(RuntimeError, match="nodes write"):
            run_snapshot(spark, synth_pages(spark, 100, seed=3), str(root), snapshot_id=2, n_parts=4)
        monkeypatch.setattr(P, "write_snapshot", real_ws)
        assert 2 in snapshots_of(root, "edges")  # committed data, not served

        def rows(table, sid=None):
            return Counter(map(tuple, read_snapshot(spark, root, table, sid).collect()))

        for t in tables:
            assert current_snapshot_id(root, t) == 1, t
            assert rows(t) == rows(t, 1), t

        def reports(sid=None):
            out = analyze_snapshot(spark, root, sid, pr_iters=2, top_k=5)
            return {k: sorted(map(tuple, df.collect())) for k, df in out.items()}

        assert reports() == reports(1)

        run_snapshot(spark, synth_pages(spark, 100, seed=3), str(root), snapshot_id=2, n_parts=4)
        assert {t: read_manifest(root, t, 2)["parent_snapshot_id"] for t in tables} == dict.fromkeys(
            tables, 1
        )
        tool = Path(__file__).resolve().parent.parent / "tools" / "compare_snapshots.py"
        spec = importlib.util.spec_from_file_location("compare_snapshots", tool)
        compare = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(compare)
        assert compare.main([str(root), str(ref)]) == 0
        assert not list(tmp_path.rglob("CURRENT"))

    def test_no_resume_uncommits_before_it_overwrites(self, spark, tmp_path, monkeypatch):
        """Nothing is served before a lineage commit, after a failed first
        run too, and resume=False un-commits a committed snapshot before
        recomputing it, so a recompute that fails partway leaves it
        uncommitted."""
        import ffp_spark.pipeline as P
        from ffp_spark.snapshots import write_snapshot as real_ws

        def failing_edges(df, out_root, table, snapshot_id, **kw):
            if table == "edges":
                raise RuntimeError("simulated edges write failure")
            return real_ws(df, out_root, table, snapshot_id, **kw)

        pages = synth_pages(spark, 40, seed=3)
        monkeypatch.setattr(P, "write_snapshot", failing_edges)
        with pytest.raises(RuntimeError, match="edges write"):
            run_snapshot(spark, pages, str(tmp_path), snapshot_id=1, n_parts=4)
        assert 1 in snapshots_of(tmp_path, "triples")
        assert current_snapshot_id(tmp_path, "triples") is None

        monkeypatch.setattr(P, "write_snapshot", real_ws)
        run_snapshot(spark, pages, str(tmp_path), snapshot_id=1, n_parts=4)
        assert current_snapshot_id(tmp_path, "triples") == 1

        monkeypatch.setattr(P, "write_snapshot", failing_edges)
        with pytest.raises(RuntimeError, match="edges write"):
            run_snapshot(spark, pages, str(tmp_path), snapshot_id=1, n_parts=4, resume=False)
        assert 1 not in snapshots_of(tmp_path, "lineage")
        with pytest.raises(FileNotFoundError):
            read_snapshot(spark, tmp_path, "triples")

    def test_incremental_snapshot_processes_only_new_urls(self, spark, tmp_path):
        """An incremental snapshot 2 commits the rows of a full build of the
        same pages, snapshot_id and part_id included, even when its delta
        links to authors only the parent holds and it runs at another
        n_parts than its parent."""
        from collections import Counter

        def page(url, html):
            return (url, None, html, None, "en")

        def feed(url, author):
            return page(url, (
                '<?xml version="1.0"?><rss version="2.0" '
                'xmlns:dc="http://purl.org/dc/elements/1.1/"><channel>'
                f"<title>{author}</title><link>{url}</link><item><title>{author} post</title>"
                f"<guid>{url}#1</guid><dc:creator>{author}</dc:creator></item>"
                "</channel></rss>"
            ).encode())

        # the parent's only author of its cluster, and a delta variant of it
        solo = feed("https://solo.example/feed.xml", "Zebulon Quartermaine")
        variant = feed("https://variant.example/feed.xml", "Zebulon Quartermaine Jr")
        # and a meta-refresh page whose target is a base-corpus feed, so
        # its parse repeats edges the parent holds
        refresh = page(
            "https://refresh.example/",
            b'<html><head><meta http-equiv="refresh" content="0; url=%s"></head></html>'
            % synth_page(9, 0)["url"].encode(),
        )
        # solo is crawled twice: a full build's pages_seen keeps both rows
        base = synth_pages(spark, 100, seed=9).unionByName(
            spark.createDataFrame([solo, solo], PAGES_SCHEMA)
        )
        grown = synth_pages(spark, 150, seed=9).unionByName(  # same first 100
            spark.createDataFrame([solo, solo, variant, refresh], PAGES_SCHEMA)
        )
        r1 = run_snapshot(spark, base, str(tmp_path), snapshot_id=1, n_parts=8)
        r2 = run_snapshot(
            spark, grown, str(tmp_path), snapshot_id=2, n_parts=5, incremental_from=1
        )
        assert r2["pages"] == 52  # only the delta parsed
        # snapshot 2 is the full logical graph: the same rows as a full build
        run_snapshot(spark, grown, str(tmp_path / "full"), snapshot_id=2, n_parts=5)

        def rows(root, table):
            return Counter(map(tuple, read_snapshot(spark, root, table, snapshot_id=2).collect()))

        for table in ("triples", "nodes", "edges", "pages_seen"):
            assert rows(tmp_path, table) == rows(tmp_path / "full", table), table
            # and records the schema a read serves, whatever it unioned in
            schemas = [read_manifest(r, table, 2)["schema"] for r in (tmp_path, tmp_path / "full")]
            assert schemas[0] == schemas[1], table
        triples = read_snapshot(spark, tmp_path, "triples", snapshot_id=2)
        assert triples.columns == ["subj", "pred", "obj", "src_url", "snapshot_id", "part_id"]
        assert "https://refresh.example/" in {r.src_url for r in triples.collect()}
        # the delta's variant joins the parent's author, as in a full build
        authors = {r.dst for r in read_snapshot(spark, tmp_path, "edges", snapshot_id=2)
                   .where("dst like 'author:zebulon%'").collect()}
        assert authors == {"author:zebulon quartermaine"}
        # time travel: snapshot 1 still readable underneath
        assert read_snapshot(spark, tmp_path, "triples", snapshot_id=1).count() == r1["triples"]

    def test_resumed_incremental_snapshot_recommits_the_same_rows(self, spark, tmp_path):
        # a re-run of a committed incremental child at another n_parts
        # than its parent leaves its committed rows as they are
        from collections import Counter

        def committed():
            return {
                t: Counter(map(tuple, read_snapshot(spark, tmp_path, t, snapshot_id=2).collect()))
                for t in ("triples", "nodes", "edges")
            }

        run_snapshot(spark, synth_pages(spark, 60, seed=9), str(tmp_path), snapshot_id=1, n_parts=8)
        grown = synth_pages(spark, 100, seed=9)
        first = run_snapshot(spark, grown, str(tmp_path), snapshot_id=2, n_parts=5, incremental_from=1)
        before = committed()
        again = run_snapshot(spark, grown, str(tmp_path), snapshot_id=2, n_parts=5, incremental_from=1)
        assert again["pages"] == 0
        assert again["triples"] == first["triples"]
        assert committed() == before

    def test_degenerate_corpora_commit_and_n_parts_agree(self, spark, tmp_path):
        """An empty corpus, an all-error corpus and a one-page corpus all
        commit, with report and lineage page counts equal to the input;
        the committed triples, nodes (labels included) and edges do not
        depend on n_parts, and the edges are a set."""
        from collections import Counter

        def commit(pages, name, n_parts=8):
            root = str(tmp_path / name)
            report = run_snapshot(spark, pages, root, snapshot_id=1, n_parts=n_parts)
            lineage_pages = (
                read_snapshot(spark, root, "lineage")
                .agg(F.coalesce(F.sum("n_pages"), F.lit(0)).alias("s"))
                .collect()[0]
                .s
            )
            triples = {
                tuple(r) for r in read_snapshot(spark, root, "triples")
                .select("subj", "pred", "obj", "src_url").collect()
            }
            return report, lineage_pages, triples

        pages = synth_pages(spark, 40, seed=3)

        report, lineage_pages, triples = commit(pages.limit(0), "empty")
        assert report["pages"] == lineage_pages == 0
        assert report["triples"] == 0 and not triples

        not_feeds = pages.withColumn("html", F.lit(b"plain bytes, not a feed"))
        report, lineage_pages, triples = commit(not_feeds, "all_error")
        assert report["pages"] == lineage_pages == 40
        assert sum(report["errors"].values()) == 40
        assert report["triples"] == 0 and not triples

        report, lineage_pages, triples = commit(pages.limit(1), "one_page")
        assert report["pages"] == lineage_pages == 1
        assert report["triples"] == len(triples) > 0

        sets, graphs = [], []
        for n_parts in (1, 7, 64):
            report, lineage_pages, triples = commit(
                pages.unionByName(_redirects(spark)), f"parts{n_parts}", n_parts
            )
            assert report["pages"] == lineage_pages == 43
            assert report["errors"].get("meta_refresh") == 1
            sets.append(triples)
            root = str(tmp_path / f"parts{n_parts}")
            graphs.append(tuple(
                Counter(map(tuple, read_snapshot(spark, root, t).collect())) for t in ("nodes", "edges")
            ))
        assert sets[0] and sets[0] == sets[1] == sets[2]
        assert {"https://r1.example/", "https://r2.example/"} <= {t[3] for t in sets[0]}
        nodes, edges = graphs[0]
        assert nodes and edges and graphs[0] == graphs[1] == graphs[2]
        # r1 and r2 share the feed's parse: its structural edges once each
        assert max(edges.values()) == 1

    def test_snapshot_counts_match_the_dataframe_reference(self, spark):
        """The one counts aggregate, folded on the driver, equals
        partition_lineage joined to the per-part emit_triples count, and
        error_histogram: on a corpus with a redirect chain and a missing
        redirect target, an empty corpus, an all-error corpus and a
        corpus of sparse entries, at any n_parts."""
        from ffp_spark.metrics import error_histogram, partition_lineage, snapshot_counts
        from ffp_spark.pipeline import resolve_meta_refresh
        from ffp_spark.triples import emit_triples
        from ffp_spark.udfs import parse_pages

        # entries without id, author or published, in a feed with neither
        # id nor link (no feed node) and in one with an id
        rss = (
            b'<?xml version="1.0"?><rss version="2.0"><channel><title>No node</title>'
            b"<item><title>a</title><guid>urn:a</guid>"
            b"<pubDate>Mon, 06 Sep 2021 16:45:00 +0000</pubDate></item>"
            b"<item><title>b</title><link>https://x.example/b</link>"
            b"<author>bob@example.com (Bob)</author></item>"
            b"<item><title>c</title><description>no id, no link</description></item>"
            b"</channel></rss>"
        )
        atom = (
            b'<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">'
            b"<title>t</title><id>urn:feed:sparse</id>"
            b"<entry><title>x</title><id>urn:e1</id></entry>"
            b'<entry><title>y</title><link href="https://y.example/2"/>'
            b"<author><name>Ann</name></author></entry></feed>"
        )
        pages = synth_pages(spark, 40, seed=3)
        corpora = {
            "redirects": pages.unionByName(_redirects(spark)),
            "empty": pages.limit(0),
            "all_error": pages.withColumn("html", F.lit(b"plain bytes, not a feed")),
            "sparse": spark.createDataFrame(
                [(f"https://sparse{i}.example/", None, body, None, "en")
                 for i, body in enumerate([rss, atom] * 3)],
                PAGES_SCHEMA,
            ),
        }
        histograms, entries_triples = {}, {}
        for name, corpus in corpora.items():
            raw = parse_pages(corpus).cache()
            try:
                resolved = resolve_meta_refresh(raw, corpus)
                for n_parts in (1, 7, 64):
                    parsed = add_part_id(resolved, n_parts)
                    triples = add_part_id(emit_triples(parsed), n_parts, "src_url")
                    lineage, errors, n_pages = snapshot_counts(parsed, 5)
                    want = (
                        partition_lineage(parsed, 5)
                        .join(triples.groupBy("part_id").agg(F.count("*").alias("n_triples")),
                              "part_id", "left")
                        .select("part_id", "n_pages", "n_parsed", "n_errors", "n_entries",
                                F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
                                "snapshot_id", "status")
                    )
                    got = spark.createDataFrame(lineage)
                    assert got.dtypes == want.dtypes, name
                    assert sorted(got.collect()) == sorted(want.collect()), (name, n_parts)
                    assert errors == {
                        r.error_class: r["count"] for r in error_histogram(parsed).collect()
                    }, (name, n_parts)
                    assert n_pages == corpus.count(), (name, n_parts)
                    histograms[name] = errors
                    entries_triples[name] = want.agg(F.sum("n_entries"), F.sum("n_triples")).first()
            finally:
                raw.unpersist()
        # the corpora reach the error paths they are named for
        assert histograms["redirects"].get("meta_refresh") == 1
        assert histograms["empty"] == {}
        assert sum(histograms["all_error"].values()) == 40
        # fewer than four triples per entry: 2 from each rss page's three
        # entries and 5 from each atom page's two
        assert tuple(entries_triples["sparse"]) == (15, 21)

    def test_deterministic_triples_across_runs(self, spark, tmp_path):
        pages = synth_pages(spark, 80, seed=5)
        run_snapshot(spark, pages, str(tmp_path / "a"), snapshot_id=1, n_parts=4)
        run_snapshot(spark, pages, str(tmp_path / "b"), snapshot_id=1, n_parts=4)
        ta = read_snapshot(spark, tmp_path / "a", "triples")
        tb = read_snapshot(spark, tmp_path / "b", "triples")
        assert ta.exceptAll(tb).isEmpty() and tb.exceptAll(ta).isEmpty()


def test_commit_and_serving_jobs_keep_the_callers_job_group(spark, tmp_path):
    """run_snapshot's commit pool and analyze_snapshot's report pool run
    their jobs under the caller's job group, not in none."""
    from ffp_spark.graph import analyze_snapshot

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    pages = synth_pages(spark, 40, seed=3)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("snapshot-under-group", "run and serve one snapshot")
    try:
        run_snapshot(spark, pages, str(tmp_path), snapshot_id=1, n_parts=4)
        analyze_snapshot(spark, tmp_path, pr_iters=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("snapshot-under-group")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_build_session_survives_failed_worker_warmup(spark, monkeypatch, caplog):
    # workers that cannot import ffp_spark fail the warm-up job; the
    # session must still be built, with a warning in the log
    import logging

    from ffp_spark import pipeline

    def unimportable(_spark):
        raise ModuleNotFoundError("No module named 'ffp_spark'")

    monkeypatch.setattr(pipeline, "warm_python_workers", unimportable)
    before = spark.conf.getAll
    try:
        with caplog.at_level(logging.WARNING, logger="ffp_spark.pipeline"):
            session = pipeline.build_session("warmup-failure")
    finally:
        # build_session reuses the test session: put its SQL confs back
        after = spark.conf.getAll
        for k in set(before) | set(after):
            if before.get(k) != after.get(k) and spark.conf.isModifiable(k):
                if k in before:
                    spark.conf.set(k, before[k])
                else:
                    spark.conf.unset(k)
    assert session.range(3).count() == 3
    assert "warm-up failed" in caplog.text


def test_workers_import_the_package_the_driver_found(tmp_path):
    """A driver that finds ffp_spark through its own sys.path alone (no
    PYTHONPATH, a cwd outside the repo) parses: build_session ships the
    package to the Python workers."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    driver = tmp_path / "driver.py"
    driver.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(repo)!r})\n"
        "from pyspark.sql import functions as F\n"
        "from ffp_spark.datagen import synth_pages\n"
        "from ffp_spark.pipeline import build_session\n"
        "from ffp_spark.udfs import parse_pages\n"
        "spark = build_session('ship-package', 'local[2]', shuffle_partitions=2)\n"
        "parsed = parse_pages(synth_pages(spark, 5)).where(F.col('error').isNull())\n"
        "print('parsed', parsed.count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["FFP_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, str(driver)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0 and "parsed 5" in run.stdout, run.stderr[-3000:]


def test_job_main_builds_its_session_through_build_session(monkeypatch):
    # the spark-submit entry point must run under build_session's
    # settings (UTC time zone, AQE skew join, batch sizes, warm-ups)
    from types import SimpleNamespace

    from pyspark.sql import SparkSession

    from ffp_spark import job, pipeline

    class NoBareBuilder:
        def __getattr__(self, name):
            raise AssertionError("job.main built a bare SparkSession")

    built, runs = [], []

    class FakeSession:
        read = SimpleNamespace(parquet=lambda path: f"pages@{path}")
        sparkContext = SimpleNamespace(setLogLevel=lambda level: None)

        def stop(self):
            built.append("stopped")

    def fake_build_session(app, master=None, shuffle_partitions=64):
        built.append((app, master))
        return FakeSession()

    def fake_run_snapshot(spark, pages, out_root, **kw):
        runs.append((pages, out_root, kw))
        return {"snapshot_id": kw["snapshot_id"]}

    monkeypatch.setattr(SparkSession, "builder", NoBareBuilder())
    monkeypatch.setattr(pipeline, "build_session", fake_build_session)
    monkeypatch.setattr(pipeline, "run_snapshot", fake_run_snapshot)
    job.main([
        "--pages", "/in", "--out", "/out", "--snapshot-id", "3",
        "--n-parts", "7", "--no-resume", "--incremental-from", "2",
    ])
    assert built == [("ffp-kg-pipeline", None), "stopped"]
    assert runs == [(
        "pages@/in", "/out",
        {"snapshot_id": 3, "n_parts": 7, "resume": False, "incremental_from": 2},
    )]
    # without --n-parts, the pipeline's own default
    monkeypatch.setattr(pipeline, "DEFAULT_PARTS", 5)
    job.main(["--pages", "/in", "--out", "/out", "--snapshot-id", "4"])
    assert runs[1] == (
        "pages@/in", "/out",
        {"snapshot_id": 4, "n_parts": 5, "resume": True, "incremental_from": None},
    )


def test_compact_changelog_latest_wins_and_tombstones(spark):
    from ffp_spark.snapshots import compact_changelog

    log = spark.createDataFrame(
        [
            # entity 1: insert -> update (update wins)
            # entity 2: update -> delete (dead, last attrs kept)
            # entity 3: insert AFTER the tombstone (resurrected)
            # entity 4: same ts, higher event_id wins (total order)
            (1, 100, 0, "insert", 10.0),
            (1, 200, 1, "update", 20.0),
            (2, 100, 2, "update", 5.0),
            (2, 300, 3, "delete", 0.0),
            (3, 100, 4, "delete", 0.0),
            (3, 150, 5, "insert", 7.0),
            (4, 100, 6, "update", 1.0),
            (4, 100, 7, "update", 2.0),
        ],
        "user_id long, ts long, event_id long, event_type string, value double",
    )
    got = {
        r.user_id: (r.event_type, r.value, r.alive)
        for r in compact_changelog(
            log,
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
            op_col="event_type",
            tombstone_ops=("delete",),
        ).collect()
    }
    assert got == {
        1: ("update", 20.0, True),
        2: ("delete", 0.0, False),
        3: ("insert", 7.0, True),
        4: ("update", 2.0, True),
    }


def test_changelog_history_intervals_chain_per_key(spark):
    from ffp_spark.snapshots import changelog_history

    log = spark.createDataFrame(
        [
            (1, 100, 0, "insert"), (1, 250, 1, "update"), (1, 400, 2, "update"),
            (2, 130, 3, "insert"),
        ],
        "user_id long, ts long, event_id long, event_type string",
    )
    got = {
        (r.user_id, r.ts): (r.valid_from, r.valid_to)
        for r in changelog_history(
            log, key_cols=["user_id"], ts_col="ts", order_cols=["ts", "event_id"]
        ).collect()
    }
    # intervals chain: each version closes at the key's next event;
    # exactly one open version per key
    assert got == {
        (1, 100): (100, 250),
        (1, 250): (250, 400),
        (1, 400): (400, None),
        (2, 130): (130, None),
    }
