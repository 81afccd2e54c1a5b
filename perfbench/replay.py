"""Traced replay: run_snapshot's composition, call by call.

Each call into a module's public function runs inside a span that sets a
Spark job group named after the layer and is materialized before the span
closes, so the layer's jobs and tasks can be read back from the event log.
The replay mirrors ``pipeline.run_snapshot`` for a fresh build (no resume,
no parent) and then serves the committed snapshot the way
``graph.analyze_snapshot`` does, one report at a time.  The workload's
real job runs first, under its own span, for the workload totals.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import Observation, functions as F

import eventlog


class Tracer:
    """In-memory spans: name, parent, wall start/end."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append({"name": name, "parent": parent, "start": start, "end": end})
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(parent, parent)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def subtree(self, name: str) -> set[str]:
        out = {name}
        grew = True
        while grew:
            kids = {s["name"] for s in self.spans if s["parent"] in out}
            grew = not kids <= out
            out |= kids
        return out


def _checkpoint_count(df):
    """Materialize ``df`` as a local checkpoint; returns (df, row count)."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return df, int(obs.get["n"])


def replay_parse_triples(spark, tr: Tracer, corpus: str) -> dict:
    from ffp_spark.triples import emit_triples
    from ffp_spark.udfs import parse_pages

    obs = Observation("parse")
    with tr.span("udfs.parse_pages"):
        raw = parse_pages(spark.read.parquet(corpus)).observe(
            obs, F.count(F.lit(1)).alias("n"), F.count("error").alias("err")
        ).cache()
        raw.count()
    with tr.span("triples.emit_triples"):
        n_triples = emit_triples(raw).count()
    raw.unpersist()
    return {"udfs.parse_pages.rows_out": obs.get["n"], "udfs.parse_pages.error_rows": obs.get["err"],
            "triples.emit_triples.rows_out": n_triples}


def replay_snapshot(spark, tr: Tracer, corpus: str, out: str) -> dict:
    from ffp_spark.cc import connected_components
    from ffp_spark.graph import degree_histogram, pagerank, triangle_count
    from ffp_spark.linking import bucket_star_edges, extract_mentions, with_signatures
    from ffp_spark.metrics import error_histogram, partition_lineage
    from ffp_spark.pipeline import (
        add_part_id, materialize_graph, resolve_meta_refresh, warm_collation,
    )
    from ffp_spark.snapshots import (
        read_snapshot_bucketed, remaining_pages, write_snapshot, write_snapshot_bucketed,
    )
    from ffp_spark.udfs import parse_pages

    from child import SNAPSHOT_PARTS

    n_parts, n_buckets, sid = SNAPSHOT_PARTS, 16, 1
    m: dict = {}
    pages = add_part_id(spark.read.parquet(corpus), n_parts)
    todo = remaining_pages(pages, None).repartition(n_parts, "part_id")
    obs = Observation("parse")
    with tr.span("udfs.parse_pages"):
        raw = parse_pages(todo).observe(
            obs, F.count(F.lit(1)).alias("n"), F.count("error").alias("err")
        ).cache()
        raw.count()
    m["udfs.parse_pages.rows_out"] = obs.get["n"]
    m["udfs.parse_pages.error_rows"] = obs.get["err"]
    caches = [raw]
    with tr.span("pipeline.resolve_meta_refresh"):
        parsed = resolve_meta_refresh(raw, pages, cache_registry=caches).withColumn(
            "part_id", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
        ).localCheckpoint(eager=True)

    with tr.span("pipeline.link_and_canonicalize"):
        warm_collation(spark)
        with tr.span("linking.extract_mentions"):
            mentions, m["linking.extract_mentions.rows_out"] = _checkpoint_count(extract_mentions(parsed))
        surfaces = mentions.select("norm").where(
            F.col("norm").isNotNull() & (F.col("norm") != "")
        ).distinct().withColumn("mention_id", F.col("norm"))
        with tr.span("linking.with_signatures"):
            signed = with_signatures(surfaces).cache()
            m["linking.with_signatures.rows_out"] = signed.count()
        with tr.span("linking.bucket_star_edges"):
            edges, m["linking.bucket_star_edges.edges_out"] = _checkpoint_count(
                bucket_star_edges(signed).select(F.col("norm_a").alias("src"), F.col("norm_b").alias("dst"))
            )
        with tr.span("cc.connected_components"):
            comps, linked = _checkpoint_count(connected_components(edges))
        with tr.span("pipeline.link_and_canonicalize.mapping"):
            canon = (
                signed.select("norm")
                .join(comps.withColumnRenamed("node_id", "norm"), "norm", "left")
                .withColumn("canonical_norm", F.coalesce("component_id", "norm"))
                .select("norm", "canonical_norm")
                .cache()
            )
            canon.count()
        signed.unpersist()
    with tr.span("trace.stats"):
        n_components = comps.select("component_id").distinct().count()
    m["cc.connected_components.edges_in"] = m["linking.bucket_star_edges.edges_out"]
    m["cc.connected_components.components"] = n_components
    merges = linked - n_components
    m["linking.bucket_star_edges.edges_per_merge"] = (
        m["linking.bucket_star_edges.edges_out"] / merges if merges else 0.0
    )

    with tr.span("pipeline.materialize_graph"):
        triples, nodes, gedges = materialize_graph(parsed, canon, sid, n_parts)
        with tr.span("triples.emit_triples"):
            triples, m["triples.emit_triples.rows_out"] = _checkpoint_count(triples)
        nodes = nodes.localCheckpoint(eager=True)
        gedges = gedges.localCheckpoint(eager=True)
    with tr.span("pipeline.commit_stats"):
        lineage = partition_lineage(parsed, sid).join(
            triples.groupBy("part_id").agg(F.count("*").alias("n_triples")), "part_id", "left"
        ).withColumn("n_triples", F.coalesce("n_triples", F.lit(0))).localCheckpoint(eager=True)
        stats = {"errors": {r.error_class: r["count"] for r in error_histogram(parsed).collect()}}

    with tr.span("snapshots.write_snapshot"):
        write_snapshot(triples, out, "triples", sid, partition_by=["part_id"])
        write_snapshot_bucketed(
            nodes.withColumn("bucket", F.pmod(F.xxhash64("node_id"), F.lit(n_buckets)).cast("int")),
            out, "nodes", sid, bucket_col="node_id", n_buckets=n_buckets,
        )
        write_snapshot_bucketed(
            gedges.withColumn("bucket", F.pmod(F.xxhash64("src"), F.lit(n_buckets)).cast("int")),
            out, "edges", sid, bucket_col="src", n_buckets=n_buckets,
        )
        write_snapshot(parsed.select("url", "part_id"), out, "pages_seen", sid)
        write_snapshot(lineage, out, "lineage", sid, extra=stats)
    for df in caches + [canon]:
        df.unpersist()
    files = [p for p in Path(out).rglob("*") if p.is_file()]
    m["snapshots.files_written"] = len(files)
    m["snapshots.bytes_written_mb"] = sum(p.stat().st_size for p in files) / 1e6

    with tr.span("graph.analyze_snapshot"):
        with tr.span("snapshots.read_snapshot_bucketed"):
            e = read_snapshot_bucketed(spark, out, "edges", sid)
            v = read_snapshot_bucketed(spark, out, "nodes", sid)
        with tr.span("graph.degree_histogram"):
            degree_histogram(e).orderBy("degree").localCheckpoint(eager=True)
        with tr.span("graph.pagerank"):
            (
                pagerank(e, iters=5)
                .join(v.select(F.col("node_id").alias("node"), "kind", "label"), "node", "left")
                .orderBy(F.desc("pr_q"), "node")
                .limit(20)
                .localCheckpoint(eager=True)
            )
        with tr.span("graph.triangle_count"):
            triangle_count(e).localCheckpoint(eager=True)
    return m


def traced_sample(spark, workload: str, corpus: str, out: str, log_dir: Path) -> dict:
    """The real job first (the same first-job position as an untraced
    sample), then the replay on the now-warm JVM; then the event log."""
    from child import PeakRss, link_f1, run_job
    from corpus import html_bytes

    tr = Tracer(spark.sparkContext)
    job_out = out + "-job"
    with tr.span("job"), PeakRss() as rss:
        run_job(spark, workload, corpus, job_out)
    m: dict = {"spark.peak_rss_mb": rss.peak / 1e6}
    if workload == "snapshot_full":
        files = [p for p in Path(job_out).rglob("*") if p.is_file()]
        m["snapshots.bytes_out_per_byte_in"] = sum(p.stat().st_size for p in files) / html_bytes(Path(corpus))
        with tr.span("trace.link_f1"):
            m["linking.link_pairwise_f1"] = link_f1(spark, job_out)
    with tr.span("trace.replay"):
        if workload == "parse_triples":
            m.update(replay_parse_triples(spark, tr, corpus))
        else:
            m.update(replay_snapshot(spark, tr, corpus, out))
    spark.stop()
    m.update(layer_metrics(tr, eventlog.read_log(eventlog.find_log(log_dir)), m))
    return {"layers": m}


def layer_metrics(tr: Tracer, log, counts: dict) -> dict:
    """Per-layer metrics from spans + event log (0 where the workload does
    not reach the layer)."""
    names = {s["name"] for s in tr.spans}
    job_span = eventlog.attribute_jobs(log, tr.spans)

    def stats(name: str) -> dict:
        return eventlog.span_stats(log, job_span, tr.subtree(name) if name in names else set())

    m = dict(counts)
    parse = stats("udfs.parse_pages")
    m["udfs.parse_pages.wall_s"] = tr.wall("udfs.parse_pages")
    for k in ("task_busy_s", "gc_s", "task_skew", "shuffle_write_mb"):
        m[f"udfs.parse_pages.{k}"] = parse[k]
    m["triples.emit_triples.wall_s"] = tr.wall("triples.emit_triples")
    m["linking.with_signatures.wall_s"] = tr.wall("linking.with_signatures")
    star = stats("linking.bucket_star_edges")
    m["linking.bucket_star_edges.wall_s"] = tr.wall("linking.bucket_star_edges")
    m["linking.bucket_star_edges.shuffle_write_mb"] = star["shuffle_write_mb"]
    m["linking.bucket_star_edges.task_skew"] = star["task_skew"]
    cc = stats("cc.connected_components")
    m["cc.connected_components.wall_s"] = tr.wall("cc.connected_components")
    for k in ("jobs", "tasks", "shuffle_write_mb"):
        m[f"cc.connected_components.{k}"] = cc[k]
    # workload totals: the real job alone, not the replay's extra
    # checkpoint and count jobs
    job = stats("job")
    snapshot = "pipeline.link_and_canonicalize" in names
    m["pipeline.run_snapshot.jobs"] = job["jobs"] if snapshot else 0
    m["pipeline.run_snapshot.tasks"] = job["tasks"] if snapshot else 0
    m["pipeline.spill_mb"] = job["spill_mb"]
    m["pipeline.failed_tasks"] = job["failed_tasks"]
    m["pipeline.link_and_canonicalize.wall_s"] = tr.wall("pipeline.link_and_canonicalize")
    m["pipeline.materialize_graph.wall_s"] = tr.wall("pipeline.materialize_graph")
    m["snapshots.write_snapshot.wall_s"] = tr.wall("snapshots.write_snapshot")
    m["snapshots.read_snapshot_bucketed.wall_s"] = tr.wall("snapshots.read_snapshot_bucketed")
    m["graph.analyze_snapshot.wall_s"] = tr.wall("graph.analyze_snapshot")
    for g in ("degree_histogram", "pagerank", "triangle_count"):
        m[f"graph.{g}.wall_s"] = tr.wall(f"graph.{g}")
    m["graph.pagerank.jobs"] = stats("graph.pagerank")["jobs"]
    m["graph.shuffle_write_mb"] = stats("graph.analyze_snapshot")["shuffle_write_mb"]
    cores = len(os.sched_getaffinity(0))
    for k in ("jobs", "tasks", "task_busy_s", "gc_s"):
        m[f"spark.{k}"] = job[k]
    m["spark.cpu_util"] = job["task_busy_s"] / (tr.wall("job") * cores)
    # the replay runs after the real job, on a JVM the job has warmed, so
    # this understates what tracing a first job would cost
    m["trace.job_s"] = tr.wall("job")
    m["trace.replay_s"] = tr.wall("trace.replay")
    m["trace.overhead_s"] = m["trace.replay_s"] - m["trace.job_s"]
    return m


FEEDPARSE_PASSES = 3


def feedparse_metrics(rows: list[tuple[str, bytes]]) -> dict:
    """Driver-side parse_feed over a corpus sample, no Spark: median of
    three passes after one warm-up pass."""
    from ffp_spark.feedparse import parse_feed

    def one_pass() -> tuple[float, int]:
        errors = 0
        t0 = time.perf_counter()
        for _, html in rows:
            try:
                parse_feed(html)
            except Exception:  # rejected page, counted like an error row
                errors += 1
        return time.perf_counter() - t0, errors

    one_pass()
    passes = [one_pass() for _ in range(FEEDPARSE_PASSES)]
    wall = statistics.median(t for t, _ in passes)
    n_bytes = sum(len(h) for _, h in rows)
    return {
        "feedparse.parse_us_per_page": wall / len(rows) * 1e6,
        "feedparse.parse_mb_per_s": n_bytes / wall / 1e6,
        "feedparse.error_pages": passes[0][1],
    }
