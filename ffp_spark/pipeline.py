"""End-to-end KG-construction pipeline (north_rule):

    pages -> [explicit url-hash partitioning] -> parse (Arrow UDF)
          -> triples -> entity linking (MinHash-LSH) -> connected
          components -> canonicalized nodes/edges -> snapshot commit
          with per-partition lineage.

Scale design notes (100 TB / 1000 executors):
* partitioning is an explicit, *deterministic* function of url
  (pmod(xxhash64(url), n_parts)) — the same page always lands in the
  same part_id, so the per-partition lineage rows are a function of the
  input pages;
* the parse stage is the only Python hop on the workers; everything
  after is JVM DataFrame ops (AQE handles skew-join splitting where a
  shuffle has a hot key; the canonical author dictionary is a plain
  broadcast join, whose probe side is never shuffled);
* author linking is one job: the distinct author surfaces are collected
  and linked on the driver (same signatures, band buckets and
  lexicographic-min components as the DataFrame linking operators);
* only author mentions are linked — site entities are keyed by
  feed.id/feed.link; the link input, edges and author nodes derive from
  the snapshot's whole triple set (this run's plus the committed ones it
  keeps, restamped), so a fresh and an incremental run commit the same
  graph: a set of edges and one least-labelled row per node;
* the parse is held once, in the local checkpoint every later job
  reads: the only data Spark holds in a run.  Meta-refresh resolution is
  one job over it when no page redirects; otherwise the driver collects
  the redirecting rows and the parsed target pages as Arrow, walks the
  chains and adds the rewritten rows back as one local relation;
* lineage, the error histogram and the page count come from one small
  grouped aggregate of that checkpoint, folded on the driver
  (:func:`metrics.snapshot_counts`, which counts triples by
  ``emit_triples``' own rule); it runs beside the data commits;
* ``run_snapshot`` is one straight-line function: the data tables
  commit concurrently, under the caller's job group, lineage last (the
  completion marker).  A committed snapshot is final: a resumed re-run
  returns its manifests, and late pages go to a new snapshot with
  ``incremental_from`` (K9).  Every table commits through the one
  plain writer; only triples are partitioned (by ``part_id``).
"""

from __future__ import annotations

import logging
import tempfile
import time
import zipfile
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from functools import reduce
from pathlib import Path
from typing import Any, Optional

import pyarrow as pa
from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from .cc import components_local
from .linking import author_norm, local_star_edges
from .metrics import snapshot_counts
from .schemas import PRED_AUTHOR
from .snapshots import read_manifest, read_snapshot, snapshots_of, uncommit, write_snapshot
from .triples import emit_triples
from .udfs import parse_pages

DEFAULT_PARTS = 64


def pages_from_warc(
    spark: SparkSession,
    path: str,
    robots: Optional[DataFrame] = None,
    user_agent: str = "ffpbot",
    default_warc_ts: Optional[str] = None,
    ok_statuses: tuple[int, ...] = (200,),
) -> DataFrame:
    """Ingestion pre-stage: .warc(.gz) archives -> PAGES-shaped rows,
    ready for :func:`run_snapshot`.

    read_warc (file-parallel, bounded-memory record split) ->
    split_http (status line / headers / body separation +
    Content-Encoding decode) -> keep ``response`` records whose status
    is in ``ok_statuses`` -> PAGES columns: url = WARC-Target-URI,
    warc_ts = WARC-Date (ISO-8601; falls back to ``default_warc_ts``),
    html = decoded body, lang from the Content-Language header when
    present.  Malformed records arrived as rec_type='error' rows
    upstream and are dropped here by the response filter — ingestion
    errors never become pages.

    With a ``robots`` DataFrame of (host, body) robots.txt files, URLs
    the host's policy disallows for ``user_agent`` are filtered out
    BEFORE the parse stage (rule tables are robots-file-sized and
    broadcast inside robots_allowed — no extra shuffle on the page
    stream beyond the verdict agg).
    """
    from .robots import parse_robots, robots_allowed
    from .sources import read_warc, split_http

    http = split_http(read_warc(spark, path))
    lang = F.expr(
        "filter(http_headers, h -> h.name = 'content-language')[0].value"
    )
    pages = (
        http.where(
            (F.col("rec_type") == "response")
            & F.col("http_status").isin(list(ok_statuses))
            & F.col("target_uri").isNotNull()
        )
        .select(
            F.col("target_uri").alias("url"),
            F.coalesce(
                F.to_timestamp("warc_date"),
                F.to_timestamp(F.lit(default_warc_ts)),
            ).alias("warc_ts"),
            F.col("body").alias("html"),
            F.lit(None).cast("string").alias("text"),
            lang.alias("lang"),
        )
    )
    if robots is not None:
        rules = parse_robots(robots)
        pages = (
            robots_allowed(pages, rules, user_agent)
            .where(F.col("allowed"))
            .drop("allowed", "host", "path")
        )
    return pages


def add_part_id(pages: DataFrame, n_parts: int = DEFAULT_PARTS, url: str = "url") -> DataFrame:
    """Deterministic url-hash partition id (K11) of the ``url`` column."""
    return pages.withColumn("part_id", F.pmod(F.xxhash64(url), F.lit(n_parts)).cast("int"))


def warm_collation(spark: SparkSession) -> None:
    """Force ICU case-mapping data to load on ONE task before any wide
    stage calls lower()/upper().

    Spark 4.1's CollationSupport lazily initializes ICU's case-map
    tables on the first non-ASCII lower(); with 32 executor threads
    hitting that first-touch simultaneously the class-init lock convoys
    (measured on this box: 50-80 s for a distinct over 25k strings that
    takes 0.6 s warm — thread dump shows all 32 threads in
    CollationSupport$Lower.execBinaryICU).  A single-partition warmup
    initializes the JVM once (~1 s) and the wide stages run at full
    speed.  On a multi-executor cluster this must run once per executor
    JVM — schedule one tiny task per executor; in local mode one task
    covers the only JVM."""
    if getattr(spark, "_ffp_collation_warm", False):
        return
    from pyspark.sql import functions as F

    spark.range(1, numPartitions=1).select(
        F.lower(F.lit("Ωmega Łódź İstanbul ДЕЖ")).alias("x"),
        F.upper(F.lit("straße ǳ")).alias("y"),
    ).collect()
    spark._ffp_collation_warm = True


def warm_python_workers(spark: SparkSession) -> None:
    """Spawn one Python worker per local core and pay the parser-stack
    import ONCE at session build, before any timed work.

    The first mapInArrow stage otherwise forks the worker pool and
    imports lxml/ET/regex tables inside whatever query happens to run
    first (the 'first parse in a process pays compile + import' gotcha
    from the repo guide, multiplied by every concurrent worker).  Same
    session-initialization class as warm_collation; touches no input
    data.  On a multi-executor cluster schedule one task per executor
    core; in local mode one numPartitions=cores job covers the pool."""
    if getattr(spark, "_ffp_workers_warm", False):
        return

    def _warm(batches):
        import ffp_spark.udfs  # noqa: F401
        from ffp_spark.feedparse import parse_feed

        # one tiny literal parse per worker: first parse in a process
        # pays lazy regex/ET compiles beyond the module imports
        parse_feed(
            b'<?xml version="1.0"?><rss version="2.0"><channel>'
            b"<title>w</title><item><title>w</title></item></channel></rss>"
        )
        for b in batches:
            yield b

    p = spark.sparkContext.defaultParallelism
    spark.range(p, numPartitions=p).mapInArrow(_warm, "id long").count()
    spark._ffp_workers_warm = True


def ship_package(spark: SparkSession) -> None:
    """Ship the ``ffp_spark`` package this driver imported to the Python
    workers (``addPyFile`` of a zip of its ``.py`` files), so a driver
    that finds the package through its own ``sys.path`` alone (no
    ``PYTHONPATH``, a cwd outside the repo) runs workers that import the
    same code.  The zip is written under the session's file root, which
    Spark removes at stop.  A package imported from a zip (``--py-files``)
    reaches the workers that way already."""
    pkg = Path(__file__).resolve().parent
    if getattr(spark, "_ffp_shipped", False) or not pkg.is_dir():
        return
    # its own name: Spark refuses a second added file named like a
    # --py-files ffp_spark.zip with other bytes
    path = Path(tempfile.mkdtemp(dir=SparkFiles.getRootDirectory())) / f"{pkg.name}-shipped.zip"
    with zipfile.ZipFile(path, "w") as z:
        for f in sorted(pkg.rglob("*.py")):
            z.write(f, f.relative_to(pkg.parent))
    spark.sparkContext.addPyFile(str(path))
    spark._ffp_shipped = True


def build_session(app: str, master: Optional[str] = None, shuffle_partitions: int = 64) -> SparkSession:
    import os

    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    spark = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (round 7): spark.sql.adaptive.coalescePartitions.
        # parallelismFirst=false (size-only AQE coalescing, guide §9) was
        # measured across the full suite and REGRESSED it 130s -> 187s:
        # compute-heavy small shuffles (HyperBall register merges, the
        # interpreted HOF scoring stages) collapse to one partition and
        # serialize.  Partition-count reduction is applied surgically
        # per operator from observed input sizes (graph._iter_parts)
        # instead.
        # measured on the binary-payload parse path at 32 cores: arrow
        # batches of 256 rows keep the JVM writer / Python parser pipeline
        # overlapped (2x faster than 1024); parquet columnar batches of
        # 512 avoid WritableColumnVector doubling-realloc thrash on ~KB
        # binary cells (10x faster than the 4096 default)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.driver.memory", os.environ.get("FFP_DRIVER_MEM", "12g"))
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ship_package(spark)
    warm_collation(spark)
    try:
        warm_python_workers(spark)
    except Exception:  # a warm-up is an optimization, not a contract
        logging.getLogger(__name__).warning(
            "Python worker warm-up failed, continuing without it", exc_info=True
        )
    return spark


# hops followed per redirecting page: a longer chain or a cycle ends on
# the meta_refresh row of the last page reached
REDIRECT_HOPS = 3


def _redirect_target(row: dict) -> Optional[str]:
    """The url a parsed row's meta refresh names, or None."""
    if row["error_class"] != "meta_refresh":
        return None
    return row["error"][len("meta_refresh:"):]


def resolve_meta_refresh(
    parsed: DataFrame, pages: DataFrame, cache_registry: Optional[list] = None
) -> DataFrame:
    """Resolve meta-refresh redirects against the at-rest PAGES table.

    Offline analogue of the reference's redirect retry
    (fastfeedparser ``main.py:877-893``): a row with
    ``error='meta_refresh:<url>'`` takes, under its own url, the parse of
    the last corpus page its chain reaches within ``REDIRECT_HOPS`` hops;
    a target missing from the corpus leaves the row naming it.  A url
    the corpus holds several captures of resolves to one: the newest
    ``warc_ts``, a tie broken by a total order on the parsed row.

    Eager, on the driver: one job collects the redirecting rows as Arrow;
    with none, ``parsed`` comes back as is.  Each hop parses the corpus
    pages of the targets not yet probed (a broadcast semi-join, which
    still scans the whole ``pages`` frame) and collects them as Arrow.
    The driver walks the chains and gives each redirecting row that
    reaches a corpus page its chain end's payload (``feed_type``,
    ``feed``, ``entries``, ``error``, ``error_class``); it keeps its
    other columns, ``part_id`` too.  The result is the other rows of
    ``parsed`` (a filter) plus one Arrow local relation of the rewritten
    rows, so ``parsed`` stays the only data Spark holds and later jobs
    run no join.  The driver holds every redirecting row plus the parsed
    rows of the target pages.

    ``cache_registry`` is kept for ``perfbench/replay.py``'s call and
    nothing is registered in it; it goes with the replay (ROADMAP
    Direction 1).
    """
    moved = parsed.where(F.col("error_class") == "meta_refresh").toArrow()
    if not moved.num_rows:
        return parsed
    spark = parsed.sparkSession
    rows = moved.to_pylist()
    captures: dict[str, dict] = {}  # parsed target url -> its newest capture
    todo, probed = {_redirect_target(r) for r in rows}, set()
    for _ in range(REDIRECT_HOPS):
        if not todo:
            break
        probed |= todo
        urls = spark.createDataFrame(pa.table({"url": pa.array(sorted(todo), pa.string())}))
        found = parse_pages(pages.join(F.broadcast(urls), "url", "left_semi")).toArrow()
        # sorted oldest warc_ts first (a null one before any), so each url
        # keeps its newest capture; a tie goes by the row's repr, a total order
        hop = {r["url"]: r for r in sorted(found.to_pylist(), key=lambda r: (
            r["warc_ts"] is not None, r["warc_ts"] or datetime.min, repr(r)))}
        captures.update(hop)
        todo = {_redirect_target(r) for r in hop.values()} - {None} - probed

    for row in rows:
        end, nxt = None, _redirect_target(row)
        for _ in range(REDIRECT_HOPS):
            if nxt not in captures:
                break
            end = captures[nxt]
            nxt = _redirect_target(end)
        if end is not None:
            row.update({c: end[c] for c in ("feed_type", "feed", "entries", "error", "error_class")})
    resolved = spark.createDataFrame(pa.Table.from_pylist(rows, schema=moved.schema), parsed.schema)
    return parsed.where(~F.col("error_class").eqNullSafe("meta_refresh")).unionByName(resolved)


def _snapshot_triples(parsed: DataFrame, kept: Optional[DataFrame] = None) -> DataFrame:
    """This run's ``emit_triples`` (subj, pred, obj, src_url), plus the
    committed triples the snapshot keeps (none on a fresh run)."""
    triples = emit_triples(parsed)
    return triples if kept is None else triples.unionByName(kept.select(*triples.columns))


def link_and_canonicalize(
    parsed: DataFrame, min_jaccard: float = 0.5, kept_triples: Optional[DataFrame] = None
) -> DataFrame:
    """Author triples -> (norm, canonical norm) mapping via LSH + CC.

    Clustering runs over the distinct non-empty normalized objects of
    the ``author`` triples, this run's and ``kept_triples``; canonical
    id = lexicographic min surface in the component.

    One job collects the distinct surfaces; the driver links them
    (:func:`linking.local_star_edges`, :func:`cc.components_local`) with
    the same signatures, band buckets, star edges and components as the
    DataFrame operators ``with_signatures`` -> ``bucket_star_edges`` ->
    ``connected_components``, so the mapping is the same (differential
    tests).  Per-job overhead, not data, bounds this step: on local[4]
    (4-core box) the driver linked 1M distinct surfaces in 60 s with
    2.3 GiB of driver memory; the DataFrame operators took 262 s.  An
    incremental run pays that for every surface of the snapshot, the
    parent's included, not only the delta's.

    Returns the mapping (one row per distinct surface) as a driver-local
    relation: callers join it repeatedly without replaying the linking,
    and broadcasting it runs no job."""
    spark = parsed.sparkSession
    warm_collation(spark)  # before the wide lower() stage
    norms = [
        r.norm
        for r in _snapshot_triples(parsed, kept_triples)
        .where(F.col("pred") == PRED_AUTHOR)
        .select(author_norm(F.col("obj")).alias("norm"))
        .where(F.col("norm") != "")
        .distinct()
        .collect()
    ]
    comp = components_local(local_star_edges(norms, min_jaccard=min_jaccard))
    # an Arrow table becomes a driver-local relation: no Python worker
    # and no job to build it, and a broadcast of it needs no job either
    return spark.createDataFrame(
        pa.table({
            "norm": pa.array(norms, pa.string()),
            "canonical_norm": pa.array([comp.get(n, n) for n in norms], pa.string()),
        })
    )


def materialize_graph(
    parsed: DataFrame,
    canon: DataFrame,
    snapshot_id: int,
    n_parts: int,
    kept_triples: Optional[DataFrame] = None,
    kept_nodes: Optional[DataFrame] = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(triples, nodes, edges) with canonicalized author entities.

    The triples, this run's and ``kept_triples``, all get ``snapshot_id``
    and the ``part_id`` of their ``src_url``.  Edges and author nodes
    derive from them: an ``author`` triple points at its canonical author
    node, every other triple is a structural edge.  Entry and feed nodes
    take their titles from ``parsed`` and ``kept_nodes`` (titles are not
    in the triples).  Edges are a set and a node's label is the least
    candidate, so neither n_parts, a page parsed twice (a redirect and
    its target) nor the kind of run changes the graph."""
    triples = add_part_id(
        _snapshot_triples(parsed, kept_triples).withColumn("snapshot_id", F.lit(snapshot_id)),
        n_parts, "src_url",
    )

    # canonical dictionary join (K5): the canon mapping is the small side.
    # A broadcast hash join never shuffles the probe side, so a prolific
    # author's hot norm costs no straggler task and needs no salting.
    # Only author triples carry a norm; every other triple passes through
    # as a structural edge.
    is_author = F.col("pred") == PRED_AUTHOR
    linked = (
        triples.withColumn("norm", F.when(is_author, author_norm(F.col("obj"))))
        .join(F.broadcast(canon), "norm", "left")
        .select(
            F.col("subj").alias("src"),
            F.when(is_author, F.concat(F.lit("author:"), F.coalesce("canonical_norm", "norm")))
            .otherwise(F.col("obj"))
            .alias("dst"),
            "pred",
            F.col("obj").alias("surface"),
        )
    )
    edges = linked.select("src", "dst", "pred", F.lit(1.0).alias("weight")).distinct()

    ok = parsed.where(F.col("error").isNull())
    candidates = reduce(DataFrame.unionByName, (
        df.select(node_id.alias("node_id"), F.lit(kind).alias("kind"), label.alias("label"))
        for df, kind, node_id, label in (
            (linked.where(is_author), "author", F.col("dst"), F.col("surface")),
            (ok.select(F.explode("entries").alias("e")), "item", F.col("e.id"), F.col("e.title")),
            (ok, "feed", F.coalesce("feed.id", "feed.link"), F.col("feed.title")),
        )
    )).where(F.col("node_id").isNotNull())
    if kept_nodes is not None:
        candidates = candidates.unionByName(kept_nodes.select(*candidates.columns))
    nodes = candidates.groupBy("node_id", "kind").agg(F.min("label").alias("label")).select(
        "node_id", "kind", F.col("node_id").alias("canonical_id"), "label"
    )
    return triples, nodes, edges


def _utc_now() -> datetime:
    """Naive UTC wall clock, matching the session time zone convention."""
    return datetime.now(timezone.utc).replace(tzinfo=None)


def run_snapshot(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    snapshot_id: int,
    n_parts: int = DEFAULT_PARTS,
    resume: bool = True,
    incremental_from: Optional[int] = None,
    stage_timings: Optional[dict[str, float]] = None,
) -> dict[str, Any]:
    """Process one snapshot of the PAGES table into committed KG tables.

    A committed snapshot is final.  It is committed once its lineage
    manifest exists (the root's one commit point: until then every
    table's read with no id serves the previous committed snapshot), and
    with ``resume=True`` a re-run returns its report from the manifests
    (``pages`` 0, ``errors`` empty, the committed row counts) and runs no
    Spark job.  ``resume=False`` first removes its lineage manifest, so
    the snapshot is uncommitted while it is recomputed and overwritten.
    Late pages go to a new snapshot with ``incremental_from=<id>``.  A
    crash before the lineage commit leaves no manifest, so the re-run
    re-derives everything; there are no per-part commits to resume from
    within a run.
    Incremental: with ``incremental_from=<parent snapshot id>``, urls the
    parent already saw are anti-joined away and the parent's triples are
    kept.  Kept triples are re-linked and re-materialized with this run's,
    so the committed tables equal a full build's; lineage records only
    the parts this run parsed.
    The parse runs once, into a local checkpoint, the only data Spark
    holds in the run: every later job (the redirecting rows' collect too)
    reads it, so a lost executor fails the run rather than re-parsing; a
    re-run re-derives.  The rewritten redirecting rows live on the
    driver, as a local relation.
    Pass ``stage_timings={}`` to collect per-stage wall seconds:
    ``parse_sec`` (the parse checkpoint and the redirect resolution: the
    redirecting rows' collect and, per hop, a parse of the target pages,
    which scans the whole input), ``link_cc_sec`` (linking and CC)
    and ``write_sec`` (the commits and, beside them, the lineage and
    error-histogram aggregate; lineage last)."""
    if resume and snapshot_id in snapshots_of(out_root, "lineage"):
        rows = {t: read_manifest(out_root, t, snapshot_id)["row_count"]
                for t in ("triples", "nodes", "edges", "lineage")}
        return {"snapshot_id": snapshot_id, "pages": 0, "triples": rows["triples"],
                "nodes": rows["nodes"], "edges": rows["edges"],
                "lineage_rows": rows["lineage"], "errors": {}}
    uncommit(out_root, snapshot_id)
    # lineage rows carry the run's wall-clock bracket (SURVEY §1.2
    # schema): started_ts = run entry, finished_ts = after the data
    # commits.  Commit metadata is the one place wall clock is allowed
    # (datagen and linking stay deterministic).
    started_ts = _utc_now()
    pages = add_part_id(pages, n_parts)
    # redirect targets resolve against the FULL corpus, not the
    # incremental delta: a page redirecting to a url the parent snapshot
    # already saw must still resolve (incremental and full runs agree)
    pages_full = pages

    kept_triples = kept_nodes = prior_seen = None
    if incremental_from is not None:
        # K9 incremental: only urls never seen by the parent snapshot are
        # parsed; the parent's triples and its item and feed nodes (their
        # titles are not in the triples) are kept.  Edges and author nodes
        # are never read back: they derive from the whole triple set.
        prior_seen = read_snapshot(spark, out_root, "pages_seen", incremental_from)
        pages = pages.join(prior_seen.select("url"), "url", "left_anti")
        kept_triples = read_snapshot(spark, out_root, "triples", incremental_from)
        kept_nodes = read_snapshot(spark, out_root, "nodes", incremental_from).where(
            F.col("kind").isin("item", "feed")
        )
    # explicit url-hash partitioning before the Python stage (K11)
    todo = pages.repartition(n_parts, "part_id")

    t0 = time.perf_counter()
    # the one copy of the parse (the expensive Python stage), which
    # every later job scans; redirects add only a local relation of their rows
    parsed = resolve_meta_refresh(
        add_part_id(parse_pages(todo), n_parts).localCheckpoint(eager=True), pages_full
    )
    if stage_timings is not None:
        stage_timings["parse_sec"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    # link_and_canonicalize links eagerly and returns a driver-local
    # mapping (the broadcast dimension of the author join)
    canon = link_and_canonicalize(parsed, kept_triples=kept_triples)
    triples, nodes, edges = materialize_graph(
        parsed, canon, snapshot_id, n_parts, kept_triples, kept_nodes
    )
    if stage_timings is not None:
        stage_timings["link_cc_sec"] = round(time.perf_counter() - t0, 3)

    # the seen-url set comes off the MATERIALIZED parsed table
    # (row-identical to the source: one row per input page, same
    # url-hash part_id) — re-scanning a generated/WARC source would
    # re-run its Python ingest.  The anti-join made the delta's urls
    # disjoint from the parent's, so the union keeps, as a full build
    # does, one row per crawled page
    seen = parsed.select("url", "part_id")
    if prior_seen is not None:
        seen = seen.unionByName(add_part_id(prior_seen.select("url"), n_parts))

    # commit protocol: data tables first, lineage LAST — the lineage
    # commit marks this snapshot final, so a crash anywhere earlier
    # leaves every default read on the previous snapshot and
    # re-derives everything on the next run.
    # The data tables and the counts aggregate run CONCURRENTLY
    # (independent dirs and jobs): overlapping them hides per-job
    # latency.  Each worker thread gets its own copy of the caller's
    # local properties (job group, description): one shared copy
    # would carry one thread's call site into another's jobs.
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=5) as pool:
        def submit(fn, *args, **kwargs):
            return pool.submit(inheritable_thread_target(spark)(fn), *args, **kwargs)

        # lineage counts only this run's triples, not the kept ones
        f_counts = submit(snapshot_counts, parsed, snapshot_id)
        f_triples = submit(
            write_snapshot, triples, out_root, "triples", snapshot_id,
            partition_by=["part_id"],
        )
        f_nodes = submit(write_snapshot, nodes, out_root, "nodes", snapshot_id)
        f_edges = submit(write_snapshot, edges, out_root, "edges", snapshot_id)
        f_seen = submit(write_snapshot, seen, out_root, "pages_seen", snapshot_id)
        m_triples = f_triples.result()
        m_nodes = f_nodes.result()
        m_edges = f_edges.result()
        f_seen.result()
        lineage, errors, n_pages = f_counts.result()
    # one file for a row per part; one job, the last of the run
    m_lineage = write_snapshot(
        spark.createDataFrame(lineage).coalesce(1)
        .withColumn("started_ts", F.lit(started_ts))
        .withColumn("finished_ts", F.lit(_utc_now())),
        out_root, "lineage", snapshot_id,
        extra={"n_pages": n_pages, "errors": errors},
    )
    if stage_timings is not None:
        stage_timings["write_sec"] = round(time.perf_counter() - t0, 3)
    return {
        "snapshot_id": snapshot_id,
        "pages": n_pages,
        "triples": m_triples["row_count"],
        "nodes": m_nodes["row_count"],
        "edges": m_edges["row_count"],
        "lineage_rows": m_lineage["row_count"],
        "errors": errors,
    }
