"""Graph analytics over the constructed KG and derived edge lists.

Round-3 additions (tier: KG construction — once the graph is built you
query it): degree histogram, PageRank, triangle counting.  Connected
components itself lives in cc.py (operator K7); these compose with it
(see __spark_entry__.link_cc_components for the end-to-end oracle).

Design-for-scale notes
----------------------
* ``degree_histogram`` — two hash aggregations; the node union is a
  narrow projection, no join.
* ``pagerank`` — EXACT integer arithmetic: scores are BIGINT
  micro-units (``scale`` = 1e12 of total mass) and every division is
  integral (`a div b` in Spark, `//` in DuckDB), so the result is
  bit-identical regardless of partitioning, summation order, or engine
  — a float PageRank is not cross-engine reproducible, an integer one
  is.  Per iteration: one join edges->scores (shuffle on src, edge
  table shuffled/cached once) + one groupBy dst.  Scores are localCheckpointed
  each round so the plan stays O(1) deep instead of O(iters) — same
  lineage-truncation discipline as cc.py.  Dangling mass (sink nodes)
  is dropped, the standard simplified damped walk; both engines
  implement the same definition.
* ``triangle_count`` — degree-ordered orientation (each undirected
  edge directed from the (degree, id)-smaller endpoint to the larger):
  every triangle is counted exactly once and the join fan-out is
  bounded by arboricity, O(m^1.5) worst case instead of the naive
  sum-of-deg^2 — the standard MapReduce trick (Suri & Vassilvitskii,
  WWW'11).  Two self-joins on the oriented edge set; the oriented set
  is cached so degrees compute once.
"""

from __future__ import annotations

from pathlib import Path
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

PR_SCALE = 10**12  # one unit of PageRank mass, in integer micro-units

# Iterative-algorithm working-set partitioning (guide §2.2): V- and
# E-sized iteration state is partitioned by MEASURED size instead of
# inheriting spark.sql.shuffle.partitions.  Two bounds compose: a byte
# target (~32 MB per partition — dominates at web scale) and a
# rows-per-task floor capped at the cluster parallelism (keeps the
# join/agg compute of mid-size sets parallel; a single 500k-row task
# measured ~2s slower per algorithm than eight).  A fixed partition
# count over-partitions eval-scale state into hundreds-of-rows tasks
# (per-task overhead dominates the round) and under-partitions
# web-scale state; the measured math adapts to both.
ITER_PART_BYTES = 32 << 20
ITER_ROWS_PER_TASK = 65536


def _iter_parts(n_rows: int, parallelism: int, row_bytes: int = 48) -> int:
    """Partition count for an iteration working set of ``n_rows``
    narrow rows (~``row_bytes`` serialized bytes each) on a cluster
    offering ``parallelism`` concurrent task slots."""
    import math

    by_bytes = math.ceil(n_rows * row_bytes / ITER_PART_BYTES)
    by_rows = min(math.ceil(n_rows / ITER_ROWS_PER_TASK), max(1, parallelism))
    return max(1, by_bytes, by_rows)


def analyze_snapshot(
    spark: SparkSession,
    root: str | Path,
    snapshot_id: Optional[int] = None,
    pr_iters: int = 5,
    top_k: int = 20,
) -> dict[str, DataFrame]:
    """Graph analytics over a COMMITTED KG snapshot — the serving-path
    integration: edges/nodes come through ``read_snapshot`` (a directory
    read with the manifest schema), and the top-PageRank report joins
    node labels back on.

    Returns lazy DataFrames: ``degree_histogram`` (degree, n_nodes),
    ``top_pagerank`` (node, pr_q, kind, label), ``triangles``
    (n_nodes, n_edges, n_triangles).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from .snapshots import read_snapshot

    edges = read_snapshot(spark, root, "edges", snapshot_id)
    nodes = read_snapshot(spark, root, "nodes", snapshot_id)

    # the three reports are independent jobs over the same committed
    # tables: materialize them CONCURRENTLY (guide §2.6 — a later job's
    # tasks back-fill slots freed by an earlier job's tail) and return
    # the materialized frames, so the caller's collects are instant and
    # the wall is max(report) instead of sum(report)
    def _deg() -> DataFrame:
        return degree_histogram(edges).orderBy("degree").localCheckpoint(eager=True)

    def _top() -> DataFrame:
        return (
            pagerank(edges, iters=pr_iters)
            .join(
                nodes.select(F.col("node_id").alias("node"), "kind", "label"),
                "node",
                "left",
            )
            .orderBy(F.desc("pr_q"), "node")
            .limit(top_k)
            .localCheckpoint(eager=True)
        )

    def _tri() -> DataFrame:
        return triangle_count(edges).localCheckpoint(eager=True)

    # each worker thread gets its own copy of the caller's local
    # properties (job group, description), as in run_snapshot
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_deg, f_top, f_tri = (
            pool.submit(inheritable_thread_target(spark)(f)) for f in (_deg, _top, _tri)
        )
        return {
            "degree_histogram": f_deg.result(),
            "top_pagerank": f_top.result(),
            "triangles": f_tri.result(),
        }


def degree_histogram(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected degree histogram: (degree, n_nodes).

    Degree counts edge endpoints (a node on k edges has degree k; both
    directions of the union contribute).  Multigraph semantics: parallel
    edges (e.g. one per predicate in the KG edge table) each count —
    dedup upstream for simple-graph degrees.  Two partial-aggregated
    hash aggs, no join.
    """
    ends = edges.select(F.col(src).alias("node")).unionByName(
        edges.select(F.col(dst).alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = PR_SCALE,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    sources: DataFrame | None = None,
) -> DataFrame:
    """Integer-exact PageRank: (node, pr_q) with pr_q in 1/scale units.

    pr_0(v)   = scale div N
    pr_i+1(v) = (15 * scale) div (100 * N)
              + (85 * sum_{u->v} c(u,v)) div 100
    c(u,v)    = pr_i(u) div outdeg(u)                 (unweighted)
              = (pr_i(u) * w(u,v)) div wsum(u)        (weighted)

    All divisions integral => associative integer sums => deterministic
    and engine-independent (the DuckDB oracle unrolls the same
    recurrence).  Edges and out-degrees are computed once and cached;
    each iteration is one shuffle-join + one aggregation.

    ``weight``: optional integral edge-weight column (w >= 1; keep
    w <= ~1e6 so pr_q * w stays inside BIGINT).  With weights, the
    per-edge contribution divides in the edge-join projection (payload:
    two longs); unweighted keeps the division at the node level.

    ``sources``: optional one-column DataFrame of reset nodes —
    PERSONALIZED PageRank: initial mass and the (1-d) teleport term go
    only to the source set S (scale div |S| / (15*scale) div (100*|S|))
    instead of uniformly; nodes outside the graph are ignored.  Same
    integer recurrence, same per-iteration cost (the source flag rides
    the cached node table).
    """
    # canonicalize the edge set ONCE and materialize it with its row
    # count observed on the same job (guide §1.4): the count sizes the
    # iteration working sets (_iter_parts) so the edge cache and the
    # V-sized score/node tables are partitioned by DATA SIZE, not by
    # spark.sql.shuffle.partitions — the cached InMemoryRelation keeps
    # hashpartitioning(src) visible to Catalyst, so every iteration's
    # edge join shuffles only the V-sized score table.
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight is not None:
        # multi-edges with different weights must not resolve to an
        # arbitrary survivor (dropDuplicates keeps any one row) — sum
        # them, which is both deterministic and the natural multigraph
        # semantics; unweighted edges stay a plain distinct
        cols.append(F.col(weight).cast("long").alias("w"))
        e0 = edges.select(*cols).groupBy("src", "dst").agg(F.sum("w").alias("w"))
    else:
        e0 = edges.select(*cols).dropDuplicates(["src", "dst"])
    obs = Observation()
    e_mat = e0.observe(obs, F.count(F.lit(1)).alias("m")).localCheckpoint(
        eager=True
    )
    p = _iter_parts(
        int(obs.get["m"]), edges.sparkSession.sparkContext.defaultParallelism
    )
    e = e_mat.repartition(p, "src").cache()
    # out-degrees ride the cached V-sized node table (one static left
    # join at setup) so each iteration is ONE E-sized join + one
    # aggregation — the old per-iteration outdeg-by-scores join is gone
    # (guide §2.4: two fewer exchanges per iteration)
    out_agg = (
        F.sum("w").alias("wsum") if weight is not None
        else F.count("*").alias("outdeg")
    )
    deg_col = "wsum" if weight is not None else "outdeg"
    outdeg = e.groupBy("src").agg(out_agg).withColumnRenamed("src", "node")
    nodes_plain = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(outdeg, "node", "left")
    )
    if sources is not None:
        # flag rides the cached V-sized table: per-iteration cost is
        # unchanged, the teleport term just multiplies by the flag
        srcs = sources.select(
            F.col(sources.columns[0]).alias("node")
        ).distinct().withColumn("_is_s", F.lit(1).cast("long"))
        nodes = (
            nodes_plain.join(srcs, "node", "left")
            .select(
                "node",
                F.coalesce("_is_s", F.lit(0)).cast("long").alias("is_s"),
                deg_col,
            )
            .repartition(p, "node")
            .cache()
        )
    else:
        nodes = (
            nodes_plain.withColumn("is_s", F.lit(1).cast("long"))
            .select("node", "is_s", deg_col)
            .repartition(p, "node")
            .cache()
        )
    if sources is not None:
        n = nodes.agg(F.sum("is_s")).collect()[0][0] or 0
        if n == 0:
            raise ValueError("personalized pagerank: no source node is in the graph")
    else:
        n = nodes.count()
    base_q = (15 * scale) // (100 * n)

    # scores carries (node, pr_q, outdeg/wsum): the per-src division
    # still happens once per EDGE-JOIN ROW as before (same integers,
    # identical integral results), but no separate rate join is needed
    scores = nodes.select(
        "node",
        (F.col("is_s") * F.lit(scale // n)).cast("long").alias("pr_q"),
        deg_col,
    )
    for i in range(iters):
        if weight is None:
            contrib_rows = e.join(scores, e.src == scores.node).select(
                F.col("dst").alias("node"), F.expr("pr_q div outdeg").alias("cq")
            )
        else:
            contrib_rows = e.join(scores, e.src == scores.node).select(
                F.col("dst").alias("node"),
                F.expr("(pr_q * w) div wsum").alias("cq"),
            )
        contrib = contrib_rows.groupBy("node").agg(F.sum("cq").alias("in_q"))
        scores = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.col("is_s") * F.lit(base_q)
                + F.expr(
                    f"({damping_pct} * coalesce(in_q, 0L)) div 100"
                )
            ).cast("long").alias("pr_q"),
            deg_col,
        )
        # truncate lineage PERIODICALLY, not every round: the chained
        # iterations execute as one job (stages pipeline, no per-round
        # driver barrier or V-sized checkpoint write); the every-4th
        # checkpoint bounds plan depth for large ``iters`` while the
        # final eager checkpoint materializes the result once so the
        # caches can be released before the caller's action
        if (i + 1) % 4 == 0 and i != iters - 1:
            scores = scores.localCheckpoint(eager=True)
    scores = scores.select("node", "pr_q").localCheckpoint(eager=True)
    # scores is a materialized checkpoint — the working sets can go
    e.unpersist()
    nodes.unpersist()
    return scores


def bfs_depths(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Minimum hop distance from any source node (directed edges;
    union both directions upstream for undirected reach).

    Frontier expansion: per level, one join frontier->edges (the
    E-sized edge set is repartitioned by src once and cached, so only
    the frontier shuffles) + one anti-join against the visited set;
    both frontier and visited are level-checkpointed (lineage stays
    O(1), not O(depth)).  Early-exits when the frontier drains.
    Returns (node, depth); integer depths — engine-exact, replayed in
    DuckDB with a recursive CTE.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition("src")
        .cache()
    )
    frontier = sources.select(
        F.col(sources.columns[0]).alias("node")
    ).distinct().withColumn("depth", F.lit(0).cast("long")).localCheckpoint(eager=True)
    visited = frontier
    for d in range(1, max_depth + 1):
        nxt = (
            e.join(frontier.select("node"), e.src == F.col("node"))
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    e.unpersist()
    return visited


def kcore_edges(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Edges surviving ``rounds`` iterations of k-core peeling (drop
    every node with degree < k, repeat).

    Fixed round count, NOT run-to-convergence: the result after r
    rounds is a well-defined deterministic object both engines compute
    identically (the DuckDB oracle unrolls the same r rounds); pick
    ``rounds`` >= the graph's peeling depth for the true k-core.  Each
    round: one degree aggregation + two semi-joins, edge set
    checkpointed per round (O(1) lineage).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return e


def ktruss_edges(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Edges surviving ``rounds`` iterations of k-truss peeling (drop
    every edge in fewer than k-2 triangles, repeat).

    Same fixed-round contract as :func:`kcore_edges`: the result after
    r rounds is a well-defined deterministic object both engines
    compute identically (the DuckDB oracle unrolls the same r rounds);
    pick ``rounds`` >= the graph's peeling depth for the true k-truss.
    Rounds stop early at the fixpoint (edge count unchanged implies no
    support changed — peeling is monotone), which never changes the
    result, only skips no-op rounds.

    Triangle enumeration uses degree-ordered orientation (one wedge
    join bounded by degeneracy, the shape that survives power-law skew
    at web scale — NOT the naive 3-way join the eval-scale oracle
    runs).  The orientation comes from the INITIAL degree snapshot and
    is reused across rounds, shrunk by a semi-join as edges peel:
    (degree, id) is a fixed total order, so the oriented set stays a
    valid acyclic orientation all the way down — re-orienting per
    round only re-balances wedge fan-out, it never changes which edges
    survive, and skipping it removes the per-round degree agg + double
    join that dominated the round's fixed cost (round-6 shave of the
    r5 graph_ktruss wall).  Each triangle charges its 3 canonical
    edges; a left-semi join keeps edges with support >= k-2.  Edge set
    checkpointed per round (O(1) lineage).

    k <= 2 short-circuits to the whole canonical graph: support 0 is
    satisfied by every edge including triangle-free ones (ADVICE r5 —
    the charge-join used to drop them).
    """
    support = max(0, k - 2)
    obs0 = Observation()
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if support == 0:
        return e
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("o")
        )
        .select("o.u", "o.v")  # 2 columns only: the wedge join scans this
        .localCheckpoint(eager=True)
    )
    # counts ride the materialization jobs as Observations (round 7):
    # no separate count job per round
    prev_n = int(obs0.get["n"])
    for r in range(rounds):
        o1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
        o2 = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
        o3 = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
        tris = o1.join(o2, "y").join(o3, ["x", "z"])
        # each triangle charges its 3 edges, re-canonicalized (the
        # orientation order is (degree, id), not lexicographic)
        tri_edges = tris.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("x", "y").alias("a"),
                        F.greatest("x", "y").alias("b"),
                    ),
                    F.struct(
                        F.least("y", "z").alias("a"),
                        F.greatest("y", "z").alias("b"),
                    ),
                    F.struct(
                        F.least("x", "z").alias("a"),
                        F.greatest("x", "z").alias("b"),
                    ),
                )
            ).alias("t")
        ).select("t.a", "t.b")
        keep = (
            tri_edges.groupBy("a", "b")
            .agg(F.count("*").alias("s"))
            .where(F.col("s") >= support)
            .select("a", "b")
        )
        obs_r = Observation()
        e = (
            e.join(keep, ["a", "b"], "left_semi")
            .observe(obs_r, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if r == rounds - 1:
            break  # round budget spent: no early-stop bookkeeping
        n = int(obs_r.get["n"])
        if n == prev_n:
            break  # fixpoint: no edge dropped, supports unchanged
        prev_n = n
        # shrink the orientation to the survivors; canonical keys are
        # recomputed in the join condition so the cached set stays at
        # 2 columns (a 4-column checkpoint measurably slowed round 1)
        oriented = oriented.join(
            e,
            (F.least(oriented["u"], oriented["v"]) == e["a"])
            & (F.greatest(oriented["u"], oriented["v"]) == e["b"]),
            "left_semi",
        ).localCheckpoint(eager=True)
    return e.select("a", "b")


def contract_graph(
    edges: DataFrame,
    mapping: DataFrame,
    keep_self_loops: bool = False,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Quotient-graph contraction (K83): map every node through
    (node -> grp) and merge parallel edges into weighted super-edges —
    how a page-level web graph becomes the host-level graph (the
    CommonCrawl host-webgraph product), or an entity graph becomes its
    community graph after LPA.

    Returns (src, dst, weight) over groups; weight = number of
    original edges collapsing onto the super-edge; self-loops drop
    unless ``keep_self_loops``.  Plan: two mapping joins (the mapping
    is node-sized but usually broadcastable when it is a dimension
    like host or nation — pass a broadcast() mapping to pin it) + one
    (src, dst)-keyed count with map-side partial aggregation.  Nodes
    missing from the mapping drop with their edges (inner joins) —
    the contract callers rely on.
    """
    ms = mapping.select(F.col("node").alias(src), F.col("grp").alias("_gs"))
    md = mapping.select(F.col("node").alias(dst), F.col("grp").alias("_gd"))
    out = (
        edges.join(ms, src)
        .join(md, dst)
        .select(F.col("_gs").alias("src"), F.col("_gd").alias("dst"))
    )
    if not keep_self_loops:
        out = out.where(F.col("src") != F.col("dst"))
    return out.groupBy("src", "dst").agg(F.count("*").alias("weight"))


def negative_edge_samples(
    edges: DataFrame,
    n_cand: int = 8,
    top_k: int = 3,
    bucket_factor: int = 32,
    seed: str = "neg",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic negative-edge sampling (the non-edges a link
    prediction / node2vec trainer contrasts against): for each node u,
    ``n_cand`` hash-addressed candidate picks, known edges and self
    filtered out, the ``top_k`` survivors ranked by a second hash.

    NO RNG: candidate j of node u lands in hash bucket
    md5(seed|u|j) mod B and picks that bucket's member minimizing
    md5(seed|u|j|v) — a pseudo-random pick that replays exactly on any
    engine.  B = V/bucket_factor buckets keeps the candidate join
    fan-out at ~bucket_factor rows per (u, j) — no global index, no
    V^2 anywhere; the only V-scan is one distinct + one count.
    Returns (node, neg, rank) with rank 1..top_k by the rank hash.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    nodes = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    n_buckets = max(1, n_nodes // bucket_factor)

    def _h15(col):
        # cast-to-string first: node ids may be numeric, and the digits
        # render identically to DuckDB's CAST(x AS VARCHAR)
        return F.conv(
            F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
        ).cast("long")

    pop = nodes.select(
        F.col("node").alias("v"), (_h15(F.col("node")) % n_buckets).alias("bk")
    )
    cand = nodes.select(
        F.col("node").alias("u"),
        F.explode(F.sequence(F.lit(1), F.lit(n_cand))).alias("j"),
    ).select(
        "u",
        "j",
        (
            _h15(F.concat_ws("#", F.lit(seed), "u", "j")) % n_buckets
        ).alias("bk"),
    )
    picked = (
        cand.join(pop, "bk")
        .where(F.col("v") != F.col("u"))
        .groupBy("u", "j")
        .agg(
            F.min(
                F.struct(
                    _h15(F.concat_ws("#", F.lit(seed), "u", "j", "v")).alias("h"),
                    F.col("v").alias("v"),
                )
            ).alias("p")
        )
        .select("u", F.col("p.v").alias("v"))
        .dropDuplicates(["u", "v"])
    )
    non_edges = picked.join(
        und,
        (F.least("u", "v") == F.col("a")) & (F.greatest("u", "v") == F.col("b")),
        "left_anti",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("u").orderBy(
        _h15(F.concat_ws("|", F.lit(seed), "u", "v")), F.col("v")
    )
    return (
        non_edges.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(F.col("u").alias("node"), F.col("v").alias("neg"), "rank")
    )


def _min_label_converged(
    edges: DataFrame, labels: DataFrame, max_rounds: int
) -> DataFrame:
    """Run lbl(v) <- min(lbl(v), min over in-edges u->v of lbl(u)) to
    VERIFIED convergence (label-sum fingerprint, same scheme as
    cc.py).  ``edges`` must be (src, dst); ``labels`` (node, lbl).
    Per round one edges->labels join + one min-agg.

    The per-batch fingerprint rides the checkpoint materialization as
    an Observation — no separate collect job per batch (round-7; the
    former shape paid an extra agg scan per check plus one up-front).
    Check cadence is ADAPTIVE (every round for the first 3, every 2nd
    to round 8, every 3rd beyond): min-label propagation is idempotent
    at fixpoint, so batching never changes the result, it only spends
    the batch remainder in no-op rounds to observe the fixpoint.

    Raises RuntimeError if ``max_rounds`` exhausts before an observed
    fixpoint: an unconverged coloring would let scc() cut intra-SCC
    edges and return silently wrong components (ADVICE r5 — loud,
    never partial)."""
    lab = labels
    prev = None
    rounds = 0
    while rounds < max_rounds:
        step = 1 if rounds < 3 else (2 if rounds < 8 else 3)
        for _ in range(min(step, max_rounds - rounds)):
            pushed = (
                edges.join(lab, edges["src"] == lab["node"])
                .select(F.col("dst").alias("node"), "lbl")
            )
            # NOTE (round 7): pointer jumping (v also adopts
            # lbl(lbl(v)), an exact O(log depth) acceleration for
            # run-to-convergence min-label) was implemented, proved
            # correct against the oracle, and MEASURED ~10% slower on
            # the eval graph — its colorings are shallow (~10 rounds),
            # so the extra V-sized self-join per round costs more than
            # the rounds it saves.  Worth revisiting only for graphs
            # with deep ancestor chains.
            lab = (
                lab.unionByName(pushed)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
            )
            rounds += 1
        # checkpoint ONCE per check batch (lineage stays <= step joins):
        # the batch's rounds pipeline into a single job instead of one
        # barrier per round, and the fingerprint is observed on that
        # same job
        obs = Observation()
        lab = lab.observe(
            obs,
            F.coalesce(
                F.sum(F.xxhash64("node", "lbl").cast("decimal(38,0)")),
                F.lit(0),
            ).alias("h"),
        ).localCheckpoint(eager=True)
        cur = int(obs.get["h"])
        if cur == prev:
            return lab
        prev = cur
    raise RuntimeError(
        f"min-label propagation did not reach a verified fixpoint in "
        f"{max_rounds} rounds (graph diameter exceeds the bound); "
        f"raise max_inner"
    )


def scc(
    edges: DataFrame,
    max_outer: int = 10,
    max_inner: int = 40,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Strongly connected components of a directed graph: (node,
    scc_id), scc_id = lexicographic min node of the component.

    Forward-backward coloring (the Pregel-style distributed SCC): each
    outer round propagates min labels forward (f = min ancestor) and
    backward (b = min descendant) to convergence within the active
    subgraph; f and b are constant on an SCC, and f(v) == b(v) == c
    forces c into v's SCC, so those nodes settle with scc_id = f.
    Edges whose endpoints disagree on (f, b) can never be intra-SCC
    and are cut; the remainder recurses.  Chains settle in 2 outer
    rounds, most graphs in O(log) — per inner round one E-side join +
    min-agg, state is V-sized and checkpointed (O(1) lineage).

    EXACT SCC (run-to-convergence, not fixed-round): the eval-scale
    oracle computes the same object independently via transitive
    closure, so no lockstep construction is needed.
    """
    obs_e = Observation()
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .observe(obs_e, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_e = int(obs_e.get["n"])
    obs_a = Observation()
    active = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .observe(obs_a, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_active = int(obs_a.get["n"])
    # empty seed derived from the INPUT's id type (string graphs and
    # bigint graphs both resolve exactly, no union coercion — ADVICE r5).
    # ``parts`` accumulates the per-round settled frames LAZILY (each is
    # a filter over a checkpointed fb table); nothing consumes the
    # assignment mid-loop, so the union happens once at return instead
    # of one checkpoint job per round.  Emptiness of the edge/active
    # sets rides the materialization jobs as observed counts — the
    # former per-round isEmpty() probe jobs are gone (round-7).
    parts = [active.limit(0).select("node", F.col("node").alias("scc_id"))]
    # the coloring rounds' shuffles take the session partition count,
    # which AQE coalesces by size; scc never changes session config,
    # because other threads may submit jobs concurrently
    drained = False
    for _ in range(max_outer):
        if n_active == 0:
            drained = True
            break
        if n_e == 0:
            # no edges left in the active subgraph: every remaining
            # node is trivially its own SCC — skips the entire last
            # outer round of colorings (the common tail: a cloud of
            # singletons after the giant components settle)
            parts.append(active.select("node", F.col("node").alias("scc_id")))
            drained = True
            break
        init = active.select("node", F.col("node").alias("lbl"))
        # f and b are independent colorings over the same edge set:
        # run them CONCURRENTLY (two driver threads submitting jobs),
        # so the outer round's barrier count is max(f, b) instead of
        # f + b — on a cluster the two propagation jobs interleave on
        # free slots, and each inner round is a partial-agg'd V-sized
        # min, so neither starves the other (round-6 shave; a fused
        # single-table f+b coloring was tried in round 7 and measured
        # ~35% SLOWER — serializing the rounds costs more than the
        # per-job overhead it saves)
        from concurrent.futures import ThreadPoolExecutor

        e_rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        # a size-gated broadcast of the label side was tried here
        # (round 7) and measured neutral-to-worse: mid-batch label
        # subtrees are lazy, so each broadcast re-executes the chain
        # prefix on the build side.  The checkpoint-per-batch shape
        # keeps the shuffle join.
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_fut = pool.submit(_min_label_converged, e, init, max_inner)
            b_fut = pool.submit(_min_label_converged, e_rev, init, max_inner)
            f = f_fut.result().withColumnRenamed("lbl", "f")
            b = b_fut.result().withColumnRenamed("lbl", "b")
        obs_fb = Observation()
        fb = (
            f.join(b, "node")
            .observe(
                obs_fb,
                F.coalesce(
                    F.sum((F.col("f") != F.col("b")).cast("long")), F.lit(0)
                ).alias("na"),
            )
            .localCheckpoint(eager=True)
        )
        n_active = int(obs_fb.get["na"])
        parts.append(
            fb.where(F.col("f") == F.col("b")).select(
                "node", F.col("f").alias("scc_id")
            )
        )
        active = fb.where(F.col("f") != F.col("b")).select("node")
        if n_active == 0:
            drained = True
            break
        # keep only edges inside one surviving (f, b) class
        cls_s = fb.select(
            F.col("node").alias("src"), F.col("f").alias("fs"), F.col("b").alias("bs")
        )
        cls_d = fb.select(
            F.col("node").alias("dst"), F.col("f").alias("fd"), F.col("b").alias("bd")
        )
        obs_ne = Observation()
        e = (
            e.join(cls_s, "src")
            .join(cls_d, "dst")
            .where(
                (F.col("fs") == F.col("fd"))
                & (F.col("bs") == F.col("bd"))
                & (F.col("fs") != F.col("bs"))
            )
            .select("src", "dst")
            .observe(obs_ne, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_e = int(obs_ne.get["n"])
    if not drained and n_active > 0:
        # ADVICE r5: nodes still active when the outer loop exhausts
        # must never be silently omitted from the assignment
        raise RuntimeError(
            f"scc did not assign every node within max_outer={max_outer} "
            f"rounds; raise max_outer"
        )
    assigned = parts[0]
    for part in parts[1:]:
        assigned = assigned.unionByName(part)
    return assigned


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection: (node, label).

    label_0(v) = v; each round every node adopts the most frequent
    label among its neighbors, ties broken by the SMALLEST label — a
    total deterministic rule, so the result after a fixed number of
    rounds is a well-defined object both engines compute identically
    (the DuckDB oracle unrolls the same rounds; same discipline as
    ``kcore_edges``).  Undirected: each edge votes both ways.

    Scale shape: the 2E-sized adjacency is repartitioned on its join
    key ONCE and cached, so per round only the V-sized label table
    shuffles into the join; votes reduce through a partial-aggregated
    groupBy(node, label) and a per-node top-1 window.  Labels are
    localCheckpointed per round — O(1) lineage, O(rounds) jobs.
    """
    from pyspark.sql.window import Window

    # canonicalize BEFORE dedup: an edge supplied in both directions is
    # one undirected edge and must vote once (same as kcore_edges)
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    # (v, u): u is a neighbor of v; partitioned by u = the join key
    adj = (
        und.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionByName(und.select(F.col("b").alias("v"), F.col("a").alias("u")))
        .repartition("u")
        .cache()
    )
    labels = (
        adj.select(F.col("v").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    top1 = Window.partitionBy("v").orderBy(F.desc("n"), F.asc("label"))
    for _ in range(rounds):
        votes = adj.join(
            labels.withColumnRenamed("node", "u"), "u"
        ).select("v", "label")
        counted = votes.groupBy("v", "label").agg(F.count("*").alias("n"))
        labels = (
            counted.withColumn("rn", F.row_number().over(top1))
            .where(F.col("rn") == 1)
            .select(F.col("v").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    adj.unpersist()
    return labels


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count via degree-ordered orientation.

    Returns a single row (n_nodes, n_edges, n_triangles).  The closing
    edge of an oriented wedge u->v->w is necessarily oriented u->w
    (the (degree, id) order is total and transitive), so one join of
    the wedge set against the oriented edge set counts each triangle
    exactly once.
    """
    # materialize the canonical edge set ONCE: it is consumed by the
    # degree computation, the orientation join and the edge-count agg,
    # and Spark does not dedupe common subtrees — without this the
    # (possibly expensive) upstream edge derivation re-executes ~5x
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        # lazy checkpoints throughout (round 7): every intermediate is
        # stored on first computation inside the caller's ONE job
        # instead of paying an eager driver barrier per intermediate
        .localCheckpoint(eager=False)
    )
    ends = und.select(F.col("a").alias("node")).unionByName(
        und.select(F.col("b").alias("node"))
    )
    # deg is consumed three times (both orientation sides + node count)
    deg = ends.groupBy("node").agg(F.count("*").alias("d")).localCheckpoint(
        eager=False
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    # orient from (degree, id)-smaller to larger endpoint
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint(eager=False)  # consumed three times below
    )
    o1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    o2 = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    o3 = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
    wedges = o1.join(o2, "y")
    tris = wedges.join(o3, ["x", "z"])
    return (
        tris.agg(F.count("*").alias("n_triangles"))
        .crossJoin(und.agg(F.count("*").alias("n_edges")))
        .crossJoin(deg.agg(F.count("*").alias("n_nodes")))
        .select("n_nodes", "n_edges", "n_triangles")
    )


HITS_SCALE = 10**6  # hub/authority mass unit; V * scale^2 must fit BIGINT


def hits(
    edges: DataFrame,
    iters: int = 3,
    scale: int = HITS_SCALE,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer-exact HITS (hubs and authorities): (node, hub_q, auth_q)
    in 1/scale units, sum-normalized each half-step.

    Same exactness contract as :func:`pagerank`: all arithmetic is
    BIGINT with integral division, so scores are bit-identical across
    partitionings and engines.  Sum-normalization (q = raw * scale div
    total) replaces the usual L2 norm — no sqrt, same fixed point
    ranking.  ``scale`` must satisfy V * scale^2 < 2^63 (raw scores are
    bounded by V * scale before normalizing); the 1e6 default holds to
    ~9e6 nodes, pass a smaller scale beyond that.

    Per half-step: one join edges->scores (edge set shuffled/cached
    once, scores V-sized) + one groupBy + a single-row total that
    broadcasts; per-step localCheckpoint keeps lineage O(1).
    """
    obs_e = Observation()
    e_mat = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .dropDuplicates(["src", "dst"])
        .observe(obs_e, F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=True)
    )
    # partition the edge cache by measured size (_iter_parts, guide
    # §2.2) — same discipline as pagerank
    e = e_mat.repartition(
        _iter_parts(
            int(obs_e.get["m"]),
            edges.sparkSession.sparkContext.defaultParallelism,
        ),
        "src",
    ).cache()
    obs_n = Observation()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .observe(obs_n, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # size-gated broadcast of the V-sized score tables (guide §3.1):
    # checkpointed RDDs carry no Catalyst stats, so the planner never
    # broadcasts them on its own and every half-step would shuffle the
    # scores against the edge cache.  The EXACT node count is known
    # from the observation — broadcast while the built relation stays
    # small (~250k rows ≈ 16 MB framed), shuffle join beyond that.
    # Measured 2x on the eval graph; join strategy, not results.
    small_v = int(obs_n.get["n"]) < 250_000

    def _maybe_b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_v else df

    def _norm(raw: DataFrame) -> DataFrame:
        # the global total is identical whether or not zero-raw nodes
        # are attached (they add 0), so normalize the aggregated rows
        # only: nodes absent from ``raw`` would come out at exactly
        # (0 * scale) div tot = 0 and are re-attached ONCE at the end
        # instead of via a V-sized left join every half-step.  The
        # total rides the materialization job as an Observation — the
        # old aggregate-then-crossJoin shape evaluated the whole raw
        # aggregation subtree TWICE per half-step (Spark does not
        # dedupe common subtrees, guide §7.2).
        obs = Observation()
        mat = raw.observe(
            obs, F.coalesce(F.sum("raw"), F.lit(0)).alias("tot")
        ).localCheckpoint(eager=True)
        tot = int(obs.get["tot"])
        return _maybe_b(
            mat.select(
                "node",
                F.expr(f"(raw * {scale}) div {tot}").cast("long").alias("q"),
            )
        )

    h = _maybe_b(nodes.select("node", F.lit(scale).cast("long").alias("q")))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h, e.src == h.node)
            .select(F.col("dst").alias("node"), F.col("q"))
            .groupBy("node")
            .agg(F.sum("q").alias("raw"))
        )
        a = _norm(a_raw)
        h_raw = (
            e.join(a, e.dst == a.node)
            .select(F.col("src").alias("node"), F.col("q"))
            .groupBy("node")
            .agg(F.sum("q").alias("raw"))
        )
        h = _norm(h_raw)
    # zero-fill: nodes with no in-(out-)edges never entered the raw
    # aggregations; their exact score is 0 under the same recurrence
    out = (
        nodes.join(h.select("node", F.col("q").alias("hub_q")), "node", "left")
        .join(a.select("node", F.col("q").alias("auth_q")), "node", "left")
        .select(
            "node",
            F.coalesce("hub_q", F.lit(0)).cast("long").alias("hub_q"),
            F.coalesce("auth_q", F.lit(0)).cast("long").alias("auth_q"),
        )
    )
    e.unpersist()
    return out


def deterministic_walks(
    edges: DataFrame,
    starts: DataFrame,
    walk_len: int = 4,
    seed: str = "w",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Pseudo-random walk corpus (DeepWalk/node2vec-style input for
    graph-embedding training) with NO RNG: at step t the walk at
    ``start`` moves to the neighbor minimizing
    md5(seed|start|t|neighbor) — hash-ranked neighbor selection, so the
    walk set is a pure function of (graph, starts, seed) and replays
    exactly in SQL on any engine.

    Returns (start, path) with path = '>'-joined node sequence.  One
    walk per start node; dead-end nodes simply stop extending.  Per
    step: one join walk-frontier->edges (E shuffled/cached once) + one
    per-start window — walk state is |starts|-sized, checkpointed per
    step (O(1) lineage).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition("src")
        .cache()
    )
    from pyspark.sql import Window

    w = (
        starts.select(F.col(starts.columns[0]).alias("start"))
        .distinct()
        .select("start", F.col("start").alias("cur"), F.col("start").alias("path"))
        .localCheckpoint(eager=True)
    )
    for t in range(1, walk_len + 1):
        h = F.md5(F.concat_ws("|", F.lit(seed), "start", F.lit(str(t)), "dst"))
        win = Window.partitionBy("start").orderBy(
            F.col("h").asc_nulls_last(), F.col("dst").asc_nulls_last()
        )
        w = (
            # left join: dead ends carry (cur, path) forward unchanged
            w.join(e, w.cur == e.src, "left")
            .withColumn("h", h)
            .withColumn("rn", F.row_number().over(win))
            .where(F.col("rn") == 1)
            .select(
                "start",
                F.coalesce("dst", "cur").alias("cur"),
                F.when(
                    F.col("dst").isNotNull(),
                    F.concat_ws(">", "path", "dst"),
                ).otherwise(F.col("path")).alias("path"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return w.select("start", "path")


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Single-source (or multi-source) shortest paths over non-negative
    INTEGER edge weights: Bellman-Ford with a fixed round count.

    Returns (node, dist) for every node reached within ``rounds``
    hops — a well-defined deterministic object whatever the round
    count (the DuckDB oracle unrolls the same rounds); pick ``rounds``
    >= the weighted diameter in hops for the true distances.  Parallel
    edges resolve to their MIN weight (deterministic, and the only one
    a shortest path could use).

    Per round: one join dist->edges (E shuffled/cached once, dist is
    V-sized) + one min-aggregation, checkpointed — O(1) lineage,
    O(rounds) barriers, never an all-pairs product.
    """
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("long").alias("w"),
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .repartition("src")
        .cache()
    )
    dist = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        cand = e.join(dist, e.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return dist


def maximal_independent_set(
    edges: DataFrame,
    rounds: int = 4,
    seed: str = "mis",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic Luby MIS (K79): the parallel maximal-independent-
    set algorithm with md5 priorities standing in for Luby's coin flips
    — conflict-free node selection (scheduling, one-per-neighborhood
    dedup) that replays exactly on any engine.

    Per round r: every ACTIVE node whose (md5(seed#r#v), v) beats all
    active neighbors' joins the MIS; winners AND their neighbors
    deactivate; isolated actives win unconditionally.  Fixed round
    count (the DuckDB oracle unrolls the same rounds; Luby converges
    in O(log n) rounds whp, so pick rounds accordingly — leftovers
    after r rounds are a well-defined deterministic object).  Per
    round: one V-sized priority projection, one neighbor min-agg
    (map-side combinable), two semi/anti joins; adjacency
    checkpointed per round (O(1) lineage).  Returns (node,) — the MIS
    members found within ``rounds``.
    """
    adj = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    adj = (
        adj.unionByName(adj.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=True)
    )
    active = adj.select(F.col("u").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    mis = active.limit(0)  # empty, same node type as the graph's ids
    for r in range(rounds):
        if active.isEmpty():
            break
        pr = active.select(
            "node",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.lit(seed), F.lit(str(r)), "node")),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("p"),
        ).localCheckpoint(eager=True)
        nbr_min = (
            adj.join(pr.withColumnRenamed("node", "u"), "u")
            .select("v", F.struct("p", F.col("u").alias("node")).alias("c"))
            .groupBy("v")
            .agg(F.min("c").alias("m"))
        )
        winners = (
            pr.join(nbr_min, pr.node == nbr_min.v, "left")
            .where(
                F.col("m").isNull()
                | (F.struct("p", "node") < F.col("m"))
            )
            .select("node")
            .localCheckpoint(eager=True)
        )
        mis = mis.unionByName(winners).localCheckpoint(eager=True)
        removed = winners.unionByName(
            adj.join(winners.withColumnRenamed("node", "u"), "u").select(
                F.col("v").alias("node")
            )
        ).distinct()
        active = active.join(removed, "node", "left_anti").localCheckpoint(
            eager=True
        )
        adj = (
            adj.join(active.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(active.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return mis


def temporal_earliest_arrival(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    ts: str = "t",
) -> DataFrame:
    """Earliest-arrival TIME-RESPECTING reachability (K78): over a
    temporal graph (src, dst, t), a path may leave a node only at a
    time >= its arrival there — the reachability that matters on
    event/interaction graphs, where plain BFS overcounts by running
    causality backwards.

    Returns (node, ea) for every node reachable within ``rounds``
    hops; sources arrive at time 0.  Same fixed-round contract as
    sssp: the after-r-rounds object is deterministic and the DuckDB
    oracle unrolls the identical rounds.  Per round one join
    (E cached/partitioned once, arrival state V-sized) with the
    t >= ea(src) causality filter + one min-agg — map-side
    combinable, O(rounds) barriers, never all-pairs.  ``ts`` must be
    an integral column (epoch days/seconds — cast upstream).
    """
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(ts).cast("long").alias("t"),
        )
        .dropDuplicates(["src", "dst", "t"])
        .repartition("src")
        .cache()
    )
    ea = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("ea", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        cand = (
            e.join(ea, e.src == ea.node)
            .where(F.col("t") >= F.col("ea"))
            .select(F.col("dst").alias("node"), F.col("t").alias("ea"))
        )
        ea = (
            ea.unionByName(cand)
            .groupBy("node")
            .agg(F.min("ea").alias("ea"))
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    return ea


AA_SCALE = 10**4  # Adamic-Adar weight unit: round(1e4/ln(d)) per DEGREE
# TYPE, summed as exact integers — the same type-level quantization
# that keeps bigram_lm_surprisal / dsir cross-engine exact (a 1-ulp
# libm delta in ln() could only flip a value landing exactly on a
# .5 grid boundary, and it is applied once per distinct degree, not
# once per pair)


def link_prediction(
    edges: DataFrame,
    top_k: int = 20,
    src: str = "src",
    dst: str = "dst",
    max_common_degree: int | None = None,
) -> DataFrame:
    """Common-neighbors + Adamic-Adar link prediction over an
    undirected graph: (u, v, common_neighbors, aa_score_q) for the
    top_k NON-edges ranked by (common_neighbors desc, aa_score_q desc,
    u, v) — the classic KG-completion primitive (Liben-Nowell &
    Kleinberg 2003): which missing edges does the neighborhood
    structure most strongly predict?

    aa_score_q = sum over common neighbors w of round(AA_SCALE /
    ln(d_w)) as BIGINT — exact to replay cross-engine (d_w >= 2 for
    every wedge center, so ln never hits 0).

    Scale shape: candidate pairs come from ONE self-join of the
    2E-sized adjacency on the wedge-center key (same family as
    triangle counting — never nodes x nodes), reduced by a partial-
    aggregated groupBy(u, v) BEFORE the existing-edge anti-join.
    ``max_common_degree`` caps the degree of the wedge CENTER — on a
    power-law web graph the hub rows explode quadratically while
    contributing near-zero Adamic-Adar mass (1/ln(d) -> 0), so
    dropping centers above the cap is both the standard skew defense
    and a principled approximation; None keeps the operator exact.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        # lazy: consumed by adj, deg and anti-join inside the caller's
        # one action — stored on first computation, no driver barrier
        .localCheckpoint(eager=False)
    )
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("w")).unionByName(
        und.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    deg = adj.groupBy(F.col("v").alias("w")).agg(F.count("*").alias("d"))
    if max_common_degree is not None:
        deg = deg.where(F.col("d") <= max_common_degree)
    # quantize 1/ln(d) once per distinct degree value (type table);
    # d >= 2 drops degree-1 nodes, which can never center a wedge but
    # would hit ln(1) = 0 under ANSI division
    wq = deg.where(F.col("d") >= 2).select(
        "w", F.round(F.lit(AA_SCALE) / F.log(F.col("d"))).cast("long").alias("q")
    )
    centered = adj.select(F.col("w"), F.col("v")).join(wq, "w")
    left = centered.select("w", F.col("v").alias("u"), "q")
    right = centered.select("w", F.col("v").alias("v2"))
    cand = (
        left.join(right, "w")
        .where(F.col("u") < F.col("v2"))
        .groupBy(F.col("u"), F.col("v2").alias("v"))
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum("q").alias("aa_score_q"),
        )
    )
    non_edges = cand.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return non_edges.orderBy(
        F.desc("common_neighbors"), F.desc("aa_score_q"), "u", "v"
    ).limit(top_k)


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman modularity Q of a node partition, in EXACT integer
    arithmetic: Q = sum_c (e_c/m - (D_c/2m)^2) is computed as
    q_num = 4*m*sum_c(e_c) - sum_c(D_c^2) over BIGINTs, with ONE
    final rounded division by 4*m^2 — so both engines agree bit-for-
    bit on every intermediate (the same integer-moment trick as
    degree assortativity).  ``labels`` is (node, label).

    Returns one row: (n_communities, m_edges, intra_edges, q_num,
    modularity).  Exact while 4*m^2 < 2^63 (m < ~1.5e9 undirected
    edges); past that, compute the two moments in DECIMAL(38,0) or
    accept one double rounding — the moments themselves stay exact
    far longer (D_c <= 2m).

    Scale shape: two V-sized joins of labels into the edge list
    (broadcast when labels fit, shuffle-hash otherwise — Catalyst's
    call), then pure partial-aggregated sums; no iteration.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    lab = labels.select(F.col("node"), F.col("label"))
    la = lab.select(F.col("node").alias("a"), F.col("label").alias("ca"))
    lb = lab.select(F.col("node").alias("b"), F.col("label").alias("cb"))
    # edge and intra-edge counts ride the materialization job as
    # Observations — the two former count() jobs are gone (round 7)
    obs_t = Observation()
    tagged = (
        und.join(la, "a")
        .join(lb, "b")
        .observe(
            obs_t,
            F.count(F.lit(1)).alias("m"),
            F.coalesce(
                F.sum((F.col("ca") == F.col("cb")).cast("long")), F.lit(0)
            ).alias("intra"),
        )
        .localCheckpoint(eager=True)
    )
    m = int(obs_t.get["m"])
    intra = int(obs_t.get["intra"])
    # D_c = sum of degrees of nodes labeled c; degree from the SAME
    # tagged edge list so dangling label rows cannot skew the moment
    dsum = (
        tagged.select(F.col("ca").alias("c"))
        .unionByName(tagged.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count("*").alias("dc"))
    )
    moments = dsum.agg(
        F.count("*").alias("n_communities"),
        F.sum(F.col("dc") * F.col("dc")).alias("sum_dc2"),
    )
    return moments.select(
        "n_communities",
        F.lit(m).cast("long").alias("m_edges"),
        F.lit(intra).cast("long").alias("intra_edges"),
        (F.lit(4 * m * intra).cast("long") - F.col("sum_dc2")).alias("q_num"),
        F.round(
            (F.lit(4 * m * intra).cast("double") - F.col("sum_dc2"))
            / F.lit(4.0 * m * m),
            6,
        ).alias("modularity"),
    )


HB_REGISTERS = 64  # HyperBall register count per node (m = 64, alpha = 0.709)


def _hb_init(edges: DataFrame, src: str, dst: str):
    """Shared HyperBall setup: the cached undirected adjacency
    (repartitioned once on its join key) and the radius-0 register
    table — EXPLODED (node, pb) rows with bucket and rho packed into
    one INT (see ``neighborhood_hll`` for why packing matters)."""
    ladder = "CASE " + " ".join(
        f"WHEN (h div 64) < {1 << k} THEN {k}" for k in range(1, 55)
    ) + " ELSE 55 END"
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    adj = (
        und.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionByName(und.select(F.col("b").alias("v"), F.col("a").alias("u")))
        .repartition("u")
        .cache()
    )
    ball = (
        adj.select(F.col("v").alias("node"))
        .distinct()
        .withColumn(
            "h",
            F.expr(
                "CAST(conv(substr(md5(CAST(node AS STRING)), 1, 15), 16, 10)"
                " AS BIGINT)"
            ),
        )
        .select(
            "node",
            (
                (F.col("h") % HB_REGISTERS) * HB_REGISTERS
                + F.expr(
                    f"CAST(CASE WHEN (h div 64) = 0 THEN 55"
                    f" ELSE 55 - ({ladder}) END AS BIGINT)"
                )
            ).cast("int").alias("pb"),
        )
        # lazy checkpoint: the register table materializes inside the
        # consumer's single fused job (round 7 — no per-stage barrier),
        # is stored on first computation, and still truncates lineage
        .localCheckpoint(eager=False)
    )
    return adj, ball


def _hb_merge_round(adj: DataFrame, ball: DataFrame) -> DataFrame:
    """One HyperBall round: propagate registers along edges and take
    the per-(node, bucket) max — partial-aggregated, map-side combine
    (bucket is the high bits of pb, so max(pb) IS the register max)."""
    prop = adj.join(ball.withColumnRenamed("node", "u"), "u").select(
        F.col("v").alias("node"), "pb"
    )
    return (
        ball.unionByName(prop)
        .groupBy("node", F.expr(f"pb div {HB_REGISTERS}").alias("bk"))
        .agg(F.max("pb").alias("pb"))
        .select("node", "pb")
        # lazy: rounds chain into ONE job at the caller's final
        # materialization; each round's table is stored when first
        # computed, so later rounds and per-radius aggregates read it
        # instead of recomputing (round 7)
        .localCheckpoint(eager=False)
    )


def neighborhood_hll(
    edges: DataFrame,
    radius: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): per-node r-hop neighborhood
    sizes estimated by propagating HyperLogLog registers along edges —
    (node, hll_est, nonzero_registers).  Exact r-hop counting
    materializes the quadratic-in-the-hub-degree ball; HyperBall keeps
    V x m integer registers and runs ``radius`` rounds of
    merge-with-neighbors, which is why it is THE scale path for
    neighborhood-function / effective-diameter work on web graphs.

    Bit-reproducible like the corpus HLL sketch (same 60-bit md5
    prefix, bucket = low 6 bits, rho = leading-zero rank of the
    54-bit remainder via an integer CASE ladder): registers live as
    EXPLODED (node, pb) rows with bucket and rho PACKED into one
    INT (pb = bucket*64 + rho — bucket in the high bits, so
    max(pb) within a bucket IS the register max), and the per-round
    merge is a partial-aggregated groupBy(node, pb div 64).max(pb) —
    map-side combining, whole-stage codegen, no higher-order-function
    interpretation (a packed array<byte> register column would force
    a non-partial aggregate; two separate LONG columns measured ~12
    bytes/row heavier across the E*m-row shuffle).  State is V*m rows
    per round, E*m rows shuffle per round; the adjacency is
    repartitioned on its join key once and cached.  The estimate is
    the standard harmonic mean with every term an exact BIGINT
    (2^(55-rho)) and ONE double division.
    """
    adj, ball = _hb_init(edges, src, dst)
    for _ in range(radius):
        ball = _hb_merge_round(adj, ball)
    # ONE eager materialization executes every (lazy-checkpointed)
    # round as a single fused job, after which the adjacency cache can
    # be released before the caller's action
    out = _hb_sums(ball).select(
        "node",
        F.round(_hb_est_expr(), 2).alias("hll_est"),
        F.col("nz").cast("long").alias("nonzero_registers"),
    ).localCheckpoint(eager=True)
    adj.unpersist()
    return out


def _hb_sums(ball: DataFrame) -> DataFrame:
    """Collapse a packed register table to (node, s_present, nz) —
    every term an exact BIGINT (2^(55-rho)), partial-aggregated."""
    return ball.groupBy("node").agg(
        F.sum(
            F.expr(f"CAST(pow(2, 55 - (pb % {HB_REGISTERS})) AS BIGINT)")
        ).alias("s_present"),
        F.count("*").alias("nz"),
    )


def _hb_est_expr():
    """The corrected HLL estimate over (s_present, nz) columns: the
    standard harmonic mean (ONE double division over identical integer
    trees) with the small-range linear-counting correction — below
    2.5*m the harmonic estimator saturates toward alpha*m (~45 here
    even for a 3-node ball), so count empty registers instead.  Both
    branches are one double expression over identical integers; the
    ln() carries the same documented 1-ulp libm caveat as
    lm_quality_score (a flip needs a value exactly on a quantization
    boundary).  HyperBall lives in this regime — most balls are small.
    """
    m = HB_REGISTERS
    raw = (
        F.lit(0.709 * m * m).cast("double")
        * F.lit(1 << 55).cast("double")
        / (F.col("s_present") + (F.lit(m) - F.col("nz")) * F.lit(1 << 55)).cast(
            "double"
        )
    )
    lc = F.lit(float(m)).cast("double") * F.log(
        F.lit(float(m)).cast("double") / (F.lit(m) - F.col("nz")).cast("double")
    )
    return F.when((F.col("nz") < m) & (raw <= F.lit(2.5 * m)), lc).otherwise(raw)


def harmonic_centrality(
    edges: DataFrame,
    radius: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Harmonic centrality via HyperBall (the application Boldi &
    Vigna 2013 built it for): HC(v) = sum over r>=1 of
    (|B_r(v)| - |B_{r-1}(v)|) / r, truncated at ``radius`` — the
    centrality that is well-defined on disconnected web graphs
    (unreachable nodes contribute 0, not an infinite distance).

    Returns (node, hc_q) with hc_q an exact BIGINT in units of
    1/(100*L), L = lcm(1..radius): each per-radius ball estimate is
    quantized ONCE (q_r = round(est_r * 100) as BIGINT, including the
    radius-0 singleton ball) and the weighted telescoping sum
    hc_q = sum_r (q_r - q_{r-1}) * (L div r) is pure integer
    arithmetic — partitioning- and engine-independent given the q_r,
    which ride the same md5-register/one-double-division construction
    as ``neighborhood_hll`` (and its documented 1-ulp ln() caveat in
    the small-range branch).  Cost over neighborhood_hll: one extra
    V*m-row partial aggregate per round; the propagation rounds are
    identical.  The radius+1 V-sized q tables join on node at the end.
    """
    import math

    weight_lcm = math.lcm(*range(1, radius + 1))
    adj, ball = _hb_init(edges, src, dst)
    qs = [_hb_q(ball, 0)]
    for r in range(1, radius + 1):
        ball = _hb_merge_round(adj, ball)
        qs.append(_hb_q(ball, r))
    joined = qs[0]
    for q in qs[1:]:
        joined = joined.join(q, "node")
    hc = sum(
        (F.col(f"q{r}") - F.col(f"q{r - 1}")) * F.lit(weight_lcm // r)
        for r in range(1, radius + 1)
    )
    # one fused job (see neighborhood_hll); the per-radius aggregates
    # read each stored round table instead of re-running earlier rounds
    out = joined.select("node", hc.cast("long").alias("hc_q")).localCheckpoint(
        eager=True
    )
    adj.unpersist()
    return out


def neighborhood_function(
    edges: DataFrame,
    max_radius: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """The graph's neighborhood function via HyperBall — N(r) = sum
    over nodes of the estimated r-ball size, the curve whose 90% point
    is the effective diameter (the headline web-graph statistic of
    Boldi & Vigna 2013).  Returns one row per radius 0..max_radius:
    (radius, nf_q) with nf_q = sum of the per-node quantized estimates
    (q_r = round(est*100) BIGINT, same construction as
    ``harmonic_centrality``) — an exact BIGINT given the registers, so
    partitioning- and engine-independent.  Cost: the same propagation
    rounds as ``neighborhood_hll`` run to max_radius, plus one scalar
    aggregate per radius; the per-radius frames are single rows, so
    the union is driver-free and O(max_radius) tall.
    """
    adj, ball = _hb_init(edges, src, dst)
    rows = [
        _hb_q(ball, 0).agg(F.sum("q0").alias("nf_q")).select(
            F.lit(0).cast("long").alias("radius"), "nf_q"
        )
    ]
    for r in range(1, max_radius + 1):
        ball = _hb_merge_round(adj, ball)
        rows.append(
            _hb_q(ball, r).agg(F.sum(f"q{r}").alias("nf_q")).select(
                F.lit(r).cast("long").alias("radius"), "nf_q"
            )
        )
    out = rows[0]
    for frame in rows[1:]:
        out = out.unionByName(frame)
    out = out.localCheckpoint(eager=True)  # one fused job, see above
    adj.unpersist()
    return out


def _hb_q(ball: DataFrame, r: int) -> DataFrame:
    """Quantized HLL estimate of one register table: (node, q{r}) with
    q = round(est * 100) as BIGINT — the same corrected estimate as
    ``neighborhood_hll`` but rounded once, directly from the double."""
    return _hb_sums(ball).select(
        "node", F.round(_hb_est_expr() * 100).cast("long").alias(f"q{r}")
    )


def reciprocity(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global edge reciprocity of a directed graph: the fraction of
    (distinct, non-loop) directed edges whose reverse edge also
    exists — on web graphs the classic spam/community discriminator
    (organic link neighborhoods reciprocate; link farms and pure
    citation structures do not).

    Output: one row (n_edges, n_mutual, reciprocity_ppm) with the
    ratio in integer parts-per-million (10^6 * mutual div edges —
    exact cross-engine integer arithmetic, the repo-wide convention).

    Plan: dedup once, ONE self-equi-join against the reversed edge
    set on (src, dst) — both sides shuffle on the same key pair, so
    the join co-partitions; counts collapse map-side.  No windows,
    no driver state."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    mutual = e.join(rev, ["s", "d"], "left_semi")
    n = e.agg(F.count("*").alias("n_edges"))
    m = mutual.agg(F.count("*").alias("n_mutual"))
    return n.crossJoin(m).select(
        "n_edges",
        "n_mutual",
        F.expr("(1000000 * n_mutual) div n_edges").alias("reciprocity_ppm"),
    )


def core_numbers(
    edges: DataFrame,
    max_k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Core number per node: the largest ``k`` (up to ``max_k``) for
    which the node survives ``rounds`` rounds of k-core peeling — the
    full degeneracy decomposition (k-core gives one shell; the core
    NUMBER ranks every node's structural embeddedness, the standard
    web/social cohesion index).

    Same fixed-round contract as :func:`kcore_edges` (both engines
    compute the identical object; pick ``rounds`` >= peeling depth
    for true cores).  Efficiency lever: the k-core of the (k-1)-core
    IS the k-core of the graph, so each level peels the PREVIOUS
    survivor set, not the full edge set — total barriers
    max_k x rounds (scale-independent), per-level data monotonically
    shrinking.  Early-exits when a level empties.

    Output: (node, core) for every node incident to an input edge,
    core = 0 for isolated-after-dedup nodes (self-loop-only)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    all_nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    levels = [all_nodes.withColumn("core", F.lit(0))]
    cur = e
    for k in range(1, max_k + 1):
        cur = kcore_edges(cur, k=k, rounds=rounds, src="a", dst="b")
        if cur.isEmpty():
            break
        levels.append(
            cur.select(F.col("a").alias("node"))
            .unionByName(cur.select(F.col("b").alias("node")))
            .distinct()
            .withColumn("core", F.lit(k))
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.groupBy("node").agg(F.max("core").alias("core"))


def neighborhood_jaccard(
    edges: DataFrame,
    k: int = 5,
    max_hub_degree: int = 10000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Link-based related-entity discovery: top-``k`` most similar
    nodes per node by Jaccard similarity of (undirected) neighbor
    sets — the classic related-sites/related-pages signal (two hosts
    are related when the web links to/from them the same way, no
    content needed).

    Output: (node, rank, related, n_common, jaccard_ppm) with the
    ratio in integer ppm (10^6 * |A∩B| div |A∪B| — exact
    cross-engine).

    Scale shape: candidate pairs come from a shared-neighbor wedge
    join — the only pairs that can have nonzero Jaccard — so cost is
    sum(deg(n)^2) over wedge CENTERS, never |V|^2.  Hub centers
    (degree > ``max_hub_degree``) are excluded from wedge generation,
    the standard related-items mitigation: a node linked by millions
    relates everything to everything and contributes quadratic pairs
    while carrying no similarity signal.  Counts collapse map-side;
    the top-k window partitions per node."""
    from pyspark.sql.window import Window

    und = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .union(edges.select(F.col(dst).alias("x"), F.col(src).alias("y")))
        .where(F.col("x") != F.col("y"))
        .distinct()
    )
    deg = und.groupBy("x").agg(F.count("*").alias("d"))
    center_deg = und.groupBy("y").agg(F.count("*").alias("cd"))
    wedges = und.join(
        center_deg.where(F.col("cd") <= max_hub_degree).select("y"), "y"
    )
    a = wedges.select(F.col("x").alias("h1"), "y")
    b = wedges.select(F.col("x").alias("h2"), "y")
    inter = (
        a.join(b, "y")
        .where(F.col("h1") < F.col("h2"))
        .groupBy("h1", "h2")
        .agg(F.count("*").alias("n_common"))
    )
    d1 = deg.select(F.col("x").alias("h1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("x").alias("h2"), F.col("d").alias("d2"))
    scored = (
        inter.join(d1, "h1")
        .join(d2, "h2")
        .select(
            "h1",
            "h2",
            "n_common",
            F.expr("(1000000 * n_common) div (d1 + d2 - n_common)").alias(
                "jaccard_ppm"
            ),
        )
    )
    sym = scored.select(
        F.col("h1").alias("node"), F.col("h2").alias("related"),
        "n_common", "jaccard_ppm",
    ).unionByName(
        scored.select(
            F.col("h2").alias("node"), F.col("h1").alias("related"),
            "n_common", "jaccard_ppm",
        )
    )
    w = Window.partitionBy("node").orderBy(
        F.desc("jaccard_ppm"), F.asc("related")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("node", "rank", "related", "n_common", "jaccard_ppm")
    )
