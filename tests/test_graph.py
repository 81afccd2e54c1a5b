"""Graph analytics (ffp_spark.graph): degrees, PageRank, triangles.

Covers exact values on hand-checkable graphs, engine-order independence
(the integer-PageRank determinism claim), equivalence of the oriented
triangle count with a naive reference on a seeded random graph, and the
lineage-truncation shape of the iterative loop.
"""

from __future__ import annotations

import itertools
import math
import random

import pytest
from pyspark.sql import functions as F

from ffp_spark.graph import PR_SCALE, degree_histogram, pagerank, triangle_count


def _edges(spark, pairs):
    return spark.createDataFrame([(str(a), str(b)) for a, b in pairs], "src string, dst string")


def test_degree_histogram_known_graph(spark):
    # path a-b-c-d plus isolated-ish leaf e-b: degrees a1 b3 c2 d1 e1
    df = degree_histogram(_edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("e", "b")]))
    got = {r.degree: r.n_nodes for r in df.collect()}
    assert got == {1: 3, 2: 1, 3: 1}


def test_pagerank_star_ranks_center_highest(spark):
    # directed star into the center: center must strictly dominate
    e = _edges(spark, [(f"l{i}", "center") for i in range(5)])
    rows = {r.node: r.pr_q for r in pagerank(e, iters=3).collect()}
    assert rows["center"] > max(v for k, v in rows.items() if k != "center")
    # leaves are symmetric -> identical integer scores
    assert len({v for k, v in rows.items() if k != "center"}) == 1


def test_pagerank_mass_bounded_and_deterministic(spark):
    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(40)]
    pairs = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(200)}
    pairs = [(a, b) for a, b in pairs if a != b]
    e = _edges(spark, pairs)
    r1 = sorted(pagerank(e, iters=4).collect())
    # total mass never exceeds one unit (floor-division only leaks down)
    assert sum(r.pr_q for r in r1) <= PR_SCALE
    # partitioning must not change a single integer: the determinism
    # claim the DuckDB oracle relies on
    r2 = sorted(pagerank(e.repartition(13), iters=4).collect())
    assert r1 == r2


def _reference_pagerank(pairs, iters, scale=PR_SCALE):
    """Pure-Python replay of the integer recurrence — must match Spark
    EXACTLY (that's the whole point of integral-division PageRank)."""
    edges = sorted(set(pairs))
    nodes = sorted({n for e in edges for n in e})
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    n = len(nodes)
    base = (15 * scale) // (100 * n)
    score = {v: scale // n for v in nodes}
    for _ in range(iters):
        incoming = {v: 0 for v in nodes}
        for a, b in edges:
            incoming[b] += score[a] // out[a]
        score = {v: base + (85 * incoming[v]) // 100 for v in nodes}
    return score


def test_pagerank_matches_python_reference_exactly(spark):
    rng = random.Random(23)
    nodes = [f"p{i}" for i in range(25)]
    pairs = [(a, b) for a, b in {(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)} if a != b]
    got = {r.node: r.pr_q for r in pagerank(_edges(spark, pairs), iters=4).collect()}
    assert got == _reference_pagerank(pairs, iters=4)


def _reference_ppr(pairs, sources, iters, scale=PR_SCALE):
    """Pure-Python personalized recurrence: init mass and teleport go
    only to the source set."""
    edges = sorted(set(pairs))
    nodes = sorted({n for e in edges for n in e})
    srcs = sorted(set(sources) & set(nodes))
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    ns = len(srcs)
    base = (15 * scale) // (100 * ns)
    score = {v: (scale // ns if v in srcs else 0) for v in nodes}
    for _ in range(iters):
        incoming = {v: 0 for v in nodes}
        for a, b in edges:
            incoming[b] += score[a] // out[a]
        score = {
            v: (base if v in srcs else 0) + (85 * incoming[v]) // 100
            for v in nodes
        }
    return score


def test_personalized_pagerank_matches_python_reference(spark):
    rng = random.Random(41)
    nodes = [f"q{i}" for i in range(20)]
    pairs = [(a, b) for a, b in {(rng.choice(nodes), rng.choice(nodes)) for _ in range(90)} if a != b]
    # isolated island unreachable from the seeds must stay at zero
    pairs += [("island1", "island2"), ("island2", "island1")]
    sources = ["q0", "q1"]
    e = _edges(spark, pairs)
    s = spark.createDataFrame([(x,) for x in sources], "node string")
    got = {r.node: r.pr_q for r in pagerank(e, iters=4, sources=s).collect()}
    assert got == _reference_ppr(pairs, sources, iters=4)
    assert got["island1"] == 0 and got["island2"] == 0
    # sources outside the graph are ignored; all-outside raises
    s2 = spark.createDataFrame([("q0",), ("q1",), ("nope",)], "node string")
    got2 = {r.node: r.pr_q for r in pagerank(e, iters=4, sources=s2).collect()}
    assert got2 == got
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pagerank(e, iters=2, sources=spark.createDataFrame([("zz",)], "node string"))


def test_weighted_pagerank_matches_python_reference_exactly(spark):
    rng = random.Random(29)
    nodes = [f"w{i}" for i in range(15)]
    trips = {(rng.choice(nodes), rng.choice(nodes)): rng.randrange(1, 9)
             for _ in range(60)}
    trips = [(a, b, w) for (a, b), w in trips.items() if a != b]
    e = spark.createDataFrame(trips, "src string, dst string, w long")
    got = {r.node: r.pr_q for r in pagerank(e, iters=3, weight="w").collect()}
    # pure-Python weighted recurrence
    edges = sorted(set(trips))
    ns = sorted({n for a, b, _ in edges for n in (a, b)})
    wsum = {}
    for a, _, w in edges:
        wsum[a] = wsum.get(a, 0) + w
    n = len(ns)
    base = (15 * PR_SCALE) // (100 * n)
    score = {v: PR_SCALE // n for v in ns}
    for _ in range(3):
        inc = {v: 0 for v in ns}
        for a, b, w in edges:
            inc[b] += (score[a] * w) // wsum[a]
        score = {v: base + (85 * inc[v]) // 100 for v in ns}
    assert got == score


def test_weighted_pagerank_sums_duplicate_edges(spark):
    """Multi-edges with different weights must aggregate (sum), not
    resolve to an arbitrary dropDuplicates survivor (ADVICE r3)."""
    dup = [("a", "b", 1), ("a", "b", 4), ("a", "c", 2), ("b", "c", 3),
           ("b", "c", 3), ("c", "a", 5)]
    agg = [("a", "b", 5), ("a", "c", 2), ("b", "c", 6), ("c", "a", 5)]
    e_dup = spark.createDataFrame(dup, "src string, dst string, w long")
    e_agg = spark.createDataFrame(agg, "src string, dst string, w long")
    got_dup = {r.node: r.pr_q for r in pagerank(e_dup, iters=3, weight="w").collect()}
    got_agg = {r.node: r.pr_q for r in pagerank(e_agg, iters=3, weight="w").collect()}
    assert got_dup == got_agg
    # and the order the duplicates arrive in cannot matter
    got_rev = {
        r.node: r.pr_q
        for r in pagerank(
            spark.createDataFrame(dup[::-1], "src string, dst string, w long"),
            iters=3, weight="w",
        ).collect()
    }
    assert got_rev == got_dup


def _reference_lpa(pairs, rounds):
    """Pure-Python synchronous LPA, min-label tie-break — the exact
    contract of graph.label_propagation."""
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    labels = {v: v for v in nbrs}
    for _ in range(rounds):
        nxt = {}
        for v, ns in nbrs.items():
            counts = {}
            for u in ns:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    return labels


def test_label_propagation_matches_python_reference(spark):
    from ffp_spark.graph import label_propagation

    rng = random.Random(31)
    # two dense blobs + a single bridge: communities must be recoverable
    pairs = [(rng.randrange(0, 12), rng.randrange(0, 12)) for _ in range(70)]
    pairs += [(rng.randrange(100, 112), rng.randrange(100, 112)) for _ in range(70)]
    pairs += [(5, 105)]
    e = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "src long, dst long"
    )
    got = {r.node: r.label for r in label_propagation(e, rounds=3).collect()}
    assert got == _reference_lpa(pairs, rounds=3)
    # deterministic under a different partitioning
    again = {
        r.node: r.label
        for r in label_propagation(e.repartition(13), rounds=3).collect()
    }
    assert again == got
    # the blobs actually separate: no label crosses the bridge-only cut
    low = {l for v, l in got.items() if v < 100}
    high = {l for v, l in got.items() if v >= 100}
    assert low.isdisjoint(high)


def _naive_triangles(pairs):
    und = {frozenset(p) for p in pairs if p[0] != p[1]}
    nodes = sorted({n for e in und for n in e})
    return sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und
    )


def test_triangle_count_known_graphs(spark):
    # K4: 4 triangles
    k4 = [(a, b) for a, b in itertools.combinations("abcd", 2)]
    row = triangle_count(_edges(spark, k4)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (4, 6, 4)
    # C5 (5-cycle): no triangles; duplicate + reversed edges must not count
    c5 = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "a"), ("b", "a")]
    row = triangle_count(_edges(spark, c5)).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 5, 0)


def test_triangle_count_matches_naive_on_random_graph(spark):
    rng = random.Random(42)
    nodes = [f"v{i:02d}" for i in range(30)]
    pairs = list({tuple(sorted(rng.sample(nodes, 2))) for _ in range(120)})
    row = triangle_count(_edges(spark, pairs)).collect()[0]
    assert row.n_triangles == _naive_triangles(pairs)
    assert row.n_edges == len(pairs)


def test_pagerank_plan_depth_constant_in_iters(spark):
    """localCheckpoint truncation: the final plan must not contain the
    unrolled join chain (plan size O(1) in iteration count)."""
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    p2 = pagerank(e, iters=2)._jdf.queryExecution().optimizedPlan().toString()
    p6 = pagerank(e, iters=6)._jdf.queryExecution().optimizedPlan().toString()
    assert abs(len(p6) - len(p2)) < 200
    assert p6.count("Join") <= 2


def test_bfs_depths_known_graph(spark):
    from ffp_spark.graph import bfs_depths

    # path a->b->c->d, shortcut a->c, disconnected x->y
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "y")])
    src = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.depth for r in bfs_depths(e, src, max_depth=5).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}  # min-hop; x/y unreachable


def test_bfs_depths_respects_max_depth(spark):
    from ffp_spark.graph import bfs_depths

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    src = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.depth for r in bfs_depths(e, src, max_depth=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_kcore_strips_pendants_and_keeps_clique(spark):
    from ffp_spark.graph import kcore_edges

    # K4 clique + pendant path d-e-f: 2-core = the clique + nothing else
    k4 = [(a, b) for a, b in itertools.combinations("abcd", 2)]
    e = _edges(spark, k4 + [("d", "e"), ("e", "f")])
    core = kcore_edges(e, k=2, rounds=4)
    got = sorted((r.a, r.b) for r in core.collect())
    assert got == sorted(tuple(sorted(p)) for p in k4)
    # k=4: K4 nodes have degree 3 -> everything peels
    assert kcore_edges(e, k=4, rounds=4).count() == 0


def _naive_ktruss(pairs, k, rounds):
    """Reference peeling: drop edges in < k-2 triangles, repeat."""
    edges = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    for _ in range(rounds):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        edges = {
            (a, b)
            for a, b in edges
            if len(adj[a] & adj[b]) >= k - 2
        }
    return edges


def test_ktruss_keeps_clique_drops_tree(spark):
    from ffp_spark.graph import ktruss_edges

    # K4 clique + pendant path: every clique edge sits in 2 triangles,
    # the path edges in none -> 4-truss == the clique
    k4 = [(a, b) for a, b in itertools.combinations("abcd", 2)]
    e = _edges(spark, k4 + [("d", "e"), ("e", "f")])
    truss = ktruss_edges(e, k=4, rounds=3)
    got = sorted((r.a, r.b) for r in truss.collect())
    assert got == sorted(tuple(sorted(p)) for p in k4)
    # k=5 needs every edge in 3 triangles -> K4 peels away entirely
    assert ktruss_edges(e, k=5, rounds=3).count() == 0


def test_ktruss_cascades_and_matches_naive_on_random_graph(spark):
    from ffp_spark.graph import ktruss_edges

    # triangle glued to a 4-cycle by one shared edge: the cycle edges
    # peel in round 1, which does NOT unseat the triangle
    tri_plus_cycle = [("a", "b"), ("b", "c"), ("a", "c"),
                      ("c", "d"), ("d", "e"), ("e", "f"), ("f", "c")]
    e = _edges(spark, tri_plus_cycle)
    got = sorted((r.a, r.b) for r in ktruss_edges(e, k=3, rounds=3).collect())
    assert got == [("a", "b"), ("a", "c"), ("b", "c")]

    rng = random.Random(7)
    pairs = [
        (f"n{rng.randrange(18)}", f"n{rng.randrange(18)}") for _ in range(70)
    ]
    for k in (3, 4):
        want = _naive_ktruss(pairs, k=k, rounds=4)
        got = {
            (r.a, r.b) for r in ktruss_edges(_edges(spark, pairs), k=k, rounds=4).collect()
        }
        assert got == want


def _tarjan_sccs(pairs):
    """Reference SCCs (iterative Tarjan): {node: min-node-of-component}."""
    adj = {}
    nodes = set()
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, []).append(b)
        nodes.update((a, b))
    index, low, onstk, stk, comp = {}, {}, set(), [], {}
    counter = [0]
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, iter(sorted(adj.get(root, []))))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stk.append(root)
        onstk.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stk.append(w)
                    onstk.add(w)
                    work.append((w, iter(sorted(adj.get(w, [])))))
                    advanced = True
                    break
                if w in onstk:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                members = []
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m
    return comp


def test_scc_pins_cycles_chains_and_cross_edges(spark):
    from ffp_spark.graph import scc

    # two 3-cycles bridged one-way + a chain hanging off: the bridge
    # never merges the cycles, chain nodes are singletons
    pairs = [("a", "b"), ("b", "c"), ("c", "a"),
             ("d", "e"), ("e", "f"), ("f", "d"),
             ("c", "d"),                       # one-way bridge
             ("f", "g"), ("g", "h")]           # chain
    got = {r.node: r.scc_id for r in scc(_edges(spark, pairs)).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "d": "d", "e": "d", "f": "d",
                   "g": "g", "h": "h"}


def test_scc_matches_tarjan_on_random_digraphs(spark):
    from ffp_spark.graph import scc

    for seed, n, m in ((3, 14, 30), (11, 20, 45)):
        rng = random.Random(seed)
        pairs = [
            (f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}")
            for _ in range(m)
        ]
        want = _tarjan_sccs(pairs)
        got = {r.node: r.scc_id for r in scc(_edges(spark, pairs)).collect()}
        assert got == want


def _naive_negative_samples(pairs, n_cand, top_k, bucket_factor=32, seed="neg"):
    """Reference replay of the md5 bucket/pick/rank arithmetic."""
    import hashlib

    def h15(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nodes = sorted({n for p in und for n in p})
    n_buckets = max(1, len(nodes) // bucket_factor)
    buckets = {}
    for v in nodes:
        buckets.setdefault(h15(v) % n_buckets, []).append(v)
    out = []
    for u in nodes:
        picked = set()
        for j in range(1, n_cand + 1):
            bk = h15(f"{seed}#{u}#{j}") % n_buckets
            cands = [v for v in buckets.get(bk, []) if v != u]
            if not cands:
                continue
            picked.add(min(cands, key=lambda v: (h15(f"{seed}#{u}#{j}#{v}"), v)))
        survivors = [v for v in picked if tuple(sorted((u, v))) not in und]
        survivors.sort(key=lambda v: (h15(f"{seed}|{u}|{v}"), v))
        out.extend((u, v, r + 1) for r, v in enumerate(survivors[:top_k]))
    return sorted(out)


def test_negative_samples_match_md5_replay_and_avoid_edges(spark):
    from ffp_spark.graph import negative_edge_samples

    rng = random.Random(5)
    pairs = [
        (f"n{rng.randrange(40):02d}", f"n{rng.randrange(40):02d}")
        for _ in range(90)
    ]
    # bucket_factor 4 -> ~10 buckets over ~40 nodes: picks actually vary
    got = sorted(
        (r.node, r.neg, r.rank)
        for r in negative_edge_samples(
            _edges(spark, pairs), n_cand=6, top_k=2, bucket_factor=4
        ).collect()
    )
    want = _naive_negative_samples(pairs, n_cand=6, top_k=2, bucket_factor=4)
    assert got == want and len(got) > 0
    und = {tuple(sorted(p)) for p in pairs}
    assert all(tuple(sorted((u, v))) not in und and u != v for u, v, _ in got)


def _naive_earliest_arrival(triples, source, rounds):
    ea = {source: 0}
    for _ in range(rounds):
        new = dict(ea)
        for u, v, t in triples:
            if u in ea and t >= ea[u] and t < new.get(v, float("inf")):
                new[v] = t
        ea = new
    return ea


def test_temporal_reachability_respects_causality(spark):
    from ffp_spark.graph import temporal_earliest_arrival

    # a->b at t=5, b->c at t=3 (BEFORE arrival at b): c unreachable;
    # b->d at t=7 works; a->e at t=2 then e->c at t=3 reaches c at 3
    triples = [("a", "b", 5), ("b", "c", 3), ("b", "d", 7),
               ("a", "e", 2), ("e", "c", 3)]
    e = spark.createDataFrame(triples, "src string, dst string, t long")
    src = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.ea for r in temporal_earliest_arrival(e, src, rounds=4).collect()}
    assert got == {"a": 0, "b": 5, "d": 7, "e": 2, "c": 3}

    rng = random.Random(9)
    rt = [
        (f"n{rng.randrange(12)}", f"n{rng.randrange(12)}", rng.randrange(1, 30))
        for _ in range(60)
    ]
    e2 = spark.createDataFrame(rt, "src string, dst string, t long")
    src2 = spark.createDataFrame([("n0",)], "node string")
    got2 = {r.node: r.ea for r in temporal_earliest_arrival(e2, src2, rounds=5).collect()}
    assert got2 == _naive_earliest_arrival(rt, "n0", rounds=5)


def _naive_luby_mis(pairs, rounds, seed="mis"):
    import hashlib

    def h15(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    active = set(adj)
    mis = set()
    for r in range(rounds):
        pri = {v: (h15(f"{seed}#{r}#{v}"), v) for v in active}
        winners = {
            v
            for v in active
            if all(pri[v] < pri[u] for u in adj[v] if u in active)
        }
        mis |= winners
        removed = set(winners)
        for w in winners:
            removed |= adj[w] & active
        active -= removed
    return mis


def test_mis_is_independent_maximal_and_matches_luby_replay(spark):
    from ffp_spark.graph import maximal_independent_set

    rng = random.Random(13)
    pairs = [
        (f"n{rng.randrange(25):02d}", f"n{rng.randrange(25):02d}")
        for _ in range(60)
    ]
    got = {r.node for r in maximal_independent_set(_edges(spark, pairs), rounds=6).collect()}
    assert got == _naive_luby_mis(pairs, rounds=6)
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    # independent: no MIS edge
    assert not any(tuple(sorted(e)) in und for e in
                   [(a, b) for a in got for b in got if a < b])
    # maximal: every non-member has a MIS neighbor (6 rounds converged
    # on this graph: nothing active remains unclassified)
    nodes = {n for p in und for n in p}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    assert all(n in got or (adj[n] & got) for n in nodes)


def test_cached_repartition_join_shuffles_only_small_side(spark):
    """The pagerank shape: edges repartition('src').cache() must keep
    hashpartitioning visible so a later join on src shuffles ONLY the
    other (V-sized) side — the E-sized edge set moves once, not once
    per iteration.  Pins the Spark behavior the optimization relies on."""
    e = _edges(spark, [(f"s{i % 7}", f"d{i}") for i in range(50)]).repartition("src").cache()
    e.count()
    rate = spark.createDataFrame(
        [(f"s{i}", i) for i in range(7)], "src string, cq long"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # force the shuffle-join path the big-graph case takes
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = e.join(rate, "src")._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        e.unpersist()
    lines = plan.splitlines()
    i_join = next(i for i, l in enumerate(lines) if "MergeJoin" in l or "ShuffledHashJoin" in l)
    i_scan = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
    assert i_join < i_scan
    # the cached edge branch (between the join and its table scan) must
    # read straight from cache — no fresh Exchange
    assert not any("Exchange" in l for l in lines[i_join:i_scan])
    # the rate branch below it IS shuffled to the edges' partitioning
    assert any("Exchange hashpartitioning(src" in l for l in lines[i_scan:])


def test_analyze_snapshot_end_to_end(spark, tmp_path):
    """Serving-path integration: run a real snapshot commit, then run
    the graph analytics over the COMMITTED tables."""
    from ffp_spark.datagen import synth_pages
    from ffp_spark.graph import analyze_snapshot
    from ffp_spark.pipeline import run_snapshot

    run_snapshot(spark, synth_pages(spark, 300, seed=5), str(tmp_path), snapshot_id=1)
    out = analyze_snapshot(spark, str(tmp_path), pr_iters=2, top_k=5)
    hist = {r.degree: r.n_nodes for r in out["degree_histogram"].collect()}
    assert hist and all(d >= 1 for d in hist)
    top = out["top_pagerank"].collect()
    assert len(top) == 5 and top[0].pr_q >= top[-1].pr_q
    # labels joined back on from the committed nodes table
    assert any(r.kind is not None or r.label is not None for r in top)
    tri = out["triangles"].collect()[0]
    assert tri.n_edges > 0 and tri.n_triangles >= 0


def test_triangle_plan_has_no_cartesian(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    plan = triangle_count(e)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def _reference_hits(pairs, iters, scale):
    """Pure-Python integer sum-normalized HITS."""
    edges = sorted(set(pairs))
    nodes = sorted({n for e in edges for n in e})

    def norm(raw):
        tot = sum(raw.values())
        return {v: (raw[v] * scale) // tot for v in nodes}

    h = {v: scale for v in nodes}
    a = None
    for _ in range(iters):
        raw_a = {v: 0 for v in nodes}
        for s, d in edges:
            raw_a[d] += h[s]
        a = norm(raw_a)
        raw_h = {v: 0 for v in nodes}
        for s, d in edges:
            raw_h[s] += a[d]
        h = norm(raw_h)
    return h, a


def test_hits_matches_python_reference(spark):
    from ffp_spark.graph import HITS_SCALE, hits

    rng = random.Random(53)
    nodes = [f"h{i}" for i in range(18)]
    random_pairs = [
        (x, y)
        for x, y in {(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)}
        if x != y
    ]
    # the empty edge set must give an empty frame, not raise
    for pairs in (random_pairs, []):
        got = {
            r.node: (r.hub_q, r.auth_q)
            for r in hits(_edges(spark, pairs), iters=3).collect()
        }
        eh, ea = _reference_hits(pairs, iters=3, scale=HITS_SCALE)
        assert got == {v: (eh[v], ea[v]) for v in eh}


def test_hits_bipartite_separates_hubs_from_authorities(spark):
    from ffp_spark.graph import hits

    # two customers each buying from both suppliers: customers are pure
    # hubs (auth 0), suppliers pure authorities (hub 0)
    pairs = [("c1", "s1"), ("c1", "s2"), ("c2", "s1"), ("c2", "s2")]
    got = {r.node: (r.hub_q, r.auth_q) for r in hits(_edges(spark, pairs), iters=2).collect()}
    assert got["c1"][1] == 0 and got["c2"][1] == 0
    assert got["s1"][0] == 0 and got["s2"][0] == 0
    assert got["c1"][0] == got["c2"][0] > 0
    assert got["s1"][1] == got["s2"][1] > 0


def _reference_sssp(wpairs, srcs, rounds):
    """Pure-Python fixed-round Bellman-Ford with min-weight parallel
    edge resolution."""
    best = {}
    for s, d, w in wpairs:
        best[(s, d)] = min(best.get((s, d), w), w)
    dist = {s: 0 for s in srcs}
    for _ in range(rounds):
        nxt = dict(dist)
        for (s, d), w in best.items():
            if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + w
        dist = nxt
    return dist


def test_sssp_matches_python_reference(spark):
    from ffp_spark.graph import sssp

    rng = random.Random(59)
    nodes = [f"v{i}" for i in range(16)]
    wpairs = [
        (rng.choice(nodes), rng.choice(nodes), rng.randint(1, 9))
        for _ in range(70)
    ]
    wpairs = [(a, b, w) for a, b, w in wpairs if a != b]
    # unreachable island must be absent from the result
    wpairs += [("isl1", "isl2", 1)]
    e = spark.createDataFrame(wpairs, "src string, dst string, w long")
    s = spark.createDataFrame([("v0",)], "node string")
    got = {r.node: r.dist for r in sssp(e, s, rounds=5).collect()}
    assert got == _reference_sssp(wpairs, ["v0"], rounds=5)
    assert "isl1" not in got and "isl2" not in got


def test_sssp_prefers_cheap_two_hop_over_heavy_direct(spark):
    from ffp_spark.graph import sssp

    e = spark.createDataFrame(
        [("a", "b", 10), ("a", "m", 2), ("m", "b", 3)],
        "src string, dst string, w long",
    )
    s = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.dist for r in sssp(e, s, rounds=3).collect()}
    assert got == {"a": 0, "m": 2, "b": 5}


def test_deterministic_walks_match_python_reference_and_handle_dead_ends(spark):
    import hashlib

    from ffp_spark.graph import deterministic_walks

    pairs = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d"),
        ("d", "e"),  # e is a dead end: walk must stop extending there
    ]
    e = _edges(spark, pairs)
    starts = spark.createDataFrame([("a",), ("d",)], "node string")
    got = {r.start: r.path for r in deterministic_walks(e, starts, walk_len=4, seed="w").collect()}

    adj = {}
    for s, d in pairs:
        adj.setdefault(s, []).append(d)

    def ref_walk(start, walk_len):
        cur, path = start, start
        for t in range(1, walk_len + 1):
            nbrs = adj.get(cur)
            if not nbrs:
                continue
            nxt = min(
                nbrs,
                key=lambda v: (hashlib.md5(f"w|{start}|{t}|{v}".encode()).hexdigest(), v),
            )
            path += ">" + nxt
            cur = nxt
        return path

    assert got == {"a": ref_walk("a", 4), "d": ref_walk("d", 4)}
    # d's walk hits the dead end e after one hop and stays length 1
    assert got["d"] == "d>e"


def _reference_link_prediction(pairs, top_k=20, scale=10**4):
    """Pure-Python common-neighbors + Adamic-Adar over non-edges —
    the exact contract of graph.link_prediction (half-away-from-zero
    rounding per DISTINCT degree, like the engines' round())."""
    import math

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    q = {
        v: math.floor(scale / math.log(len(ns)) + 0.5)
        for v, ns in nbrs.items()
        if len(ns) >= 2
    }
    scores = {}
    for w, ns in nbrs.items():
        if w not in q:
            continue
        for u in ns:
            for v in ns:
                if u < v:
                    cn, aa = scores.get((u, v), (0, 0))
                    scores[(u, v)] = (cn + 1, aa + q[w])
    rows = [
        (u, v, cn, aa)
        for (u, v), (cn, aa) in scores.items()
        if (u, v) not in und
    ]
    rows.sort(key=lambda r: (-r[2], -r[3], r[0], r[1]))
    return rows[:top_k]


def test_link_prediction_matches_python_reference(spark):
    from ffp_spark.graph import link_prediction

    rng = random.Random(47)
    pairs = [(rng.randrange(0, 30), rng.randrange(0, 30)) for _ in range(90)]
    e = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "src long, dst long"
    )
    got = [tuple(r) for r in link_prediction(e, top_k=20).collect()]
    assert got == _reference_link_prediction(pairs, top_k=20)
    # partition-invariant
    again = [tuple(r) for r in link_prediction(e.repartition(7), top_k=20).collect()]
    assert again == got


def test_link_prediction_predicts_the_missing_clique_edge(spark):
    from ffp_spark.graph import link_prediction

    # K4 on {1,2,3,4} minus edge (1,2), plus a pendant: the removed
    # edge is the unique strongest prediction (2 common neighbors)
    e = _edges(spark, [(1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)])
    top = link_prediction(e, top_k=1).collect()[0]
    assert (top.u, top.v, top.common_neighbors) == ("1", "2", 2)


def test_link_prediction_degree_cap_drops_hub_centers(spark):
    from ffp_spark.graph import link_prediction

    # star center 0 with leaves 1..5: every leaf pair is predicted via
    # the hub; capping the center degree below 5 empties the output
    e = _edges(spark, [(0, i) for i in range(1, 6)])
    assert link_prediction(e, top_k=50).count() == 10
    assert link_prediction(e, top_k=50, max_common_degree=4).count() == 0


def _reference_modularity(pairs, labels):
    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    m = len(und)
    intra = sum(1 for a, b in und if labels[a] == labels[b])
    dsum = {}
    for a, b in und:
        dsum[labels[a]] = dsum.get(labels[a], 0) + 1
        dsum[labels[b]] = dsum.get(labels[b], 0) + 1
    q_num = 4 * m * intra - sum(d * d for d in dsum.values())
    return m, intra, q_num, q_num / (4.0 * m * m)


def test_modularity_matches_python_reference(spark):
    from ffp_spark.graph import label_propagation, modularity

    rng = random.Random(53)
    pairs = [(rng.randrange(0, 12), rng.randrange(0, 12)) for _ in range(60)]
    pairs += [(rng.randrange(100, 112), rng.randrange(100, 112)) for _ in range(60)]
    pairs += [(5, 105)]
    e = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "src long, dst long"
    ).localCheckpoint(eager=True)
    labels = label_propagation(e, rounds=3)
    row = modularity(e, labels).collect()[0]
    ref_labels = _reference_lpa(pairs, rounds=3)
    m, intra, q_num, q = _reference_modularity(pairs, ref_labels)
    assert (row.m_edges, row.intra_edges, row.q_num) == (m, intra, q_num)
    assert row.modularity == math.floor(q * 10**6 + 0.5) / 10**6


def test_modularity_known_values(spark):
    from ffp_spark.graph import modularity

    # two disjoint triangles, perfectly partitioned: Q = 1/2
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)])
    lab = spark.createDataFrame(
        [(str(v), "A" if v <= 3 else "B") for v in range(1, 7)],
        "node string, label string",
    )
    row = modularity(e, lab).collect()[0]
    assert (row.n_communities, row.m_edges, row.intra_edges) == (2, 6, 6)
    assert row.modularity == 0.5
    # everything in ONE community: Q = 0 exactly
    one = spark.createDataFrame(
        [(str(v), "A") for v in range(1, 7)], "node string, label string"
    )
    assert modularity(e, one).collect()[0].modularity == 0.0


def _reference_neighborhood_hll(pairs, radius=2):
    """Pure-Python HyperBall with the exact register contract of
    graph.neighborhood_hll (60-bit md5 prefix, m=64, rho ladder)."""
    import hashlib

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    regs = {}
    for v in nbrs:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        rem = h // 64
        rho = 55 if rem == 0 else 55 - rem.bit_length()
        regs[v] = {h % 64: rho}
    for _ in range(radius):
        nxt = {}
        for v in nbrs:
            merged = dict(regs[v])
            for u in nbrs[v]:
                for b, r in regs[u].items():
                    if r > merged.get(b, -1):
                        merged[b] = r
            nxt[v] = merged
        regs = nxt
    out = {}
    for v, m in regs.items():
        s = sum(1 << (55 - r) for r in m.values()) + (64 - len(m)) * (1 << 55)
        est = 0.709 * 64 * 64 * float(1 << 55) / float(s)
        if len(m) < 64 and est <= 2.5 * 64:  # linear-counting correction
            est = 64.0 * math.log(64.0 / (64 - len(m)))
        out[v] = (math.floor(est * 100 + 0.5) / 100, len(m))
    return out


def test_neighborhood_hll_matches_python_reference(spark):
    from ffp_spark.graph import neighborhood_hll

    rng = random.Random(61)
    pairs = [(rng.randrange(0, 40), rng.randrange(0, 40)) for _ in range(120)]
    e = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "src long, dst long"
    )
    got = {
        r.node: (r.hll_est, r.nonzero_registers)
        for r in neighborhood_hll(e, radius=2).collect()
    }
    assert got == _reference_neighborhood_hll(pairs, radius=2)
    again = {
        r.node: (r.hll_est, r.nonzero_registers)
        for r in neighborhood_hll(e.repartition(9), radius=2).collect()
    }
    assert again == got


def _reference_harmonic_centrality(pairs, radius=2):
    """Pure-Python replay of graph.harmonic_centrality: per-radius
    registers (same contract as the neighborhood reference), each
    estimate quantized once at 1e2 (half-away-from-zero, floor(x+0.5)
    — NOT Python round()), then the integer telescoping sum."""
    import hashlib

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    regs = {}
    for v in nbrs:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        rem = h // 64
        rho = 55 if rem == 0 else 55 - rem.bit_length()
        regs[v] = {h % 64: rho}

    def q(m):
        s = sum(1 << (55 - r) for r in m.values()) + (64 - len(m)) * (1 << 55)
        est = 0.709 * 64 * 64 * float(1 << 55) / float(s)
        if len(m) < 64 and est <= 2.5 * 64:
            est = 64.0 * math.log(64.0 / (64 - len(m)))
        return math.floor(est * 100 + 0.5)

    lcm = math.lcm(*range(1, radius + 1))
    hc = {v: 0 for v in nbrs}
    prev = {v: q(m) for v, m in regs.items()}
    for r in range(1, radius + 1):
        nxt = {}
        for v in nbrs:
            merged = dict(regs[v])
            for u in nbrs[v]:
                for b, rr in regs[u].items():
                    if rr > merged.get(b, -1):
                        merged[b] = rr
            nxt[v] = merged
        regs = nxt
        cur = {v: q(m) for v, m in regs.items()}
        for v in nbrs:
            hc[v] += (cur[v] - prev[v]) * (lcm // r)
        prev = cur
    return hc


def test_harmonic_centrality_matches_python_reference(spark):
    from ffp_spark.graph import harmonic_centrality

    rng = random.Random(62)
    pairs = [(rng.randrange(0, 40), rng.randrange(0, 40)) for _ in range(120)]
    e = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "src long, dst long"
    )
    got = {r.node: r.hc_q for r in harmonic_centrality(e, radius=2).collect()}
    assert got == _reference_harmonic_centrality(pairs, radius=2)
    again = {
        r.node: r.hc_q
        for r in harmonic_centrality(e.repartition(9), radius=2).collect()
    }
    assert again == got


def test_harmonic_centrality_tracks_exact_values(spark):
    from ffp_spark.graph import harmonic_centrality

    # path graph 0-..-9 at radius 2: HC(v) = |B1 - B0| + |B2 - B1|/2;
    # hc_q is in 1/200ths, HLL on <=5 items is near-exact
    e = _edges(spark, [(i, i + 1) for i in range(9)])
    got = {r.node: r.hc_q for r in harmonic_centrality(e, radius=2).collect()}
    for v in range(10):
        b1 = len({w for w in range(10) if 0 < abs(w - v) <= 1})
        b2 = len({w for w in range(10) if abs(w - v) == 2})
        exact = b1 + b2 / 2
        assert abs(got[str(v)] / 200 - exact) / exact < 0.15, (v, got[str(v)], exact)


def _reference_neighborhood_function(pairs, max_radius=3):
    """Pure-Python replay of graph.neighborhood_function: per-radius
    global sums of the once-quantized ball estimates."""
    import hashlib

    und = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    regs = {}
    for v in nbrs:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        rem = h // 64
        rho = 55 if rem == 0 else 55 - rem.bit_length()
        regs[v] = {h % 64: rho}

    def q(m):
        s = sum(1 << (55 - r) for r in m.values()) + (64 - len(m)) * (1 << 55)
        est = 0.709 * 64 * 64 * float(1 << 55) / float(s)
        if len(m) < 64 and est <= 2.5 * 64:
            est = 64.0 * math.log(64.0 / (64 - len(m)))
        return math.floor(est * 100 + 0.5)

    nf = {0: sum(q(m) for m in regs.values())}
    for r in range(1, max_radius + 1):
        nxt = {}
        for v in nbrs:
            merged = dict(regs[v])
            for u in nbrs[v]:
                for b, rr in regs[u].items():
                    if rr > merged.get(b, -1):
                        merged[b] = rr
            nxt[v] = merged
        regs = nxt
        nf[r] = sum(q(m) for m in regs.values())
    return nf


def test_neighborhood_function_matches_python_reference(spark):
    from ffp_spark.graph import neighborhood_function

    rng = random.Random(63)
    pairs = [(rng.randrange(0, 40), rng.randrange(0, 40)) for _ in range(120)]
    e = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "src long, dst long"
    )
    got = {
        r.radius: r.nf_q for r in neighborhood_function(e, max_radius=3).collect()
    }
    assert got == _reference_neighborhood_function(pairs, max_radius=3)
    # monotone: balls only grow with radius
    assert got[0] <= got[1] <= got[2] <= got[3]
    again = {
        r.radius: r.nf_q
        for r in neighborhood_function(e.repartition(9), max_radius=3).collect()
    }
    assert again == got


def test_neighborhood_function_saturates_at_graph_diameter(spark):
    from ffp_spark.graph import neighborhood_function

    # two disjoint triangles: every 1-ball is already the full
    # component, so N(r) is constant from r=1 on — d_eff would be 1
    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (5, 6), (6, 7), (7, 5)])
    nf = {r.radius: r.nf_q for r in neighborhood_function(e, max_radius=3).collect()}
    assert nf[1] == nf[2] == nf[3]
    assert nf[0] < nf[1]


def test_neighborhood_hll_tracks_exact_ball_sizes(spark):
    from ffp_spark.graph import neighborhood_hll

    # path graph 0-1-2-...-9: the 2-hop ball of an interior node has
    # exactly 5 members; HLL at m=64 on <=10 items is near-exact
    e = _edges(spark, [(i, i + 1) for i in range(9)])
    got = {r.node: r.hll_est for r in neighborhood_hll(e, radius=2).collect()}
    import hashlib

    def exact_ball(v):
        return len({w for w in range(10) if abs(w - v) <= 2})

    for v in range(10):
        exact = exact_ball(v)
        # linear counting on n <= 5 of m = 64 registers is near-exact
        assert abs(got[str(v)] - exact) / exact < 0.15, (v, got[str(v)], exact)


def test_contract_graph_merges_weights_and_handles_self_loops(spark):
    from ffp_spark.graph import contract_graph

    e = _edges(spark, [("a1", "b1"), ("a2", "b1"), ("a1", "b2"),
                       ("a1", "a2"),            # intra-group -> self-loop
                       ("a1", "zz")])           # unmapped dst -> dropped
    m = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("b1", "B"), ("b2", "B")],
        "node string, grp string",
    )
    got = {(r.src, r.dst): r.weight for r in contract_graph(e, m).collect()}
    assert got == {("A", "B"): 3}
    with_loops = {
        (r.src, r.dst): r.weight
        for r in contract_graph(e, m, keep_self_loops=True).collect()
    }
    assert with_loops == {("A", "B"): 3, ("A", "A"): 1}


def test_ktruss_k2_keeps_triangle_free_edges(spark):
    # ADVICE r5: support 0 is satisfied by EVERY edge — the 2-truss is
    # the whole graph, including edges in zero triangles
    from ffp_spark.graph import ktruss_edges

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],  # triangle + tail
        "src string, dst string",
    )
    got = {(r.a, r.b) for r in ktruss_edges(edges, k=2, rounds=3).collect()}
    assert got == {("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")}


def test_scc_bigint_node_ids_keep_their_type(spark):
    # ADVICE r5: the assignment seed derives from the input id type —
    # bigint graphs return bigint scc_ids, not union-coerced strings
    from ffp_spark.graph import scc

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3)], "src long, dst long"
    )
    out = scc(edges)
    assert dict(out.dtypes) == {"node": "bigint", "scc_id": "bigint"}
    got = {r.node: r.scc_id for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 3}


def test_scc_nonconvergence_is_loud_not_partial(spark):
    # a 12-chain cannot reach a verified fixpoint in 2 inner rounds:
    # the run must raise, never return a partial assignment
    import pytest

    from ffp_spark.graph import scc

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)],
        "src string, dst string",
    )
    with pytest.raises(RuntimeError, match="fixpoint|max_outer"):
        scc(chain, max_outer=1, max_inner=2)


class TestReciprocity:
    def test_known_values(self, spark):
        from ffp_spark.graph import reciprocity

        edges = spark.createDataFrame(
            [
                ("a", "b"), ("b", "a"),        # mutual pair -> 2 edges count
                ("a", "b"),                      # duplicate collapses
                ("a", "c"),                      # one-way
                ("c", "c"),                      # self loop excluded
            ],
            "src string, dst string",
        )
        row = reciprocity(edges).collect()[0]
        assert (row.n_edges, row.n_mutual) == (3, 2)
        assert row.reciprocity_ppm == (1000000 * 2) // 3

    def test_no_mutual(self, spark):
        from ffp_spark.graph import reciprocity

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string"
        )
        row = reciprocity(edges).collect()[0]
        assert (row.n_edges, row.n_mutual, row.reciprocity_ppm) == (2, 0, 0)


class TestCoreNumbers:
    def test_known_decomposition(self, spark):
        from ffp_spark.graph import core_numbers

        # K4 clique (core 3) + a triangle sharing node d (core 2) + a
        # pendant path f-g-h (core 1)
        edges = [
            ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
            ("c", "d"),
            ("d", "e"), ("e", "f"), ("f", "d"),
            ("f", "g"), ("g", "h"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.core for r in core_numbers(df, max_k=4, rounds=6).collect()}
        assert got == {
            "a": 3, "b": 3, "c": 3, "d": 3,
            "e": 2, "f": 2,
            "g": 1, "h": 1,
        }

    def test_pure_python_reference(self, spark):
        from ffp_spark.graph import core_numbers

        # deterministic pseudo-random graph vs a python peeling ref
        edges = [(f"n{(i * 7) % 30}", f"n{(i * 13 + 5) % 30}") for i in range(80)]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r.node: r.core for r in core_numbers(df, max_k=8, rounds=12).collect()}

        adj = {}
        for s, d in edges:
            if s == d:
                continue
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        core = {}
        live = {n: set(v) for n, v in adj.items()}
        for k in range(0, 10):
            # peel everything below k+1; nodes removed here have core k
            changed = True
            while changed:
                changed = False
                for n in [n for n, v in live.items() if len(v) < k + 1]:
                    core[n] = k
                    for m in live[n]:
                        live[m].discard(n)
                    del live[n]
                    changed = True
            if not live:
                break
        assert got == core


class TestNeighborhoodJaccard:
    def test_known_values_and_hub_exclusion(self, spark):
        from ffp_spark.graph import neighborhood_jaccard

        # a and b share {c, d}; a also has e -> J(a,b) = 2/3
        edges = [("a", "c"), ("a", "d"), ("a", "e"),
                 ("b", "c"), ("b", "d")]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            (r.node, r.related): (r.n_common, r.jaccard_ppm)
            for r in neighborhood_jaccard(df, k=5).collect()
            if {r.node, r.related} == {"a", "b"}
        }
        assert got[("a", "b")] == (2, (1000000 * 2) // (3 + 2 - 2))
        assert got[("b", "a")] == got[("a", "b")]
        # with hub centers excluded (degree cap 1), no shared-neighbor
        # wedge survives: c and d both have degree 2
        none = neighborhood_jaccard(df, k=5, max_hub_degree=1).collect()
        assert all({r.node, r.related} != {"a", "b"} for r in none)

    def test_python_reference(self, spark):
        from ffp_spark.graph import neighborhood_jaccard

        edges = [(f"n{i % 12}", f"n{(i * 5 + 1) % 12}") for i in range(40)]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            (r.node, r.rank): (r.related, r.n_common, r.jaccard_ppm)
            for r in neighborhood_jaccard(df, k=2).collect()
        }
        nbr = {}
        for s, d in edges:
            if s == d:
                continue
            nbr.setdefault(s, set()).add(d)
            nbr.setdefault(d, set()).add(s)
        import itertools
        rows = []
        for u, v in itertools.combinations(sorted(nbr), 2):
            i = len(nbr[u] & nbr[v])
            if i:
                j = (1000000 * i) // len(nbr[u] | nbr[v])
                rows += [(u, v, i, j), (v, u, i, j)]
        ref = {}
        for node in nbr:
            cands = sorted(
                (r for r in rows if r[0] == node),
                key=lambda r: (-r[3], r[1]),
            )[:2]
            for rk, r in enumerate(cands, 1):
                ref[(node, rk)] = (r[1], r[2], r[3])
        assert got == ref
