"""Entity linking + connected components, validated against plain-Python
oracles (FIXTURES.md §4)."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from ffp_spark.cc import components_local, connected_components
from ffp_spark.datagen import AUTHOR_CLUSTERS, author_cluster_oracle, synth_pages
from ffp_spark.linking import (
    LSH_BANDS,
    MINHASH_K,
    _banded,
    best_candidate,
    bucket_star_edges,
    candidate_pairs,
    local_star_edges,
    minhash_udf,
    spark_hash_longs,
    with_signatures,
)
from ffp_spark.udfs import parse_pages


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


class TestConnectedComponents:
    def test_matches_union_find_oracle(self, spark):
        edges = [
            ("a", "b"), ("b", "c"), ("d", "e"),
            ("f", "g"), ("g", "h"), ("h", "a"),  # merges f-g-h into a-b-c
            ("x", "y"),
            ("lonepair", "lonepair2"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r.node_id: r.component_id
            for r in connected_components(df).collect()
        }
        want = _union_find(edges)
        assert got == want

    def test_long_chain_converges(self, spark):
        n = 64
        chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
        df = spark.createDataFrame(chain, "src string, dst string")
        got = connected_components(df, max_iter=10)
        comps = got.select("component_id").distinct().collect()
        assert len(comps) == 1
        assert comps[0].component_id == "n000"

    def test_deterministic(self, spark):
        edges = [("b", "a"), ("c", "b"), ("z", "q"), ("m", "z")]
        df = spark.createDataFrame(edges, "src string, dst string")
        a = sorted(map(tuple, connected_components(df).collect()))
        b = sorted(map(tuple, connected_components(df).collect()))
        assert a == b


def test_cc_and_scc_never_set_session_config(spark, monkeypatch):
    # the commit and analyze pools submit jobs from other threads: a
    # library operator that changes session-global config (e.g. the
    # shuffle partition count) leaks it into those jobs
    from pyspark.sql.conf import RuntimeConfig

    from ffp_spark.graph import scc

    def refuse(self, key, value):
        raise AssertionError(f"session config set: {key}={value}")

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("x", "y")],
        "src string, dst string",
    )
    monkeypatch.setattr(RuntimeConfig, "set", refuse)
    comps = {r.node_id: r.component_id for r in connected_components(edges).collect()}
    sccs = {r.node: r.scc_id for r in scc(edges).collect()}
    assert comps == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}
    assert sccs == {"a": "a", "b": "a", "c": "a", "d": "d", "x": "x", "y": "y"}


class TestMinHashLSH:
    def test_signature_deterministic_and_similarity_ordering(self, spark):
        df = spark.createDataFrame(
            [("1", "david bau"), ("2", "david b"), ("3", "completely different")],
            "mention_id string, norm string",
        )
        signed = with_signatures(df).collect()
        sigs = {r.mention_id: list(r.sig) for r in signed}
        assert len(sigs["1"]) == 64
        # re-run: identical signatures (fixed-seed permutations)
        signed2 = with_signatures(df).collect()
        assert sigs == {r.mention_id: list(r.sig) for r in signed2}
        # similar strings agree on more positions than dissimilar ones
        agree_12 = sum(x == y for x, y in zip(sigs["1"], sigs["2"]))
        agree_13 = sum(x == y for x, y in zip(sigs["1"], sigs["3"]))
        assert agree_12 > agree_13

    def test_candidates_catch_known_near_dups(self, spark):
        surfaces = [(s.lower().replace(".", ""),) for s in author_cluster_oracle()]
        df = (
            spark.createDataFrame(surfaces, "norm string")
            .distinct()
            .withColumn("mention_id", F.col("norm"))
        )
        scored = candidate_pairs(with_signatures(df), min_jaccard=0.4)
        pairs = {(r.a, r.b) for r in scored.collect()}
        # within-cluster full-name variants should be blocked together
        assert any("david" in a and "david" in b for a, b in pairs)
        # no cross-cluster pairing of clearly different names
        assert not any(
            ("wei chen" in (a, b)) and ("emma brown" in (a, b)) for a, b in pairs
        )

    def test_best_candidate_is_max_by(self, spark):
        df = spark.createDataFrame(
            [("a", "b", "x", "y", 0.6), ("a", "c", "x", "z", 0.9)],
            "a string, b string, norm_a string, norm_b string, score double",
        )
        got = best_candidate(df).collect()
        assert len(got) == 1 and got[0].best_match == "c" and got[0].best_score == 0.9


class TestEndToEndLinking:
    def test_author_clusters_recovered_from_synth_corpus(self, spark):
        from ffp_spark.pipeline import link_and_canonicalize

        parsed = parse_pages(synth_pages(spark, 150, seed=11))
        canon = link_and_canonicalize(parsed, min_jaccard=0.35).collect()
        mapping = {r.norm: r.canonical_norm for r in canon}
        oracle = author_cluster_oracle()
        # linkable variants of the same cluster map to one canonical id
        from collections import defaultdict

        by_cluster = defaultdict(set)
        for surface, cluster in oracle.items():
            norm = " ".join(
                "".join(c if c.isalnum() else " " for c in surface.lower()).split()
            )
            if norm in mapping:
                by_cluster[cluster].add(mapping[norm])
        recovered = sum(1 for canons in by_cluster.values() if len(canons) == 1)
        assert recovered >= len(by_cluster) * 0.7, dict(by_cluster)
        # no cross-cluster merges: canonical ids are disjoint across clusters
        seen: dict[str, str] = {}
        for cluster, canons in by_cluster.items():
            for c in canons:
                assert seen.setdefault(c, cluster) == cluster, (c, cluster, seen[c])


def _surface_set(seed):
    """Seeded author surfaces: spelling-variant clusters, surfaces of one
    or two characters (NULL signature), non-ASCII and CJK names, one hot
    bucket of near-identical surfaces and unrelated noise."""
    rng = random.Random(seed)
    alphabet = "aeiouxyzłü"
    out = set()
    for base in ("david bau", "emma brown", "wei chen", "łódź nowak", "istanbul kaya",
                 "张伟 李娜", "maría garcía", "josé müller"):
        out.add(base)
        for _ in range(6):
            s = list(base)
            i = rng.randrange(len(s))
            op = rng.randrange(3)
            if op == 0:
                del s[i]
            elif op == 1:
                s.insert(i, rng.choice(alphabet))
            else:
                s[i] = rng.choice(alphabet)
            out.add("".join(s))
    out |= {"a", "jo", "李", "łó", "x y"}
    out |= {f"jane doe {rng.choice('abcdefgh')}{i}" for i in range(40)}
    out |= {
        f"{rng.choice('bcdfgk')}{rng.choice('aeiou')}{rng.choice('lmnrs')} {rng.randrange(1000)}"
        for _ in range(60)
    }
    return sorted(out)


def _local_link(norms, min_jaccard):
    """(norm, canonical_norm) pairs as ``link_and_canonicalize`` forms them."""
    comp = components_local(local_star_edges(norms, min_jaccard=min_jaccard))
    return [(n, comp.get(n, n)) for n in norms]


def _spark_link(surfaces, min_jaccard):
    """The same mapping from the DataFrame operators: signature UDF,
    bucket star edges and large-star/small-star CC."""
    signed = with_signatures(surfaces.withColumn("mention_id", F.col("norm"))).cache()
    try:
        edges = bucket_star_edges(signed, min_jaccard=min_jaccard).select(
            F.col("norm_a").alias("src"), F.col("norm_b").alias("dst")
        )
        components = connected_components(edges).withColumnRenamed("node_id", "norm")
        return [
            (r.norm, r.canonical_norm)
            for r in signed.select("norm")
            .join(components, "norm", "left")
            .select("norm", F.coalesce("component_id", "norm").alias("canonical_norm"))
            .collect()
        ]
    finally:
        signed.unpersist()


class TestDriverLinking:
    """The driver link path against the DataFrame linking operators: each
    helper on both sides called directly."""

    def test_band_hash_equals_spark_hash_of_the_slice(self, spark):
        rng = np.random.RandomState(7)
        pool = np.concatenate([
            rng.randint(-(2**63), 2**63 - 1, size=3000, dtype=np.int64),
            2**32 + rng.randint(-8, 8, size=500),
            rng.randint(-8, 8, size=500),
            np.array([-(2**63), 2**63 - 1, 2**31, -(2**31) - 1, 2**32 - 1], dtype=np.int64),
        ])
        sigs = rng.choice(pool, size=(200, MINHASH_K))
        df = spark.createDataFrame(
            [(str(i), str(i), [int(x) for x in row]) for i, row in enumerate(sigs)],
            "mention_id string, norm string, sig array<bigint>",
        )
        got = {
            (int(r.mention_id), r.band_id): r.band_hash
            for r in _banded(df, LSH_BANDS, MINHASH_K).collect()
        }
        rows = MINHASH_K // LSH_BANDS
        want = {
            (i, b): int(h)
            for b in range(LSH_BANDS)
            for i, h in enumerate(spark_hash_longs(sigs[:, b * rows : (b + 1) * rows]))
        }
        assert got == want

    @pytest.mark.parametrize("min_jaccard", [0.35, 0.5])
    def test_local_linking_equals_spark_linking(self, spark, min_jaccard):
        for norms in (_surface_set(int(min_jaccard * 100)), []):
            surfaces = spark.createDataFrame([(s,) for s in norms], "norm string")
            want = sorted(_spark_link(surfaces, min_jaccard))
            assert sorted(_local_link(norms, min_jaccard)) == want
        # the sets exercise merges, NULL signatures and the hot bucket
        got = dict(_local_link(_surface_set(50), min_jaccard))
        assert got["a"] == "a" and got["李"] == "李"
        assert len({c for s, c in got.items() if s.startswith("jane doe")}) < 40

    @pytest.mark.parametrize("case", ["random-1", "random-2", "empty", "hot-star"])
    def test_components_local_equals_connected_components(self, spark, case):
        if case == "empty":
            edges = []
        elif case == "hot-star":
            edges = [("hub", f"leaf{i:03d}") for i in range(300)] + [("hub", "hub")]
        else:
            rng = random.Random(case)
            nodes = [f"n{i:02d}" for i in range(80)]
            edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
        df = spark.createDataFrame(edges, "src string, dst string")
        want = {r.node_id: r.component_id for r in connected_components(df).collect()}
        assert components_local(edges) == want
        assert components_local(edges) == _union_find([e for e in edges if e[0] != e[1]])

    def test_author_linking_runs_at_most_three_jobs(self, spark):
        from ffp_spark.pipeline import link_and_canonicalize, warm_collation

        parsed = parse_pages(synth_pages(spark, 40))
        warm_collation(spark)
        sc = spark.sparkContext
        sc.setJobGroup("link-jobs", "link_and_canonicalize")
        try:
            canon = link_and_canonicalize(parsed)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert canon.count() > 0
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("link-jobs")
        assert 0 < len(jobs) <= 3, sorted(jobs)


def _one_feed_author_edges(spark, title, authors):
    """Parse one Atom feed titled `title` with one entry per name in
    `authors`; return the executed edges plan and the author-edge dsts."""
    import datetime as dt

    from ffp_spark.pipeline import link_and_canonicalize, materialize_graph
    from ffp_spark.schemas import PAGES_SCHEMA, PRED_AUTHOR

    entries = "".join(
        f"""<entry>
<id>tag:jane.example,2025:/e/{i}</id>
<title>Entry {i}</title>
<link rel="alternate" href="https://jane.example/e/{i}"/>
<updated>2025-01-01T00:00:00Z</updated>
<author><name>{name}</name></author>
</entry>"""
        for i, name in enumerate(authors)
    )
    xml = f"""<?xml version="1.0" encoding="UTF-8"?>
<feed xmlns="http://www.w3.org/2005/Atom">
<title>{title}</title>
<id>tag:jane.example,2025:/feed</id>
<link rel="alternate" href="https://jane.example/"/>
{entries}
</feed>""".encode()
    pages = spark.createDataFrame(
        [("https://jane.example/feed.xml", dt.datetime(2025, 1, 1), xml, None, "en")],
        PAGES_SCHEMA,
    )
    parsed = parse_pages(pages)
    canon = link_and_canonicalize(parsed)
    try:
        _, _, edges = materialize_graph(parsed, canon, snapshot_id=1, n_parts=4)
        plan = edges._jdf.queryExecution().executedPlan().toString()
        dsts = [r.dst for r in edges.filter(F.col("pred") == PRED_AUTHOR).collect()]
    finally:
        canon.unpersist()
    return plan, dsts


class TestSaltedBroadcastJoin:
    # the author canon join replaced the salted broadcast join; its plan
    # check now runs on the real join
    def test_plan_contains_broadcast(self, spark):
        """One hot author key: the canon join is still a broadcast, and
        every mention of the hot key gets its edge."""
        plan, dsts = _one_feed_author_edges(spark, "Site", ["Jane Doe"] * 12)
        assert "BroadcastHashJoin" in plan, plan
        assert dsts == ["author:jane doe"] * 12


class TestAuthorOnlyLinking:
    def test_site_title_never_sets_an_author_canonical_id(self, spark):
        """A feed titled like an author is a site entity, not a mention:
        its title must not join the author's linking component."""
        _, dsts = _one_feed_author_edges(spark, "Jane Doe", ["Jane Doex"])
        assert dsts == ["author:jane doex"]


class TestClusteringMetric:
    def test_pairwise_prf_exact_match(self, spark):
        from ffp_spark.metrics import clustering_pairwise_prf

        gold = spark.createDataFrame(
            [("a", "c1"), ("b", "c1"), ("c", "c2"), ("d", "c2"), ("e", "c3")],
            "item string, cluster string",
        )
        res = clustering_pairwise_prf(gold, gold)
        assert res["precision"] == res["recall"] == res["f1"] == 1.0

    def test_pairwise_prf_over_merge_hurts_precision(self, spark):
        from ffp_spark.metrics import clustering_pairwise_prf

        gold = spark.createDataFrame(
            [("a", "c1"), ("b", "c1"), ("c", "c2"), ("d", "c2")],
            "item string, cluster string",
        )
        merged = spark.createDataFrame(
            [("a", "x"), ("b", "x"), ("c", "x"), ("d", "x")],
            "item string, cluster string",
        )
        res = clustering_pairwise_prf(merged, gold)
        assert res["recall"] == 1.0
        assert abs(res["precision"] - 2 / 6) < 1e-9

    def test_linking_clusters_scored_against_oracle(self, spark):
        """End to end: synth corpus -> canonicalization -> pairwise F1 vs
        the generator's known author clusters (linkable variants)."""
        from ffp_spark.datagen import author_cluster_oracle, synth_pages
        from ffp_spark.metrics import clustering_pairwise_prf
        from ffp_spark.pipeline import link_and_canonicalize
        from ffp_spark.udfs import parse_pages

        parsed = parse_pages(synth_pages(spark, 150, seed=11))
        canon = link_and_canonicalize(parsed, min_jaccard=0.35)

        def norm(s):
            return " ".join("".join(c if c.isalnum() else " " for c in s.lower()).split())

        oracle_rows = [(norm(s), c) for s, c in author_cluster_oracle().items()]
        golden = spark.createDataFrame(
            sorted(set(oracle_rows)), "item string, cluster string"
        )
        predicted = canon.join(
            golden.select("item"), canon.norm == golden.item
        ).select(F.col("norm").alias("item"), F.col("canonical_norm").alias("cluster"))
        res = clustering_pairwise_prf(predicted, golden)
        assert res["f1"] >= 0.6, res


class TestNeardupCanonical:
    def test_canonical_pick_is_longest_then_smallest_id(self, spark, tmp_path):
        """The neardup_canonical query keeps exactly one doc per
        duplicate cluster: longest text, ties by smallest id."""
        import __spark_entry__ as em

        filler = " ".join(f"tok{i}" for i in range(30))
        rows = [
            # cluster A: 3 near-identical docs, doc 21 one word longer
            (20, filler + " alpha", "s1"),
            (21, filler + " alpha beta", "s1"),
            (22, filler + " alpha", "s1"),
            # cluster B: identical pair, equal length -> smallest id 30
            (30, "wholly different " + " ".join(f"b{i}" for i in range(25)), "s2"),
            (31, "wholly different " + " ".join(f"b{i}" for i in range(25)), "s2"),
            # singletons: never emitted
            (40, " ".join(f"c{i}" for i in range(40)), "s3"),
            (41, " ".join(f"d{i}" for i in range(40)), "s3"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        got = {
            r.component_id: (r.size, r.canonical_id, r.n_discarded)
            for r in em._q_neardup_canonical(spark, str(tmp_path)).collect()
        }
        assert got == {"20": (3, "21", 2), "30": (2, "30", 1)}


class TestMinhashEstimateError:
    def test_exact_jaccard_and_error_columns(self, spark, tmp_path):
        """minhash_estimate_error ships the exact word-3-gram Jaccard
        in ppm beside the signature estimate; an identical pair must
        have jac_ppm = 1e6, est_ppm = 1e6, err_ppm = 0, and a partial
        overlap must match the hand-computed shingle-set Jaccard."""
        import __spark_entry__ as em

        filler = " ".join(f"tok{i}" for i in range(30))
        rows = [
            (50, filler, "s1"),            # identical pair: 28 shingles
            (51, filler, "s1"),
            (60, filler + " omega", "s2"),  # superset: 29 shingles,
            # inter with 50 = 28, union = 29
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        got = {
            (r.a, r.b): (r.est_ppm, r.jac_ppm, r.err_ppm)
            for r in em._q_minhash_estimate_error(spark, str(tmp_path)).collect()
        }
        assert got[("50", "51")] == (1000000, 1000000, 0)
        exact = (1000000 * 28) // 29
        for pair in (("50", "60"), ("51", "60")):
            est, jac, err = got[pair]
            assert jac == exact
            assert err == est - jac
            # a 28/29 overlap should estimate high on 64 hashes
            assert est >= 800000


class TestSimhashEstimateError:
    def test_hamming_beside_exact_jaccard(self, spark, tmp_path):
        """simhash_estimate_error pairs the Hamming proxy with the
        exact shingle Jaccard: an identical pair is (hamming 0,
        jac_ppm 1e6); a one-word-suffix variant keeps hamming small
        while jac_ppm equals the hand-computed shingle ratio."""
        import __spark_entry__ as em

        filler = " ".join(f"tok{i}" for i in range(40))
        rows = [
            (70, filler, "s1"),
            (71, filler, "s1"),  # identical: ham 0, jac 1e6
            # doubled text: every per-bit vote sum exactly doubles, so
            # the SimHash is IDENTICAL (ham 0 by construction), while
            # the two seam trigrams (tok38 tok39 tok0 / tok39 tok0
            # tok1) grow the shingle set 38 -> 40: inter 38, union 40
            (80, filler + " " + filler, "s2"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        got = {
            (r.a, r.b): (r.hamming, r.jac_ppm)
            for r in em._q_simhash_estimate_error(spark, str(tmp_path)).collect()
        }
        assert got[(70, 71)] == (0, 1000000)
        exact = (1000000 * 38) // 40  # = 950000
        assert got[(70, 80)] == (0, exact)
        assert got[(71, 80)] == (0, exact)
