"""Entity linking (operators K3, K4, K6): author-mention extraction,
MinHash signatures, LSH banding/blocking and candidate scoring.

Only author mentions are linked: they are the one entity kind whose
canonical id the materialized graph reads.  Site entities are keyed by
``feed.id``/``feed.link`` and are not linked.

Split of work:
* MinHash signatures: one plain function, ``minhash_signatures``
  (vectorized numpy per string, fixed-seed permutations) — deterministic
  across workers, runs and callers.  On Spark it runs inside ONE pandas
  UDF, the only Python hop.
* banding, bucketing, candidate self-join, Jaccard estimation, scoring:
  pure JVM expressions (posexplode/hash/zip_with/aggregate) — no Python
  in the shuffle-heavy path.
* driver-side: ``local_star_edges`` forms the same buckets and star
  edges as ``bucket_star_edges`` (``spark_hash_longs`` replicates
  Spark's band hash).  ``pipeline.link_and_canonicalize`` links a
  snapshot's distinct author surfaces this way after one collect job.

At 100 TB the candidate join is the hot spot: banding bounds each block
and ``spark.sql.adaptive.skewJoin`` splits stragglers.  The canonical
dictionary join (K5, ``pipeline.materialize_graph``) is a plain
broadcast: a broadcast hash join never shuffles its probe side, so a hot
author key has no hot task to split.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Sequence
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .triples import exploded_entries

MINHASH_K = 64  # permutations
LSH_BANDS = 16  # 16 bands x 4 rows: catches jaccard >~ 0.5
# Carter-Wegman prime JUST ABOVE the 32-bit hash domain.  The modulus
# must exceed max(h) by only a little: (a*h+b) mod p then wraps ~2^30
# times across the domain, scrambling the h-order independently per
# (a, b) — true min-wise-independent-style permutations.  (A large
# modulus like 2^61-1 keeps the map monotone in h across its ~4 wraps,
# so every "permutation" samples the SAME h-order and the Jaccard
# estimate biases low — measured 25/64 agreement on a true-0.7 pair.)
MINHASH_PRIME = 4294967311
_SHINGLE_W = 3

# permutation coefficients are bounded below 2^31 so that a*h + b with a
# 32-bit shingle hash stays under 2^63: the affine transform is EXACT in
# int64 on every engine (numpy, Spark BIGINT, DuckDB BIGINT) — no silent
# wraparound, which is what makes the signatures cross-engine replayable
_COEF_BOUND = 1 << 31


def _permutations(k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _COEF_BOUND, size=k, dtype=np.int64)
    b = rng.randint(0, _COEF_BOUND, size=k, dtype=np.int64)
    return a, b


def shingle_hash32(s: str) -> int:
    """32-bit md5-prefix shingle hash — the same value DuckDB computes
    with CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT), so the whole
    MinHash signature (k affine permutations mod a Mersenne prime over
    these hashes) is replayable as pure integer SQL in any engine."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:4], "big")


def minhash_signatures(
    strings: Iterable[Optional[str]],
    k: int = MINHASH_K,
    seed: int = 42,
    width: int = _SHINGLE_W,
    mode: str = "char",
) -> list[Optional[np.ndarray]]:
    """MinHash signature (int64 array of ``k``) of each string; None for
    a NULL string or one shorter than a single shingle.

    ``mode='char'``: character ``width``-grams — right for short surfaces
    (author names) where edits are sub-token.  ``mode='word'``: token
    ``width``-grams — right for document near-dup, where char-grams over
    a shared vocabulary collide massively (measured: char-3 on synthetic
    docs LSH-buckets ~everything together -> O(n^2) candidates).

    Shingles hashed with the 32-bit md5 prefix (`shingle_hash32` — stable
    across processes AND engines), then k affine permutations mod a
    Mersenne prime, vectorized with numpy broadcasting per input string.
    Every step is exact int64 arithmetic, so a SQL engine can replay the
    signatures value-for-value (the driver's DuckDB oracle does).
    """
    a, b = _permutations(k, seed)
    # per-call shingle-hash memo (guide §4.5): shingle TYPES repeat
    # heavily across rows (shared vocabulary), so the md5 — the dominant
    # per-shingle cost — runs once per distinct shingle seen by this call
    # instead of once per occurrence.  Values are identical by
    # construction; the cap bounds worker memory on adversarial corpora.
    hcache: dict[str, int] = {}

    def h32(sh: str) -> int:
        v = hcache.get(sh)
        if v is None:
            v = shingle_hash32(sh)
            if len(hcache) > 2_000_000:
                hcache.clear()
            hcache[sh] = v
        return v

    out: list[Optional[np.ndarray]] = []
    for s in strings:
        if s is None:
            out.append(None)
            continue
        if mode == "word":
            toks = s.split()
            if len(toks) < width:
                out.append(None)
                continue
            shingles = {" ".join(toks[i : i + width]) for i in range(len(toks) - width + 1)}
        else:
            if len(s) < width:
                out.append(None)
                continue
            shingles = {s[i : i + width] for i in range(len(s) - width + 1)}
        h = np.fromiter((h32(sh) for sh in shingles), dtype=np.int64, count=len(shingles))
        # (k, n) affine transforms; min over shingles per permutation.
        # a < 2^31 and h < 2^32 keep a*h + b < 2^63: exact, no wrap.
        out.append(((a[:, None] * h[None, :] + b[:, None]) % MINHASH_PRIME).min(axis=1))
    return out


def minhash_udf(
    k: int = MINHASH_K, seed: int = 42, width: int = _SHINGLE_W, mode: str = "char"
):
    """Series[str] -> Series[array<long>] MinHash signatures: the pandas
    UDF form of :func:`minhash_signatures`, one call per Arrow batch."""

    @pandas_udf(ArrayType(LongType()))
    def _sig(col: pd.Series) -> pd.Series:
        return pd.Series(minhash_signatures(col, k, seed, width, mode))

    return _sig


def author_norm(surface: Column) -> Column:
    """The key an author surface links on: lower-cased, each run of
    characters that are neither letters nor digits one space, trimmed."""
    return F.trim(F.regexp_replace(F.lower(surface), r"[^\p{L}\p{Nd}]+", " "))


def extract_mentions(parsed: DataFrame) -> DataFrame:
    """Author mentions from PARSED, one row per entry with an author:
    (surface, kind, src_url, subject_id, norm)."""
    return (
        exploded_entries(parsed)
        .filter(F.col("entry.author").isNotNull())
        .select(
            F.col("entry.author").alias("surface"),
            F.lit("author").alias("kind"),
            F.col("url").alias("src_url"),
            F.col("entry.id").alias("subject_id"),
        )
        .withColumn("norm", author_norm(F.col("surface")))
    )


def with_signatures(
    mentions: DataFrame, k: int = MINHASH_K, seed: int = 42, mode: str = "char"
) -> DataFrame:
    sig = minhash_udf(k=k, seed=seed, mode=mode)
    return mentions.withColumn("sig", sig(F.col("norm")))


def _banded(signed: DataFrame, bands: int, k: int) -> DataFrame:
    """One row per (surface, LSH band): the band's hash over its slice of
    ``k // bands`` signature rows.  NULL signatures (surfaces shorter
    than a shingle) are never blocked."""
    rows_per_band = k // bands
    return signed.filter(F.col("sig").isNotNull()).select(
        "mention_id",
        "norm",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.hash(F.slice("sig", b * rows_per_band + 1, rows_per_band)),
            )
        ).alias("band_id", "band_hash"),
    )


def _agreement(sig_a: str, sig_b: str, k: int) -> Column:
    """Signature-estimated Jaccard: the fraction of the k MinHash rows on
    which two signatures agree."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(k)


def candidate_pairs(
    signed: DataFrame,
    bands: int = LSH_BANDS,
    k: int = MINHASH_K,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """LSH banding -> block self-join -> signature-estimated Jaccard.

    Returns (a, b, norm_a, norm_b, score) with a < b.  All JVM-side:
    band hashes via slice+hash, similarity via zip_with/aggregate.
    """
    banded = _banded(signed, bands, k)
    # shuffle-hash, never broadcast: both sides descend from a Python UDF
    # whose cardinality Catalyst can't estimate — left alone, AQE guesses
    # "tiny" and broadcasts hundreds of MB of signatures (observed: 1 GB
    # broadcast-exchange GC thrash at 100k surfaces)
    left = banded.alias("l").hint("shuffle_hash")
    right = banded.alias("r")
    # score INSIDE the join projection and filter before the (a, b)
    # dedup: the score is identical for every band a pair collides in,
    # so filter-then-dedup is equivalent — and the 512-byte signature
    # arrays die before the dedup exchange instead of shuffling with
    # every pair row (measured the sig-through-shuffle shape at 5x the
    # stage wall on 98k surfaces / 1.5M banded pairs)
    scored = (
        left.join(
            right,
            on=[
                F.col("l.band_id") == F.col("r.band_id"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.mention_id") < F.col("r.mention_id"),
            ],
        )
        .select(
            F.col("l.mention_id").alias("a"),
            F.col("r.mention_id").alias("b"),
            F.col("l.norm").alias("norm_a"),
            F.col("r.norm").alias("norm_b"),
            _agreement("l.sig", "r.sig", k).alias("score"),
        )
        .filter(F.col("score") >= min_jaccard)
    )
    return scored.dropDuplicates(["a", "b"])


def bucket_star_edges(
    signed: DataFrame,
    bands: int = LSH_BANDS,
    k: int = MINHASH_K,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Scale path for *clustering*: per LSH bucket, link every member to
    the bucket representative (min id) instead of all pairs.

    All-pairs is O(bucket^2) — a hot bucket of 6k near-identical
    surfaces turns into 18M pairs.  The star keeps O(bucket) edges while
    preserving connectivity for connected components (any two members of
    a bucket are joined through the representative; the per-edge Jaccard
    filter still prunes false bucket collisions).
    """
    banded = _banded(signed, bands, k)
    reps = banded.groupBy("band_id", "band_hash").agg(
        F.min_by(F.struct("mention_id", "norm", "sig"), "mention_id").alias("rep")
    )
    # same shape as candidate_pairs: score in the join projection and
    # filter BEFORE the (a, b) dedup, so the signature arrays never
    # cross the dedup exchange (the score for a pair is band-invariant,
    # making the reorder exact)
    linked = (
        banded.hint("shuffle_hash")
        .join(reps, ["band_id", "band_hash"])
        .where(F.col("mention_id") > F.col("rep.mention_id"))
        .select(
            F.col("rep.mention_id").alias("a"),
            F.col("mention_id").alias("b"),
            F.col("rep.norm").alias("norm_a"),
            F.col("norm").alias("norm_b"),
            _agreement("rep.sig", "sig", k).alias("score"),
        )
        .filter(F.col("score") >= min_jaccard)
    )
    return linked.dropDuplicates(["a", "b"])


_M3_C1 = np.uint32(0xCC9E2D51)
_M3_C2 = np.uint32(0x1B873593)


def _rotl32(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def spark_hash_longs(rows: np.ndarray) -> np.ndarray:
    """Spark's ``hash(array<bigint>)`` of each row of an (n, m) int64
    matrix, as int32 — the band key :func:`_banded` computes.

    Murmur3_x86_32 with seed 42, chained over the elements: each element
    is ``hashLong`` (mixK1/mixH1 on its low word, then its high word,
    then ``fmix`` with length 8) seeded with the previous element's hash.
    uint32 arithmetic wraps exactly like Java ``int``."""
    words = np.ascontiguousarray(rows, dtype=np.int64).view(np.uint64)
    h = np.full(words.shape[0], 42, dtype=np.uint32)
    for j in range(words.shape[1]):
        for word in (words[:, j] & np.uint64(0xFFFFFFFF), words[:, j] >> np.uint64(32)):
            k1 = _rotl32(word.astype(np.uint32) * _M3_C1, 15) * _M3_C2
            h = _rotl32(h ^ k1, 13) * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)
        h ^= h >> np.uint32(16)
        h *= np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h *= np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h.view(np.int32)


def local_star_edges(
    norms: Sequence[str],
    bands: int = LSH_BANDS,
    k: int = MINHASH_K,
    min_jaccard: float = 0.5,
) -> list[tuple[str, str]]:
    """Driver-side :func:`bucket_star_edges` over distinct surfaces, each
    its own mention id: the same (norm_a, norm_b) edge set.

    Same buckets: Spark's band hash (:func:`spark_hash_longs`), not the
    slice itself — a 32-bit collision changes a bucket's members and so
    its representative.  Same representative, the bucket's minimum
    surface: Python ``str`` order is code-point order, which equals
    Spark's UTF-8 byte order.  Same agreement rule and NULL-signature
    exclusion."""
    signed = sorted(
        ((s, sig) for s, sig in zip(norms, minhash_signatures(norms, k)) if sig is not None),
        key=lambda t: t[0],
    )
    if not signed:
        return []
    names = [s for s, _ in signed]
    sigs = np.stack([sig for _, sig in signed])
    n, rows = len(names), k // bands
    # surfaces are sorted, so a bucket's minimum surface is its minimum index
    idx = np.arange(n)
    codes = []
    for b in range(bands):
        _, bucket = np.unique(spark_hash_longs(sigs[:, b * rows : (b + 1) * rows]), return_inverse=True)
        rep = np.full(bucket.max() + 1, n)
        np.minimum.at(rep, bucket, idx)
        rep = rep[bucket]
        member = idx[idx > rep]
        rep = rep[member]
        keep = (sigs[member] == sigs[rep]).sum(axis=1) / k >= min_jaccard
        codes.append(rep[keep] * n + member[keep])
    return [(names[c // n], names[c % n]) for c in np.unique(np.concatenate(codes)).tolist()]


def best_candidate(scored: DataFrame) -> DataFrame:
    """K6: per-mention best match — groupBy + max_by, map-side combined."""
    return scored.groupBy("a").agg(
        F.max_by("b", "score").alias("best_match"),
        F.max("score").alias("best_score"),
    )
