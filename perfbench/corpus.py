"""Seeded PAGES corpora for the benchmark, cached as parquet.

A corpus is a pure function of (seed, page count, ``ffp_spark/datagen.py``):
every row comes from ``datagen.synth_page(seed, i)``, the per-row generator
that ``datagen.synth_pages`` runs on executors.  The cache key carries a hash
of datagen.py, so two commits with the same generator read identical bytes
and a commit that changes the generator gets a fresh corpus.  Generation runs
in a few local processes, outside every timing; the program under test only
ever receives the parquet path.
"""

from __future__ import annotations

import hashlib
import os
import random
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

# Small row groups let Spark split the file across every core: with one
# default-sized row group the whole corpus would be a single input task.
ROW_GROUP_ROWS = 256
GEN_PROCS = 4
GEN_CHUNK = 2500


def _datagen_hash(root: Path) -> str:
    return hashlib.sha256((root / "ffp_spark" / "datagen.py").read_bytes()).hexdigest()[:16]


def corpus_path(root: Path, work: Path, seed: int, n_pages: int) -> Path:
    return work / "corpus" / f"pages-s{seed}-n{n_pages}-{_datagen_hash(root)}.parquet"


def _synth_rows(span: tuple[int, int, int]) -> list[dict]:
    from ffp_spark.datagen import synth_page

    seed, lo, hi = span
    return [synth_page(seed, i) for i in range(lo, hi)]


def ensure_corpus(root: Path, work: Path, seed: int, n_pages: int) -> Path:
    """Path of the (seed, n_pages) corpus, generating it on a cache miss."""
    path = corpus_path(root, work, seed, n_pages)
    if path.exists():
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from ffp_spark.schemas import PAGES_SCHEMA

    starts = range(0, n_pages, GEN_CHUNK)
    with ProcessPoolExecutor(max_workers=min(GEN_PROCS, len(starts))) as pool:
        chunks = pool.map(_synth_rows, [(seed, i, min(i + GEN_CHUNK, n_pages)) for i in starts])
        rows = [r for chunk in chunks for r in chunk]
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(PAGES_SCHEMA))
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(path.name + f".tmp{os.getpid()}")
    pq.write_table(table, tmp, row_group_size=ROW_GROUP_ROWS)
    os.replace(tmp, path)
    return path


def sample_rows(path: Path, seed: int, k: int) -> list[tuple[str, bytes]]:
    """Seeded sample of ``k`` (url, html) rows of a cached corpus."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=["url", "html"])
    idx = sorted(random.Random(seed).sample(range(table.num_rows), min(k, table.num_rows)))
    urls = table.column("url").take(idx).to_pylist()
    htmls = table.column("html").take(idx).to_pylist()
    return list(zip(urls, htmls))


def html_bytes(path: Path) -> int:
    """Total payload bytes of a cached corpus (the denominator of
    bytes-out-per-byte-in)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    html = pq.read_table(path, columns=["html"]).column("html")
    return int(pc.sum(pc.binary_length(html)).as_py())
