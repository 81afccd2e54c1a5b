"""Peak-RSS stress for the streamed WARC reader (round-6 evidence for
the r5 `weak`: per-task memory must NOT scale with raw archive size).

Builds one deterministic synthetic .warc.gz (seeded randbytes + zero
padding per record -> ~4:1 compression, the CommonCrawl ballpark),
then measures peak RSS (resource.getrusage ru_maxrss) in two ISOLATED
subprocesses over the same file:

* ``streamed``  — the production task body: sources.scan_warc_chunks
  over sources._iter_file_range (1 MiB range reads, member-at-a-time
  gunzip through the capped window + incremental scanner) with Arrow
  batches flushed at the same 256-record/16 MB bounds read_warc uses.
  Expected peak: O(read chunk + inflation window + record + batch),
  independent of the archive size.
* ``wholefile`` — the round-5 implementation replayed:
  gzip.decompress of the whole stream, parse into one Python list,
  one RecordBatch.from_pylist.  Expected peak: compressed + raw +
  pylist overhead.
* ``index``     — the split index of sources.warc_split_ranges alone:
  sources.warc_range_starts over the same range reads (child mode only,
  not in the default runs).  Expected peak: O(read chunk + inflation
  window + record).

Usage:
    python bench/warc_stress.py [n_records]        # default 1200 (~1.2 GB raw)
    python bench/warc_stress.py <n> streamed|wholefile|index <path>  # child mode

Prints one JSON line: archive/raw sizes, per-mode peak RSS and wall,
record counts (must match between modes — same parse, different
memory profile).  No wall clock in data: payloads are
random.Random(i).randbytes (seeded) + zeros; gzip mtime pinned to 0.
"""

from __future__ import annotations

import gzip
import io
import json
import random
import resource
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

RAND_BYTES = 256 * 1024  # incompressible part per record
ZERO_BYTES = 768 * 1024  # compressible part -> ~4:1 overall


def _payload(i: int) -> bytes:
    return random.Random(i).randbytes(RAND_BYTES) + b"\x00" * ZERO_BYTES


def build_archive(path: Path, n_records: int) -> None:
    with path.open("wb") as out:
        for i in range(n_records):
            from ffp_spark.sources import warc_record

            raw = warc_record("response", f"https://w.example/{i}", _payload(i))
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                g.write(raw)
            out.write(buf.getvalue())


def run_child(mode: str, path: Path) -> None:
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    from ffp_spark.sources import (
        WARC_SCHEMA,
        _BATCH_BYTES,
        _BATCH_RECORDS,
        _iter_file_range,
        parse_warc_bytes,
        scan_warc_chunks,
        warc_range_starts,
    )

    out_schema = to_arrow_schema(WARC_SCHEMA)
    t0 = time.perf_counter()
    n_records = 0
    payload_bytes = 0
    if mode == "streamed":
        rows: list[dict] = []
        nbytes = 0
        chunks = _iter_file_range(str(path), 0, path.stat().st_size)
        for rec in scan_warc_chunks(path.name, chunks):
            rows.append(rec)
            nbytes += len(rec["payload"])
            if len(rows) >= _BATCH_RECORDS or nbytes >= _BATCH_BYTES:
                b = pa.RecordBatch.from_pylist(rows, schema=out_schema)
                n_records += b.num_rows
                payload_bytes += nbytes
                rows, nbytes = [], 0
        if rows:
            b = pa.RecordBatch.from_pylist(rows, schema=out_schema)
            n_records += b.num_rows
            payload_bytes += nbytes
    elif mode == "index":  # n_records = the offsets a range may start at
        chunks = _iter_file_range(str(path), 0, path.stat().st_size)
        n_records = sum(1 for _ in warc_range_starts(chunks))
    else:  # wholefile: the r5 code path replayed
        raw = gzip.decompress(path.read_bytes())
        recs = parse_warc_bytes(raw)
        for rec in recs:
            rec["file"] = path.name
        b = pa.RecordBatch.from_pylist(recs, schema=out_schema)
        n_records = b.num_rows
        payload_bytes = sum(len(r["payload"]) for r in recs)
    wall = time.perf_counter() - t0
    peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    print(
        json.dumps(
            {
                "mode": mode,
                "n_records": n_records,
                "payload_mb": round(payload_bytes / 1048576, 1),
                "peak_rss_mb": round(peak_mb, 1),
                "wall_sec": round(wall, 2),
            }
        )
    )


def main() -> None:
    if len(sys.argv) >= 4:  # child
        run_child(sys.argv[2], Path(sys.argv[3]))
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1200
    base = Path("/tmp/ffp_warc_stress")
    base.mkdir(exist_ok=True)
    arc = base / f"stress-{n}.warc.gz"
    if not arc.exists():
        build_archive(arc, n)
    out = {
        "n_records": n,
        "archive_mb": round(arc.stat().st_size / 1048576, 1),
        "raw_mb": round(n * (RAND_BYTES + ZERO_BYTES) / 1048576, 1),
    }
    for mode in ("streamed", "wholefile"):
        r = subprocess.run(
            [sys.executable, __file__, str(n), mode, str(arc)],
            capture_output=True,
            text=True,
            check=True,
        )
        child = json.loads(r.stdout.strip().splitlines()[-1])
        assert child["n_records"] == n, child  # same parse both modes
        out[mode] = child
    out["peak_ratio"] = round(
        out["wholefile"]["peak_rss_mb"] / out["streamed"]["peak_rss_mb"], 2
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
