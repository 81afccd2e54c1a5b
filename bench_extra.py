"""Per-query isolation harness for optimization work (guide §1).

bench.py is FROZEN (driver contract); this file carries the extra
measurements: run individual registered queries (or the snapshot /
analytics blocks) N times in one warm session with the same session
config and timing methodology as bench.py, print per-rep seconds +
min/median, and optionally dump .explain("formatted") to a file.

Usage:
  SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 python bench_extra.py \
      [--reps 3] [--explain plans/r07 --suffix before] name [name ...]

Special names: kg_full_snapshot, kg_snapshot_analytics (replicate the
bench.py blocks), kg_docfeeds_triples, kg_synth_triples.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _explain_str(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None, help="dir for plan dumps")
    ap.add_argument("--suffix", default="plan", help="plan file suffix")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from ffp_spark.pipeline import build_session

    spark = build_session(
        "ffp-bench-extra", master=f"local[{cpus}]", shuffle_partitions=max(32, cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    out: dict[str, dict] = {}

    def run_block(name: str, rep: int) -> float:
        if name == "kg_docfeeds_triples":
            from ffp_spark.docfeeds import documents_as_pages, load_documents
            from ffp_spark.triples import emit_triples
            from ffp_spark.udfs import parse_pages

            t0 = time.perf_counter()
            docs = load_documents(spark, sf_dir)
            emit_triples(parse_pages(documents_as_pages(docs))).count()
            return time.perf_counter() - t0
        if name == "kg_synth_triples":
            from ffp_spark.datagen import synth_pages
            from ffp_spark.triples import emit_triples
            from ffp_spark.udfs import parse_pages

            n_synth = max(500, int(float(sf) * 30000))
            t0 = time.perf_counter()
            emit_triples(parse_pages(synth_pages(spark, n_synth, seed=42))).count()
            return time.perf_counter() - t0
        if name in ("kg_full_snapshot", "kg_snapshot_analytics"):
            import shutil
            import tempfile

            from ffp_spark.datagen import synth_pages
            from ffp_spark.graph import analyze_snapshot
            from ffp_spark.pipeline import run_snapshot

            n_synth = max(500, int(float(sf) * 30000))
            snap_dir = tempfile.mkdtemp(prefix="ffp_extra_snap_")
            try:
                stage: dict[str, float] = {}
                t0 = time.perf_counter()
                run_snapshot(
                    spark, synth_pages(spark, n_synth, seed=43), snap_dir,
                    snapshot_id=1, n_parts=max(16, cpus), stage_timings=stage,
                )
                snap_sec = time.perf_counter() - t0
                t0 = time.perf_counter()
                reports = analyze_snapshot(spark, snap_dir, pr_iters=5, top_k=20)
                len(reports["degree_histogram"].collect())
                reports["top_pagerank"].collect()
                reports["triangles"].collect()
                ana_sec = time.perf_counter() - t0
                print(f"    stages={stage} analytics={round(ana_sec, 3)}",
                      file=sys.stderr)
                return snap_sec if name == "kg_full_snapshot" else ana_sec
            finally:
                shutil.rmtree(snap_dir, ignore_errors=True)
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        df.collect()
        dt = time.perf_counter() - t0
        # dump the plan once per query, after the clock has stopped
        if args.explain and rep == 0:
            Path(args.explain).mkdir(parents=True, exist_ok=True)
            p = Path(args.explain) / f"{name}_{args.suffix}.txt"
            p.write_text(_explain_str(df))
        return dt

    for name in args.names:
        reps = []
        for i in range(args.reps):
            dt = round(run_block(name, i), 3)
            reps.append(dt)
            print(f"  {name} rep{i}: {dt}", file=sys.stderr)
        out[name] = {
            "reps": reps,
            "min": min(reps),
            "median": round(statistics.median(reps), 3),
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
