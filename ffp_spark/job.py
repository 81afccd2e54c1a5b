"""spark-submit entry point for the KG-construction pipeline.

    spark-submit --master local[4] /path/to/repo/ffp_spark/job.py \
        --pages /path/to/pages_parquet \
        --out   /path/to/kg_tables \
        --snapshot-id 1 \
        [--n-parts 64] [--incremental-from 0] [--no-resume]

It runs from any working directory with no PYTHONPATH: run as a file,
job.py puts its own checkout on the driver's path, and build_session
ships the package to the Python workers (pipeline.ship_package).  On a
real cluster the same invocation takes --master yarn/k8s in client
deploy mode (north rule K12).  Cluster deploy mode ships only job.py to
the driver, so it also needs the package as --py-files:

    (cd /path/to/repo && zip -qr /tmp/ffp_spark.zip ffp_spark -x '*__pycache__*')
    spark-submit --master yarn --deploy-mode cluster \
        --py-files /tmp/ffp_spark.zip /path/to/repo/ffp_spark/job.py ...

(ship_package does nothing when the package is imported from a zip.)

A snapshot is committed when its lineage manifest is written, after
every other table; until then reads serve the previous committed
snapshot.  A committed snapshot is final: re-running its --snapshot-id
prints the report from its manifests and runs no Spark job.
--no-resume first removes its lineage manifest (un-commits it), then
recomputes and overwrites it.  Late pages go to a new snapshot id with
--incremental-from <id>.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def main(argv: list[str] | None = None) -> None:
    from ffp_spark.pipeline import DEFAULT_PARTS, build_session, run_snapshot

    p = argparse.ArgumentParser(description="ffp-spark KG pipeline")
    p.add_argument("--pages", required=True, help="PAGES parquet path")
    p.add_argument("--out", required=True, help="output table root")
    p.add_argument("--snapshot-id", type=int, required=True)
    p.add_argument("--n-parts", type=int, default=DEFAULT_PARTS)
    p.add_argument("--incremental-from", type=int, default=None)
    p.add_argument("--no-resume", action="store_true",
                   help="recompute and overwrite a committed snapshot")
    args = p.parse_args(argv)

    # the master comes from spark-submit; build_session adds the UTC
    # session time zone the lineage stamps assume, AQE skew join, the
    # Arrow/Parquet batch sizes and the worker warm-ups
    spark = build_session("ffp-kg-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    report = run_snapshot(
        spark,
        spark.read.parquet(args.pages),
        args.out,
        snapshot_id=args.snapshot_id,
        n_parts=args.n_parts,
        resume=not args.no_resume,
        incremental_from=args.incremental_from,
    )
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    if not __package__:  # run as a file: its checkout, not ffp_spark/, goes on the path
        sys.path[0] = str(Path(__file__).resolve().parents[1])
    main()
