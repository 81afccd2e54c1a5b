"""One benchmark sample: a fresh Spark driver process.

Launched by run.py with the repository on PYTHONPATH (the Python workers
import ``ffp_spark`` too) and every launcher setting (console progress off,
temp dirs, and for traced samples the event log) in PYSPARK_SUBMIT_ARGS.

Untraced: build_session -> the workload's timed job (the first job after
build_session's own warm-ups) -> correctness gate.  Traced: build_session ->
the real job under one span -> call-by-call replay with spans (replay.py)
-> event-log attribution.  Writes one JSON result file.
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time
from pathlib import Path

from pyspark.sql import functions as F

# pages whose committed triples are compared with the driver-side parse
SAMPLE_PAGES = 200
# link F1 of the default pipeline on the generator's author clusters read
# 0.9655 on all 41 samples run, at 300 and 5,000 pages; a linker that
# stops merging spelling variants falls far under this floor
MIN_LINK_F1 = 0.9
RSS_PERIOD_S = 0.1
# url-hash partitions of a snapshot (job.py's --n-parts): ~310 pages a
# part at the benchmark's 5,000 pages, near the ~470 of the default 64
# parts at 30,000 pages
SNAPSHOT_PARTS = 16


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of ``root`` (the JVM, the PySpark
    daemon and its Python workers), read from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # process ended meanwhile
            continue
        kids.setdefault(ppid, []).append(int(d))
    total, stack = 0, list(kids.get(root, []))
    page = os.sysconf("SC_PAGE_SIZE")
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(kids.get(pid, []))
    return total


class PeakRss:
    """Samples the process tree's resident set while the block runs."""

    def __enter__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(RSS_PERIOD_S):
                return

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _golden_triples(rows: list[tuple[str, bytes]]) -> list[tuple[str, str, str, str]]:
    """Triples the reference parser yields for ``rows``, via the golden
    derivation rule (pages it rejects yield none, like error rows)."""
    from ffp_spark.feedparse import parse_feed
    from ffp_spark.triples import triples_from_golden_dicts

    goldens = {}
    for url, html in rows:
        try:
            goldens[url] = parse_feed(html)
        except Exception:  # any parser rejection is an error row in Spark
            continue
    return triples_from_golden_dicts(goldens)


def _triple_pr(spark, ours, rows) -> dict:
    from ffp_spark.metrics import precision_recall

    golden = spark.createDataFrame(
        _golden_triples(rows), "subj string, pred string, obj string, src_url string"
    )
    return precision_recall(ours, golden)


def parse_triples_job(spark, corpus: str) -> dict:
    from pyspark.sql import Observation

    from ffp_spark.triples import emit_triples
    from ffp_spark.udfs import parse_pages

    obs = Observation("parse")
    parsed = parse_pages(spark.read.parquet(corpus)).observe(
        obs, F.count(F.lit(1)).alias("pages"), F.count("error").alias("errors")
    )
    n_triples = emit_triples(parsed).count()
    return {"pages": obs.get["pages"], "error_pages": obs.get["errors"], "triples": n_triples}


def snapshot_full_job(spark, corpus: str, out: str) -> dict:
    from ffp_spark.pipeline import run_snapshot

    report = run_snapshot(spark, spark.read.parquet(corpus), out, snapshot_id=1,
                          n_parts=SNAPSHOT_PARTS)
    return {"pages": report["pages"], "error_pages": sum(report["errors"].values()),
            "triples": report["triples"]}


def run_job(spark, workload: str, corpus: str, out: str) -> dict:
    if workload == "parse_triples":
        return parse_triples_job(spark, corpus)
    return snapshot_full_job(spark, corpus, out)


def check_parse_triples(spark, corpus: str, job: dict, rows, n_pages: int) -> dict:
    from ffp_spark.triples import emit_triples
    from ffp_spark.udfs import parse_pages

    urls = [u for u, _ in rows]
    sample = spark.read.parquet(corpus).where(F.col("url").isin(urls))
    pr = _triple_pr(spark, emit_triples(parse_pages(sample)), rows)
    return {
        "precision": pr["precision"],
        "recall": pr["recall"],
        "checks": {
            "one_parse_row_per_page": job["pages"] == n_pages,
            "sample_triples_match_driver_parse": pr["precision"] == 1.0 and pr["recall"] == 1.0,
        },
    }


def link_f1(spark, out: str) -> float:
    """Pairwise F1 of the committed author canonicalization against the
    generator's cluster oracle, read back from the committed tables: an
    author triple names the surface, the entry's author edge names the
    canonical node."""
    from ffp_spark.datagen import author_cluster_oracle
    from ffp_spark.metrics import clustering_pairwise_prf
    from ffp_spark.schemas import PRED_AUTHOR
    from ffp_spark.snapshots import read_snapshot

    oracle = author_cluster_oracle()
    surfaces = (
        read_snapshot(spark, out, "triples", 1)
        .where((F.col("pred") == PRED_AUTHOR) & F.col("obj").isin(list(oracle)))
        .select(F.col("subj").alias("src"), F.col("obj").alias("item"))
    )
    canon = (
        read_snapshot(spark, out, "edges", 1)
        .where(F.col("pred") == PRED_AUTHOR)
        .select("src", F.col("dst").alias("cluster"))
    )
    predicted = surfaces.join(canon, "src").select("item", "cluster").distinct().cache()
    present = {r.item for r in predicted.select("item").distinct().collect()}
    golden = spark.createDataFrame(
        sorted((s, c) for s, c in oracle.items() if s in present), "item string, cluster string"
    )
    try:
        return clustering_pairwise_prf(predicted, golden)["f1"]
    finally:
        predicted.unpersist()


def check_snapshot(spark, corpus: str, out: str, job: dict, rows, n_pages: int) -> dict:
    from concurrent.futures import ThreadPoolExecutor

    from ffp_spark.snapshots import read_manifest, read_snapshot

    urls = [u for u, _ in rows]
    committed = read_snapshot(spark, out, "triples", 1).where(F.col("src_url").isin(urls))
    # the gate's jobs are small and independent: run them concurrently
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_lineage = pool.submit(lambda: read_snapshot(spark, out, "lineage", 1).agg(
            F.sum("n_pages").alias("pages"), F.sum("n_triples").alias("triples")
        ).collect()[0])
        f_pr = pool.submit(_triple_pr, spark, committed, rows)
        f_f1 = pool.submit(link_f1, spark, out)
        lineage, pr, f1 = f_lineage.result(), f_pr.result(), f_f1.result()
    manifest_rows = read_manifest(out, "triples", 1)["row_count"]
    return {
        "precision": pr["precision"],
        "recall": pr["recall"],
        "link_f1": f1,
        "checks": {
            "report_pages_equal_input": job["pages"] == n_pages,
            "lineage_pages_equal_input": lineage.pages == n_pages,
            "lineage_triples_equal_manifest": lineage.triples == manifest_rows,
            "sample_triples_match_driver_parse": pr["precision"] == 1.0 and pr["recall"] == 1.0,
            "link_f1_above_floor": f1 >= MIN_LINK_F1,
        },
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=["parse_triples", "snapshot_full"])
    p.add_argument("--corpus", required=True)
    p.add_argument("--n-pages", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True, help="snapshot root; must not exist yet")
    p.add_argument("--result", required=True)
    p.add_argument("--spawn-time", type=float, required=True,
                   help="time.time() at which the runner launched this process")
    p.add_argument("--trace-log-dir", default=None, help="event-log dir of a traced sample")
    args = p.parse_args()

    if Path(args.out).exists():
        raise SystemExit(f"snapshot root {args.out} is not fresh")

    from ffp_spark.pipeline import build_session

    spark = build_session("perfbench", master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")
    res: dict = {"setup_s": time.time() - args.spawn_time}

    if args.trace_log_dir is None:
        t0 = time.perf_counter()
        job = run_job(spark, args.workload, args.corpus, args.out)
        res["job_wall_s"] = time.perf_counter() - t0
        res.update(job)
        from corpus import sample_rows

        # the gate's small joins need no more than one partition a core
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
        t0 = time.perf_counter()
        rows = sample_rows(Path(args.corpus), args.seed, SAMPLE_PAGES)
        if args.workload == "parse_triples":
            res.update(check_parse_triples(spark, args.corpus, job, rows, args.n_pages))
        else:
            res.update(check_snapshot(spark, args.corpus, args.out, job, rows, args.n_pages))
        res["check_s"] = time.perf_counter() - t0
        spark.stop()
    else:
        from replay import traced_sample

        res.update(traced_sample(spark, args.workload, args.corpus, args.out,
                                 Path(args.trace_log_dir)))
    Path(args.result).write_text(json.dumps(res))


if __name__ == "__main__":
    main()
