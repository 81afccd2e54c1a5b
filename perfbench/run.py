"""KG-construction benchmark for ``ffp_spark``.

    python3 perfbench/run.py --workload parse_triples --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root.  Workloads (inputs are seeded synthetic
PAGES corpora, generated once per seed and cached as parquet):

* ``parse_triples`` -- ``udfs.parse_pages`` -> ``triples.emit_triples`` ->
  ``count()``: the Python parse path and the paper's triples/s claim, with
  no linking, connected components or commit.
* ``snapshot_full`` -- ``pipeline.run_snapshot`` into an empty snapshot
  root: parse plus linking, connected components and the snapshot commit.

Each sample is a fresh driver process (child.py) that times the first job
after ``build_session``'s warm-ups, the cost a spark-submit user pays on
every snapshot.  ``--trace 0`` repeats samples until ``--seconds`` have
passed (at least one) and prints the medians of the end-to-end metrics;
``--trace 1`` runs one traced sample with the Spark event log on and
prints the per-layer metrics.  The last stdout line is one JSON object.
Any correctness-gate miss marks its sample failed and the run incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402

# One sample per run keeps a run near a minute on a 4-core box: a
# snapshot sample takes about a minute, and its job cost is mostly per-job
# and per-task overhead (about 45 s at 1k, 3k and 10k pages alike), so a
# larger snapshot corpus buys little signal.  The parse corpus is sized for
# a job of about 20 s: at 40k pages (about 10 s) bursts of load from other
# tenants of the machine spread the job time by up to 22% between runs.
PAGES = {"parse_triples": 80000, "snapshot_full": 5000}
SMOKE_PAGES = 300
FEEDPARSE_PAGES = 500
# a run must end within 180 s; a sample is not started when the previous
# one says it would end past this
LAST_START_S = 150.0
SAMPLE_TIMEOUT_S = 170.0
DRIVER_MEM = "4g"

E2E_UNITS = {
    "setup_s": "s",
    "job_wall_s": "s",
    "pages_per_s": "1/s",
    "triples_per_s": "1/s",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}

LAYER_UNITS = {
    "feedparse.parse_us_per_page": "us",
    "feedparse.parse_mb_per_s": "MB/s",
    "feedparse.error_pages": "count",
    "udfs.parse_pages.wall_s": "s",
    "udfs.parse_pages.rows_out": "count",
    "udfs.parse_pages.error_rows": "count",
    "udfs.parse_pages.task_busy_s": "s",
    "udfs.parse_pages.gc_s": "s",
    "udfs.parse_pages.task_skew": "ratio",
    "udfs.parse_pages.shuffle_write_mb": "MB",
    "triples.emit_triples.wall_s": "s",
    "triples.emit_triples.rows_out": "count",
    "linking.extract_mentions.rows_out": "count",
    "linking.with_signatures.wall_s": "s",
    "linking.with_signatures.rows_out": "count",
    "linking.bucket_star_edges.wall_s": "s",
    "linking.bucket_star_edges.edges_out": "count",
    "linking.bucket_star_edges.shuffle_write_mb": "MB",
    "linking.bucket_star_edges.task_skew": "ratio",
    "linking.bucket_star_edges.edges_per_merge": "ratio",
    "linking.link_pairwise_f1": "ratio",
    "cc.connected_components.wall_s": "s",
    "cc.connected_components.jobs": "count",
    "cc.connected_components.tasks": "count",
    "cc.connected_components.edges_in": "count",
    "cc.connected_components.components": "count",
    "cc.connected_components.shuffle_write_mb": "MB",
    "pipeline.run_snapshot.jobs": "count",
    "pipeline.run_snapshot.tasks": "count",
    "pipeline.spill_mb": "MB",
    "pipeline.failed_tasks": "count",
    "pipeline.link_and_canonicalize.wall_s": "s",
    "pipeline.materialize_graph.wall_s": "s",
    "snapshots.write_snapshot.wall_s": "s",
    "snapshots.bytes_written_mb": "MB",
    "snapshots.files_written": "count",
    "snapshots.read_snapshot_bucketed.wall_s": "s",
    "snapshots.bytes_out_per_byte_in": "ratio",
    "graph.analyze_snapshot.wall_s": "s",
    "graph.degree_histogram.wall_s": "s",
    "graph.pagerank.wall_s": "s",
    "graph.pagerank.jobs": "count",
    "graph.triangle_count.wall_s": "s",
    "graph.shuffle_write_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_busy_s": "s",
    "spark.gc_s": "s",
    "spark.cpu_util": "ratio",
    "spark.peak_rss_mb": "MB",
    "trace.job_s": "s",
    "trace.replay_s": "s",
    "trace.overhead_s": "s",
}


def _submit_args(work: Path, log_dir: Path | None) -> str:
    tmp = work / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": log_dir.as_uri(),
        })
    parts = [f"--conf {k}={v}" for k, v in conf.items()]
    # no hsperfdata file: the JVM writes it under /tmp whatever java.io.tmpdir says
    parts.append(f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'")
    return " ".join(parts + ["pyspark-shell"])


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the sample's process group (the JVM and Python
    workers) and wait until all of it has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            proc.poll()  # reap the group leader once it has died
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
    proc.wait()


def run_sample(root: Path, work: Path, workload: str, corpus_path: Path, n_pages: int,
               seed: int, traced: bool, timeout: float) -> dict | None:
    """One fresh-process sample; None when the child fails or times out."""
    sample = work / f"sample-{os.getpid()}-{time.monotonic_ns()}"
    (sample / "tmp").mkdir(parents=True)
    log_dir = sample / "eventlog" if traced else None
    if log_dir is not None:
        log_dir.mkdir()
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([str(root), env.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    env["PYSPARK_SUBMIT_ARGS"] = _submit_args(sample, log_dir)
    env["TMPDIR"] = env["SPARK_LOCAL_DIRS"] = str(sample / "tmp")
    # build_session's 12g default heap lets the JVM grow to 7.5 GB on the
    # 5,000-page snapshot; 4g bounds the sample on a shared machine
    env["FFP_DRIVER_MEM"] = DRIVER_MEM
    result = sample / "result.json"
    cmd = [sys.executable, str(HERE / "child.py"), "--workload", workload,
           "--corpus", str(corpus_path), "--n-pages", str(n_pages), "--seed", str(seed),
           "--out", str(sample / "out"), "--result", str(result)]
    if log_dir is not None:
        cmd += ["--trace-log-dir", str(log_dir)]
    log = sample / "child.log"
    try:
        with open(log, "wb") as f:
            cmd += ["--spawn-time", repr(time.time())]
            proc = subprocess.Popen(cmd, cwd=sample, env=env, stdout=f, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                print(f"sample timed out after {timeout:.0f}s", file=sys.stderr)
            finally:
                _stop_group(proc)
        if proc.returncode != 0 or not result.exists():
            tail = log.read_text(errors="replace").splitlines()[-30:]
            print("sample failed:\n" + "\n".join(tail), file=sys.stderr)
            return None
        return json.loads(result.read_text())
    finally:
        shutil.rmtree(sample, ignore_errors=True)


def _median(samples: list[dict], key) -> float:
    return statistics.median(key(s) for s in samples)


def untraced(root: Path, work: Path, workload: str, corpus_path: Path, n_pages: int,
             seed: int, seconds: float) -> dict:
    t0 = time.monotonic()
    samples, attempted, last = [], 0, 0.0
    while attempted == 0 or (time.monotonic() - t0 < seconds
                             and time.monotonic() - t0 + last < LAST_START_S):
        s0 = time.monotonic()
        s = run_sample(root, work, workload, corpus_path, n_pages, seed, False, SAMPLE_TIMEOUT_S)
        last = time.monotonic() - s0
        attempted += 1
        if s is not None:
            print("sample: " + json.dumps({k: v for k, v in s.items() if k != "checks"}),
                  file=sys.stderr)
        if s is None or not all(s["checks"].values()):
            print(f"sample failed its checks: {s and s['checks']}", file=sys.stderr)
            continue
        samples.append(s)
    metrics = {}
    if samples:
        metrics = {
            "setup_s": _median(samples, lambda s: s["setup_s"]),
            "job_wall_s": _median(samples, lambda s: s["job_wall_s"]),
            "pages_per_s": _median(samples, lambda s: s["pages"] / s["job_wall_s"]),
            "triples_per_s": _median(samples, lambda s: s["triples"] / s["job_wall_s"]),
            "triple_precision": _median(samples, lambda s: s["precision"]),
            "triple_recall": _median(samples, lambda s: s["recall"]),
        }
    return {"attempted": attempted, "failed": attempted - len(samples),
            "metrics": metrics, "units": E2E_UNITS}


def traced(root: Path, work: Path, workload: str, corpus_path: Path, n_pages: int,
           seed: int) -> dict:
    from child import MIN_LINK_F1
    from replay import feedparse_metrics

    s = run_sample(root, work, workload, corpus_path, n_pages, seed, True, SAMPLE_TIMEOUT_S)
    ok = s is not None
    metrics = {}
    if ok:
        metrics = dict(s["layers"])
        metrics.update(feedparse_metrics(corpus.sample_rows(corpus_path, seed, FEEDPARSE_PAGES)))
        for k in LAYER_UNITS:  # 0 for the layers the workload does not reach
            metrics.setdefault(k, 0)
        ok = metrics["udfs.parse_pages.rows_out"] == n_pages and (
            workload != "snapshot_full" or metrics["linking.link_pairwise_f1"] >= MIN_LINK_F1
        )
        if not ok:
            print("traced sample failed its checks", file=sys.stderr)
    return {"attempted": 1, "failed": 0 if ok else 1,
            "metrics": {k: metrics[k] for k in LAYER_UNITS} if s else {}, "units": LAYER_UNITS}


def run(root: Path, workload: str, seed: int, seconds: float, trace: bool,
        n_pages: int) -> dict:
    work = root / ".perfbench-work"
    corpus_path = corpus.ensure_corpus(root, work, seed, n_pages)
    if trace:
        res = traced(root, work, workload, corpus_path, n_pages, seed)
    else:
        res = untraced(root, work, workload, corpus_path, n_pages, seed, seconds)
    units = res.pop("units")
    res["correct"] = res["failed"] == 0
    res["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()}
    return {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}


def smoke(root: Path) -> int:
    """Every workload, untraced and traced, at a tiny size: every metric
    BENCHMARK.json names is present with its unit and every gate passes."""
    spec = json.loads((root / "BENCHMARK.json").read_text())
    bad = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, names in ((False, spec["end_to_end"]), (True, spec["per_layer"])):
            res = run(root, w, 1, 1, trace, SMOKE_PAGES)
            want = {m["name"]: m["unit"] for m in names}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want or not res["correct"]:
                bad.append((w, trace, res["correct"], sorted(set(want.items()) ^ set(got.items()))))
            print(f"smoke {w} trace={int(trace)} correct={res['correct']} metrics={len(got)}",
                  file=sys.stderr)
    for b in bad:
        print(f"smoke failed: {b}", file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=sorted(PAGES))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny-size check of every metric")
    args = p.parse_args()
    root = Path.cwd()
    if not (root / "ffp_spark" / "pipeline.py").is_file():
        print(f"{root} is not the repository root (no ffp_spark/pipeline.py)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    if args.smoke:
        return smoke(root)
    if args.workload is None:
        p.error("--workload is required")
    res = run(root, args.workload, args.seed, args.seconds, bool(args.trace), PAGES[args.workload])
    if not res["metrics"]:
        print("no sample completed", file=sys.stderr)
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
