"""Snapshot/manifest layer emulating Iceberg semantics (operators K8-K9).

No Iceberg runtime jar ships in this sandbox, so tables are partitioned
Parquet directories plus a JSON manifest per snapshot:

    <table>/
      snap-<id>/...parquet          (data, written to a temp dir first)
      manifest-<id>.json            (snapshot id, parent, row count, stats)

Commit protocol: write data under ``_tmp-<id>``, ``os.replace`` it into
``snap-<id>``, then fsync-swap the manifest into place.  A table's
manifest is the proof that its data is complete; readers never observe
a half-written snapshot.

One commit point per snapshot: a root that holds a ``lineage`` table
commits snapshot ``<id>`` when ``lineage/manifest-<id>.json`` swaps in
(the pipeline commits lineage last), the way Iceberg commits a
multi-file change through one metadata-pointer swap.  A read with no id
serves, for every table, the newest committed id that has a manifest
for that table (:func:`current_snapshot_id`), so a run that fails
between its table commits leaves every default read on the previous
snapshot.  A root with no lineage table (a standalone library table)
has no commit marker: there each table's newest manifest is its commit.

The pipeline commits every table with ``write_snapshot`` and serves it
with ``read_snapshot``, which takes the schema from the manifest and so
runs no Spark job.  The catalog-bucketed pair (``write_snapshot_bucketed``,
``read_snapshot_bucketed``) serves only the traced replay and the plan
tests.

Resume (K9): a committed snapshot is final: ``pipeline.run_snapshot``
re-run on it returns its manifests, and late pages go to an incremental
snapshot (``incremental_from=<id>``).  The per-partition lineage rows
record what each url-hash part held; they are not a per-part resume
point.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _table_dir(root: str | Path, name: str) -> Path:
    """A table's directory, absolute: the parquet writers resolve a
    relative path against the working directory, but a catalog table's
    LOCATION against the warehouse dir."""
    return Path(root).resolve() / name


# the table whose manifest commits a snapshot id for the whole root
_COMMIT_TABLE = "lineage"


def _fsync(path: Path) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _fsync_replace(tmp: Path, final: Path) -> None:
    """fsync file contents, rename into place, fsync the directory entry."""
    _fsync(tmp)
    os.replace(tmp, final)
    _fsync(final.parent)


def _committed_ids(root: str | Path, table: str) -> list[int]:
    """The committed snapshot ids that have a manifest for ``table``,
    ascending: ids with a lineage manifest in a root with a lineage
    table, else every id with a manifest for ``table``."""
    ids = snapshots_of(root, table)
    if _table_dir(root, _COMMIT_TABLE).is_dir():
        committed = set(snapshots_of(root, _COMMIT_TABLE))
        ids = [i for i in ids if i in committed]
    return ids


def current_snapshot_id(root: str | Path, table: str) -> Optional[int]:
    """The snapshot a read of ``table`` with no id serves: the newest
    committed id that has a manifest for it, or None."""
    ids = _committed_ids(root, table)
    return ids[-1] if ids else None


def uncommit(root: str | Path, snapshot_id: int) -> None:
    """Durably remove ``snapshot_id``'s lineage manifest before a run
    writes it, so a recompute that fails partway leaves it uncommitted.
    The lineage directory it creates makes a fresh root serve only
    lineage-committed ids from the run's first write on."""
    ldir = _table_dir(root, _COMMIT_TABLE)
    ldir.mkdir(parents=True, exist_ok=True)
    (ldir / f"manifest-{snapshot_id}.json").unlink(missing_ok=True)
    _fsync(ldir)


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable, as
    Spark's ``asNullable``: the schema a directory read serves."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                           for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _commit(
    df: DataFrame,
    root: str | Path,
    table: str,
    snapshot_id: int,
    stage: Callable[[DataFrame, Path], None],
    spec: dict[str, Any],
    extra: Optional[dict[str, Any]],
) -> dict[str, Any]:
    """The commit protocol both writers share: ``stage`` writes the data
    under ``_tmp-<id>``, which is ``os.replace``'d into ``snap-<id>``;
    then the manifest swaps in with fsync.  The manifest's parent is the
    newest committed id below ``snapshot_id``.  ``spec`` lists the
    writer's layout fields for the manifest.  The manifest's schema is
    the one ``read_snapshot`` serves, every field nullable, so it does
    not depend on whether ``df`` came from files or was computed."""
    tdir = _table_dir(root, table)
    tdir.mkdir(parents=True, exist_ok=True)
    tmp = tdir / f"_tmp-{snapshot_id}"
    final = tdir / f"snap-{snapshot_id}"
    if tmp.exists():
        shutil.rmtree(tmp)
    # row count captured DURING the write via an observed metric — no
    # post-write re-read (at 100 TB that second scan of the triples
    # table per snapshot was the commit path's scale-killer)
    obs = Observation()
    stage(df.observe(obs, F.count(F.lit(1)).alias("n")), tmp)
    manifest = {
        "table": table,
        "snapshot_id": snapshot_id,
        "parent_snapshot_id": max(
            (i for i in _committed_ids(root, table) if i < snapshot_id), default=None
        ),
        "row_count": int(obs.get["n"]),
        **spec,
        "schema": _as_nullable(df.schema).jsonValue(),
    }
    if extra:
        manifest["extra"] = extra

    if final.exists():
        shutil.rmtree(final)
    os.replace(tmp, final)

    mpath = tdir / f"manifest-{snapshot_id}.json"
    mtmp = tdir / f"_manifest-{snapshot_id}.json.tmp"
    mtmp.write_text(json.dumps(manifest, indent=2))
    _fsync_replace(mtmp, mpath)
    return manifest


def write_snapshot(
    df: DataFrame,
    root: str | Path,
    table: str,
    snapshot_id: int,
    partition_by: Optional[list[str]] = None,
    extra: Optional[dict[str, Any]] = None,
) -> dict[str, Any]:
    """Atomically commit ``df`` as snapshot ``snapshot_id`` of ``table``."""

    def stage(observed: DataFrame, tmp: Path) -> None:
        writer = observed.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))

    return _commit(
        df, root, table, snapshot_id, stage, {"partition_by": partition_by or []}, extra
    )


def read_snapshot(
    spark: SparkSession,
    root: str | Path,
    table: str,
    snapshot_id: Optional[int] = None,
) -> DataFrame:
    """A committed snapshot as a directory read with the manifest's
    schema, partition columns last (as schema inference orders them):
    no inference job, and an empty commit reads as an empty frame."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(root, table)
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot for table {table} under {root}")
    manifest = read_manifest(root, table, sid)
    schema = StructType.fromJson(manifest["schema"])
    parts = manifest["partition_by"]
    fields = [f for f in schema.fields if f.name not in parts] + [schema[c] for c in parts]
    path = _table_dir(root, table) / f"snap-{sid}"
    return spark.read.schema(StructType(fields)).parquet(str(path))


def read_manifest(root: str | Path, table: str, snapshot_id: int) -> dict[str, Any]:
    return json.loads((_table_dir(root, table) / f"manifest-{snapshot_id}.json").read_text())


def snapshots_of(root: str | Path, table: str) -> list[int]:
    tdir = _table_dir(root, table)
    if not tdir.exists():
        return []
    ids = []
    for p in tdir.glob("manifest-*.json"):
        try:
            ids.append(int(p.stem.split("-", 1)[1]))
        except ValueError:
            continue
    return sorted(ids)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str | Path,
    bucket_col: str,
    n_buckets: int = 16,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Catalog-bucketed parquet table for CO-LOCATED joins (K11): every
    join or aggregation keyed on ``bucket_col`` between tables bucketed
    the same way reads matching buckets side by side with NO exchange
    (tests/test_plans.py pins the exchange-free plan).

    Hash-directory bucketing (write_snapshot's partition_by) places
    files; CATALOG bucketing additionally records the bucket spec so
    Catalyst can elide the shuffle.  Only the plan tests and
    ``write_snapshot_bucketed`` call it; it goes with the traced replay
    (ROADMAP Direction 1)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.option("path", str(path)).saveAsTable(name)


def _catalog_name(root: str | Path, table: str, snapshot_id: int, staging: bool = False) -> str:
    """Deterministic session-catalog name for a committed bucketed table;
    the root-path hash keeps concurrent test roots from colliding."""
    import zlib

    tag = zlib.crc32(str(Path(root).resolve()).encode()) & 0xFFFFFFFF
    prefix = "_stg_ffp" if staging else "ffp"
    return f"{prefix}_{table}_s{snapshot_id}_{tag:08x}"


def _bucket_ddl(df: DataFrame) -> str:
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)


def write_snapshot_bucketed(
    df: DataFrame,
    root: str | Path,
    table: str,
    snapshot_id: int,
    bucket_col: str,
    n_buckets: int = 16,
    extra: Optional[dict[str, Any]] = None,
) -> dict[str, Any]:
    """Atomic snapshot commit THROUGH the catalog-bucketed writer (K11):
    the committed files carry bucket ids in their names and the manifest
    records the bucket spec, so `read_snapshot_bucketed` joins and
    aggregates on ``bucket_col`` with ZERO exchange.  Its only callers
    are the traced replay (``perfbench/replay.py``) and the plan tests,
    and it goes with the replay (ROADMAP Direction 1); ``run_snapshot``
    commits through `write_snapshot`.  Each call registers a catalog
    table in the session.

    Same protocol as `write_snapshot`; the staging write goes through a
    staging catalog entry, since bucketBy requires saveAsTable.  Bucket
    file names survive the rename into ``snap-<id>``, which is what lets
    the final CLUSTERED BY table point at them."""
    spark = df.sparkSession
    stg = _catalog_name(root, table, snapshot_id, staging=True)

    def stage(observed: DataFrame, tmp: Path) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {stg}")
        try:
            write_bucketed_table(observed, stg, tmp, bucket_col, n_buckets)
        finally:
            # external table: dropping removes metadata only, never the
            # data files
            spark.sql(f"DROP TABLE IF EXISTS {stg}")

    name = _catalog_name(root, table, snapshot_id)
    final = _table_dir(root, table) / f"snap-{snapshot_id}"
    create = (
        f"CREATE TABLE {name} ({_bucket_ddl(df)}) USING parquet "
        f"CLUSTERED BY (`{bucket_col}`) SORTED BY (`{bucket_col}`) "
        f"INTO {n_buckets} BUCKETS LOCATION '{final}'"
    )
    spec = {
        "partition_by": [],
        "bucket_by": bucket_col,
        "n_buckets": n_buckets,
        "catalog_table": name,
        "create_ddl": create,
    }
    manifest = _commit(df, root, table, snapshot_id, stage, spec, extra)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(create)
    return manifest


def read_snapshot_bucketed(
    spark: SparkSession,
    root: str | Path,
    table: str,
    snapshot_id: Optional[int] = None,
) -> DataFrame:
    """Read path for bucketed commits: returns the CATALOG table
    (bucket-spec-aware — joins on the bucket key need no exchange),
    re-registering it from the manifest's DDL in a fresh session.
    Falls back to the plain directory read for non-bucketed commits.
    Its only callers are the traced replay (``perfbench/replay.py``) and
    the plan tests, and it goes with the replay (ROADMAP Direction 1);
    ``analyze_snapshot`` serves through `read_snapshot`."""
    sid = snapshot_id if snapshot_id is not None else current_snapshot_id(root, table)
    if sid is None:
        raise FileNotFoundError(f"no committed snapshot for table {table} under {root}")
    manifest = read_manifest(root, table, sid)
    name = manifest.get("catalog_table")
    if not name:
        return read_snapshot(spark, root, table, sid)
    if not spark.catalog.tableExists(name):
        spark.sql(manifest["create_ddl"])
    return spark.table(name)


# ---------------------------------------------------------------------------
# checkpoint/resume over explicit url-hash partitions
# ---------------------------------------------------------------------------

def remaining_pages(
    pages_with_part: DataFrame, lineage: Optional[DataFrame]
) -> DataFrame:
    """Anti-join away partitions whose lineage row says status=done.

    Its only caller is the traced replay (``perfbench/replay.py``), with no
    lineage; ``run_snapshot`` never resumes per part.  It goes with the
    replay (ROADMAP Direction 1)."""
    if lineage is None:
        return pages_with_part
    done = lineage.filter(F.col("status") == "done").select("part_id").distinct()
    return pages_with_part.join(done, "part_id", "left_anti")


# ---------------------------------------------------------------------------
# changelog compaction (K77): fold an event changelog into current state
# ---------------------------------------------------------------------------

def compact_changelog(
    changelog: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    op_col: str,
    tombstone_ops: tuple[str, ...] = ("delete",),
) -> DataFrame:
    """Latest-op-wins compaction of a CDC/upsert changelog — the fold
    that turns an event-sourced entity log into current KG state
    (inserts/updates keep the newest row, a trailing tombstone marks
    the entity dead without losing its last attributes).

    One shuffle: max(struct(order_cols..., all payload)) per key — the
    map-side-combinable plan, deliberately NOT a row_number window
    (no per-key sort materialization; partial max reduces each
    partition to one candidate row per key before the exchange).
    ``order_cols`` must be totally ordering (e.g. ts + a unique id).
    Returns one row per key: key_cols + payload of the winning row +
    ``alive`` (false iff the last op is a tombstone).
    """
    payload = [c for c in changelog.columns if c not in key_cols]
    ordered = order_cols + [c for c in payload if c not in order_cols]
    latest = changelog.groupBy(*key_cols).agg(
        F.max(F.struct(*ordered)).alias("_l")
    )
    out = latest.select(
        *key_cols,
        *[F.col(f"_l.{c}").alias(c) for c in payload],
    )
    return out.withColumn(
        "alive", ~F.col(op_col).isin(*tombstone_ops)
    )


def changelog_history(
    changelog: DataFrame,
    key_cols: list[str],
    ts_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """SCD-2 history intervals from the same changelog
    :func:`compact_changelog` folds (K84): every event opens a version
    valid from its timestamp until the key's next event — the
    time-travel / temporal-table primitive ("state as of t" = the row
    whose [valid_from, valid_to) contains t; the latest row has
    valid_to NULL and equals compact_changelog's winner).

    One key-partitioned window (lead over order_cols) — the per-key
    sort is the honest cost of producing ORDERED version chains, and
    it shuffles once on the same key a consumer's as-of join probes.
    ``order_cols`` defaults to [ts_col]; pass ts + a unique id when
    timestamps can tie.
    """
    from pyspark.sql.window import Window

    order_cols = order_cols or [ts_col]
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return changelog.select(
        "*",
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
    )
