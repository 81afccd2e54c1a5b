"""Compare the committed KG tables of two snapshot roots: rows and manifests.

Usage:
    python tools/compare_snapshots.py ROOT_A ROOT_B [--snapshot-id N]

Reads the committed ``triples``, ``nodes``, ``edges``, ``lineage`` and
``pages_seen`` tables of both roots with pyarrow (no JVM).  Without
``--snapshot-id`` each root serves each table's default snapshot by the
commit rule of ``ffp_spark.snapshots.current_snapshot_id`` (the newest
id whose lineage manifest exists).  Lineage is compared without its
wall-clock ``started_ts``/``finished_ts`` columns.  Rows are compared as
sorted multisets over the columns both sides share; a column present on
only one side is listed, not compared.  Each table's manifest fields
``row_count``, ``parent_snapshot_id``, ``partition_by``, ``schema`` and
``extra`` are compared next to its rows.

Prints one line per table, then one JSON summary as the last stdout
line.  Exits 1 if any table differs in rows or manifest fields, or is
missing on a side.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import Counter
from pathlib import Path
from typing import Any, Optional

import pyarrow.dataset as ds

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ffp_spark.snapshots import current_snapshot_id, read_manifest  # noqa: E402

TABLES = ("triples", "nodes", "edges", "lineage", "pages_seen")
IGNORED = {"lineage": {"started_ts", "finished_ts"}}
MANIFEST_FIELDS = ("row_count", "parent_snapshot_id", "partition_by", "schema", "extra")


def _read(root: Path, table: str, snapshot_id: Optional[int]):
    """(manifest, column names, rows) of one committed snapshot, or None
    if absent."""
    sid = current_snapshot_id(root, table) if snapshot_id is None else snapshot_id
    tdir = root / table
    if sid is None or not (tdir / f"manifest-{sid}.json").exists():
        return None
    manifest = read_manifest(root, table, sid)
    dataset = ds.dataset(tdir / f"snap-{sid}", format="parquet", partitioning="hive")
    if not dataset.files:
        # an empty partitioned/bucketed commit writes no data file
        return manifest, [f["name"] for f in manifest["schema"]["fields"]], []
    data = dataset.to_table()
    return manifest, data.column_names, data.to_pylist()


def _freeze(v: Any) -> Any:
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_freeze(x) for x in v)
    return v


def compare_table(root_a: Path, root_b: Path, table: str, snapshot_id: Optional[int]) -> dict:
    a = _read(root_a, table, snapshot_id)
    b = _read(root_b, table, snapshot_id)
    if a is None or b is None:
        return {"missing_in": [n for n, t in (("a", a), ("b", b)) if t is None]}
    (man_a, cols_a, rows_a), (man_b, cols_b, rows_b) = a, b
    ignored = IGNORED.get(table, set())
    shared = [c for c in cols_a if c in cols_b and c not in ignored]

    def keyed(rows: list[dict]) -> Counter:
        return Counter(tuple(_freeze(r[c]) for c in shared) for r in rows)

    ka, kb = keyed(rows_a), keyed(rows_b)
    only_a, only_b = ka - kb, kb - ka

    def sample(c: Counter) -> list:
        return [list(map(repr, r)) for r in sorted(c, key=repr)[:3]]

    return {
        "snapshot_ids": [man_a["snapshot_id"], man_b["snapshot_id"]],
        "manifest_diff": [f for f in MANIFEST_FIELDS if man_a.get(f) != man_b.get(f)],
        "rows_a": len(rows_a),
        "rows_b": len(rows_b),
        "compared_columns": shared,
        "columns_only_a": [c for c in cols_a if c not in cols_b],
        "columns_only_b": [c for c in cols_b if c not in cols_a],
        "rows_only_a": sum(only_a.values()),
        "rows_only_b": sum(only_b.values()),
        "sample_only_a": sample(only_a),
        "sample_only_b": sample(only_b),
    }


def main(argv: Optional[list[str]] = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("root_a", type=Path)
    p.add_argument("root_b", type=Path)
    p.add_argument("--snapshot-id", type=int, default=None)
    args = p.parse_args(argv)

    tables = {t: compare_table(args.root_a, args.root_b, t, args.snapshot_id) for t in TABLES}
    identical = True
    for name, r in tables.items():
        if "missing_in" in r:
            identical = False
            print(f"{name}: MISSING in {', '.join(r['missing_in'])}")
            continue
        same = r["rows_only_a"] == 0 and r["rows_only_b"] == 0
        identical &= same and not r["manifest_diff"]
        extra = ""
        if r["columns_only_a"] or r["columns_only_b"]:
            extra = f" (only in a: {r['columns_only_a']}, only in b: {r['columns_only_b']})"
        manifest = f"DIFF in {r['manifest_diff']}" if r["manifest_diff"] else "SAME"
        print(
            f"{name}: {'SAME' if same else 'DIFF'} rows {r['rows_a']} vs {r['rows_b']}, "
            f"{r['rows_only_a']} only in a, {r['rows_only_b']} only in b{extra}; "
            f"manifest {manifest} (snapshots {r['snapshot_ids'][0]} vs {r['snapshot_ids'][1]})"
        )
    summary = {
        "root_a": str(args.root_a),
        "root_b": str(args.root_b),
        "snapshot_id": args.snapshot_id,
        "identical": identical,
        "tables": {
            n: {k: v for k, v in r.items() if not k.startswith("sample") or v}
            for n, r in tables.items()
        },
    }
    print(json.dumps(summary, sort_keys=True))
    return 0 if identical else 1


if __name__ == "__main__":
    sys.exit(main())
