"""Compare the committed KG tables of two snapshot roots, row by row.

Usage:
    python tools/compare_snapshots.py ROOT_A ROOT_B [--snapshot-id N]

Reads the committed ``triples``, ``nodes``, ``edges``, ``lineage`` and
``pages_seen`` tables of both roots with pyarrow (no JVM).  Without
``--snapshot-id`` each table's CURRENT snapshot is used.  Lineage is
compared without its wall-clock ``started_ts``/``finished_ts`` columns.
Rows are compared as sorted multisets over the columns both sides share;
a column present on only one side is listed, not compared.

Prints one line per table, then one JSON summary as the last stdout
line.  Exits 1 if any table differs in rows or is missing on a side.
"""

from __future__ import annotations

import argparse
import json
import sys
from collections import Counter
from pathlib import Path
from typing import Any, Optional

import pyarrow.dataset as ds

TABLES = ("triples", "nodes", "edges", "lineage", "pages_seen")
IGNORED = {"lineage": {"started_ts", "finished_ts"}}


def _snapshot_id(tdir: Path, snapshot_id: Optional[int]) -> Optional[int]:
    if snapshot_id is not None:
        return snapshot_id
    cur = tdir / "CURRENT"
    return int(cur.read_text().strip()) if cur.exists() else None


def _read(root: Path, table: str, snapshot_id: Optional[int]):
    """(column names, rows) of one committed snapshot, or None if absent."""
    tdir = root / table
    sid = _snapshot_id(tdir, snapshot_id)
    if sid is None or not (tdir / f"manifest-{sid}.json").exists():
        return None
    manifest = json.loads((tdir / f"manifest-{sid}.json").read_text())
    snap = tdir / f"snap-{sid}"
    dataset = ds.dataset(snap, format="parquet", partitioning="hive")
    if not dataset.files:
        # an empty partitioned/bucketed commit writes no data file
        return [f["name"] for f in manifest["schema"]["fields"]], []
    data = dataset.to_table()
    return data.column_names, data.to_pylist()


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
    (cols_a, rows_a), (cols_b, rows_b) = a, b
    ignored = IGNORED.get(table, set())
    shared = [c for c in cols_a if c in cols_b and c not in ignored]

    def keyed(rows: list[dict]) -> Counter:
        return Counter(tuple(_freeze(r[c]) for c in shared) for r in rows)

    ka, kb = keyed(rows_a), keyed(rows_b)
    only_a, only_b = ka - kb, kb - ka

    def sample(c: Counter) -> list:
        return [list(map(repr, r)) for r in sorted(c, key=repr)[:3]]

    return {
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
        identical &= same
        extra = ""
        if r["columns_only_a"] or r["columns_only_b"]:
            extra = f" (only in a: {r['columns_only_a']}, only in b: {r['columns_only_b']})"
        print(
            f"{name}: {'SAME' if same else 'DIFF'} rows {r['rows_a']} vs {r['rows_b']}, "
            f"{r['rows_only_a']} only in a, {r['rows_only_b']} only in b{extra}"
        )
    summary = {
        "root_a": str(args.root_a),
        "root_b": str(args.root_b),
        "snapshot_id": args.snapshot_id,
        "identical_rows": identical,
        "tables": {
            n: {k: v for k, v in r.items() if not k.startswith("sample") or v}
            for n, r in tables.items()
        },
    }
    print(json.dumps(summary, sort_keys=True))
    return 0 if identical else 1


if __name__ == "__main__":
    sys.exit(main())
