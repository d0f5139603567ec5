#!/usr/bin/env python
"""Compare two store roots, or two EL output roots.

    python scripts/diff_store.py <a> <b>

Checks that:

- the relative paths match. Spark part files (and their ``.crc``
  siblings) carry a per-write UUID, so each directory's part files
  count as one ``part-*`` entry;
- every ``meta.json`` is byte-identical;
- every directory holding part files (a store's ``batch=`` partition,
  an output dataset or one of its hive partitions) has the same
  columns, in order and by type, and the same multiset of rows.

Prints one line per difference and a summary line; exits 1 when
anything differs and 0 when the two roots are identical by these
checks.
"""

from __future__ import annotations

import argparse
import sys
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq


def _is_part(name: str) -> bool:
    return name.startswith(("part-", ".part-"))


def layout(root: Path) -> set[str]:
    """Relative paths under ``root``, part files collapsed per dir."""
    out = set()
    for p in root.rglob("*"):
        rel = p.relative_to(root)
        if p.is_file() and _is_part(p.name):
            rel = rel.parent / "part-*"
        out.add(rel.as_posix() + ("/" if p.is_dir() else ""))
    return out


def data_dirs(root: Path) -> list[Path]:
    """Directories directly holding parquet part files, relative."""
    return sorted(
        {p.parent.relative_to(root) for p in root.rglob("part-*.parquet")}
    )


def _freeze(value):
    if isinstance(value, dict):
        return tuple(sorted((k, _freeze(v)) for k, v in value.items()))
    if isinstance(value, list):
        return tuple(_freeze(v) for v in value)
    return value


def read_dir(path: Path) -> tuple[list[tuple[str, str]], Counter]:
    """(columns as (name, type), row multiset) of one data directory."""
    schema, rows = None, Counter()
    for f in sorted(path.glob("part-*.parquet")):
        table = pq.ParquetFile(f).read()
        cols = [(field.name, str(field.type)) for field in table.schema]
        if schema is None:
            schema = cols
        elif cols != schema:
            raise ValueError(f"{f}: columns {cols} differ from {schema}")
        rows.update(
            repr(tuple(_freeze(r[c]) for c, _ in cols)) for r in table.to_pylist()
        )
    return schema or [], rows


def diff(a: Path, b: Path) -> list[str]:
    problems = []
    la, lb = layout(a), layout(b)
    for rel in sorted(la - lb):
        problems.append(f"only in {a}: {rel}")
    for rel in sorted(lb - la):
        problems.append(f"only in {b}: {rel}")
    for rel in sorted(p for p in la & lb if p.endswith("meta.json")):
        if (a / rel).read_bytes() != (b / rel).read_bytes():
            problems.append(f"meta.json differs: {rel}")
    for rel in sorted(set(data_dirs(a)) & set(data_dirs(b))):
        cols_a, rows_a = read_dir(a / rel)
        cols_b, rows_b = read_dir(b / rel)
        if cols_a != cols_b:
            problems.append(f"columns differ in {rel}: {cols_a} vs {cols_b}")
        elif rows_a != rows_b:
            missing, extra = rows_a - rows_b, rows_b - rows_a
            problems.append(
                f"rows differ in {rel}: {sum(missing.values())} only in a, "
                f"{sum(extra.values())} only in b (of {sum(rows_a.values())}"
                f" / {sum(rows_b.values())})"
            )
    return problems


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("a", type=Path)
    p.add_argument("b", type=Path)
    args = p.parse_args(argv)
    for root in (args.a, args.b):
        if not root.is_dir():
            p.error(f"{root} is not a directory")
    problems = diff(args.a, args.b)
    for line in problems:
        print(line)
    n_dirs = len(set(data_dirs(args.a)) & set(data_dirs(args.b)))
    print(
        f"{'DIFFERENT' if problems else 'IDENTICAL'}: {len(layout(args.a))} "
        f"paths, {n_dirs} data directories compared, {len(problems)} "
        "differences"
    )
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
