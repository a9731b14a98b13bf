"""Output check for one job's bottom-K TSV.

A job fails the check if its TSV cannot be parsed, is empty, has more than
K rows, has scores outside [0, 1] or scores that are not non-decreasing.
``planted_recall`` is the share of planted records (keys from the side
file written by the generator) found among the written rows.
"""

from __future__ import annotations

import csv
import glob
import math
import os


class CheckFailed(ValueError):
    pass


def read_tsv(out_dir: str) -> list[list[str]]:
    """Rows of every part file of a Spark CSV write, in part order."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if not parts:
        raise CheckFailed(f"no part files in {out_dir}")
    rows = []
    for p in parts:
        with open(p, newline="") as fh:
            rows += [r for r in csv.reader(fh, delimiter="\t") if r]
    return rows


def check(rows: list[list[str]], columns: list[str], k: int,
          planted: list[list], key_cols: list[str]) -> float:
    """Raise CheckFailed unless ``rows`` is a valid bottom-K; return the
    planted recall."""
    if not rows:
        raise CheckFailed("empty output")
    if len(rows) > k:
        raise CheckFailed(f"{len(rows)} rows > K={k}")
    i_score = columns.index("score")
    keys = [columns.index(c) for c in key_cols]
    prev = -math.inf
    found = set()
    for n, r in enumerate(rows):
        if len(r) != len(columns):
            raise CheckFailed(f"row {n}: {len(r)} fields, expected {len(columns)}")
        try:
            s = float(r[i_score])
        except ValueError:
            raise CheckFailed(f"row {n}: score {r[i_score]!r} is not a number") from None
        if not 0.0 <= s <= 1.0:
            raise CheckFailed(f"row {n}: score {s} outside [0, 1]")
        if s < prev:
            raise CheckFailed(f"row {n}: score {s} below previous {prev}")
        prev = s
        found.add(tuple(r[i] for i in keys))
    want = [tuple(str(v) for v in p[1:]) for p in planted]
    return sum(w in found for w in want) / len(want) if want else 0.0
