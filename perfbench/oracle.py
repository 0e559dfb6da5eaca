"""Output digests: the order-insensitive normal form of a result frame.

``normalize`` is the normalization the repository's oracle tests use
(row count, sorted column names, rounded value multiset); ``digest``
folds it into a short record that can be stored and compared.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    rows.sort()
    return rows


def digest(pdf: pd.DataFrame) -> dict:
    h = hashlib.sha256()
    for row in normalize(pdf):
        h.update(repr(row).encode())
        h.update(b"\n")
    return {"rows": len(pdf), "columns": sorted(pdf.columns), "sha256": h.hexdigest()}
