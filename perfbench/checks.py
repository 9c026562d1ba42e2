"""Output checks: order-insensitive comparison of query results against
DuckDB references, and the exact re-verification of incremental matches."""

from __future__ import annotations

import datetime as dt
import decimal
import math
from decimal import ROUND_HALF_UP, Decimal

REL_TOL = 1e-6
ABS_TOL = 1e-9
TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def _cell(v):
    """Normalise one Arrow cell so Spark and DuckDB spell values alike."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def _sort_key(v) -> str:
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else f"{v:.5g}"
    if isinstance(v, tuple):
        return "[" + ",".join(_sort_key(x) for x in v) + "]"
    return "<null>" if v is None else str(v)


def canonical_rows(tbl) -> tuple[list[str], list[tuple]]:
    """(sorted column names, rows with columns in that order, sorted)."""
    cols = sorted(tbl.column_names)
    data = [[_cell(v) for v in tbl.column(c).to_pylist()] for c in cols]
    rows = list(zip(*data)) if data else []
    rows.sort(key=lambda r: tuple(_sort_key(v) for v in r))
    return cols, rows


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def same_result(got, want: tuple[list[str], list[tuple]]) -> bool:
    cols, rows = canonical_rows(got)
    wcols, wrows = want
    return (
        cols == wcols
        and len(rows) == len(wrows)
        and all(len(r) == len(w) and all(map(_same, r, w)) for r, w in zip(rows, wrows))
    )


def duckdb_references(sf_dir: str, oracles: dict[str, str]) -> dict:
    """Canonical rows of each oracle query over the tables in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLES.split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {name: canonical_rows(con.execute(sql).arrow()) for name, sql in oracles.items()}
    finally:
        con.close()


def _grams(text: str) -> set:
    toks = [w for w in (text or "").split(" ") if w]
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def match_is_correct(
    pairs: list[tuple[int, int, float]], batch_of: dict[int, int], texts: dict[int, str], tau: float
) -> bool:
    """Incremental text match check. ``batch_of`` maps each batch id to the
    corpus doc it re-crawls. Every batch doc must pair with its own source
    at Jaccard 1.0, and every reported pair must be a true pair: its word
    3-gram Jaccard, recomputed here, is at least ``tau`` and equals the
    reported value. (MinHash banding may miss pairs near ``tau``, so only
    the self pairs are required.)"""
    got = {(n, o) for n, o, _ in pairs}
    if len(got) != len(pairs) or any((n, src) not in got for n, src in batch_of.items()):
        return False
    for new_id, orig_id, jac in pairs:
        if new_id not in batch_of or orig_id not in texts:
            return False
        a, b = _grams(texts[batch_of[new_id]]), _grams(texts[orig_id])
        union = len(a | b)
        true_j = len(a & b) / union if union else 0.0
        if true_j < tau or abs(_round6(true_j) - jac) > 1e-9:
            return False
    return True
