"""Correctness checks: DuckDB replays for the SQL workloads and exact
Python re-verification for the dedup pipeline."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

from gen import STAR_TABLES, WRITE_TABLES


def _canon(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _sort_key(row):
    # Floats sort by a coarse rounding so both engines' last-digit
    # differences cannot reorder rows; exact values compare below.
    return tuple(
        (0, "") if v is None
        else (1, f"{v:.6g}") if isinstance(v, float)
        else (2, repr(v))
        for v in row
    )


def same_rows(a: list, b: list) -> bool:
    """Order-insensitive row-set equality with a relative float
    tolerance of 1e-9 (sums over the same values in another order)."""
    if len(a) != len(b):
        return False
    ca = sorted((tuple(_canon(v) for v in r) for r in a), key=_sort_key)
    cb = sorted((tuple(_canon(v) for v in r) for r in b), key=_sort_key)
    for ra, rb in zip(ca, cb):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    return False
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def check_reads(src_dir: str, executed: list[tuple[str, list]]) -> list[int]:
    """Re-run each executed SELECT on DuckDB over the same parquet;
    return the indexes whose rows differ."""
    con = duckdb.connect()
    try:
        con.execute("set threads = 2")
        for t in STAR_TABLES:
            con.execute(
                f"create view {t} as select * from read_parquet('{src_dir}/{t}.parquet')"
            )
        return [
            i for i, (sql, rows) in enumerate(executed)
            if not same_rows(rows, con.execute(sql).fetchall())
        ]
    finally:
        con.close()


def replay_writes(
    setup: list[str], executed: list[tuple[str, str, list | None]],
    final: dict[str, list],
) -> list[int]:
    """Replay the setup and the executed statement list on DuckDB with
    native constraints. ``executed`` holds (kind, sql, engine rows or
    None if the engine raised). Returns the indexes of statements
    whose outcome differs (a read's rows, or one side failing), and
    -1 for each table whose final state differs."""
    con = duckdb.connect()
    con.execute("set threads = 2")
    bad = []
    try:
        for sql in setup:
            con.execute(sql)
        for i, (kind, sql, rows) in enumerate(executed):
            if sql.startswith("optimize "):
                continue  # compaction has no visible effect to replay
            try:
                got = con.execute(sql).fetchall()
            except duckdb.Error:
                got = None
            if (got is None) != (rows is None) or (
                kind == "read" and got is not None and not same_rows(rows, got)
            ):
                bad.append(i)
        for t in WRITE_TABLES:
            if not same_rows(final[t], con.execute(f"select * from {t}").fetchall()):
                bad.append(-1)
    finally:
        con.close()
    return bad


# ------------------------------------------------------------ dedup --


def tokens(text: str) -> list[str]:
    return [t for t in text.split() if t]


def shingles(text: str, n: int = 3) -> set[str]:
    w = tokens(text)
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    if not sa and not sb:
        return 0.0
    return round(len(sa & sb) / len(sa | sb), 6)


def components(nodes_pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node → min node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in nodes_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}
