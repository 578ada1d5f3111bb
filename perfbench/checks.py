"""Output checks. Each returns a list of problems; empty means pass.

Every expectation is computed apart from the program: the changelog
generator's own model, the generated files themselves, or DuckDB
oracle SQL.
"""

from __future__ import annotations

import pandas as pd

MAX_SHOWN = 5


def _shown(items) -> str:
    items = list(items)
    more = f" (+{len(items) - MAX_SHOWN} more)" if len(items) > MAX_SHOWN else ""
    return f"{items[:MAX_SHOWN]}{more}"


# -- changelog topology ------------------------------------------------------

def store_matches_model(name: str, got: dict, want: dict) -> list[str]:
    """A materialized store, key -> value, against the generator's model."""
    problems = []
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    stale = [k for k in want.keys() & got.keys() if got[k] != want[k]]
    if missing:
        problems.append(f"{name}: {len(missing)} keys missing {_shown(sorted(missing))}")
    if extra:
        problems.append(f"{name}: {len(extra)} keys that should be absent {_shown(sorted(extra))}")
    if stale:
        problems.append(f"{name}: {len(stale)} stale values {_shown(sorted(stale))}")
    return problems


def lookup_matches_model(key: str, rows: list, want) -> list[str]:
    """A point lookup returns the model's value, or nothing for a
    tombstoned or never-seen key (``want`` None)."""
    expected = [] if want is None else [want]
    if list(rows) != expected:
        return [f"lookup {key}: expected {expected}, got {list(rows)}"]
    return []


def passthrough_matches(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """The passthrough sink holds exactly the generated records (as a
    multiset of (key, value, timestamp))."""
    cols = ["timestamp", "key", "value"]
    if len(got) != len(want):
        return [f"passthrough: {len(got)} records, generated {len(want)}"]
    a = got[cols].sort_values(cols, na_position="first").reset_index(drop=True)
    b = want[cols].sort_values(cols, na_position="first").reset_index(drop=True)
    a["timestamp"] = a["timestamp"].astype("datetime64[us]")
    b["timestamp"] = b["timestamp"].astype("datetime64[us]")
    diff = ~((a == b) | (a.isna() & b.isna())).all(axis=1)
    if diff.any():
        return [f"passthrough: {int(diff.sum())} records differ, first at {int(diff.idxmax())}"]
    return []


# -- oracle-backed queries ---------------------------------------------------

def matches_oracle(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """The canonical comparison of oracle.py: columns by name, rows
    sorted by every column, values exactly equal (NULL == NULL)."""
    from kafka_streams_sandbox_spark.oracle import _normalize

    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows, oracle {len(b)}"]
    if list(a.columns) != list(b.columns):
        return [f"{name}: columns {list(a.columns)} vs oracle {list(b.columns)}"]
    bad = []
    for col in a.columns:
        x, y = a[col], b[col]
        neq = ~((x == y) | (x.isna() & y.isna()))
        if neq.any():
            bad.append(f"{col}: {int(neq.sum())} values")
    return [f"{name}: differs from oracle in {', '.join(bad)}"] if bad else []


