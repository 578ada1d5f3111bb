#!/usr/bin/env python3
"""Self-test of the output checks: each check passes on a correct
result and fails on corrupted copies of it (a dropped key, a stale
value, an altered row, ...). No Spark session is needed.

    python3 perfbench/selftest.py

Exits non-zero if any check accepts a corrupted result or rejects a
correct one.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import checks  # noqa: E402


def cases():
    model = {"k1": "v1", "k2": "K2", "k3": "v9"}
    yield "store: correct", checks.store_matches_model("s", dict(model), model), False
    dropped = dict(model); del dropped["k2"]
    yield "store: dropped key", checks.store_matches_model("s", dropped, model), True
    stale = dict(model, k3="v8")
    yield "store: stale value", checks.store_matches_model("s", stale, model), True
    yield "store: tombstoned key present", checks.store_matches_model("s", dict(model, k4="x"), model), True

    yield "lookup: correct", checks.lookup_matches_model("k1", ["v1"], "v1"), False
    yield "lookup: stale value", checks.lookup_matches_model("k1", ["v0"], "v1"), True
    yield "lookup: tombstone returns a row", checks.lookup_matches_model("k5", ["v5"], None), True
    yield "lookup: live key returns nothing", checks.lookup_matches_model("k1", [], "v1"), True

    ts = pd.to_datetime([1, 2, 3], unit="s")
    recs = pd.DataFrame({"key": ["a", "b", "c"], "value": ["a", None, "x"], "timestamp": ts})
    yield "passthrough: correct", checks.passthrough_matches(recs.iloc[::-1], recs), False
    yield "passthrough: dropped record", checks.passthrough_matches(recs.iloc[:2], recs), True
    altered = recs.copy(); altered.loc[2, "value"] = "y"
    yield "passthrough: altered row", checks.passthrough_matches(altered, recs), True

    oracle = pd.DataFrame({"g": ["a", "b"], "n": [1, 2], "x": [0.5, None]})
    yield "oracle: correct", checks.matches_oracle("q", oracle.iloc[::-1], oracle), False
    altered = oracle.copy(); altered.loc[1, "n"] = 3
    yield "oracle: altered row", checks.matches_oracle("q", altered, oracle), True
    yield "oracle: dropped row", checks.matches_oracle("q", oracle.iloc[:1], oracle), True


def main() -> int:
    bad = 0
    for label, problems, should_fail in cases():
        ok = bool(problems) == should_fail
        bad += not ok
        verdict = "fails as it should" if should_fail and ok else (
            "passes as it should" if ok else "WRONG")
        print(f"{label:<36} {verdict}" + (f"  ({problems[0]})" if problems else ""))
    print(f"\n{'all checks behave' if not bad else f'{bad} checks misbehave'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
