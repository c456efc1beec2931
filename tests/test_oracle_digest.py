"""Oracle-digest gate: every registered op's DuckDB oracle string must
hash to the sha256 pinned in tests/data/oracle_sha256.json.  A refactor
that claims "same oracles" is checked here instead of by hand; a failure
names each op whose oracle changed, appeared or disappeared.

An intended oracle change regenerates the file:
``python -m tests.test_oracle_digest``."""

from __future__ import annotations

import hashlib
import json
import os

from sqlite_to_clickhouse_spark.registry import all_queries

_PINNED = os.path.join(os.path.dirname(__file__), "data", "oracle_sha256.json")


def _digests() -> dict:
    return {
        name: hashlib.sha256(q.oracle.encode()).hexdigest()
        for name, q in sorted(all_queries().items())
        if q.oracle is not None
    }


def test_oracle_strings_match_pinned_digests():
    with open(_PINNED) as fh:
        pinned = json.load(fh)
    got = _digests()
    changed = sorted(n for n in pinned.keys() & got.keys() if pinned[n] != got[n])
    assert not changed, f"oracle changed: {changed}"
    assert got.keys() == pinned.keys(), {
        "unpinned": sorted(got.keys() - pinned.keys()),
        "gone": sorted(pinned.keys() - got.keys()),
    }


if __name__ == "__main__":
    with open(_PINNED, "w") as fh:
        json.dump(_digests(), fh, indent=1, sort_keys=True)
        fh.write("\n")
