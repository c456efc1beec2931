"""The same seed must give byte-identical inputs; another seed must not.

    python3 perfbench/test_gen.py      (or: python3 -m pytest perfbench/test_gen.py)
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digest(root: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> dict:
    plan = {
        "star": gen.make_star(os.path.join(root, "tables"), os.path.join(root, "star.db"), seed),
        "corpus": gen.make_corpus(os.path.join(root, "corpus"), seed),
    }
    return {"files": _digest(root), "plan": plan}


def test_same_seed_same_bytes():
    with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, tempfile.TemporaryDirectory() as c:
        first, second, other = _generate(a, 7), _generate(b, 7), _generate(c, 8)
    assert first == second
    assert sorted(first["files"]) == [
        "corpus/docs.parquet", "corpus/names.parquet", "corpus/vectors.parquet",
        "star.db", "tables/events.parquet", "tables/lineitem.parquet",
        "tables/part.parquet", "tables/region.parquet", "tables/supplier.parquet",
    ]
    same = [f for f in first["files"] if first["files"][f] == other["files"].get(f)]
    # region is the one fixed dimension table; every other input is seeded.
    assert same == ["tables/region.parquet"], f"inputs that ignore the seed: {same}"


def test_deletes_hit_the_initial_corpus_once():
    with tempfile.TemporaryDirectory() as d:
        plan = gen.make_corpus(d, 3)
    s = gen.INGEST_SIZES
    assert len(set(plan["deletes"])) == s["deletes"]
    assert all(0 <= i < s["corpus"] for i in plan["deletes"])
    assert gen.batch_ids(0).start == s["corpus"]
    assert gen.batch_ids(s["batches"] - 1).stop == plan["total"]


if __name__ == "__main__":
    test_same_seed_same_bytes()
    test_deletes_hit_the_initial_corpus_once()
    print("ok")
