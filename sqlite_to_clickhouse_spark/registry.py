"""Central operator/query registry.

Every operator in the engine registers itself here with a name (the key the
driver's correctness harness checks, SURVEY.md §2b), a callable
``(spark, sf_dir) -> DataFrame``, and — when the semantics are
SQL-expressible — an equivalent ANSI SQL string that DuckDB can execute on
the same parquet tables (the oracle).

Conventions enforced here so the driver's order-insensitive value-hash
comparison is stable:

- every computed/aggregate column is aliased identically in the Spark code
  and the oracle SQL;
- floating-point aggregates are ``round()``-ed to a fixed number of decimals
  on BOTH sides (IEEE sums in different orders differ in the last ulp;
  rounding makes the hash deterministic);
- any query whose output depends on order (top-k, limit) breaks ties on a
  unique key so both engines pick the same rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL, or None for rows-only (⊘) checks
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: Optional[str] = None, tags: tuple[str, ...] = ()):
    """Decorator: register a query callable under ``name``.

    ``oracle`` is the DuckDB-executable ANSI SQL equivalent; pass ``None``
    for genuinely non-SQL-expressible ops (the driver then records a weaker
    rows-only check — keep those to a minimum).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = RegisteredQuery(name=name, fn=fn, oracle=oracle, tags=tuple(tags))
        return fn

    return deco


# A green driver record this many rounds old (or older) is treated as
# having EXPIRED.  The constant must respect the rotation arithmetic
# (VERDICT r11 item 4): with N registered ops and a 50-op window, a full
# re-certification cycle takes ceil(N/50) rounds — ~7 at the current 304
# — so any EXPIRED_AGE below that GUARANTEES a permanent ~window-sized
# "expired" tier at steady state, contradicting the tier's own doctrine
# ("expired certifies no better than never-driven": at age 5 that
# doctrine indicted ~50 ops the policy itself could never clear).  At
# EXPIRED_AGE = ceil(304/50) = 7 the steady-state expired tier is empty
# (the simulated steady-state max record age is cycle − 1 = 6): every
# record is re-taken before it reaches the boundary, and the tier only
# populates on a genuine disruption (a skipped round, a registration
# burst) — which is exactly when oldest-first escalation should kick in.
# Note the WINDOW is invariant to this constant: expired + fresh greens
# are both ordered oldest-verified-first, so the split point moves but
# the concatenation (and hence the computed window) does not.
EXPIRED_AGE = 7


def compute_rotation(
    window: int = 50, correctness_dir: Optional[str] = None
) -> tuple[list[str], int]:
    """Derive the next driver-verification window from the recorded
    ``CORRECTNESS_r*.json`` history (VERDICT r4 item 4: keep every row
    inside a bounded freshness window without a hand-curated priority
    list each round).

    Policy, in order (VERDICT r5 item 3: an unclosed failure must never
    wait behind the backlog; VERDICT r10 item 1: a five-round-stale green
    record is still evidence, zero record is not — never-driven ops must
    outrank expired re-certs or they trickle in at ~1/round behind a
    steady-state-saturated expired tier):
      1. ops whose LATEST record is red (rows/schema/hash mismatch or err)
         — unclosed failures re-certify before anything else;
      2. ops with NO driver record yet (registration order) — the brief's
         bar is a green CORRECTNESS row for *every* op in ``queries()``;
      3. green ops whose record is ≥ ``EXPIRED_AGE`` rounds old, oldest
         first — expired certifications;
      4. remaining green ops, oldest-verified first — freshness re-certs,
         so every row cycles back through the gate every
         ceil(N/window − 1) rounds.

    Returns (ordered names capped at ``window``, latest round seen).  Pure
    function of the committed correctness files, so the window is
    deterministic for a given repo state.
    """
    import glob
    import json
    import os
    import re

    if correctness_dir is None:
        correctness_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    history: dict[str, tuple[int, bool]] = {}
    latest = 0
    for f in sorted(glob.glob(os.path.join(correctness_dir, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", f)
        if not m:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        try:
            with open(f) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, rec in data.items():
            if not isinstance(rec, dict):
                continue
            if rec.get("err") == "no_oracle":
                # Rows-only (⊘) driver record: the op has no oracle, so the
                # driver only counts rows.  A non-null spark_rows means the
                # query ran and produced a canonicalizable result — that is
                # the strongest signal the gate can emit for such an op, so
                # it rotates by staleness instead of holding a red slot
                # every round (pre-r7 the three by-design ⊘ ops each burned
                # a window slot forever).
                green = rec.get("spark_rows") is not None
            else:
                green = (
                    bool(rec.get("rows_match"))
                    and bool(rec.get("schema_match"))
                    and rec.get("hash_match") is not False  # None = rows-only ⊘
                    and not rec.get("err")
                )
            history[name] = (rnd, green)

    names = list(_REGISTRY)
    order = {n: i for i, n in enumerate(names)}
    never = [n for n in names if n not in history]
    red = [n for n in names if n in history and not history[n][1]]
    greens = sorted(
        (n for n in names if n in history and history[n][1]),
        key=lambda n: (history[n][0], order[n]),
    )
    expired = [n for n in greens if history[n][0] <= latest - EXPIRED_AGE]
    fresh = [n for n in greens if history[n][0] > latest - EXPIRED_AGE]
    return (red + never + expired + fresh)[:window], latest


def all_queries() -> dict[str, RegisteredQuery]:
    """Return the full registry, forcing all operator modules to load."""
    # Imported lazily to avoid a circular import (plans imports operator
    # modules, operator modules import this registry).
    import sqlite_to_clickhouse_spark.plans  # noqa: F401

    # The driver verifies the FIRST 50 entries (registration order); the
    # window is derived from the recorded history, so rotation never goes
    # stale by omission.
    rotation, _latest_round = compute_rotation()

    ordered: dict[str, RegisteredQuery] = {}
    for name in rotation:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, q in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
