"""Seeded input generators for the two benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (``python3 perfbench/test_gen.py`` checks this).  The
program under test only ever sees the files written here.

- ``make_star``: a TPC-H-shaped star schema plus an ``events`` stream.
  Three tables arrive as a SQLite file the olap workload migrates before
  querying (declared keys with last-write-wins re-inserts, a table with no
  key, every declared type the migration's type map handles); the rest are
  parquet files in the layout ``io.table`` reads.
- ``make_corpus``: the ingest corpus for the three index stores (documents
  for MinHash, vectors for IVF-PQ, names for the ER catalog) plus the batch,
  delete and probe sequence the ticks replay.
"""

from __future__ import annotations

import datetime as dt
import os
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as papq

# Input sizes, one dict per workload.  They are recorded in every result.
OLAP_SIZES = {"customer": 1_000, "supplier": 100, "part": 1_500, "orders": 10_000, "lineitem": 40_000, "events": 8_000}
INGEST_SIZES = {"corpus": 400, "batch": 20, "batches": 48, "deletes": 4}

_EPOCH = dt.datetime(1995, 1, 1)


def _words(rng: np.random.Generator, n: int, lo: int = 2, hi: int = 4) -> list[str]:
    """``n`` distinct lowercase pseudo-words built from random syllables."""
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da", "qu", "ze", "bo", "fi", "gu", "ha"]
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        w = "".join(syl[i] for i in rng.integers(0, len(syl), rng.integers(lo, hi + 1)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# --------------------------------------------------------------------------
# olap: a TPC-H-shaped star schema, delivered as a SQLite file to migrate
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold", "new", "dark"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "screw"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]

# The tables the olap workload receives as a SQLite file and migrates.
# Their declared types cover every branch of the migration's type map
# (INTEGER/INT, REAL, TEXT/VARCHAR(n), DATETIME); customer and orders
# declare keys, so the migration deduplicates them, and nation has none.
MIGRATED_DDL = {
    "nation": "n_nationkey INTEGER, n_name VARCHAR(25), n_regionkey INT",
    "customer": "c_custkey INTEGER PRIMARY KEY, c_name VARCHAR(25), c_nationkey INTEGER, c_acctbal REAL, c_mktsegment TEXT",
    "orders": (
        "o_orderkey INTEGER NOT NULL, o_custkey INTEGER, o_orderstatus TEXT, o_totalprice REAL, "
        "o_orderdate DATETIME, o_orderpriority TEXT, PRIMARY KEY (o_orderkey)"
    ),
}
# The tables written straight to parquet, with the fixture tables' types.
_I32, _I64, _F64, _STR, _TS = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
PARQUET_SCHEMA = {
    "region": [("r_regionkey", _I32), ("r_name", _STR)],
    "supplier": [("s_suppkey", _I64), ("s_name", _STR), ("s_nationkey", _I32), ("s_acctbal", _F64)],
    "part": [("p_partkey", _I64), ("p_name", _STR), ("p_brand", _STR), ("p_type", _STR), ("p_size", _I32), ("p_retailprice", _F64)],
    "lineitem": [
        ("l_orderkey", _I64), ("l_partkey", _I64), ("l_suppkey", _I64), ("l_linenumber", _I32),
        ("l_quantity", _F64), ("l_extendedprice", _F64), ("l_discount", _F64), ("l_tax", _F64),
        ("l_returnflag", _STR), ("l_linestatus", _STR), ("l_shipdate", _TS),
    ],
    "events": [("event_id", _I64), ("ts", _TS), ("user_id", _I64), ("event_type", _STR), ("value", _F64), ("props", _STR)],
}


def _write(dirpath: str, name: str, cols: dict) -> None:
    papq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))


def _pick(rng: np.random.Generator, choices: list, n: int) -> list:
    return [choices[i] for i in rng.integers(0, len(choices), n)]


def _days(rng: np.random.Generator, n: int, days: int) -> list[dt.datetime]:
    return [_EPOCH + dt.timedelta(days=int(d)) for d in rng.integers(0, days, n)]


def _star_columns(rng: np.random.Generator) -> dict:
    s = OLAP_SIZES
    n_c, n_s, n_p, n_o, n_l, n_e = (s[k] for k in ("customer", "supplier", "part", "orders", "lineitem", "events"))
    price = np.round(900 + np.arange(n_p) % 1000 * 0.1, 2)
    okeys = np.sort(rng.integers(0, n_o, n_l))
    linenum = np.zeros(n_l, dtype=np.int64)
    starts = np.r_[0, np.flatnonzero(np.diff(okeys)) + 1]
    for a, b in zip(starts, np.r_[starts[1:], n_l]):
        linenum[a:b] = np.arange(1, b - a + 1)
    pkeys = rng.integers(0, n_p, n_l)
    qty = rng.integers(1, 51, n_l)
    ev_us = np.sort(rng.integers(0, 29 * 86_400_000_000, n_e))
    return {
        "region": [range(5), ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]],
        "nation": [range(25), [f"NATION_{i}" for i in range(25)], [i % 5 for i in range(25)]],
        "customer": [range(n_c), [f"Customer#{i:09d}" for i in range(n_c)], rng.integers(0, 25, n_c).tolist(),
                     np.round(rng.uniform(-999.99, 9999.99, n_c), 2).tolist(), _pick(rng, _SEGMENTS, n_c)],
        "supplier": [range(n_s), [f"Supplier#{i:09d}" for i in range(n_s)], rng.integers(0, 25, n_s).tolist(),
                     np.round(rng.uniform(-999.99, 9999.99, n_s), 2).tolist()],
        "part": [range(n_p), [f"{a} {b}" for a, b in zip(_pick(rng, _ADJ, n_p), _pick(rng, _NOUN, n_p))],
                 [f"Brand#{i}" for i in rng.integers(1, 26, n_p)], _pick(rng, _TYPES, n_p),
                 rng.integers(1, 51, n_p).tolist(), price.tolist()],
        "orders": [range(n_o), rng.integers(0, n_c, n_o).tolist(), _pick(rng, ["O", "F", "P"], n_o),
                   np.round(rng.uniform(1000, 500_000, n_o), 2).tolist(), _days(rng, n_o, 2404), _pick(rng, _PRIOS, n_o)],
        "lineitem": [okeys.tolist(), pkeys.tolist(), rng.integers(0, n_s, n_l).tolist(), linenum.tolist(),
                     qty.astype(float).tolist(), np.round(qty * price[pkeys], 2).tolist(),
                     (rng.integers(0, 11, n_l) / 100.0).tolist(), (rng.integers(0, 9, n_l) / 100.0).tolist(),
                     _pick(rng, ["A", "N", "R"], n_l), _pick(rng, ["O", "F"], n_l), _days(rng, n_l, 2499)],
        "events": [range(n_e), [dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=int(u)) for u in ev_us],
                   rng.integers(0, n_c, n_e).tolist(), _pick(rng, _EVENT_TYPES, n_e),
                   np.round(rng.exponential(10, n_e), 2).tolist(), [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]],
    }


def make_star(dirpath: str, db_path: str, seed: int) -> dict:
    """Write the star schema: ``MIGRATED_DDL`` tables into the SQLite file
    ``db_path``, the others as ``dirpath/<table>.parquet``.  Returns the
    row count of each table.

    One in twenty customer and orders rows is first written with a stale
    balance or price and then re-written with INSERT OR REPLACE: the later
    write is the one that must survive the migration."""
    rng = np.random.default_rng(seed)
    cols = _star_columns(rng)
    os.makedirs(dirpath, exist_ok=True)
    for t, schema in PARQUET_SCHEMA.items():
        _write(dirpath, t, {name: pa.array(list(c), typ) for (name, typ), c in zip(schema, cols[t])})
    rows = {t: [tuple(v.strftime("%Y-%m-%d %H:%M:%S") if isinstance(v, dt.datetime) else v for v in r) for r in zip(*cols[t])]
            for t in MIGRATED_DDL}
    if os.path.exists(db_path):
        os.unlink(db_path)
    con = sqlite3.connect(db_path)
    try:
        for t, ddl in MIGRATED_DDL.items():
            con.execute(f"CREATE TABLE {t} ({ddl})")
            marks = ", ".join("?" * len(rows[t][0]))
            stale = {}
            if t in ("customer", "orders"):
                pc = 3
                for i in rng.choice(len(rows[t]), len(rows[t]) // 20, replace=False):
                    r = rows[t][int(i)]
                    stale[int(i)] = r[:pc] + (r[pc] + 1.0,) + r[pc + 1:]
            con.executemany(f"INSERT INTO {t} VALUES ({marks})", [stale.get(i, r) for i, r in enumerate(rows[t])])
            # The stale first writes are replaced by the current rows.
            con.executemany(f"INSERT OR REPLACE INTO {t} VALUES ({marks})", [rows[t][i] for i in sorted(stale)])
        con.commit()
    finally:
        con.close()
    return {t: len(c[0]) for t, c in cols.items()}


# --------------------------------------------------------------------------
# index_ingest: documents, vectors and names, plus the replay sequence
# --------------------------------------------------------------------------

DIM = 64


def _documents(rng: np.random.Generator, n: int, vocab: list[str]) -> list[str]:
    """Docs of 30-60 tokens; about a fifth copy an earlier doc exactly or
    with one extra token, so lookups find real near-duplicates."""
    docs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.12:
            docs.append(docs[int(rng.integers(0, i))])
        elif i > 10 and r < 0.2:
            docs.append(docs[int(rng.integers(0, i))] + " " + vocab[int(rng.integers(0, len(vocab)))])
        else:
            docs.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(30, 61)))))
    return docs


def _vectors(rng: np.random.Generator, n: int, centers: np.ndarray) -> np.ndarray:
    lab = rng.integers(0, len(centers), n)
    v = centers[lab] + rng.normal(0, 0.35, (n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _names(rng: np.random.Generator, n: int, adj: list[str], noun: list[str]) -> list[str]:
    """Distinct "adj noun" / "adj adj noun" names; a quarter are one-letter
    typos of an earlier name, so the ER store has real pairs to merge."""
    out: list[str] = []
    taken: set[str] = set()
    while len(out) < n:
        if out and rng.random() < 0.25:
            base = out[int(rng.integers(0, len(out)))]
            pos = int(rng.integers(0, len(base)))
            if base[pos] == " ":
                continue
            nm = base[:pos] + "xyz"[int(rng.integers(0, 3))] + base[pos + 1:]
        else:
            k = 2 if rng.random() < 0.7 else 3
            ws = [adj[int(j)] for j in rng.integers(0, len(adj), k - 1)] + [noun[int(rng.integers(0, len(noun)))]]
            nm = " ".join(ws)
        if nm not in taken:
            taken.add(nm)
            out.append(nm)
    return out


def make_corpus(dirpath: str, seed: int) -> dict:
    """Write the ingest corpus into ``dirpath`` and return the replay plan.

    Ids ``0 .. corpus-1`` are the initial corpus the stores are built from;
    batch ``b`` holds ids ``corpus + b*batch ..``.  Files: ``docs.parquet``
    (doc_id, text), ``vectors.parquet`` (vec_id, embedding), ``names.parquet``
    (name_id, nm) — every id of the run, initial and batched.  The plan
    holds the ids the maintenance step tombstones."""
    rng = np.random.default_rng(seed)
    s = INGEST_SIZES
    total = s["corpus"] + s["batch"] * s["batches"]
    vocab = _words(rng, 400)
    adj = _words(rng, 90, 2, 3)
    noun = _words(rng, 70, 3, 4)
    centers = rng.normal(0, 1, (12, DIM))
    os.makedirs(dirpath, exist_ok=True)
    ids = pa.array(np.arange(total), pa.int64())
    _write(dirpath, "docs", {"doc_id": ids, "text": _documents(rng, total, vocab)})
    vecs = _vectors(rng, total, centers)
    _write(dirpath, "vectors", {
        "vec_id": ids,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    _write(dirpath, "names", {"name_id": ids, "nm": _names(rng, total, adj, noun)})
    # Deletes come from the initial corpus: ids that are indexed from the
    # first build on and never reused.
    deletes = sorted(int(x) for x in rng.choice(s["corpus"], s["deletes"], replace=False))
    return {"total": total, "deletes": deletes}


def batch_ids(b: int) -> range:
    s = INGEST_SIZES
    start = s["corpus"] + b * s["batch"]
    return range(start, start + s["batch"])
