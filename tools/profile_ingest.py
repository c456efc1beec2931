"""Per-op Spark profile of the index_ingest tick: lookup and append on the
MinHash, IVF-PQ and ER stores, one batch at a time.

    python tools/profile_ingest.py --seed N --ticks K [--cold] [--maint]

Generates the benchmark's ingest corpus for seed N (``perfbench/gen.py``,
imported read-only), builds the three stores from its initial corpus, then
runs K ticks the way the benchmark does: the cache is cleared before each
tick, each lookup's result is collected, and each append follows its
store's lookup.  ``--cold`` clears the cache before every op instead, so no
op can reuse a frame an earlier one cached.  ``--maint`` then runs the
traced benchmark's maintenance: one tombstone delete per store (the seed's
delete ids), then one compaction per store, each after a cache clear.

For every op it prints the wall time and what the op cost Spark: jobs,
stages that ran (skipped ones excluded), tasks and generated-code compiles
(``session.codegen_compiles``), and ``cached``: how many more RDDs are
persisted after the call than before it (a lookup's batch frame shows +1
until the append of the same batch releases it).  Job ids are read just
before and just after each call, so the store builds' jobs never count
against the first lookup.
The last line is the same table as one JSON object.  Scratch files live in
a temp dir that is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402  (perfbench/gen.py: the benchmark's seeded inputs)

STORES = ("dedup", "similarity", "entity")


class JobCounter:
    """Jobs, stages, tasks, compiles and persisted RDDs between two reads of
    the status tracker.  Job ids are dense per context, so the newest id
    before a call bounds the jobs the call started."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext

    def _last_job(self) -> int:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return max(self.sc.statusTracker().getJobIdsForGroup() or [-1])

    def _cached(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def start(self):
        from sqlite_to_clickhouse_spark.session import codegen_compiles

        return self._last_job(), codegen_compiles(self.spark), self._cached(), time.perf_counter()

    def stop(self, mark) -> dict:
        from sqlite_to_clickhouse_spark.session import codegen_compiles

        wall = time.perf_counter() - mark[3]
        last = self._last_job()
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for j in range(mark[0] + 1, last + 1):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                attempts = store.stageData(sid, False, None, False, None)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.status().toString() != "SKIPPED":
                        stages += 1
                        tasks += s.numTasks()
        return {
            "wall_s": round(wall, 3),
            "jobs": jobs,
            "stages": stages,
            "tasks": tasks,
            "compiles": codegen_compiles(self.spark) - mark[1],
            "cached": self._cached() - mark[2],
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ticks", type=int, default=1)
    ap.add_argument("--cold", action="store_true", help="clear the cache before every op")
    ap.add_argument("--maint", action="store_true", help="profile one delete and one compact per store after the ticks")
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix="profile_ingest_")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from pyspark.sql import functions as F

    from sqlite_to_clickhouse_spark.operators import dedup as D
    from sqlite_to_clickhouse_spark.operators import entity as E
    from sqlite_to_clickhouse_spark.operators import similarity as S
    from sqlite_to_clickhouse_spark.session import get_spark

    spark = get_spark("profile_ingest", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    counter = JobCounter(spark)
    sz = gen.INGEST_SIZES
    cdir = os.path.join(work, "corpus")
    plan = gen.make_corpus(cdir, args.seed)
    docs = spark.read.parquet(os.path.join(cdir, "docs.parquet"))
    vecs = spark.read.parquet(os.path.join(cdir, "vectors.parquet"))
    names = spark.read.parquet(os.path.join(cdir, "names.parquet"))

    def in_range(df, col, lo, hi):
        return df.filter((F.col(col) >= lo) & (F.col(col) < hi))

    path = {s: os.path.join(work, s) for s in STORES}
    n0 = sz["corpus"]
    builds = {
        "dedup": lambda: D.minhash_index_build(D._doc_tokens(in_range(docs, "doc_id", 0, n0)), "doc_id", "tk", path["dedup"]),
        "similarity": lambda: S.ann_index_build(spark, in_range(vecs, "vec_id", 0, n0), path["similarity"]).collect(),
        "entity": lambda: E.er_index_build(in_range(names, "name_id", 0, n0).select("nm"), path["entity"]),
    }
    rows = []
    for s in STORES:
        spark.catalog.clearCache()
        mark = counter.start()
        builds[s]()
        rows.append({"tick": "-", "op": f"{s}.build", **counter.stop(mark)})

    for b in range(min(args.ticks, sz["batches"])):
        ids = gen.batch_ids(b)
        bdoc = D._doc_tokens(in_range(docs, "doc_id", ids.start, ids.stop))
        bvec = in_range(vecs, "vec_id", ids.start, ids.stop)
        probes = bvec.select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb"))
        bname = in_range(names, "name_id", ids.start, ids.stop).select("nm")
        step = {
            "dedup.lookup": lambda: D.minhash_index_dedup(spark, bdoc, "doc_id", "tk", path["dedup"]).collect(),
            "dedup.append": lambda: D.minhash_index_append(bdoc, "doc_id", "tk", path["dedup"]),
            "similarity.lookup": lambda: S.ann_index_query(spark, vecs, path["similarity"], probes, k=S.TOP_K, nprobe=S.ANN_INCR_NPROBE).collect(),
            "similarity.append": lambda: S.ann_index_append(spark, bvec, path["similarity"]),
            "entity.lookup": lambda: E.er_index_match(spark, bname, path["entity"]).collect(),
            "entity.append": lambda: E.er_index_append(spark, bname, path["entity"]),
        }
        spark.catalog.clearCache()
        for op, fn in step.items():
            if args.cold:
                spark.catalog.clearCache()
            mark = counter.start()
            fn()
            rows.append({"tick": b, "op": op, **counter.stop(mark)})

    if args.maint:
        dels = plan["deletes"]
        del_ids = spark.createDataFrame([(i,) for i in dels], "id long")
        import pyarrow.parquet as papq

        nms = papq.read_table(os.path.join(cdir, "names.parquet")).column("nm").to_pylist()
        maint = {
            "dedup.delete": lambda: D.minhash_index_delete(del_ids.withColumnRenamed("id", "doc_id"), path["dedup"]),
            "similarity.delete": lambda: S.ann_index_delete(del_ids.withColumnRenamed("id", "vec_id"), path["similarity"]),
            "entity.delete": lambda: E.er_index_delete(spark, spark.createDataFrame([(nms[i],) for i in dels], "nm string"), path["entity"]),
            "dedup.compact": lambda: D.minhash_index_compact(spark, path["dedup"], path["dedup"] + "-c"),
            "similarity.compact": lambda: S.ann_index_compact(spark, path["similarity"], path["similarity"] + "-c"),
            "entity.compact": lambda: E.er_index_compact(spark, path["entity"], path["entity"] + "-c"),
        }
        for op, fn in maint.items():
            spark.catalog.clearCache()
            mark = counter.start()
            fn()
            rows.append({"tick": "m", "op": op, **counter.stop(mark)})

    cols = ("wall_s", "jobs", "stages", "tasks", "compiles", "cached")
    print(f"{'tick':>4}  {'op':18s}" + "".join(f"{c:>10s}" for c in cols))
    for r in rows:
        print(f"{r['tick']!s:>4}  {r['op']:18s}" + "".join(f"{r[c]!s:>10s}" for c in cols))
    print(json.dumps({"seed": args.seed, "cold": args.cold, "maint": args.maint, "ops": rows}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
