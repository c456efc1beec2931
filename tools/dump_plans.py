"""Dump ``.explain("formatted")`` for named registry queries to files.

Usage:
    python tools/dump_plans.py [--writes] <outdir> <suffix> <query> [<query>...]

Writes ``<outdir>/<query>_<suffix>.txt`` per query (the optimization-round
evidence files: plans/r12/<query>_before.txt / _after.txt).  The plan is
captured from the same (spark, sf_dir) invocation the bench times, on the
bench session config, so Exchange counts / join strategies / PushedFilters
in the files match what the bench actually ran.

``--writes`` (r13, VERDICT r12 item 6): additionally writes
``<query>_<suffix>_writes.txt`` containing the EXECUTED physical plan of
every write-side job the op ran (file-sink commands), read back from the
session's SQL status store after the op completes.  This is the evidence
file for §6-class claims (e.g. the clustering Exchange in front of a
partitioned write), which the returned DataFrame's explain cannot show —
index-lifecycle ops execute their builds/appends as side effects."""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from sqlite_to_clickhouse_spark.registry import all_queries  # noqa: E402
from sqlite_to_clickhouse_spark.session import get_spark  # noqa: E402


def plan_text(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


_WRITE_MARKERS = (
    "InsertIntoHadoopFsRelationCommand",
    "Execute InsertIntoHadoopFsRelationCommand",
    "OverwriteByExpression",
    "AppendData",
)


def _executions(spark):
    """(executionId, description, physicalPlanDescription) triples from the
    session's SQL status store — the SQL-tab data, which records the FINAL
    (post-AQE) executed plan of every action including write commands."""
    store = spark._jsparkSession.sharedState().statusStore()
    lst = store.executionsList()
    out = []
    for i in range(lst.size()):
        e = lst.apply(i)
        out.append((e.executionId(), e.description(), e.physicalPlanDescription()))
    return out


def write_plans(spark, since_id: int, until_id: int) -> str:
    """Concatenated executed plans of write-side jobs run after ``since_id``
    and before ``until_id``."""
    chunks = []
    for eid, desc, plan in _executions(spark):
        if not since_id < eid < until_id:
            continue
        if any(m in plan for m in _WRITE_MARKERS):
            chunks.append(
                f"=== write execution {eid}: {desc}\n{plan}\n"
            )
    return "\n".join(chunks)


def main() -> None:
    args = sys.argv[1:]
    dump_writes = False
    if args and args[0] == "--writes":
        dump_writes = True
        args = args[1:]
    outdir, suffix, *names = args
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plans")
    registry = all_queries()
    for name in names:
        fn = registry[name].fn
        last_id = max([e[0] for e in _executions(spark)] or [-1])
        df = fn(spark, sf_dir)
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan_text(df))
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr)
        if dump_writes:
            # Consume the op so lazy write-side work (none today, but
            # cheap insurance) lands in the status store before the read.
            # The consuming save is itself a write execution, the last one
            # recorded: the evidence stops short of it.
            df.write.format("noop").mode("overwrite").save()
            noop_id = max(e[0] for e in _executions(spark))
            body = write_plans(spark, last_id, noop_id)
            wpath = os.path.join(outdir, f"{name}_{suffix}_writes.txt")
            with open(wpath, "w") as fh:
                fh.write(body or "(no write-side executions recorded)\n")
            print(f"wrote {name}_{suffix}_writes.txt", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
