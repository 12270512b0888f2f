"""Measure ``queries()`` entries: for each named entry at one or two sf
dirs, print one JSON line with, per dir,

* ``wall_s``: the best of ``--runs`` runs through the noop sink, and
  ``runs_s``, every run's time (one untimed warmup run of the first
  entry precedes all of them);
* ``jobs``: the Spark jobs the first run starts, counted by job group;
* the plan audit (:func:`audit`) of the frame the entry returns:
  exchanges, parquet scans, join strategies, pushed-down scans,
  whole-stage-codegen spans and whether ``AdaptiveSparkPlan`` is
  present;

and, with two dirs, ``ratio``: the second dir's wall time over the
first's.

``--plans DIR`` writes ``DIR/<entry>_<sf dir name>.txt``: the physical
plan of every SQL execution the first run started, read from the
status store. That includes each ``localCheckpoint()`` inside the
entry, whose executed (post-AQE) plan the returned frame's own
``explain()`` no longer shows.

The session is bench.py's: ``local[$SPARK_GRAFT_CPUS]`` (every core
when unset), twice as many shuffle partitions (at least 8), driver
memory ``$SPARK_GRAFT_DRIVER_MEM`` (8g), so wall times compare with
the bench's.

Usage: python tools/measure.py [--runs N] [--plans DIR]
                               sf_dir [sf_dir2] entry [entry ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(plan: str) -> dict:
    """Plan-health counts of one physical plan string."""
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", plan)
    exchanges = len(re.findall(r"Exchange (hash|range|SinglePartition|rangepartitioning|roundrobin)", plan, re.I))
    scans = len(re.findall(r"Scan parquet", plan))
    # FileScan prints DataFilters (what reached the scan) and
    # PushedFilters (what parquet can evaluate); count either non-empty
    pushed = len(re.findall(r"(?:Pushed|Data)Filters: \[[^\]]", plan))
    partf = len(re.findall(r"PartitionFilters: \[[^\]]", plan))
    # whole-stage-codegen spans print as *(N) node prefixes
    wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
    return {
        "joins": "+".join(sorted(set(joins))) or "-",
        "exchanges": exchanges,
        "scans": scans,
        "pushed_scans": pushed,
        "partition_filtered": partf,
        "wscg_spans": wscg,
        "adaptive": "AdaptiveSparkPlan" in plan,
    }


def count_jobs(spark, fn) -> int:
    """Spark jobs *fn* runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def plans_of(spark, fn) -> list[str]:
    """Physical plan descriptions of the SQL executions *fn* runs,
    read from the status store."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    before = {e.executionId() for e in executions()}
    fn()
    return [e.physicalPlanDescription() for e in executions()
            if e.executionId() not in before]


def measure(spark, fn, sf_dir: str, runs: int) -> tuple[dict, list[str]]:
    """One entry at one sf dir: its record and the plans of its first
    run."""
    times, first, jobs = [], [], []

    def run():
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        times.append(round(time.monotonic() - t0, 3))
        return df

    plans = plans_of(spark, lambda: jobs.append(
        count_jobs(spark, lambda: first.append(run()))))
    for _ in range(runs - 1):
        run()
    plan = first[0]._jdf.queryExecution().executedPlan().toString()
    rec = {"sf_dir": sf_dir, "wall_s": min(times), "runs_s": times,
           "jobs": jobs[0], **audit(plan)}
    return rec, plans


def _write_plans(path: str, plans: list[str]) -> None:
    with open(path, "w") as f:
        for i, p in enumerate(plans):
            f.write(f"== SQL execution {i + 1} of {len(plans)} ==\n{p}\n\n")


def main(argv: list[str]) -> int:
    usage = __doc__.split("Usage: ")[1]
    runs, plans_dir = 2, None
    while argv and argv[0].startswith("--"):
        if len(argv) < 2 or argv[0] not in ("--runs", "--plans"):
            raise SystemExit(usage)
        if argv[0] == "--runs":
            runs = int(argv[1])
        else:
            plans_dir = argv[1]
        argv = argv[2:]
    sf_dirs = []
    while argv and os.path.isdir(argv[0]) and len(sf_dirs) < 2:
        sf_dirs.append(argv.pop(0))
    tags = [os.path.basename(os.path.normpath(d)) for d in sf_dirs]
    if not sf_dirs or not argv or runs < 1 or len(set(tags)) < len(tags):
        raise SystemExit(usage)

    from toshokan_spark.session import local_session, session_cpus

    cpus = session_cpus()
    spark = local_session("toshokan_spark_measure", cpus, {
        "spark.sql.shuffle.partitions": str(max(cpus * 2, 8)),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    })

    import __spark_entry__ as entry

    qs = entry.queries()
    missing = [n for n in argv if n not in qs]
    if missing:
        raise SystemExit(f"unknown entries: {missing}")
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)

    # untimed warmup (JVM classload + codegen), as bench.py does
    try:
        qs[argv[0]](spark, sf_dirs[0]).write.format("noop").mode("overwrite").save()
    except Exception as e:
        print(f"# warmup failed: {e}", file=sys.stderr)

    failed = 0
    for name in argv:
        line: dict = {"entry": name, "at": []}
        try:
            for sf_dir, tag in zip(sf_dirs, tags):
                rec, plans = measure(spark, qs[name], sf_dir, runs)
                line["at"].append(rec)
                if plans_dir:
                    _write_plans(os.path.join(plans_dir, f"{name}_{tag}.txt"), plans)
        except Exception as e:  # one failing entry must not end the run
            line["error"] = str(e)[:300]
            failed += 1
        if len(line["at"]) == 2 and line["at"][0]["wall_s"] > 0:
            line["ratio"] = round(line["at"][1]["wall_s"] / line["at"][0]["wall_s"], 2)
        print(json.dumps(line), flush=True)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
