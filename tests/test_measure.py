"""tools/measure.py and the session factory: the tool counts the jobs
the per-entry scripts it replaced counted, its plan capture holds the
executed plan behind every ``localCheckpoint()``, and the test session
keeps the shape the job budgets were counted on."""

import re

from tools.measure import measure

#: jobs dedup_ngram_jaccard (a finalize_cached entry) runs at sf0.001
#: on local[4] with 8 shuffle partitions, as the former
#: tools/count_jobs.py counted them
NGRAM_JACCARD_JOBS = 11

#: one operator name per plan-tree line, in both the executed plan's
#: toString (``+- *(5) HashAggregate(...``) and the status store's
#: formatted description (``+- * HashAggregate (37)``)
_NODE = re.compile(r"^[\s:+\-]*(?:\*(?:\(\d+\))? )?([A-Z]\w*)", re.M)


def _nodes(plan: str) -> list[str]:
    tree = plan.split("== Physical Plan ==\n")[-1].split("\n\n")[0]
    return [n.replace("FileScan", "Scan") for n in _NODE.findall(tree)]


def test_session_factory_shape(spark):
    assert spark.sparkContext.master == "local[4]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.maxPlanStringLength") == "1048576"


def test_measure_counts_jobs_and_captures_checkpoint_plans(
    spark, sf_dir, monkeypatch
):
    import __spark_entry__ as entry

    # record every checkpoint's executed plan the way the frame itself
    # reports it once the checkpoint has run
    frame_cls = type(spark.range(1))
    checkpoint = frame_cls.localCheckpoint
    executed = []

    def recording(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        executed.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    rec, plans = measure(
        spark, entry.queries()["dedup_ngram_jaccard"], sf_dir, runs=1
    )

    assert rec["jobs"] == NGRAM_JACCARD_JOBS
    assert len(rec["runs_s"]) == 1 and rec["wall_s"] > 0
    # the returned frame is the checkpoint: a bare RDD scan
    assert rec["exchanges"] == 0 and not rec["adaptive"]
    assert executed
    captured = [_nodes(p) for p in plans]
    for plan in executed:
        assert "isFinalPlan=true" in plan and "AQEShuffleRead" in plan
        assert _nodes(plan) in captured
