"""``operators.helpers.materialize``: the engine's one eager checkpoint.

- no module outside ``operators/helpers.py`` checkpoints or observes on
  its own;
- every job a materialize fires carries ``materialize <label>``, and the
  caller's job description and job group survive the call;
- the probed form returns the observed values of the frame it
  materialized.
"""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import functions as F

_PKG = pathlib.Path(__file__).resolve().parent.parent / "fawac_cdc_spark"
_OWNER = _PKG / "operators" / "helpers.py"


def test_only_helpers_checkpoints_or_observes():
    pat = re.compile(r"\.localCheckpoint\(|Observation\(")
    hits = [
        f"{path.relative_to(_PKG)}:{no}"
        for path in sorted(_PKG.rglob("*.py"))
        if path != _OWNER
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not hits, f"{len(hits)} direct checkpoint/observe sites: {hits}"


def _group_jobs(spark, group: str) -> list:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            out.append(job)
    return out


def test_materialize_labels_its_jobs_and_restores_the_caller(spark):
    from fawac_cdc_spark.operators.helpers import materialize

    sc = spark.sparkContext
    group = "materialize-label-test"
    grouped = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    sc.setJobGroup(group, "caller description")
    try:
        out = materialize(grouped, "label test")
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        assert sc.getLocalProperty("spark.jobGroup.id") == group
    finally:
        sc._jsc.clearJobGroup()
    jobs = _group_jobs(spark, group)
    assert jobs
    descs = {j.description().get() if j.description().isDefined() else None for j in jobs}
    assert descs == {"materialize label test"}
    assert out.count() == 7
    # no caller description: the property is removed again afterwards
    assert sc.getLocalProperty("spark.job.description") is None
    materialize(grouped, "unset caller")
    assert sc.getLocalProperty("spark.job.description") is None


def test_materialize_probed_returns_the_materialized_frames_values(spark):
    from fawac_cdc_spark.operators.helpers import materialize_probed

    grouped = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    out, (n, total) = materialize_probed(
        grouped,
        "probe test",
        F.count(F.lit(1)).alias("n"),
        F.sum("count").alias("s"),
    )
    assert (n, total) == (7, 100)
    assert out.count() == n
    assert out.agg(F.sum("count")).first()[0] == total
