"""Job-group bookkeeping shared by bench, the tests and the probe tools."""

from __future__ import annotations

# the local properties SparkContext.setJobGroup sets
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def job_ids(spark, fn, group: str) -> list[int]:
    """Run ``fn()`` under Spark job group ``group`` and return the ids
    of the jobs the scheduler ran for it."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in _GROUP_PROPS:
            sc.setLocalProperty(prop, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))
