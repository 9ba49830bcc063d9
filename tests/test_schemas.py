from __future__ import annotations

from joblink_etl_spark.profile import job_ids

from joblink_etl_spark.schemas import (
    EXAMPLE_HEADER_ALIASES,
    QUEUE_SCHEMA,
    TRACKER_SCHEMA,
    apply_aliases,
    empty_table,
    validate_or_heal,
)


def test_alias_layer(spark):
    df = spark.createDataFrame(
        [("x", 2)], "`App Link` string, `row_index` long"
    )
    out = apply_aliases(df, EXAMPLE_HEADER_ALIASES)
    assert "link" in out.columns and "App Link" not in out.columns


def test_validate_or_heal_adds_missing_and_reorders(spark):
    df = spark.createDataFrame([("S", 2, "u")], "sheet_name string, row_index long, link string")
    out = validate_or_heal(df, TRACKER_SCHEMA)
    assert out.columns == [f.name for f in TRACKER_SCHEMA.fields]
    row = out.first()
    assert row["status"] == "" and row["li_invite"] == ""


def test_validate_or_heal_drops_extras(spark):
    df = spark.createDataFrame(
        [("S", 2, "u", "junk")],
        "sheet_name string, row_index long, url string, extra string",
    )
    out = validate_or_heal(df, QUEUE_SCHEMA)
    assert "extra" not in out.columns
    assert out.first()["tries"] is None  # typed null for non-string


def test_empty_table(spark):
    """An empty relation Catalyst can see is empty: no Python RDD
    behind it, so reading it runs no Python task."""
    t = empty_table(spark, QUEUE_SCHEMA)
    assert t.schema == QUEUE_SCHEMA
    assert t._jdf.queryExecution().optimizedPlan().toString().startswith("LocalRelation <empty>")
    counts = []
    jobs = job_ids(spark, lambda: counts.append(t.count()), "empty-table-count")
    tracker = spark.sparkContext.statusTracker()
    tasks = sum(
        tracker.getStageInfo(s).numTasks for j in jobs for s in tracker.getJobInfo(j).stageIds
    )
    assert counts == [0] and len(jobs) <= 1 and tasks <= 1
    assert job_ids(spark, lambda: t.filter("status = 'queued'").isEmpty(), "empty-table-isEmpty") == []
