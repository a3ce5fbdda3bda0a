"""Batch sources: the star-schema table reader."""

from __future__ import annotations

import os

import pytest

from kafka_stream_processing_spark.sources.tables import (
    TABLES,
    normalize_events,
    table,
)


@pytest.mark.parametrize("name", TABLES)
def test_table_reads_schema_without_a_job(spark, sf_small, name):
    """table() takes its schema from the parquet footer: building the
    frame launches no Spark job, and the schema is the one Spark infers
    from the file (events normalized alike)."""
    sc, group = spark.sparkContext, f"table_{name}"
    sc.setJobGroup(group, group)
    try:
        df = table(spark, sf_small, name)
    finally:
        for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{key}", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    inferred = spark.read.parquet(os.path.join(sf_small, f"{name}.parquet"))
    if name == "events":
        inferred = normalize_events(inferred)
    assert df.schema == inferred.schema
