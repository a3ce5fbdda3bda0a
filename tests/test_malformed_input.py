"""Malformed-input policy for schema-on-read sources: the engine's three
modes (PERMISSIVE + corrupt-record column / DROPMALFORMED / FAILFAST) —
the systematic answer to the reference's crash-on-bad-record behavior
(schemaless JsonSerde + NPE, UniqueUsersCounter.java:20-24,68).
"""

from __future__ import annotations

import pytest

GOOD = '{"uid": "a", "ts": 1}'
BAD = '{"uid": broken'


@pytest.fixture()
def json_file(tmp_path):
    p = tmp_path / "events.jsonl"
    p.write_text("\n".join([GOOD, BAD, '{"uid": "b", "ts": 2}']))
    return str(p)


def test_permissive_mode_quarantines_corrupt_records(spark, json_file):
    df = (
        spark.read.schema("uid string, ts long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(json_file)
    )
    rows = df.collect()
    assert len(rows) == 3
    corrupt = [r for r in rows if r._corrupt_record is not None]
    assert len(corrupt) == 1 and corrupt[0]._corrupt_record == BAD
    assert sorted(r.uid for r in rows if r.uid) == ["a", "b"]


def test_dropmalformed_mode_silently_drops(spark, json_file):
    df = (
        spark.read.schema("uid string, ts long")
        .option("mode", "DROPMALFORMED")
        .json(json_file)
    )
    assert sorted(r.uid for r in df.collect()) == ["a", "b"]


def test_failfast_mode_raises(spark, json_file):
    df = (
        spark.read.schema("uid string, ts long")
        .option("mode", "FAILFAST")
        .json(json_file)
    )
    with pytest.raises(Exception) as exc:
        df.collect()
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)
