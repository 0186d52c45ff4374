"""MERGE emulation tests."""

from ocr_processing_pipeline_spark.operators.merge import (
    merge_delete, merge_upsert)


def test_merge_upsert_and_delete(spark):
    target = spark.createDataFrame(
        [(1, "old"), (2, "old"), (3, "old")], "k long, v string")
    source = spark.createDataFrame(
        [(2, "new"), (4, "new")], "k long, v string")
    merged = {r.k: r.v for r in
              merge_upsert(target, source, ["k"]).collect()}
    assert merged == {1: "old", 2: "new", 3: "old", 4: "new"}

    tomb = spark.createDataFrame([(1,), (4,)], "k long")
    left = {r.k for r in
            merge_delete(merge_upsert(target, source, ["k"]),
                         tomb, ["k"]).collect()}
    assert left == {2, 3}
