"""Interval join: containment semantics incl. boundaries, bucket-width
independence, left-join nulls, and the no-cartesian plan shape."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from deltaforge_spark.operators.rangejoin import interval_join


@pytest.fixture()
def frames(spark):
    points = spark.createDataFrame(
        [
            (1, "u", 100),
            (2, "u", 150),  # boundary: equals an interval end
            (3, "u", 151),  # just outside
            (4, "u", 7000),  # inside a long interval spanning buckets
            (5, "v", 100),  # other key, no intervals
        ],
        "pid long, k string, p long",
    )
    intervals = spark.createDataFrame(
        [
            ("u", 90, 150, "a"),
            ("u", 140, 160, "b"),  # overlaps interval a
            ("u", 5000, 9000, "c"),
        ],
        "k string, s long, e long, tag string",
    )
    return points, intervals


@pytest.mark.spark
def test_containment_and_boundaries(spark, frames):
    points, intervals = frames
    for width in (10, 100, 1000, 100000):  # result must not depend on width
        out = interval_join(
            points, intervals, by="k", point_col="p",
            start_col="s", end_col="e", bucket_width=width,
        ).collect()
        got = sorted((r.pid, r.tag) for r in out)
        assert got == [(1, "a"), (2, "a"), (2, "b"), (3, "b"), (4, "c")], width


@pytest.mark.spark
def test_left_join_keeps_unmatched_points(spark, frames):
    points, intervals = frames
    out = interval_join(
        points, intervals, by="k", point_col="p",
        start_col="s", end_col="e", bucket_width=100, how="left",
    ).collect()
    by_pid = {}
    for r in out:
        by_pid.setdefault(r.pid, []).append(r.tag)
    assert sorted(by_pid[2]) == ["a", "b"]
    assert by_pid[5] == [None]  # keyless point survives with null interval
    assert len(out) == 6  # 5 containment matches + the unmatched pid 5


@pytest.mark.spark
def test_left_join_matched_point_with_null_column_emits_once(spark, frames):
    _, intervals = frames
    points = spark.createDataFrame(
        [(1, "u", 100, None), (2, "v", 100, None)],
        "pid long, k string, p long, note string",
    )
    out = interval_join(
        points, intervals, by="k", point_col="p",
        start_col="s", end_col="e", bucket_width=100, how="left",
    ).collect()
    assert sorted((r.pid, r.tag) for r in out) == [(1, "a"), (2, None)]


@pytest.mark.spark
def test_no_cartesian_in_plan(spark, frames):
    points, intervals = frames
    df = interval_join(
        points, intervals, by="k", point_col="p",
        start_col="s", end_col="e", bucket_width=100,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "NestedLoopJoin" not in p and "CartesianProduct" not in p
    # the equi-join runs on (key, bucket) — both present in the join keys
    assert "_bucket" in p
