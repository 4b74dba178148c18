"""Interval (range) join: points matched into containing intervals,
bucketized so no per-key cartesian ever forms.

The second temporal-join primitive Spark lacks natively (alongside
``operators/asof.py``): ``point ∈ [start, end]`` per key. Naive SQL
(`p >= start AND p <= end`) plans as a join on the equality key with
the range as a post-filter — O(points × intervals) pairs per key
before filtering, quadratic in key hotness.

Bucketization makes it linear-ish: each interval is replicated into
the fixed-width buckets it covers, each point hashes to exactly ONE
bucket, and the equi-join runs on (key, bucket). A (point, interval)
pair can only meet in the point's single bucket, so no dedup pass is
needed. Replication factor = ceil(interval_len / bucket_width) + 1 —
pick ``bucket_width`` near the typical interval length so it stays
O(1). Long-tail intervals cost proportionally more replicas, never a
cartesian.

Scale: one shuffle of points and one of (replicated) intervals on
(key, bucket); the containment filter is codegen'd post-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    by: str,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to interval rows with
    ``start <= point <= end`` and equal ``by`` key.

    Output = point columns + interval columns (minus the duplicated
    key). ``how`` is "inner" or "left" (unmatched points keep null
    interval columns).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    b = F.lit(int(bucket_width))
    ib = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / b), F.floor(F.col(end_col) / b)
            )
        ),
    )
    pb = points.withColumn("_bucket", F.floor(F.col(point_col) / b))
    ival_cols = [c for c in intervals.columns if c != by]
    joined = pb.join(
        ib.select(F.col(by), F.col("_bucket"), *ival_cols),
        on=[by, "_bucket"],
        how=how,
    )
    contained = (F.col(point_col) >= F.col(start_col)) & (
        F.col(point_col) <= F.col(end_col)
    )
    if how == "left":
        # keep unmatched points as single null rows: filter matched,
        # then re-attach points that matched nothing. Null-safe
        # equality: a point with a null column must still find its match
        matched = joined.filter(contained)
        seen = matched.select(
            *[F.col(c).alias(f"_m{i}") for i, c in enumerate(points.columns)]
        ).distinct()
        unmatched = points.join(
            seen,
            [points[c].eqNullSafe(seen[f"_m{i}"]) for i, c in enumerate(points.columns)],
            how="left_anti",
        )
        for c in ival_cols:
            unmatched = unmatched.withColumn(
                c, F.lit(None).cast(joined.schema[c].dataType)
            )
        return matched.drop("_bucket").unionByName(unmatched)
    return joined.filter(contained).drop("_bucket")
