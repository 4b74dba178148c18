"""Trained hashed-feature quality classifier (operators/classifier.py):
learning on separable data, truncating-division parity, pin lifecycle,
reshard determinism."""

import duckdb
import pyspark.sql.functions as F
from check import storage_counts, storage_surplus
from pyspark.sql import Row

from deltaforge_spark.operators.classifier import _tdiv, doc_quality_classifier
from deltaforge_spark.plans.lineage import pin_scope

# positives share a distinctive vocabulary; negatives another — linearly
# separable in hashed n-gram space
DOCS = [
    Row(doc_id=i, text="curated encyclopedia article prose reference citation")
    for i in range(0, 10)
] + [
    Row(doc_id=i, text="spam casino winner click free prize jackpot")
    for i in range(10, 20)
]


def test_classifier_learns_separable_labels(spark):
    df = spark.createDataFrame(DOCS)
    with pin_scope():
        out = doc_quality_classifier(df, label=F.col("doc_id") < 10, iters=8)
        rows = {r["doc_id"]: r for r in out.collect()}
    pos = [rows[i]["prob"] for i in range(0, 10)]
    neg = [rows[i]["prob"] for i in range(10, 20)]
    assert min(pos) > max(neg)  # separable -> separated
    assert all(rows[i]["keep"] for i in range(0, 10))
    assert not any(rows[i]["keep"] for i in range(10, 20))


def test_classifier_probs_move_with_iterations(spark):
    df = spark.createDataFrame(DOCS)
    with pin_scope():
        w1 = doc_quality_classifier(df, label=F.col("doc_id") < 10, iters=1)
        w8 = doc_quality_classifier(df, label=F.col("doc_id") < 10, iters=8)
        p1 = {r["doc_id"]: r["prob"] for r in w1.collect()}
        p8 = {r["doc_id"]: r["prob"] for r in w8.collect()}
    # more rounds -> positives score strictly higher, negatives lower
    assert all(p8[i] > p1[i] for i in range(0, 10))
    assert all(p8[i] < p1[i] for i in range(10, 20))


def test_tdiv_matches_duckdb_truncating_division():
    con = duckdb.connect()
    for num in (-7, -1, 0, 1, 7, 123456789):
        for den in (1, 2, 3, 97):
            got = con.execute(
                f"SELECT CAST({num} AS BIGINT) // CAST({den} AS BIGINT)"
            ).fetchone()[0]
            assert _tdiv(num, den) == got, (num, den)


def test_classifier_reshard_deterministic(spark):
    df = spark.createDataFrame(DOCS)
    with pin_scope():
        a = doc_quality_classifier(df, label=F.col("doc_id") < 10, iters=3)
        b = doc_quality_classifier(
            df.repartition(7), label=F.col("doc_id") < 10, iters=3
        )
        ra = sorted((r["doc_id"], r["prob"]) for r in a.collect())
        rb = sorted((r["doc_id"], r["prob"]) for r in b.collect())
    assert ra == rb


def test_classifier_retains_feature_pin(spark):
    df = spark.createDataFrame(DOCS)
    before = storage_counts(spark)
    with pin_scope():
        out = doc_quality_classifier(df, label=F.col("doc_id") < 10, iters=1)
        # the feature cache backs the returned frame: one RDD, one entry
        assert storage_surplus(spark, before)[:2] == (1, 1)
        assert out.count() == 20
    assert storage_surplus(spark, before) == (0, 0, 0)
