"""Data-level drift statistics: per-column observed-type histograms,
null rates, and undeclared-key tracking over dynamic JSON payloads.

Re-expresses the reference's drift detector's DATA plane
(reference: crates/runner/src/drift_detector.rs:34-110 — per-column
``ColumnStats`` {total, nulls, observed-type histogram, dominant type},
``DriftEvent`` {table, column, drift_type, expected, observed, count},
``DriftConfig.null_rate_threshold`` (default 0.1%), undeclared-column
occurrence counts; :145-246 ``observe_row`` classifying each JSON value
by type), complementing ``schema/drift.py`` which compares typed
schemas structurally.

Spark mapping: the reference walks rows one at a time in the runner;
here classification is a per-row VARIANT expression
(``try_parse_json`` → ``variant_get`` → ``schema_of_variant``) and the
histogram is one (column, observed) groupBy over an exploded
column-tag array — counts shuffle, payloads don't. Undeclared keys
come from ``json_object_keys`` the same way. Everything is integer
counts → a DuckDB oracle (``json_type``/``json_keys``) reproduces the
events bit-for-bit.

Observed type classes (shared with the oracle): ``string int double
bool null missing array object other``. JSON integers are "int"
regardless of width (Spark variant: BIGINT/DECIMAL(p,0); DuckDB:
BIGINT/UBIGINT), fractional numbers are "double" (Spark may parse
exact decimals as DECIMAL(p,s>0) — still "double").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.lineage import persist

# DriftConfig.null_rate_threshold default (drift_detector.rs:112-118)
NULL_RATE_THRESHOLD = 0.001

TYPE_CLASSES = (
    "string", "int", "double", "bool", "null", "missing",
    "array", "object", "other",
)


def variant_type_class(payload: Column, field: str) -> Column:
    """Per-row observed-type class of ``$.field`` inside a JSON string
    column. ``missing`` = key absent; ``null`` = key present with JSON
    null."""
    return variant_type_class_of(F.try_parse_json(payload), field)


def variant_type_class_of(v: Column, field: str) -> Column:
    """Like :func:`variant_type_class` but over an ALREADY-PARSED
    variant column — profiling W columns classifies against one parse
    per row instead of W (try_parse_json is the dominant per-row cost
    of the drift profile)."""
    s = F.schema_of_variant(F.variant_get(v, f"$.{field}", "variant"))
    return (
        F.when(s.isNull(), F.lit("missing"))
        .when(s == "VOID", F.lit("null"))
        .when(s == "STRING", F.lit("string"))
        .when(
            s.isin("BIGINT", "INT", "SMALLINT", "TINYINT")
            | s.rlike(r"^DECIMAL\([0-9]+,0\)$"),
            F.lit("int"),
        )
        .when(s.isin("DOUBLE", "FLOAT") | s.startswith("DECIMAL"), F.lit("double"))
        .when(s == "BOOLEAN", F.lit("bool"))
        .when(s.startswith("ARRAY"), F.lit("array"))
        .when(s.startswith("OBJECT"), F.lit("object"))
        .otherwise(F.lit("other"))
    )


def observed_type_counts(
    df: DataFrame, payload_col: str, fields: list[str]
) -> DataFrame:
    """(column, observed, n): the reference's per-column
    ``observed_types`` histogram, one pass. Every row contributes
    exactly one class per field (missing included), so per-column
    totals equal the row count."""
    tags = F.array(
        *[
            F.struct(
                F.lit(f).alias("column"),
                variant_type_class(F.col(payload_col), f).alias("observed"),
            )
            for f in fields
        ]
    )
    return (
        df.select(F.explode(tags).alias("t"))
        .groupBy(F.col("t.column").alias("column"), F.col("t.observed").alias("observed"))
        .agg(F.count("*").alias("n"))
    )


def observed_key_counts(df: DataFrame, payload_col: str) -> DataFrame:
    """(key, n_present): occurrence count of every top-level JSON key —
    feeds undeclared-column tracking (drift_detector.rs undeclared_columns)."""
    return (
        df.select(F.explode(F.json_object_keys(F.col(payload_col))).alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("n_present"))
    )


def drift_events(
    df: DataFrame,
    payload_col: str,
    declared: dict[str, str],
    *,
    non_null: set[str] | frozenset[str] = frozenset(),
    null_rate_threshold: float = NULL_RATE_THRESHOLD,
) -> DataFrame:
    """The reference's DriftEvent table from one profiling pass:
    (column, drift_type, expected, observed, n).

    - ``type_mismatch``: observed class ∉ {declared, null, missing}
      (one event per distinct observed class, with its count)
    - ``unexpected_nulls``: declared ``non_null`` column whose
      null+missing rate exceeds ``null_rate_threshold`` (count = null
      rows; expected = the declared class, observed = "null")
    - ``undeclared_column``: key present in data but not declared
      (count = rows where present; expected "-", observed "-")

    One profiling pass means ONE: the payload parses to a variant once
    per row (not once per declared column), the type tags and the
    observed keys explode out of the same scan, and the resulting
    (kind, column, observed, n) table — bounded by schema width x type
    classes, never row count — is persisted so the three event branches
    derive from it without recomputing the scan. The cache belongs to
    the caller's ``pin_scope`` (plans/lineage.py). Values are identical to the separate
    ``observed_type_counts`` + ``observed_key_counts`` passes those
    branches previously re-ran (3 scans x W parses each).
    """
    fields = sorted(declared)
    staged = df.select(
        F.col(payload_col).alias("_p"),
        F.try_parse_json(F.col(payload_col)).alias("_v"),
    )
    tags = F.array(
        *[
            F.struct(
                F.lit("t").alias("kind"),
                F.lit(f).alias("column"),
                variant_type_class_of(F.col("_v"), f).alias("observed"),
            )
            for f in fields
        ]
    )
    keys = F.transform(
        F.coalesce(F.json_object_keys(F.col("_p")), F.array().cast("array<string>")),
        lambda k: F.struct(
            F.lit("k").alias("kind"), k.alias("column"), F.lit("").alias("observed")
        ),
    )
    prof = persist(
        staged.select(F.explode(F.concat(tags, keys)).alias("t"))
        .groupBy(
            F.col("t.kind").alias("kind"),
            F.col("t.column").alias("column"),
            F.col("t.observed").alias("observed"),
        )
        .agg(F.count("*").alias("n"))
    )
    counts = prof.filter(F.col("kind") == "t").select("column", "observed", "n")
    key_counts = prof.filter(F.col("kind") == "k").select(
        F.col("column").alias("key"), F.col("n").alias("n_present")
    )
    decl = F.create_map(
        *[x for k, v in sorted(declared.items()) for x in (F.lit(k), F.lit(v))]
    )

    mismatches = counts.filter(
        (~F.col("observed").isin("null", "missing"))
        & (F.col("observed") != decl[F.col("column")])
    ).select(
        "column",
        F.lit("type_mismatch").alias("drift_type"),
        decl[F.col("column")].alias("expected"),
        F.col("observed"),
        F.col("n"),
    )

    per_col = counts.groupBy("column").agg(
        F.sum("n").alias("total"),
        F.sum(
            F.when(F.col("observed").isin("null", "missing"), F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("n_null"),
    )
    nulls = per_col.filter(
        F.col("column").isin(*sorted(non_null))
        & (F.col("n_null") / F.col("total") > null_rate_threshold)
    ).select(
        "column",
        F.lit("unexpected_nulls").alias("drift_type"),
        decl[F.col("column")].alias("expected"),
        F.lit("null").alias("observed"),
        F.col("n_null").alias("n"),
    ) if non_null else None

    undeclared = (
        key_counts
        .filter(~F.col("key").isin(*sorted(declared)))
        .select(
            F.col("key").alias("column"),
            F.lit("undeclared_column").alias("drift_type"),
            F.lit("-").alias("expected"),
            F.lit("-").alias("observed"),
            F.col("n_present").alias("n"),
        )
    )

    out = mismatches.unionByName(undeclared)
    if nulls is not None:
        out = out.unionByName(nulls)
    return out


def drift_report(
    drift_df: DataFrame, *, table: str, events_analyzed: int
) -> dict:
    """Reduce a drift_events frame to the REST API's per-table report
    (apireference.md "Drift Detection" response shape) for
    PipelineManager.record_drift. The collect is bounded by (column ×
    drift class) cardinality — schema width, never row count."""
    rows = [r.asDict() for r in drift_df.collect()]
    by_col: dict[str, dict] = {}
    for r in rows:
        c = by_col.setdefault(
            r["column"],
            {
                "column": r["column"],
                "expected_type": r["expected"],
                "observed_types": [],
                "mismatch_count": 0,
            },
        )
        if r["observed"] not in ("-",) and r["observed"] not in c["observed_types"]:
            c["observed_types"].append(r["observed"])
        c["mismatch_count"] += int(r["n"])
    with_drift = sum(int(r["n"]) for r in rows if r["drift_type"] == "type_mismatch")
    return {
        "table": table,
        "has_drift": bool(rows),
        "columns": [by_col[c] for c in sorted(by_col)],
        "events_analyzed": int(events_analyzed),
        "events_with_drift": int(with_drift),
    }
