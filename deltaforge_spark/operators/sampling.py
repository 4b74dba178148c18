"""Training-data sampling and sequence packing.

The operators a 100 TB pretraining pipeline runs between "corpus" and
"dataloader": deterministic (reproducible, engine-portable) sampling —
uniform and per-stratum — and greedy sequence packing into fixed token
budgets.

Design:
- Sampling is HASH-based, not RNG-based: keep a row iff a 48-bit
  md5-derived value of its key falls under fraction × 2^48. Same rows
  selected on any engine, any partitioning, any run — the property a
  data-ablation study needs (Spark's ``df.sample`` is seed-stable only
  per partitioning). Map-only, zero shuffle, trivially pushes down.
- Packing is the one genuinely sequential op (bin boundary depends on
  every prior row in the group), so it runs per-group via
  ``applyInPandas`` — one shuffle on the group key, O(group) memory,
  vectorized batches. Groups are independent → embarrassingly parallel
  across a cluster. An equivalent DuckDB recursive CTE serves as the
  cross-engine oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.lineage import pin

# 48-bit hash space; fraction f keeps h < f * 2^48
_SPACE = 1 << 48


def sample_hash(key: Column, seed: str = "smp") -> Column:
    """Deterministic 48-bit sample hash both Spark and DuckDB compute
    identically: ``conv(substr(md5('<seed>:' || key), 1, 12), 16, 10)``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")


def deterministic_sample(
    df: DataFrame, *, key_col: str, fraction: float, seed: str = "smp"
) -> DataFrame:
    """Reproducible uniform sample: keep iff hash(key) < fraction·2^48."""
    return df.filter(sample_hash(F.col(key_col), seed) < int(fraction * _SPACE))


def stratified_sample(
    df: DataFrame,
    *,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    key_col: str,
    seed: str = "smp",
) -> DataFrame:
    """Per-stratum deterministic sampling — the data-mixing primitive
    (e.g. keep 50% en / 20% zh / 10% everything else). One map-only
    filter; the per-stratum threshold is a CASE expression, so skewed
    strata cost nothing extra."""
    thresh = None
    for value, frac in sorted(fractions.items()):
        cond = F.col(strata_col) == value
        lit = F.lit(int(frac * _SPACE))
        thresh = F.when(cond, lit) if thresh is None else thresh.when(cond, lit)
    thresh = (
        thresh.otherwise(F.lit(int(default_fraction * _SPACE)))
        if thresh is not None
        else F.lit(int(default_fraction * _SPACE))
    )
    return df.filter(sample_hash(F.col(key_col), seed) < thresh)


def epoch_shuffle(
    df: DataFrame,
    *,
    key_col: str,
    epoch: int = 0,
    seed: str = "shuf",
    manifest_path: str | None = None,
) -> DataFrame:
    """Deterministic training-order shuffle: a reproducible permutation
    of the corpus per epoch, as the input rows + ``shuffle_rank``.

    Order = ascending ``sample_hash("{seed}:{epoch}", key)`` with the
    key as tiebreak — any engine and any input partitioning produce the
    SAME permutation, so a resumed or re-sharded training job reads the
    identical epoch order; each epoch re-salts the hash for an
    independent permutation (the standard epoch-reshuffle contract).

    Scale shape — distributed zipWithIndex, NOT a global row_number
    window (which would collapse the corpus onto one task):
    1. range-repartition + partition-local sort on (hash, key) — the
       one unavoidable total-order shuffle;
    2. per-partition row counts (N driver-side values, N = partitions);
    3. map-only Arrow pass adding partition_offset + local_index.
    The rank is independent of where the range boundaries land because
    ranges are disjoint and ordered; ties are broken by the key.
    """
    spark = df.sparkSession
    h = sample_hash(F.col(key_col), seed=f"{seed}:{epoch}")
    n_parts = spark.sparkContext.defaultParallelism
    sorted_df = (
        df.withColumn("_h", h)
        .repartitionByRange(n_parts, F.col("_h"), F.col(key_col))
        .sortWithinPartitions("_h", key_col)
    )
    sorted_df.persist()
    try:
        counts = dict(
            sorted_df.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        offsets = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        out_schema = sorted_df.drop("_h").schema.add("shuffle_rank", "long")

        def enumerate_rows(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            pos = offsets.get(pid, 0)
            for pdf in batches:
                pdf = pdf.drop(columns=["_h"])
                pdf["shuffle_rank"] = range(pos + 1, pos + 1 + len(pdf))
                pos += len(pdf)
                yield pdf

        out = sorted_df.mapInPandas(enumerate_rows, out_schema)
        # Materialize while the sorted input is cached: the offsets were
        # computed for THIS physical partitioning, and a recompute after
        # unpersist could re-sample different range boundaries, shifting
        # partition ids under the offsets map. The barrier is
        # load-bearing, not an optimization. TWO barrier tiers:
        # - manifest_path (the cluster default): write the ranked
        #   manifest to durable storage and read it back — survives
        #   executor loss, and the epoch order becomes an artifact every
        #   training job replays identically;
        # - local checkpoint (local/dev fallback): executor-local disks,
        #   cheaper, but gone with the executor; owned by the caller's
        #   pin_scope.
        if manifest_path is not None:
            out.write.mode("overwrite").parquet(manifest_path)
            return spark.read.parquet(manifest_path)
        return pin(out, reliable=False)
    finally:
        sorted_df.unpersist()


def dataset_split(
    df: DataFrame,
    *,
    key_col: str,
    splits: list[tuple[str, float]] = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
    seed: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the 48-bit sample hash
    of the key lands in cumulative-fraction buckets. Engine- and
    partitioning-independent (same doc always lands in the same split —
    the property that keeps eval sets uncontaminated across reshards and
    re-runs), map-only, zero shuffle. Fractions should sum to 1; any
    hash above the last boundary takes the final split's name."""
    h = sample_hash(F.col(key_col), seed)
    cum = 0.0
    expr = None
    for name, frac in list(splits)[:-1]:
        cum += frac
        cond = h < int(cum * _SPACE)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = list(splits)[-1][0]
    expr = expr.otherwise(F.lit(last)) if expr is not None else F.lit(last)
    return df.withColumn("split", expr)


def pack_sequences(
    df: DataFrame,
    *,
    group_col: str,
    order_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Greedy in-order sequence packing: within each group (ordered by
    ``order_col``), documents accumulate into a bin until adding the
    next one would exceed ``budget`` tokens; then a new bin starts.
    Documents alone exceeding the budget get their own bin (truncation
    is the caller's policy decision).

    Output: group, order, tokens, bin (0-based per group), bin_tokens
    (the running total inside the bin after this doc).

    Scale shape: one shuffle on the group key; each group packs
    sequentially inside an Arrow batch (the boundary recurrence is
    inherently sequential), groups pack in parallel across executors.
    Use a date/shard column as the group to bound group size.
    """
    out_schema = (
        f"{group_col} string, {order_col} long, tokens long, "
        "bin long, bin_tokens long"
    )

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(order_col)
        bins, totals = [], []
        cur_bin, cur_tot = 0, 0
        for t in pdf[token_col].astype("int64"):
            if cur_tot > 0 and cur_tot + t > budget:
                cur_bin += 1
                cur_tot = 0
            cur_tot += int(t)
            bins.append(cur_bin)
            totals.append(cur_tot)
        return pd.DataFrame(
            {
                group_col: pdf[group_col].astype(str),
                order_col: pdf[order_col].astype("int64"),
                "tokens": pdf[token_col].astype("int64"),
                "bin": bins,
                "bin_tokens": totals,
            }
        )

    src = df.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(order_col).cast("long").alias(order_col),
        F.col(token_col).cast("long").alias(token_col),
    )
    return src.groupBy(group_col).applyInPandas(pack, schema=out_schema)


def whitespace_token_count(text: Column) -> Column:
    """Cheap token estimate: space-run-delimited token count — the same
    definition as the text-analysis layer's ``_TOKENS_SQL`` oracle
    (``string_split_regex(trim(text), ' +')``)."""
    return F.size(F.split(F.trim(text), " +"))


def mixture_sample(
    df: DataFrame,
    *,
    strata_col: str,
    token_budgets: dict[str, int],
    text_col: str = "text",
    key_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Token-BUDGETED mixture sampling — the data-mixing step stated
    the way mixing specs actually arrive ("500k en tokens, 200k zh
    tokens"), not as pre-derived fractions: per stratum, the keep
    fraction is ``min(1, budget / stratum_tokens)``, then rows select
    deterministically by the same 48-bit hash as stratified_sample
    (reshard-stable, ablation-monotone: raising a budget only ADDS
    documents). Strata without a budget are dropped.

    In expectation the kept token mass per stratum ≈ its budget; the
    variance is the standard Poisson-sampling variance (per-doc
    independent selection — no global sort or exact knapsack, which
    would serialize the corpus at 100 TB).

    Scale shape: one token-count aggregation per stratum (partial agg;
    key space = #strata) joined back BROADCAST onto the corpus; the
    selection itself is the usual map-only hash filter. Exactly
    SQL-expressible → oracle-checked (`mixture_by_budget`).
    """
    n_tokens = F.size(F.split(F.trim(F.col(text_col)), " +"))
    stats = (
        df.select(F.col(strata_col).alias("_s"), n_tokens.alias("_n"))
        .groupBy("_s")
        .agg(F.sum("_n").alias("_stratum_tokens"))
    )
    budget = None
    for value, b in sorted(token_budgets.items()):
        c = F.col("_s") == value
        budget = F.when(c, F.lit(int(b))) if budget is None else budget.when(c, F.lit(int(b)))
    budget = budget.otherwise(F.lit(None))
    stats = stats.withColumn("_budget", budget).filter(F.col("_budget").isNotNull())
    # threshold in 48-bit hash space, exact integer arithmetic:
    # floor(min(1, budget/tokens) * 2^48) = min(2^48, budget*2^48 DIV tokens)
    # exact integer floor-division in decimal space (budget * 2^48 can
    # exceed int64): Spark's `div` yields the integral quotient
    exact_div = F.expr(
        f"CAST(_budget AS DECIMAL(38,0)) * {_SPACE} div CAST(_stratum_tokens AS DECIMAL(38,0))"
    )
    thresh = F.least(F.lit(_SPACE).cast("long"), exact_div.cast("long"))
    stats = stats.select("_s", thresh.alias("_thresh"))
    return (
        df.join(F.broadcast(stats), df[strata_col] == F.col("_s"))
        .filter(sample_hash(F.col(key_col), seed) < F.col("_thresh"))
        .drop("_s", "_thresh")
    )


def temperature_mixture(
    df: DataFrame,
    *,
    strata_col: str,
    total_token_budget: int,
    temperature: float = 2.0,
    text_col: str = "text",
    key_col: str = "doc_id",
    seed: str = "tmix",
) -> DataFrame:
    """Temperature-scaled mixture sampling — the other standard
    data-mixing knob (multilingual/multi-source training mixes, e.g.
    the mBERT/XLM-R exponential-smoothing rule): stratum s gets weight
    ∝ tokens_s^(1/T), flattening the head and boosting the tail as T
    grows; the total kept token mass targets ``total_token_budget``.

    Cross-engine exactness: T ∈ {1, 2, 4} computes tokens^(1/T) as a
    sqrt chain (IEEE sqrt is correctly rounded — bit-identical in both
    engines, unlike pow), the per-stratum weight rounds to 6dp, and the
    weight normalizer sums as DECIMAL (order-independent) — so the
    48-bit hash threshold is identical in Spark and the SQL oracle.
    Other T values fall back to ``pow`` (documented last-ulp risk,
    pytest-verified only).

    Scale shape: same as ``mixture_sample`` — one #strata-sized partial
    aggregation broadcast back, map-only hash selection, no sort.
    """
    n_tokens = F.size(F.split(F.trim(F.col(text_col)), " +"))
    stats = (
        df.select(F.col(strata_col).alias("_s"), n_tokens.alias("_n"))
        .groupBy("_s")
        .agg(F.sum("_n").cast("double").alias("_tok"))
    )
    if temperature == 1.0:
        w = F.col("_tok")
    elif temperature == 2.0:
        w = F.sqrt(F.col("_tok"))
    elif temperature == 4.0:
        w = F.sqrt(F.sqrt(F.col("_tok")))
    else:
        w = F.pow(F.col("_tok"), F.lit(1.0 / temperature))
    stats = stats.withColumn("_w", F.round(w, 6))
    norm = stats.agg(
        F.sum(F.col("_w").cast("decimal(38,6)")).cast("decimal(38,6)").alias("_wsum")
    )
    rate = F.least(
        F.lit(1.0),
        (F.lit(float(total_token_budget)) * F.col("_w"))
        / (F.col("_wsum").cast("double") * F.col("_tok")),
    )
    thresh = (rate * F.lit(float(_SPACE))).cast("long")
    keyed = stats.join(F.broadcast(norm)).select("_s", thresh.alias("_thresh"))
    return (
        df.join(F.broadcast(keyed), df[strata_col] == F.col("_s"))
        .filter(sample_hash(F.col(key_col), seed) < F.col("_thresh"))
        .drop("_s", "_thresh")
    )
