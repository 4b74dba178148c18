"""Unigram language-model scoring — CCNet-style perplexity filtering,
the standard LLM-training-data quality gate the reference's corpus
tooling leaves to downstream (this engine makes it a first-class
operator): build a smoothed unigram LM over a (reference) corpus, score
every document by average token surprisal, keep documents below a
perplexity threshold.

Scale shape (100 TB):
- LM build = one counts-only shuffle (token → count) + one 2-row
  aggregate for the normalizer (N tokens, V vocab). No row data moves.
- Scoring = explode tokens (map-side), join token counts — the LM side
  is the small one (vocab, not corpus), so Spark broadcasts it or
  shuffle-joins on the token key; either way per-doc work is linear and
  the re-aggregate is a counts-only shuffle keyed by doc_id.
- No Python anywhere: tokenize/ln/aggregate are all JVM expressions.

Determinism (oracle hash-match): per-token surprisal is rounded to
MICRO-units and summed as exact integers — double summation order never
matters, and ln() is evaluated on the same integer inputs in both
engines (see duckdb parity rules). One final division + round yields
the per-doc average; ppl = exp(avg) rounded to 4dp.

Model: add-one smoothing over the LM corpus,
    p(t) = (c_t + 1) / (N + V + 1)
with unseen tokens taking c_t = 0 — so surprisal(t) =
ln(N + V + 1) - ln(c_t + 1), always >= 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textanalysis import tokens


def unigram_lm(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Token → count over the corpus (the LM table). One counts-only
    shuffle; empty tokens dropped (split artifacts)."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lm_normalizer(lm: DataFrame) -> DataFrame:
    """One row: N (total tokens), V (vocab size). The add-one
    denominator is N + V + 1 (the +1 is the unseen-token mass)."""
    return lm.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )


def doc_surprisal(
    df: DataFrame,
    lm: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average token surprisal under the add-one unigram
    LM, plus perplexity: (doc_id, n_tokens, avg_surprisal, ppl).

    avg_surprisal = mean over tokens of ln(N+V+1) - ln(c_t+1), each
    term rounded to micro-units (integer) before the sum, so the
    distributed aggregation is order-independent and cross-engine
    exact.
    """
    norm = lm_normalizer(lm)  # 1 row → broadcast crossJoin (benign)
    toks = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )
    scored = (
        # no forced broadcast on the LM side: at bench SFs AQE
        # broadcasts the vocab-sized table on its own; at 100 TB a
        # 100M-token vocab must be allowed to shuffle-join on the
        # token key instead of OOMing the driver
        toks.join(lm, "token", "left")
        .crossJoin(F.broadcast(norm))
        .select(
            id_col,
            # micro-unit integer surprisal: round(ln * 1e6) is an exact
            # integral double (< 2^53), safe to cast in either engine
            F.round(
                (
                    F.log(F.col("n_total") + F.col("vocab") + F.lit(1))
                    - F.log(F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1))
                )
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("sup_micro"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("sup_micro").cast("long").alias("sum_micro"),
    )
    # half-up integer division to micro-units BEFORE any double math:
    # (2a + b) div (2b) == floor(a/b + 1/2) for the non-negative values
    # here. Dividing doubles first and rounding to 6dp hit rounding-
    # midpoint disagreements at sf1 (sum_micro/n_tokens landing on
    # ...845e-6 exactly: Spark's BigDecimal HALF_UP vs DuckDB's double
    # round differed on 9 of 50000 docs); the integer quotient is
    # ~1e-16 from the 6dp grid, never near a midpoint, so the final
    # round is boundary-free in both engines.
    avg_micro = F.expr(
        "CAST((2 * sum_micro + n_tokens) DIV (2 * n_tokens) AS BIGINT)"
    )
    avg = avg_micro.cast("double") / F.lit(1000000.0)
    return agg.select(
        id_col,
        "n_tokens",
        F.round(avg, 6).alias("avg_surprisal"),
        # exp over the identically-computed double; 4dp absorbs the
        # cross-engine last-ulp of exp
        F.round(F.exp(F.round(avg, 6)), 4).alias("ppl"),
    )


def perplexity_filter(
    df: DataFrame,
    lm: DataFrame,
    *,
    max_ppl: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The CCNet gate: documents scored against the LM, flagged
    keep = (ppl <= max_ppl). Emitted with the score so the caller can
    bin (CCNet's head/middle/tail tertiles) instead of hard-filtering."""
    scored = doc_surprisal(df, lm, text_col=text_col, id_col=id_col)
    return scored.withColumn("keep", (F.col("ppl") <= F.lit(float(max_ppl))))


def weighted_sample(
    df: DataFrame,
    *,
    key_col: str,
    weight_col: str,
    k: int,
    seed: str = "wsmp",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (priority /
    A-ES sampling): each row draws u = (hash48(key)+1) / 2^48 ∈ (0,1]
    and keeps priority u^(1/w); the global top-k priorities are the
    sample — inclusion probability proportional to weight, reproducible
    across runs and reshards.

    Scale shape: priority is a map-side expression; top-k compiles to
    TakeOrderedAndProject (per-partition heads + driver merge of k
    rows), never a global sort. The deterministic (priority, key)
    order breaks ties identically in any engine.
    """
    from .sampling import _SPACE, sample_hash

    u = (sample_hash(F.col(key_col), seed) + F.lit(1)).cast("double") / F.lit(
        float(_SPACE)
    )
    w = F.col(weight_col).cast("double")
    pri = F.pow(u, F.lit(1.0) / F.greatest(w, F.lit(1e-12)))
    return (
        df.withColumn("_pri", pri)
        .orderBy(F.col("_pri").desc(), F.col(key_col))
        .limit(k)
        .drop("_pri")
    )


# ----------------------------------------------------- bigram + backoff
#
# CCNet-style filtering wants more context than a unigram LM (the
# reference pipeline uses a 5-gram KenLM; VERDICT r8 #6 asked for
# >=bigram with backoff). Model: STUPID BACKOFF (Brants et al. 2007,
# "Large Language Models in Machine Translation" — the standard
# web-scale smoothing precisely because it needs only raw counts):
#
#     score(w2 | w1) = c(w1 w2) / c(w1)          if c(w1 w2) > 0
#                    = alpha * p_add1(w2)         otherwise
#
# with alpha = 0.4 (the paper's constant) and p_add1 the same add-one
# unigram the existing path uses — so the backoff branch reuses
# unigram_lm/lm_normalizer unchanged.
#
# Scale shape (100 TB): the LM build is two counts-only shuffles
# (bigram, unigram — no row data moves); scoring explodes doc bigrams
# map-side (zip-against-tail, no posexplode self-join) and joins three
# COUNT tables by key — Spark broadcasts them while they fit and
# shuffle-joins on the token key beyond that, same policy as
# doc_surprisal. Determinism: per-bigram surprisal rounds to integer
# micro-nats before the sum (order-independent), the per-doc average
# is a half-up integer division — the exact conventions the unigram
# path proved at sf1.


def _doc_bigrams(df: DataFrame, *, text_col: str, id_cols: list[str]) -> DataFrame:
    """(id_cols..., w1, w2): adjacent token pairs, map-side."""
    a = tokens(F.col(text_col))
    n = F.size(a)
    pairs = F.zip_with(
        F.slice(a, 1, n - 1),
        F.slice(a, 2, n - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    return (
        df.select(*id_cols, F.explode(pairs).alias("_p"))
        .select(*id_cols, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )


def bigram_lm(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(w1, w2) -> c12 over the LM corpus. One counts-only shuffle."""
    return _doc_bigrams(df, text_col=text_col, id_cols=[]).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )


def doc_surprisal_backoff(
    df: DataFrame,
    lm_corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
) -> DataFrame:
    """Score every document of ``df`` under a stupid-backoff bigram LM
    trained on ``lm_corpus``: (doc_id, n_bigrams, avg_surprisal, ppl
    [, keep]). Documents with no valid bigram (<2 tokens) are emitted
    with n_bigrams=0, null scores and keep=false (ADVICE r10: the
    filter surface covers the FULL input, like perplexity_filter).

    Surprisal per bigram, in integer micro-nats:
      seen:    round((ln(c1) - ln(c12)) * 1e6)
      backoff: round((ln(N+V+1) - ln(c2+1) + ln(2.5)) * 1e6)
    (ln(2.5) = -ln(alpha) for alpha = 0.4; unseen w2 takes c2 = 0.)
    """
    uni = unigram_lm(lm_corpus, text_col=text_col)
    big = bigram_lm(lm_corpus, text_col=text_col)
    norm = lm_normalizer(uni)
    toks = _doc_bigrams(df, text_col=text_col, id_cols=[id_col])
    u1 = uni.select(F.col("token").alias("w1"), F.col("cnt").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("cnt").alias("c2"))
    seen = (F.log(F.col("c1").cast("double")) - F.log(F.col("c12").cast("double"))) * F.lit(
        1000000.0
    )
    backoff = (
        F.log((F.col("n_total") + F.col("vocab") + F.lit(1)).cast("double"))
        - F.log((F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1)).cast("double"))
        + F.log(F.lit(2.5))
    ) * F.lit(1000000.0)
    scored = (
        toks.join(big, ["w1", "w2"], "left")
        .join(u1, "w1", "left")
        .join(u2, "w2", "left")
        .crossJoin(F.broadcast(norm))
        .select(
            id_col,
            F.round(F.when(F.col("c12").isNotNull(), seen).otherwise(backoff), 0)
            .cast("long")
            .alias("sup_micro"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("sup_micro").cast("long").alias("sum_micro"),
    )
    avg_micro = F.expr(
        "CAST((2 * sum_micro + n_bigrams) DIV (2 * n_bigrams) AS BIGINT)"
    )
    avg = avg_micro.cast("double") / F.lit(1000000.0)
    scored_docs = agg.select(
        id_col,
        "n_bigrams",
        F.round(avg, 6).alias("avg_surprisal"),
        F.round(F.exp(F.round(avg, 6)), 4).alias("ppl"),
    )
    # ADVICE r10: docs with <2 tokens carry no bigram evidence but must
    # still appear on the filter surface (n_bigrams=0, null score,
    # keep=false) — otherwise a caller switching from the unigram
    # perplexity_filter silently lets empty/one-token docs through.
    base = df.select(id_col).distinct()
    out = base.join(scored_docs, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        "avg_surprisal",
        "ppl",
    )
    if max_ppl is not None:
        out = out.withColumn(
            "keep", F.coalesce(F.col("ppl") <= F.lit(float(max_ppl)), F.lit(False))
        )
    return out


def doc_surprisal_backoff_oracle_sql(
    *,
    table_expr: str = "documents",
    lm_filter: str = "doc_id % 2 = 0",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
) -> str:
    """DuckDB twin of doc_surprisal_backoff with the LM trained on the
    ``lm_filter`` subset: identical tokenization (PMI-oracle
    zip-against-tail), identical micro-nat rounding, identical half-up
    integer average."""
    keep = (
        f", coalesce(ppl <= {float(max_ppl)}, false) AS keep"
        if max_ppl is not None
        else ""
    )
    return f"""
        WITH lmdocs AS MATERIALIZED (
            SELECT {id_col}, {text_col} FROM {table_expr} WHERE {lm_filter}),
        uni AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
                SELECT unnest(string_split_regex(trim({text_col}), ' +')) AS w
                FROM lmdocs
            ) WHERE w <> '' GROUP BY w),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                       CAST(count(*) AS BIGINT) AS vocab FROM uni),
        big AS MATERIALIZED (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
                SELECT z[1] AS w1, z[2] AS w2 FROM (
                    SELECT unnest(list_zip(a[1:-2], a[2:-1])) AS z FROM (
                        SELECT string_split_regex(trim({text_col}), ' +') AS a
                        FROM lmdocs))
            ) WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
        db AS (
            SELECT {id_col}, z[1] AS w1, z[2] AS w2 FROM (
                SELECT {id_col}, unnest(list_zip(a[1:-2], a[2:-1])) AS z FROM (
                    SELECT {id_col}, string_split_regex(trim({text_col}), ' +') AS a
                    FROM {table_expr})
            ) WHERE z[1] <> '' AND z[2] <> ''),
        scored AS (
            SELECT {id_col},
                   CAST(round(CASE WHEN b.c12 IS NOT NULL
                       THEN (ln(CAST(u1.c1 AS DOUBLE)) - ln(CAST(b.c12 AS DOUBLE)))
                            * 1000000.0
                       ELSE (ln(CAST(tot.n_total + tot.vocab + 1 AS DOUBLE))
                             - ln(CAST(coalesce(u2.c2, 0) + 1 AS DOUBLE))
                             + ln(2.5)) * 1000000.0
                   END) AS BIGINT) AS sup
            FROM db
            LEFT JOIN big b USING (w1, w2)
            LEFT JOIN (SELECT w AS w1, c AS c1 FROM uni) u1 USING (w1)
            LEFT JOIN (SELECT w AS w2, c AS c2 FROM uni) u2 USING (w2)
            CROSS JOIN tot),
        agg AS (
            SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(sup) AS BIGINT) AS sum_micro
            FROM scored GROUP BY {id_col}),
        avg AS (
            SELECT {id_col}, n_bigrams,
                   CAST((2 * sum_micro + n_bigrams) // (2 * n_bigrams) AS BIGINT)
                       AS avg_micro
            FROM agg)
        SELECT d.{id_col},
               coalesce(n_bigrams, 0) AS n_bigrams,
               round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6) AS avg_surprisal,
               round(exp(round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6)), 4) AS ppl
               {keep}
        FROM (SELECT DISTINCT {id_col} FROM {table_expr}) d
        LEFT JOIN avg USING ({id_col})
    """


# ---------------------------------------------------- trigram + backoff
#
# One order higher than the bigram LM (VERDICT r10 #4 — CCNet-style
# production filtering uses a 5-gram KenLM; each added order is the
# same counts-only shuffle pattern). Stupid backoff chains down:
#
#     score(w3 | w1 w2) = c(w1 w2 w3) / c(w1 w2)   if the trigram is seen
#                       = 0.4 * score(w3 | w2)      else (bigram rule)
#     score(w3 | w2)    = c(w2 w3) / c(w2)          if the bigram is seen
#                       = 0.4 * p_add1(w3)          else (unigram add-one)
#
# so per-trigram surprisal in integer micro-nats is one of three cases:
#   tri seen:  round((ln c12 - ln c123) * 1e6)
#   big seen:  round((ln 2.5 + ln c2 - ln c23) * 1e6)
#   unigram:   round((2*ln 2.5 + ln(N+V+1) - ln(c3+1)) * 1e6)
# (ln 2.5 = -ln alpha, alpha = 0.4; a corpus trigram implies its
# (w1,w2) bigram and a corpus bigram implies its w2 unigram, so the
# case tests need only c123/c23 null checks.)
#
# Scale shape (100 TB): THREE counts-only LM shuffles (tri/bi/uni —
# no row data moves), doc trigrams explode map-side (double
# zip-against-tail, no posexplode self-join), and scoring is n-gram-
# keyed count joins — Spark broadcasts the LM sides while they fit
# and shuffle-joins on the token key beyond that. The only cartesian
# is the 1-row normalizer broadcast. Determinism: integer micro-nats
# before the sum, half-up integer average — the bigram conventions.


def _doc_trigrams(df: DataFrame, *, text_col: str, id_cols: list[str]) -> DataFrame:
    """(id_cols..., w1, w2, w3): adjacent token triples, map-side."""
    a = tokens(F.col(text_col))
    n = F.greatest(F.size(a) - F.lit(2), F.lit(0))  # <3 tokens -> no triples
    pairs = F.zip_with(
        F.slice(a, 1, n),
        F.slice(a, 2, n),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    trips = F.zip_with(
        pairs,
        F.slice(a, 3, n),
        lambda p, z: F.struct(
            p["w1"].alias("w1"), p["w2"].alias("w2"), z.alias("w3")
        ),
    )
    return (
        df.select(*id_cols, F.explode(trips).alias("_t"))
        .select(
            *id_cols,
            F.col("_t.w1").alias("w1"),
            F.col("_t.w2").alias("w2"),
            F.col("_t.w3").alias("w3"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != "") & (F.col("w3") != ""))
    )


def trigram_lm(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(w1, w2, w3) -> c123 over the LM corpus. One counts-only shuffle."""
    return (
        _doc_trigrams(df, text_col=text_col, id_cols=[])
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("c123"))
    )


def doc_surprisal_backoff_trigram(
    df: DataFrame,
    lm_corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
) -> DataFrame:
    """Score every document of ``df`` under a stupid-backoff TRIGRAM LM
    trained on ``lm_corpus``: (doc_id, n_trigrams, avg_surprisal, ppl
    [, keep]). Documents with <3 tokens are emitted with n_trigrams=0,
    null scores and keep=false — the full-input filter surface."""
    uni = unigram_lm(lm_corpus, text_col=text_col)
    big = bigram_lm(lm_corpus, text_col=text_col)
    tri = trigram_lm(lm_corpus, text_col=text_col)
    norm = lm_normalizer(uni)
    toks = _doc_trigrams(df, text_col=text_col, id_cols=[id_col])
    b12 = big.select("w1", "w2", "c12")
    b23 = big.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("c12").alias("c23")
    )
    u2 = uni.select(F.col("token").alias("w2"), F.col("cnt").alias("c2"))
    u3 = uni.select(F.col("token").alias("w3"), F.col("cnt").alias("c3"))
    tri_seen = (
        F.log(F.col("c12").cast("double")) - F.log(F.col("c123").cast("double"))
    ) * F.lit(1000000.0)
    big_seen = (
        F.log(F.lit(2.5))
        + F.log(F.col("c2").cast("double"))
        - F.log(F.col("c23").cast("double"))
    ) * F.lit(1000000.0)
    uni_back = (
        F.lit(2.0) * F.log(F.lit(2.5))
        + F.log((F.col("n_total") + F.col("vocab") + F.lit(1)).cast("double"))
        - F.log((F.coalesce(F.col("c3"), F.lit(0)) + F.lit(1)).cast("double"))
    ) * F.lit(1000000.0)
    scored = (
        toks.join(tri, ["w1", "w2", "w3"], "left")
        .join(b12, ["w1", "w2"], "left")
        .join(b23, ["w2", "w3"], "left")
        .join(u2, "w2", "left")
        .join(u3, "w3", "left")
        .crossJoin(F.broadcast(norm))
        .select(
            id_col,
            F.round(
                F.when(F.col("c123").isNotNull(), tri_seen)
                .when(F.col("c23").isNotNull(), big_seen)
                .otherwise(uni_back),
                0,
            )
            .cast("long")
            .alias("sup_micro"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.sum("sup_micro").cast("long").alias("sum_micro"),
    )
    avg_micro = F.expr(
        "CAST((2 * sum_micro + n_trigrams) DIV (2 * n_trigrams) AS BIGINT)"
    )
    avg = avg_micro.cast("double") / F.lit(1000000.0)
    scored_docs = agg.select(
        id_col,
        "n_trigrams",
        F.round(avg, 6).alias("avg_surprisal"),
        F.round(F.exp(F.round(avg, 6)), 4).alias("ppl"),
    )
    base = df.select(id_col).distinct()
    out = base.join(scored_docs, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_trigrams"), F.lit(0)).cast("long").alias("n_trigrams"),
        "avg_surprisal",
        "ppl",
    )
    if max_ppl is not None:
        out = out.withColumn(
            "keep", F.coalesce(F.col("ppl") <= F.lit(float(max_ppl)), F.lit(False))
        )
    return out


def doc_surprisal_backoff_trigram_oracle_sql(
    *,
    table_expr: str = "documents",
    lm_filter: str = "doc_id % 2 = 0",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
) -> str:
    """DuckDB twin of doc_surprisal_backoff_trigram: identical
    tokenization, identical case order (tri seen → bigram backoff →
    add-one unigram), identical micro-nat rounding and half-up
    integer average."""
    keep = (
        f", coalesce(ppl <= {float(max_ppl)}, false) AS keep"
        if max_ppl is not None
        else ""
    )
    return f"""
        WITH lmdocs AS MATERIALIZED (
            SELECT {id_col}, {text_col} FROM {table_expr} WHERE {lm_filter}),
        uni AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
                SELECT unnest(string_split_regex(trim({text_col}), ' +')) AS w
                FROM lmdocs
            ) WHERE w <> '' GROUP BY w),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                       CAST(count(*) AS BIGINT) AS vocab FROM uni),
        big AS MATERIALIZED (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
                SELECT z[1] AS w1, z[2] AS w2 FROM (
                    SELECT unnest(list_zip(a[1:-2], a[2:-1])) AS z FROM (
                        SELECT string_split_regex(trim({text_col}), ' +') AS a
                        FROM lmdocs))
            ) WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
        tri AS MATERIALIZED (
            SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123 FROM (
                SELECT z[1] AS w1, z[2] AS w2, z[3] AS w3 FROM (
                    SELECT unnest(list_zip(a[1:-3], a[2:-2], a[3:-1])) AS z FROM (
                        SELECT string_split_regex(trim({text_col}), ' +') AS a
                        FROM lmdocs))
            ) WHERE w1 <> '' AND w2 <> '' AND w3 <> '' GROUP BY w1, w2, w3),
        db AS (
            SELECT {id_col}, z[1] AS w1, z[2] AS w2, z[3] AS w3 FROM (
                SELECT {id_col}, unnest(list_zip(a[1:-3], a[2:-2], a[3:-1])) AS z FROM (
                    SELECT {id_col}, string_split_regex(trim({text_col}), ' +') AS a
                    FROM {table_expr})
            ) WHERE z[1] <> '' AND z[2] <> '' AND z[3] <> ''),
        scored AS (
            SELECT {id_col},
                   CAST(round(CASE
                       WHEN t.c123 IS NOT NULL
                       THEN (ln(CAST(b12.c12 AS DOUBLE)) - ln(CAST(t.c123 AS DOUBLE)))
                            * 1000000.0
                       WHEN b23.c23 IS NOT NULL
                       THEN (ln(2.5) + ln(CAST(u2.c2 AS DOUBLE))
                             - ln(CAST(b23.c23 AS DOUBLE))) * 1000000.0
                       ELSE (2.0 * ln(2.5)
                             + ln(CAST(tot.n_total + tot.vocab + 1 AS DOUBLE))
                             - ln(CAST(coalesce(u3.c3, 0) + 1 AS DOUBLE))) * 1000000.0
                   END) AS BIGINT) AS sup
            FROM db
            LEFT JOIN tri t USING (w1, w2, w3)
            LEFT JOIN big b12 USING (w1, w2)
            LEFT JOIN (SELECT w1 AS w2, w2 AS w3, c12 AS c23 FROM big) b23
                   USING (w2, w3)
            LEFT JOIN (SELECT w AS w2, c AS c2 FROM uni) u2 USING (w2)
            LEFT JOIN (SELECT w AS w3, c AS c3 FROM uni) u3 USING (w3)
            CROSS JOIN tot),
        agg AS (
            SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_trigrams,
                   CAST(sum(sup) AS BIGINT) AS sum_micro
            FROM scored GROUP BY {id_col}),
        avg AS (
            SELECT {id_col}, n_trigrams,
                   CAST((2 * sum_micro + n_trigrams) // (2 * n_trigrams) AS BIGINT)
                       AS avg_micro
            FROM agg)
        SELECT d.{id_col},
               coalesce(n_trigrams, 0) AS n_trigrams,
               round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6) AS avg_surprisal,
               round(exp(round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6)), 4) AS ppl
               {keep}
        FROM (SELECT DISTINCT {id_col} FROM {table_expr}) d
        LEFT JOIN avg USING ({id_col})
    """


# ------------------------------------------------------- CCNet binning
#
# CCNet (Wenzek et al. 2020) doesn't hard-filter on perplexity — it
# splits the corpus into HEAD / MIDDLE / TAIL tertiles per language
# and samples preferentially from the head. The binning is a global
# NTILE over a fully tie-broken order (ppl, then doc_id), so both
# engines bucket identically. Scale shape (VERDICT r11 #1: the first
# cut was an UNPARTITIONED Window NTILE — a single-task sort of every
# scored doc, the exact class tests/test_plan_shape.py's gate exists
# to block): ranks now come from the repo's distributed-zipWithIndex
# discipline (sources/pgoutput.py `_ranked_by_seq`, operators/
# sampling.py `epoch_shuffle`) — range-repartition on the tie-broken
# key, per-partition row_number (a PARTITIONED window), and a driver
# prefix-sum over O(#partitions) counts — then SQL NTILE's bucket
# arithmetic applied to the rank as pure column algebra, so the
# result is bit-identical to the DuckDB oracle's NTILE at any scale
# with no task ever holding more than one range slice.


def perplexity_bins(
    df: DataFrame,
    lm: DataFrame,
    *,
    n_bins: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, ppl, bin): unigram-LM perplexity with the
    CCNet tertile assignment (bin 1 = head = lowest perplexity).
    Docs the scorer covers (>=1 token) are binned; the caller keeps
    head/middle and downsamples tail, per CCNet.

    Exact NTILE semantics without a global window: with N scored docs
    and q = N // n_bins, r = N % n_bins, SQL NTILE gives the first r
    buckets q+1 rows and the rest q — reproduced here from the global
    rank (distributed zipWithIndex) with two INTEGER-division
    expressions (``DIV``, not double ``/``+floor — ADVICE r12: double
    division is exact only below ~2^52 rows per bucket; integer DIV
    has no boundary). The ranked layout is pinned (reliable checkpoint
    when configured) so the counts job and the rank job cannot see
    different range shuffles; the pin is superseded by the
    eagerly-pinned result and released before returning.

    EAGER contract (ADVICE r12): this operator executes at BUILD time,
    not first action — two checkpoint jobs plus an O(#partitions)
    driver collect run inside this call, and the bucket boundaries are
    frozen against the input as of the call. Callers composing lazily
    get a materialized frame, not a deferred plan. The returned frame
    IS its eager pin, owned by the caller's ``pin_scope``."""
    from pyspark.sql import Window

    from ..plans.lineage import pin, release_pinned

    scored = doc_surprisal(df, lm, text_col=text_col, id_col=id_col)
    sess = scored.sparkSession
    n_parts = max(2, sess.sparkContext.defaultParallelism)
    d = pin(
        scored.repartitionByRange(
            n_parts, F.col("ppl").asc(), F.col(id_col).asc()
        ).withColumn("_pid", F.spark_partition_id())
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = sum(counts.values())
    if total == 0:
        release_pinned(d)
        return scored.select(
            id_col, "n_tokens", "ppl", F.lit(None).cast("long").alias("bin")
        ).limit(0)
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = sess.createDataFrame(offsets, "_pid INT, _off BIGINT")
    w = Window.partitionBy("_pid").orderBy(F.col("ppl").asc(), F.col(id_col).asc())
    rank = (F.row_number().over(w) + F.col("_off")).alias("_rank")
    # SQL NTILE bucket arithmetic on the 1-based rank — integer DIV
    # throughout (q, rem, big_span are driver ints, safe to inline)
    q, rem = divmod(total, n_bins)
    big_span = rem * (q + 1)  # rows covered by the q+1-sized buckets
    if q == 0:  # fewer rows than bins: bucket i holds exactly row i
        bin_col = F.col("_rank").cast("long")
    else:
        bin_col = F.expr(
            f"CAST(CASE WHEN _rank <= {big_span}"
            f" THEN (_rank - 1) DIV {q + 1} + 1"
            f" ELSE {rem} + (_rank - {big_span} - 1) DIV {q} + 1"
            f" END AS BIGINT)"
        )
    out = pin(
        d.join(F.broadcast(off_df), "_pid")
        .select(id_col, "n_tokens", "ppl", rank)
        .select(id_col, "n_tokens", "ppl", bin_col.alias("bin"))
    )
    release_pinned(d)
    return out


# ------------------------------------------- interpolated Kneser-Ney
#
# The smoothing production CCNet scoring actually uses (Wenzek et al.
# 2020 score with a 5-gram KenLM; KenLM = interpolated modified
# Kneser-Ney, Heafield 2011). VERDICT r11 #7 asked for the
# interpolated-KN step beyond stupid backoff. Bigram interpolated KN
# with absolute discount D:
#
#   p(w2|w1) = max(c12 - D, 0)/ctx1  +  D * n1p(w1·)/ctx1 * p_cont(w2)
#   p_cont(w2) = N1+(·w2) / N1+(··)        (continuation probability)
#
# where ctx1 = sum_w c(w1 w), n1p(w1·) = |{w : c(w1 w) > 0}|. Two
# engine-exactness choices make the score bit-reproducible:
# - D = 3/4 (Chen & Goodman's constant, and RATIONAL): multiplying
#   through by 4*ctx1*M turns the probability into a ratio of exact
#   integers num/den, so ln() is evaluated on identical integer-valued
#   doubles in both engines (the unigram path's proven convention) —
#   no floating-point sum ever crosses an engine boundary.
# - the continuation distribution is add-one smoothed over
#   M = N1+(··) + V + 1, so unseen continuations keep finite mass and
#   an unseen CONTEXT (ctx1 null) backs off to p_cont alone.
#
#   seen ctx:  sup = ln(4*ctx1*M) - ln(max(4*c12-3,0)*M + 3*n1p1*(n1p2+1))
#   unseen:    sup = ln(M) - ln(n1p2+1)
#
# (num >= 3 whenever ctx1 exists since n1p1 >= 1, so ln is total.)
#
# Scale shape (100 TB): the LM build is ONE bigram counts-only shuffle
# plus two counts-of-counts re-aggregations of the (vocab-sized) bigram
# table — no row data moves; scoring explodes doc bigrams map-side and
# joins three COUNT tables by token key (broadcast while they fit,
# shuffle-join beyond), one 1-row normalizer crossJoin. Integer range:
# den = 4*ctx1*M stays < 2^53 while ctx1*M < 2^51 — beyond that (a
# >10^15-interaction corpus) move num/den to decimal(38,0); the micro-
# nat and half-up-average conventions are unchanged from the unigram
# path.


def doc_surprisal_kneser_ney(
    df: DataFrame,
    lm_corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
) -> DataFrame:
    """Score every document of ``df`` under an interpolated Kneser-Ney
    bigram LM (D = 3/4, add-one-smoothed continuation) trained on
    ``lm_corpus``: (doc_id, n_bigrams, avg_surprisal, ppl [, keep]).
    Documents with <2 tokens emit n_bigrams=0, null scores and
    keep=false — the full-input filter surface."""
    uni = unigram_lm(lm_corpus, text_col=text_col)
    big = bigram_lm(lm_corpus, text_col=text_col)
    norm = lm_normalizer(uni)
    ctx = big.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("ctx1"),
        F.count(F.lit(1)).cast("long").alias("n1p1"),
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1p2"))
    nn = big.agg(F.count(F.lit(1)).cast("long").alias("n1pp"))
    toks = _doc_bigrams(df, text_col=text_col, id_cols=[id_col])
    m = (F.col("n1pp") + F.col("vocab") + F.lit(1)).cast("long")
    c12 = F.coalesce(F.col("c12"), F.lit(0))
    n1p2p = (F.coalesce(F.col("n1p2"), F.lit(0)) + F.lit(1)).cast("long")
    num = (
        F.greatest(F.lit(4) * c12 - F.lit(3), F.lit(0)) * m
        + F.lit(3) * F.col("n1p1") * n1p2p
    ).cast("long")
    den = (F.lit(4) * F.col("ctx1") * m).cast("long")
    seen_ctx = (F.log(den.cast("double")) - F.log(num.cast("double"))) * F.lit(
        1000000.0
    )
    unseen_ctx = (F.log(m.cast("double")) - F.log(n1p2p.cast("double"))) * F.lit(
        1000000.0
    )
    scored = (
        toks.join(big, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(norm))
        .crossJoin(F.broadcast(nn))
        .select(
            id_col,
            F.round(
                F.when(F.col("ctx1").isNotNull(), seen_ctx).otherwise(unseen_ctx), 0
            )
            .cast("long")
            .alias("sup_micro"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("sup_micro").cast("long").alias("sum_micro"),
    )
    avg_micro = F.expr(
        "CAST((2 * sum_micro + n_bigrams) DIV (2 * n_bigrams) AS BIGINT)"
    )
    avg = avg_micro.cast("double") / F.lit(1000000.0)
    scored_docs = agg.select(
        id_col,
        "n_bigrams",
        F.round(avg, 6).alias("avg_surprisal"),
        F.round(F.exp(F.round(avg, 6)), 4).alias("ppl"),
    )
    base = df.select(id_col).distinct()
    out = base.join(scored_docs, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        "avg_surprisal",
        "ppl",
    )
    if max_ppl is not None:
        out = out.withColumn(
            "keep", F.coalesce(F.col("ppl") <= F.lit(float(max_ppl)), F.lit(False))
        )
    return out


# ---------------------------------------------------- 4-gram + backoff
#
# One order below production CCNet's 5-gram KenLM (VERDICT r11 #7's
# higher-order half; the interpolated-KN half is below). Stupid
# backoff chains down one rule per order, alpha = 0.4 per hop:
#
#   score(w4 | w1 w2 w3) = c1234/c123          if the 4-gram is seen
#                        = 0.4 * score(w4|w2 w3)  else
#   score(w4 | w2 w3)    = c234/c23            if that trigram is seen
#   score(w4 | w3)       = c34/c3              if that bigram is seen
#   else                   0.4^3 * p_add1(w4)
#
# A corpus 4-gram implies its prefix trigram, a corpus trigram its
# prefix bigram, a corpus bigram its prefix unigram — so the case
# tests need only c1234/c234/c34 null checks and the denominators are
# never null inside their branch. Scale shape: FOUR counts-only LM
# shuffles (quad/tri/bi/uni — no row data moves), doc 4-grams explode
# map-side (triple zip-against-tail), scoring is n-gram-keyed count
# joins + the 1-row normalizer broadcast. Integer micro-nats, half-up
# average — the proven conventions.


def _doc_fourgrams(df: DataFrame, *, text_col: str, id_cols: list[str]) -> DataFrame:
    """(id_cols..., w1, w2, w3, w4): adjacent token 4-tuples, map-side."""
    a = tokens(F.col(text_col))
    n = F.greatest(F.size(a) - F.lit(3), F.lit(0))  # <4 tokens -> none
    pairs = F.zip_with(
        F.slice(a, 1, n),
        F.slice(a, 2, n),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    trips = F.zip_with(
        pairs,
        F.slice(a, 3, n),
        lambda p, z: F.struct(p["w1"].alias("w1"), p["w2"].alias("w2"), z.alias("w3")),
    )
    quads = F.zip_with(
        trips,
        F.slice(a, 4, n),
        lambda t, z: F.struct(
            t["w1"].alias("w1"),
            t["w2"].alias("w2"),
            t["w3"].alias("w3"),
            z.alias("w4"),
        ),
    )
    return (
        df.select(*id_cols, F.explode(quads).alias("_q"))
        .select(
            *id_cols,
            F.col("_q.w1").alias("w1"),
            F.col("_q.w2").alias("w2"),
            F.col("_q.w3").alias("w3"),
            F.col("_q.w4").alias("w4"),
        )
        .filter(
            (F.col("w1") != "")
            & (F.col("w2") != "")
            & (F.col("w3") != "")
            & (F.col("w4") != "")
        )
    )


def fourgram_lm(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(w1, w2, w3, w4) -> c1234 over the LM corpus. One counts-only
    shuffle."""
    return (
        _doc_fourgrams(df, text_col=text_col, id_cols=[])
        .groupBy("w1", "w2", "w3", "w4")
        .agg(F.count(F.lit(1)).cast("long").alias("c1234"))
    )


def doc_surprisal_backoff_fourgram(
    df: DataFrame,
    lm_corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
) -> DataFrame:
    """Score every document of ``df`` under a stupid-backoff 4-GRAM LM
    trained on ``lm_corpus``: (doc_id, n_fourgrams, avg_surprisal, ppl
    [, keep]). Documents with <4 tokens are emitted with n_fourgrams=0,
    null scores and keep=false — the full-input filter surface."""
    uni = unigram_lm(lm_corpus, text_col=text_col)
    big = bigram_lm(lm_corpus, text_col=text_col)
    tri = trigram_lm(lm_corpus, text_col=text_col)
    quad = fourgram_lm(lm_corpus, text_col=text_col)
    norm = lm_normalizer(uni)
    toks = _doc_fourgrams(df, text_col=text_col, id_cols=[id_col])
    t123 = tri.select("w1", "w2", "w3", F.col("c123"))
    t234 = tri.select(
        F.col("w1").alias("w2"),
        F.col("w2").alias("w3"),
        F.col("w3").alias("w4"),
        F.col("c123").alias("c234"),
    )
    b23 = big.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("c12").alias("c23")
    )
    b34 = big.select(
        F.col("w1").alias("w3"), F.col("w2").alias("w4"), F.col("c12").alias("c34")
    )
    u3 = uni.select(F.col("token").alias("w3"), F.col("cnt").alias("c3"))
    u4 = uni.select(F.col("token").alias("w4"), F.col("cnt").alias("c4"))
    quad_seen = (
        F.log(F.col("c123").cast("double")) - F.log(F.col("c1234").cast("double"))
    ) * F.lit(1000000.0)
    tri_back = (
        F.log(F.lit(2.5))
        + F.log(F.col("c23").cast("double"))
        - F.log(F.col("c234").cast("double"))
    ) * F.lit(1000000.0)
    big_back = (
        F.lit(2.0) * F.log(F.lit(2.5))
        + F.log(F.col("c3").cast("double"))
        - F.log(F.col("c34").cast("double"))
    ) * F.lit(1000000.0)
    uni_back = (
        F.lit(3.0) * F.log(F.lit(2.5))
        + F.log((F.col("n_total") + F.col("vocab") + F.lit(1)).cast("double"))
        - F.log((F.coalesce(F.col("c4"), F.lit(0)) + F.lit(1)).cast("double"))
    ) * F.lit(1000000.0)
    scored = (
        toks.join(quad, ["w1", "w2", "w3", "w4"], "left")
        .join(t123, ["w1", "w2", "w3"], "left")
        .join(t234, ["w2", "w3", "w4"], "left")
        .join(b23, ["w2", "w3"], "left")
        .join(b34, ["w3", "w4"], "left")
        .join(u3, "w3", "left")
        .join(u4, "w4", "left")
        .crossJoin(F.broadcast(norm))
        .select(
            id_col,
            F.round(
                F.when(F.col("c1234").isNotNull(), quad_seen)
                .when(F.col("c234").isNotNull(), tri_back)
                .when(F.col("c34").isNotNull(), big_back)
                .otherwise(uni_back),
                0,
            )
            .cast("long")
            .alias("sup_micro"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_fourgrams"),
        F.sum("sup_micro").cast("long").alias("sum_micro"),
    )
    avg_micro = F.expr(
        "CAST((2 * sum_micro + n_fourgrams) DIV (2 * n_fourgrams) AS BIGINT)"
    )
    avg = avg_micro.cast("double") / F.lit(1000000.0)
    scored_docs = agg.select(
        id_col,
        "n_fourgrams",
        F.round(avg, 6).alias("avg_surprisal"),
        F.round(F.exp(F.round(avg, 6)), 4).alias("ppl"),
    )
    base = df.select(id_col).distinct()
    out = base.join(scored_docs, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_fourgrams"), F.lit(0)).cast("long").alias("n_fourgrams"),
        "avg_surprisal",
        "ppl",
    )
    if max_ppl is not None:
        out = out.withColumn(
            "keep", F.coalesce(F.col("ppl") <= F.lit(float(max_ppl)), F.lit(False))
        )
    return out


def doc_surprisal_backoff_fourgram_oracle_sql(
    *,
    table_expr: str = "documents",
    lm_filter: str = "doc_id % 2 = 0",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
) -> str:
    """DuckDB twin of doc_surprisal_backoff_fourgram: identical
    tokenization, identical case order (4-gram seen → trigram backoff
    → bigram backoff → add-one unigram), identical micro-nat rounding
    and half-up integer average."""
    keep = (
        f", coalesce(ppl <= {float(max_ppl)}, false) AS keep"
        if max_ppl is not None
        else ""
    )
    return f"""
        WITH lmdocs AS MATERIALIZED (
            SELECT {id_col}, {text_col} FROM {table_expr} WHERE {lm_filter}),
        uni AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
                SELECT unnest(string_split_regex(trim({text_col}), ' +')) AS w
                FROM lmdocs
            ) WHERE w <> '' GROUP BY w),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                       CAST(count(*) AS BIGINT) AS vocab FROM uni),
        big AS MATERIALIZED (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
                SELECT z[1] AS w1, z[2] AS w2 FROM (
                    SELECT unnest(list_zip(a[1:-2], a[2:-1])) AS z FROM (
                        SELECT string_split_regex(trim({text_col}), ' +') AS a
                        FROM lmdocs))
            ) WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
        tri AS MATERIALIZED (
            SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123 FROM (
                SELECT z[1] AS w1, z[2] AS w2, z[3] AS w3 FROM (
                    SELECT unnest(list_zip(a[1:-3], a[2:-2], a[3:-1])) AS z FROM (
                        SELECT string_split_regex(trim({text_col}), ' +') AS a
                        FROM lmdocs))
            ) WHERE w1 <> '' AND w2 <> '' AND w3 <> '' GROUP BY w1, w2, w3),
        quad AS MATERIALIZED (
            SELECT w1, w2, w3, w4, CAST(count(*) AS BIGINT) AS c1234 FROM (
                SELECT z[1] AS w1, z[2] AS w2, z[3] AS w3, z[4] AS w4 FROM (
                    SELECT unnest(list_zip(a[1:-4], a[2:-3], a[3:-2], a[4:-1])) AS z
                    FROM (
                        SELECT string_split_regex(trim({text_col}), ' +') AS a
                        FROM lmdocs))
            ) WHERE w1 <> '' AND w2 <> '' AND w3 <> '' AND w4 <> ''
            GROUP BY w1, w2, w3, w4),
        db AS (
            SELECT {id_col}, z[1] AS w1, z[2] AS w2, z[3] AS w3, z[4] AS w4 FROM (
                SELECT {id_col},
                       unnest(list_zip(a[1:-4], a[2:-3], a[3:-2], a[4:-1])) AS z
                FROM (
                    SELECT {id_col}, string_split_regex(trim({text_col}), ' +') AS a
                    FROM {table_expr})
            ) WHERE z[1] <> '' AND z[2] <> '' AND z[3] <> '' AND z[4] <> ''),
        scored AS (
            SELECT {id_col},
                   CAST(round(CASE
                       WHEN q.c1234 IS NOT NULL
                       THEN (ln(CAST(t123.c123 AS DOUBLE))
                             - ln(CAST(q.c1234 AS DOUBLE))) * 1000000.0
                       WHEN t234.c234 IS NOT NULL
                       THEN (ln(2.5) + ln(CAST(b23.c23 AS DOUBLE))
                             - ln(CAST(t234.c234 AS DOUBLE))) * 1000000.0
                       WHEN b34.c34 IS NOT NULL
                       THEN (2.0 * ln(2.5) + ln(CAST(u3.c3 AS DOUBLE))
                             - ln(CAST(b34.c34 AS DOUBLE))) * 1000000.0
                       ELSE (3.0 * ln(2.5)
                             + ln(CAST(tot.n_total + tot.vocab + 1 AS DOUBLE))
                             - ln(CAST(coalesce(u4.c4, 0) + 1 AS DOUBLE)))
                            * 1000000.0
                   END) AS BIGINT) AS sup
            FROM db
            LEFT JOIN quad q USING (w1, w2, w3, w4)
            LEFT JOIN tri t123 USING (w1, w2, w3)
            LEFT JOIN (SELECT w1 AS w2, w2 AS w3, w3 AS w4, c123 AS c234
                       FROM tri) t234 USING (w2, w3, w4)
            LEFT JOIN (SELECT w1 AS w2, w2 AS w3, c12 AS c23 FROM big) b23
                   USING (w2, w3)
            LEFT JOIN (SELECT w1 AS w3, w2 AS w4, c12 AS c34 FROM big) b34
                   USING (w3, w4)
            LEFT JOIN (SELECT w AS w3, c AS c3 FROM uni) u3 USING (w3)
            LEFT JOIN (SELECT w AS w4, c AS c4 FROM uni) u4 USING (w4)
            CROSS JOIN tot),
        agg AS (
            SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_fourgrams,
                   CAST(sum(sup) AS BIGINT) AS sum_micro
            FROM scored GROUP BY {id_col}),
        avg AS (
            SELECT {id_col}, n_fourgrams,
                   CAST((2 * sum_micro + n_fourgrams) // (2 * n_fourgrams) AS BIGINT)
                       AS avg_micro
            FROM agg)
        SELECT d.{id_col},
               coalesce(n_fourgrams, 0) AS n_fourgrams,
               round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6) AS avg_surprisal,
               round(exp(round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6)), 4) AS ppl
               {keep}
        FROM (SELECT DISTINCT {id_col} FROM {table_expr}) d
        LEFT JOIN avg USING ({id_col})
    """


def doc_surprisal_kneser_ney_oracle_sql(
    *,
    table_expr: str = "documents",
    lm_filter: str = "doc_id % 2 = 0",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
) -> str:
    """DuckDB twin of doc_surprisal_kneser_ney: identical tokenization,
    identical integer num/den construction (so ln sees the same
    integer-valued doubles), identical micro-nat rounding and half-up
    integer average."""
    keep = (
        f", coalesce(ppl <= {float(max_ppl)}, false) AS keep"
        if max_ppl is not None
        else ""
    )
    return f"""
        WITH lmdocs AS MATERIALIZED (
            SELECT {id_col}, {text_col} FROM {table_expr} WHERE {lm_filter}),
        uni AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
                SELECT unnest(string_split_regex(trim({text_col}), ' +')) AS w
                FROM lmdocs
            ) WHERE w <> '' GROUP BY w),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM uni),
        big AS MATERIALIZED (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
                SELECT z[1] AS w1, z[2] AS w2 FROM (
                    SELECT unnest(list_zip(a[1:-2], a[2:-1])) AS z FROM (
                        SELECT string_split_regex(trim({text_col}), ' +') AS a
                        FROM lmdocs))
            ) WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
        ctx AS MATERIALIZED (
            SELECT w1, CAST(sum(c12) AS BIGINT) AS ctx1,
                   CAST(count(*) AS BIGINT) AS n1p1
            FROM big GROUP BY w1),
        cont AS MATERIALIZED (
            SELECT w2, CAST(count(*) AS BIGINT) AS n1p2 FROM big GROUP BY w2),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n1pp FROM big),
        db AS (
            SELECT {id_col}, z[1] AS w1, z[2] AS w2 FROM (
                SELECT {id_col}, unnest(list_zip(a[1:-2], a[2:-1])) AS z FROM (
                    SELECT {id_col}, string_split_regex(trim({text_col}), ' +') AS a
                    FROM {table_expr})
            ) WHERE z[1] <> '' AND z[2] <> ''),
        scored AS (
            SELECT {id_col},
                   CAST(round(CASE WHEN x.ctx1 IS NOT NULL
                       THEN (ln(CAST(4 * x.ctx1 * (nn.n1pp + tot.vocab + 1)
                                     AS DOUBLE))
                             - ln(CAST(greatest(4 * coalesce(b.c12, 0) - 3, 0)
                                           * (nn.n1pp + tot.vocab + 1)
                                       + 3 * x.n1p1 * (coalesce(k.n1p2, 0) + 1)
                                       AS DOUBLE))) * 1000000.0
                       ELSE (ln(CAST(nn.n1pp + tot.vocab + 1 AS DOUBLE))
                             - ln(CAST(coalesce(k.n1p2, 0) + 1 AS DOUBLE)))
                            * 1000000.0
                   END) AS BIGINT) AS sup
            FROM db
            LEFT JOIN big b USING (w1, w2)
            LEFT JOIN ctx x USING (w1)
            LEFT JOIN cont k USING (w2)
            CROSS JOIN tot CROSS JOIN nn),
        agg AS (
            SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(sup) AS BIGINT) AS sum_micro
            FROM scored GROUP BY {id_col}),
        avg AS (
            SELECT {id_col}, n_bigrams,
                   CAST((2 * sum_micro + n_bigrams) // (2 * n_bigrams) AS BIGINT)
                       AS avg_micro
            FROM agg)
        SELECT d.{id_col},
               coalesce(n_bigrams, 0) AS n_bigrams,
               round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6) AS avg_surprisal,
               round(exp(round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6)), 4) AS ppl
               {keep}
        FROM (SELECT DISTINCT {id_col} FROM {table_expr}) d
        LEFT JOIN avg USING ({id_col})
    """


def perplexity_bins_oracle_sql(
    *,
    table_expr: str = "documents",
    lm_filter: str = "doc_id % 2 = 0",
    n_bins: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin: the unigram scorer's oracle conventions + the same
    tie-broken NTILE."""
    return f"""
        WITH lmdocs AS MATERIALIZED (
            SELECT {id_col}, {text_col} FROM {table_expr} WHERE {lm_filter}),
        uni AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
                SELECT unnest(string_split_regex(trim({text_col}), ' +')) AS w
                FROM lmdocs
            ) WHERE w <> '' GROUP BY w),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                       CAST(count(*) AS BIGINT) AS vocab FROM uni),
        dt AS (
            SELECT {id_col}, w FROM (
                SELECT {id_col},
                       unnest(string_split_regex(trim({text_col}), ' +')) AS w
                FROM {table_expr}
            ) WHERE w <> ''),
        scored AS (
            SELECT {id_col},
                   CAST(round((ln(CAST(tot.n_total + tot.vocab + 1 AS DOUBLE))
                               - ln(CAST(coalesce(u.c, 0) + 1 AS DOUBLE)))
                              * 1000000.0) AS BIGINT) AS sup
            FROM dt LEFT JOIN uni u USING (w) CROSS JOIN tot),
        agg AS (
            SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(sup) AS BIGINT) AS sum_micro
            FROM scored GROUP BY {id_col}),
        avg AS (
            SELECT {id_col}, n_tokens,
                   CAST((2 * sum_micro + n_tokens) // (2 * n_tokens) AS BIGINT)
                       AS avg_micro
            FROM agg),
        ppl AS (
            SELECT {id_col}, n_tokens,
                   round(exp(round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6)), 4)
                       AS ppl
            FROM avg)
        SELECT {id_col}, n_tokens, ppl,
               CAST(ntile({n_bins}) OVER (ORDER BY ppl ASC, {id_col}) AS BIGINT)
                   AS bin
        FROM ppl
    """


# ------------------------------------ 5-gram modified Kneser-Ney (KenLM)
#
# The full production-CCNet configuration (VERDICT r12 #2, completing
# the KenLM parity arc): order-5 INTERPOLATED MODIFIED Kneser-Ney —
# Chen & Goodman 1999's estimator, the one KenLM (Heafield 2011)
# implements. Reference scope note: the reference engine has no LM at
# all (docs/src/guarantees.md:380 disclaims aggregation/windowing);
# this is beyond-reference capability for LLM-training-data curation.
#
# Model. Highest order uses raw 5-gram counts; every lower order uses
# CONTINUATION counts a_k(u) = N1+(·u) (distinct predecessors), per KN.
# Each order k has three discounts from its table's counts-of-counts
# (n_j = #entries with count j):
#     Y = n1/(n1+2*n2),  D1 = 1-2*Y*n2/n1,  D2 = 2-3*Y*n3/n2,
#     D3+ = 3-4*Y*n4/n3        (clamped at 0; documented fallbacks
#                               0.5/1.0/1.5 when a class is empty)
# and interpolates: with t_k(ctx) = total count of the context and
# N1/N2/N3+(ctx·) the per-context count-class sizes,
#     p_k = max(c_k - D(c_k), 0)/t_k + gamma_k(ctx) * p_{k-1}
#     gamma_k = (D1*N1 + D2*N2 + D3+*N3+) / t_k
# an UNSEEN context backs off entirely (p_k = p_{k-1}); the base is
# the uniform 1/(V+1) (V = unigram vocab, +1 OOV mass), so every
# score is finite.
#
# Cross-engine determinism. Unlike the bigram KN (rational D=3/4 →
# exact integer num/den), data-derived discounts make an integer
# common denominator explode across five interpolation levels — so
# this operator relies on a different exactness argument: every
# arithmetic step is IEEE-754 +,-,*,/ (each EXACTLY rounded, hence
# bit-identical across engines given the same expression tree) over
# doubles cast from exact integers (counts < 2^53), with a SINGLE
# ln() at the end. The Spark and DuckDB expressions are structured
# token-for-token identically (same parenthesization, same CASE
# order), so the only cross-engine freedom is the final ln's last
# ulp — absorbed by micro-nat rounding except within ~1e-10 of a
# rounding midpoint, the same risk class the stupid-backoff family
# (two lns per score) has proven at sf1.
#
# Scale shape (100 TB): FIVE counts-only corpus shuffles (the raw
# 1..5-gram tables — no row data moves), four suffix re-aggregations
# of vocab-sized count tables (the continuation counts), five
# context-stat re-aggs, five 1-row counts-of-counts aggregates, then
# scoring = map-side 5-gram explode + nine n-gram-keyed count joins
# (broadcast while they fit, shuffle-join beyond) + ONE 1-row
# broadcast of the global/discount row. Zero Python.


def _doc_fivegrams(df: DataFrame, *, text_col: str, id_cols: list[str]) -> DataFrame:
    """(id_cols..., w1..w5): adjacent token 5-tuples, map-side."""
    a = tokens(F.col(text_col))
    n = F.greatest(F.size(a) - F.lit(4), F.lit(0))  # <5 tokens -> none
    pairs = F.zip_with(
        F.slice(a, 1, n),
        F.slice(a, 2, n),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    trips = F.zip_with(
        pairs,
        F.slice(a, 3, n),
        lambda p, z: F.struct(p["w1"].alias("w1"), p["w2"].alias("w2"), z.alias("w3")),
    )
    quads = F.zip_with(
        trips,
        F.slice(a, 4, n),
        lambda t, z: F.struct(
            t["w1"].alias("w1"), t["w2"].alias("w2"), t["w3"].alias("w3"),
            z.alias("w4"),
        ),
    )
    fives = F.zip_with(
        quads,
        F.slice(a, 5, n),
        lambda q, z: F.struct(
            q["w1"].alias("w1"), q["w2"].alias("w2"), q["w3"].alias("w3"),
            q["w4"].alias("w4"), z.alias("w5"),
        ),
    )
    return (
        df.select(*id_cols, F.explode(fives).alias("_f"))
        .select(
            *id_cols,
            F.col("_f.w1").alias("w1"),
            F.col("_f.w2").alias("w2"),
            F.col("_f.w3").alias("w3"),
            F.col("_f.w4").alias("w4"),
            F.col("_f.w5").alias("w5"),
        )
        .filter(
            (F.col("w1") != "")
            & (F.col("w2") != "")
            & (F.col("w3") != "")
            & (F.col("w4") != "")
            & (F.col("w5") != "")
        )
    )


def fivegram_lm(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(w1..w5) -> c12345 over the LM corpus. One counts-only shuffle."""
    return (
        _doc_fivegrams(df, text_col=text_col, id_cols=[])
        .groupBy("w1", "w2", "w3", "w4", "w5")
        .agg(F.count(F.lit(1)).cast("long").alias("c12345"))
    )


def _mkn_ctx_stats(tbl: DataFrame, cnt: str, keys: list[str], k: int) -> DataFrame:
    """Per-context totals + count-class sizes for gamma: t_k, and
    N1/N2/N3+ of the count column within the context."""
    return tbl.groupBy(*keys).agg(
        F.sum(cnt).cast("long").alias(f"t{k}"),
        F.sum((F.col(cnt) == 1).cast("long")).cast("long").alias(f"h1_{k}"),
        F.sum((F.col(cnt) == 2).cast("long")).cast("long").alias(f"h2_{k}"),
        F.sum((F.col(cnt) >= 3).cast("long")).cast("long").alias(f"h3_{k}"),
    )


def _mkn_count_classes(tbl: DataFrame, cnt: str, k: int) -> DataFrame:
    """1-row counts-of-counts (n1..n4) of one order's count table —
    the inputs to the Chen & Goodman discount formulas."""
    return tbl.agg(
        *[
            F.sum((F.col(cnt) == j).cast("long")).cast("long").alias(f"n{j}_{k}")
            for j in (1, 2, 3, 4)
        ]
    )


def _mkn_discount_cols(k: int) -> list:
    """D1/D2/D3+ column expressions for order ``k`` from its n1..n4.
    Each discount falls back to its default (0.5 / 1.0 / 1.5) when the
    Chen & Goodman formula is undefined (empty count class) OR
    non-positive (skewed counts-of-counts can push D2/D3+ below 0 —
    KenLM refuses to train on such distributions; the positive
    fallback keeps every gamma > 0, so every seen context passes
    interpolation mass down and p is never 0). D1 = 1 - 2Y*n2/n1 =
    n1/(n1+2n2) is positive by construction, but gets the same guard
    shape for expression symmetry. Mirrored token-for-token by the
    DuckDB oracle."""
    n1, n2, n3, n4 = (F.col(f"n{j}_{k}") for j in (1, 2, 3, 4))
    y = (
        F.when(
            n1 + F.lit(2) * n2 > 0,
            n1.cast("double") / (n1 + F.lit(2) * n2).cast("double"),
        ).otherwise(F.lit(0.5))
    )
    d1raw = F.lit(1.0) - F.lit(2.0) * y * n2.cast("double") / n1.cast("double")
    d2raw = F.lit(2.0) - F.lit(3.0) * y * n3.cast("double") / n2.cast("double")
    d3raw = F.lit(3.0) - F.lit(4.0) * y * n4.cast("double") / n3.cast("double")
    d1 = F.when((n1 > 0) & (d1raw > 0), d1raw).otherwise(F.lit(0.5))
    d2 = F.when((n2 > 0) & (d2raw > 0), d2raw).otherwise(F.lit(1.0))
    d3 = F.when((n3 > 0) & (d3raw > 0), d3raw).otherwise(F.lit(1.5))
    return [d1.alias(f"d1_{k}"), d2.alias(f"d2_{k}"), d3.alias(f"d3_{k}")]


def doc_surprisal_kneser_ney5(
    df: DataFrame,
    lm_corpus: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
) -> DataFrame:
    """Score every document of ``df`` under an order-5 interpolated
    MODIFIED Kneser-Ney LM (KenLM's estimator) trained on
    ``lm_corpus``: (doc_id, n_fivegrams, avg_surprisal, ppl [, keep]).
    Documents with <5 tokens emit n_fivegrams=0, null scores and
    keep=false — the full-input filter surface.

    Plan shape (measured, r13): fully LAZY — five per-order count
    tables, each its own tokenize+explode+counts-only shuffle, all
    fused into ONE job where ReuseExchange dedupes every repeated
    reference. Two eager-cache variants were built and benchmarked
    against this (a combined all-orders count pass sliced per order,
    first reliable-pinned, then per-slice persist()ed): both LOST at
    bench SF — 6.8s lazy vs 9.7-13s cached, min-of-3 noop-sink —
    because six serialized materialization jobs plus double cache
    writes cost more than the five in-job corpus explodes they
    avoid, and the giant combined-gram expression added seconds of
    driver-side analysis per reference. At 100-TB the five explodes
    are five corpus scans; a cluster would materialize the TOKENIZED
    corpus once upstream instead of caching count tables here."""
    uni = unigram_lm(lm_corpus, text_col=text_col)
    big = bigram_lm(lm_corpus, text_col=text_col)
    tri = trigram_lm(lm_corpus, text_col=text_col)
    quad = fourgram_lm(lm_corpus, text_col=text_col)
    five = fivegram_lm(lm_corpus, text_col=text_col)
    norm = lm_normalizer(uni)
    cnt = F.count(F.lit(1)).cast("long")
    # continuation-count tables, renamed to doc 5-gram positions
    a4 = five.groupBy("w2", "w3", "w4", "w5").agg(cnt.alias("a4"))
    a3 = (
        quad.groupBy("w2", "w3", "w4")
        .agg(cnt.alias("a3"))
        .select(
            F.col("w2").alias("w3"), F.col("w3").alias("w4"),
            F.col("w4").alias("w5"), "a3",
        )
    )
    a2 = (
        tri.groupBy("w2", "w3")
        .agg(cnt.alias("a2"))
        .select(F.col("w2").alias("w4"), F.col("w3").alias("w5"), "a2")
    )
    a1 = (
        big.groupBy("w2")
        .agg(cnt.alias("a1"))
        .select(F.col("w2").alias("w5"), "a1")
    )
    ctx5 = _mkn_ctx_stats(five, "c12345", ["w1", "w2", "w3", "w4"], 5)
    ctx4 = _mkn_ctx_stats(a4, "a4", ["w2", "w3", "w4"], 4)
    ctx3 = _mkn_ctx_stats(a3, "a3", ["w3", "w4"], 3)
    ctx2 = _mkn_ctx_stats(a2, "a2", ["w4"], 2)
    g1 = a1.agg(
        F.sum("a1").cast("long").alias("t1g"),
        F.sum((F.col("a1") == 1).cast("long")).cast("long").alias("h1_1"),
        F.sum((F.col("a1") == 2).cast("long")).cast("long").alias("h2_1"),
        F.sum((F.col("a1") >= 3).cast("long")).cast("long").alias("h3_1"),
    )
    glob = (
        g1.crossJoin(_mkn_count_classes(five, "c12345", 5))
        .crossJoin(_mkn_count_classes(a4, "a4", 4))
        .crossJoin(_mkn_count_classes(a3, "a3", 3))
        .crossJoin(_mkn_count_classes(a2, "a2", 2))
        .crossJoin(_mkn_count_classes(a1, "a1", 1))
        .crossJoin(norm.select("vocab"))
    )
    glob = glob.select(
        "*", *[c for k in (1, 2, 3, 4, 5) for c in _mkn_discount_cols(k)]
    )

    toks = _doc_fivegrams(df, text_col=text_col, id_cols=[id_col])
    j = (
        toks.join(five, ["w1", "w2", "w3", "w4", "w5"], "left")
        .join(ctx5, ["w1", "w2", "w3", "w4"], "left")
        .join(a4, ["w2", "w3", "w4", "w5"], "left")
        .join(ctx4, ["w2", "w3", "w4"], "left")
        .join(a3, ["w3", "w4", "w5"], "left")
        .join(ctx3, ["w3", "w4"], "left")
        .join(a2, ["w4", "w5"], "left")
        .join(ctx2, ["w4"], "left")
        .join(a1, ["w5"], "left")
        .crossJoin(F.broadcast(glob))
    )

    def dcase(c, k):
        return (
            F.when(c.isNull(), F.lit(0.0))
            .when(c == 1, F.col(f"d1_{k}"))
            .when(c == 2, F.col(f"d2_{k}"))
            .otherwise(F.col(f"d3_{k}"))
        )

    def term(c, t, k):
        return (
            F.greatest(
                F.coalesce(c, F.lit(0)).cast("double") - dcase(c, k), F.lit(0.0)
            )
            / t.cast("double")
        )

    def gam(t, k):
        return (
            F.col(f"d1_{k}") * F.col(f"h1_{k}").cast("double")
            + F.col(f"d2_{k}") * F.col(f"h2_{k}").cast("double")
            + F.col(f"d3_{k}") * F.col(f"h3_{k}").cast("double")
        ) / t.cast("double")

    unif = F.lit(1.0) / (F.col("vocab") + F.lit(1)).cast("double")
    p1 = F.when(
        F.col("t1g") > 0,
        term(F.col("a1"), F.col("t1g"), 1) + gam(F.col("t1g"), 1) * unif,
    ).otherwise(unif)
    p2 = F.when(F.col("t2").isNull(), p1).otherwise(
        term(F.col("a2"), F.col("t2"), 2) + gam(F.col("t2"), 2) * p1
    )
    p3 = F.when(F.col("t3").isNull(), p2).otherwise(
        term(F.col("a3"), F.col("t3"), 3) + gam(F.col("t3"), 3) * p2
    )
    p4 = F.when(F.col("t4").isNull(), p3).otherwise(
        term(F.col("a4"), F.col("t4"), 4) + gam(F.col("t4"), 4) * p3
    )
    p5 = F.when(F.col("t5").isNull(), p4).otherwise(
        term(F.col("c12345"), F.col("t5"), 5) + gam(F.col("t5"), 5) * p4
    )
    scored = j.select(
        id_col,
        F.round((-F.log(p5)) * F.lit(1000000.0), 0).cast("long").alias("sup_micro"),
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_fivegrams"),
        F.sum("sup_micro").cast("long").alias("sum_micro"),
    )
    avg_micro = F.expr(
        "CAST((2 * sum_micro + n_fivegrams) DIV (2 * n_fivegrams) AS BIGINT)"
    )
    avg = avg_micro.cast("double") / F.lit(1000000.0)
    scored_docs = agg.select(
        id_col,
        "n_fivegrams",
        F.round(avg, 6).alias("avg_surprisal"),
        F.round(F.exp(F.round(avg, 6)), 4).alias("ppl"),
    )
    base = df.select(id_col).distinct()
    out = base.join(scored_docs, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_fivegrams"), F.lit(0)).cast("long").alias("n_fivegrams"),
        "avg_surprisal",
        "ppl",
    )
    if max_ppl is not None:
        out = out.withColumn(
            "keep", F.coalesce(F.col("ppl") <= F.lit(float(max_ppl)), F.lit(False))
        )
    return out


def doc_surprisal_kneser_ney5_oracle_sql(
    *,
    table_expr: str = "documents",
    lm_filter: str = "doc_id % 2 = 0",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_ppl: float | None = None,
) -> str:
    """DuckDB twin of doc_surprisal_kneser_ney5: identical tokenization
    and token-for-token identical arithmetic (same casts, same CASE
    order, same parenthesization — every +,-,*,/ is IEEE exactly
    rounded so the doubles match bit-for-bit; the single final ln's
    cross-engine ulp is absorbed by micro-nat rounding). The p-chain is
    computed through chained selects, which is value-identical to the
    Spark side's inlined expression tree."""
    keep = (
        f", coalesce(ppl <= {float(max_ppl)}, false) AS keep"
        if max_ppl is not None
        else ""
    )

    def dcase(c, k):
        return (
            f"CASE WHEN {c} IS NULL THEN 0.0 WHEN {c} = 1 THEN d1_{k}"
            f" WHEN {c} = 2 THEN d2_{k} ELSE d3_{k} END"
        )

    def term(c, t, k):
        return (
            f"greatest(CAST(coalesce({c}, 0) AS DOUBLE) - ({dcase(c, k)}), 0.0)"
            f" / CAST({t} AS DOUBLE)"
        )

    def gam(t, k):
        return (
            f"(d1_{k} * CAST(h1_{k} AS DOUBLE) + d2_{k} * CAST(h2_{k} AS DOUBLE)"
            f" + d3_{k} * CAST(h3_{k} AS DOUBLE)) / CAST({t} AS DOUBLE)"
        )

    def ctx_stats(cnt, keys, src, k):
        return (
            f"SELECT {keys}, CAST(sum({cnt}) AS BIGINT) AS t{k},"
            f" CAST(sum(CASE WHEN {cnt} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1_{k},"
            f" CAST(sum(CASE WHEN {cnt} = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2_{k},"
            f" CAST(sum(CASE WHEN {cnt} >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3_{k}"
            f" FROM {src} GROUP BY {keys}"
        )

    def count_classes(cnt, src, k):
        cols = ", ".join(
            f"CAST(sum(CASE WHEN {cnt} = {j} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n{j}_{k}"
            for j in (1, 2, 3, 4)
        )
        return f"SELECT {cols} FROM {src}"

    y_cols = ", ".join(
        f"CASE WHEN n1_{k} + 2 * n2_{k} > 0 THEN CAST(n1_{k} AS DOUBLE)"
        f" / CAST(n1_{k} + 2 * n2_{k} AS DOUBLE) ELSE 0.5 END AS y_{k}"
        for k in (1, 2, 3, 4, 5)
    )
    def draw(k, j, mult, nnum, nden):
        return (
            f"({float(j)} - {float(mult)} * y_{k}"
            f" * CAST({nnum} AS DOUBLE) / CAST({nden} AS DOUBLE))"
        )

    d_cols = ", ".join(
        f"CASE WHEN n1_{k} > 0 AND {draw(k, 1, 2, f'n2_{k}', f'n1_{k}')} > 0"
        f" THEN {draw(k, 1, 2, f'n2_{k}', f'n1_{k}')} ELSE 0.5 END AS d1_{k},"
        f" CASE WHEN n2_{k} > 0 AND {draw(k, 2, 3, f'n3_{k}', f'n2_{k}')} > 0"
        f" THEN {draw(k, 2, 3, f'n3_{k}', f'n2_{k}')} ELSE 1.0 END AS d2_{k},"
        f" CASE WHEN n3_{k} > 0 AND {draw(k, 3, 4, f'n4_{k}', f'n3_{k}')} > 0"
        f" THEN {draw(k, 3, 4, f'n4_{k}', f'n3_{k}')} ELSE 1.5 END AS d3_{k}"
        for k in (1, 2, 3, 4, 5)
    )
    unif = "1.0 / CAST(vocab + 1 AS DOUBLE)"
    return f"""
        WITH lmdocs AS MATERIALIZED (
            SELECT {id_col}, {text_col} FROM {table_expr} WHERE {lm_filter}),
        toks AS MATERIALIZED (
            SELECT string_split_regex(trim({text_col}), ' +') AS a FROM lmdocs),
        uni AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
                SELECT unnest(a) AS w FROM toks) WHERE w <> '' GROUP BY w),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM uni),
        big AS MATERIALIZED (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
                SELECT z[1] AS w1, z[2] AS w2 FROM (
                    SELECT unnest(list_zip(a[1:-2], a[2:-1])) AS z FROM toks)
            ) WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
        tri AS MATERIALIZED (
            SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123 FROM (
                SELECT z[1] AS w1, z[2] AS w2, z[3] AS w3 FROM (
                    SELECT unnest(list_zip(a[1:-3], a[2:-2], a[3:-1])) AS z
                    FROM toks)
            ) WHERE w1 <> '' AND w2 <> '' AND w3 <> '' GROUP BY w1, w2, w3),
        quad AS MATERIALIZED (
            SELECT w1, w2, w3, w4, CAST(count(*) AS BIGINT) AS c1234 FROM (
                SELECT z[1] AS w1, z[2] AS w2, z[3] AS w3, z[4] AS w4 FROM (
                    SELECT unnest(list_zip(a[1:-4], a[2:-3], a[3:-2], a[4:-1])) AS z
                    FROM toks)
            ) WHERE w1 <> '' AND w2 <> '' AND w3 <> '' AND w4 <> ''
            GROUP BY w1, w2, w3, w4),
        five AS MATERIALIZED (
            SELECT w1, w2, w3, w4, w5, CAST(count(*) AS BIGINT) AS c12345 FROM (
                SELECT z[1] AS w1, z[2] AS w2, z[3] AS w3, z[4] AS w4, z[5] AS w5
                FROM (
                    SELECT unnest(list_zip(a[1:-5], a[2:-4], a[3:-3], a[4:-2],
                                           a[5:-1])) AS z
                    FROM toks)
            ) WHERE w1 <> '' AND w2 <> '' AND w3 <> '' AND w4 <> '' AND w5 <> ''
            GROUP BY w1, w2, w3, w4, w5),
        a4 AS MATERIALIZED (
            SELECT w2, w3, w4, w5, CAST(count(*) AS BIGINT) AS a4
            FROM five GROUP BY w2, w3, w4, w5),
        a3 AS MATERIALIZED (
            SELECT w2 AS w3, w3 AS w4, w4 AS w5, a3 FROM (
                SELECT w2, w3, w4, CAST(count(*) AS BIGINT) AS a3
                FROM quad GROUP BY w2, w3, w4)),
        a2 AS MATERIALIZED (
            SELECT w2 AS w4, w3 AS w5, a2 FROM (
                SELECT w2, w3, CAST(count(*) AS BIGINT) AS a2
                FROM tri GROUP BY w2, w3)),
        a1 AS MATERIALIZED (
            SELECT w2 AS w5, a1 FROM (
                SELECT w2, CAST(count(*) AS BIGINT) AS a1 FROM big GROUP BY w2)),
        ctx5 AS MATERIALIZED ({ctx_stats("c12345", "w1, w2, w3, w4", "five", 5)}),
        ctx4 AS MATERIALIZED ({ctx_stats("a4", "w2, w3, w4", "a4", 4)}),
        ctx3 AS MATERIALIZED ({ctx_stats("a3", "w3, w4", "a3", 3)}),
        ctx2 AS MATERIALIZED ({ctx_stats("a2", "w4", "a2", 2)}),
        g1 AS (
            SELECT CAST(sum(a1) AS BIGINT) AS t1g,
                   CAST(sum(CASE WHEN a1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1_1,
                   CAST(sum(CASE WHEN a1 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2_1,
                   CAST(sum(CASE WHEN a1 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3_1
            FROM a1),
        cc5 AS ({count_classes("c12345", "five", 5)}),
        cc4 AS ({count_classes("a4", "a4", 4)}),
        cc3 AS ({count_classes("a3", "a3", 3)}),
        cc2 AS ({count_classes("a2", "a2", 2)}),
        cc1 AS ({count_classes("a1", "a1", 1)}),
        disc0 AS (SELECT *, {y_cols} FROM cc5, cc4, cc3, cc2, cc1),
        disc AS (SELECT *, {d_cols} FROM disc0),
        db AS (
            SELECT {id_col}, z[1] AS w1, z[2] AS w2, z[3] AS w3, z[4] AS w4,
                   z[5] AS w5 FROM (
                SELECT {id_col},
                       unnest(list_zip(a[1:-5], a[2:-4], a[3:-3], a[4:-2],
                                       a[5:-1])) AS z
                FROM (
                    SELECT {id_col}, string_split_regex(trim({text_col}), ' +') AS a
                    FROM {table_expr})
            ) WHERE z[1] <> '' AND z[2] <> '' AND z[3] <> '' AND z[4] <> ''
              AND z[5] <> ''),
        joined AS (
            SELECT * FROM db
            LEFT JOIN five USING (w1, w2, w3, w4, w5)
            LEFT JOIN ctx5 USING (w1, w2, w3, w4)
            LEFT JOIN a4 USING (w2, w3, w4, w5)
            LEFT JOIN ctx4 USING (w2, w3, w4)
            LEFT JOIN a3 USING (w3, w4, w5)
            LEFT JOIN ctx3 USING (w3, w4)
            LEFT JOIN a2 USING (w4, w5)
            LEFT JOIN ctx2 USING (w4)
            LEFT JOIN a1 USING (w5)
            CROSS JOIN g1 CROSS JOIN disc CROSS JOIN tot),
        s1 AS (SELECT *, CASE WHEN t1g > 0
                   THEN {term("a1", "t1g", 1)} + {gam("t1g", 1)} * ({unif})
                   ELSE {unif} END AS p1
               FROM joined),
        s2 AS (SELECT *, CASE WHEN t2 IS NULL THEN p1
                   ELSE {term("a2", "t2", 2)} + {gam("t2", 2)} * p1 END AS p2
               FROM s1),
        s3 AS (SELECT *, CASE WHEN t3 IS NULL THEN p2
                   ELSE {term("a3", "t3", 3)} + {gam("t3", 3)} * p2 END AS p3
               FROM s2),
        s4 AS (SELECT *, CASE WHEN t4 IS NULL THEN p3
                   ELSE {term("a4", "t4", 4)} + {gam("t4", 4)} * p3 END AS p4
               FROM s3),
        s5 AS (SELECT *, CASE WHEN t5 IS NULL THEN p4
                   ELSE {term("c12345", "t5", 5)} + {gam("t5", 5)} * p4 END AS p5
               FROM s4),
        scored AS (
            SELECT {id_col},
                   CAST(round((- ln(p5)) * 1000000.0) AS BIGINT) AS sup
            FROM s5),
        agg AS (
            SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_fivegrams,
                   CAST(sum(sup) AS BIGINT) AS sum_micro
            FROM scored GROUP BY {id_col}),
        avg AS (
            SELECT {id_col}, n_fivegrams,
                   CAST((2 * sum_micro + n_fivegrams) // (2 * n_fivegrams) AS BIGINT)
                       AS avg_micro
            FROM agg)
        SELECT d.{id_col},
               coalesce(n_fivegrams, 0) AS n_fivegrams,
               round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6) AS avg_surprisal,
               round(exp(round(CAST(avg_micro AS DOUBLE) / 1000000.0, 6)), 4) AS ppl
               {keep}
        FROM (SELECT DISTINCT {id_col} FROM {table_expr}) d
        LEFT JOIN avg USING ({id_col})
    """
