"""Unigram-LM perplexity scoring + weighted priority sampling
(operators/lm.py): hand-computed surprisal math, OOV smoothing,
reshard-invariance of the deterministic sample, and the 100-TB plan
shapes (no Python in the scoring path, TakeOrderedAndProject — never a
global sort — for the top-k)."""

import math

import pytest
from pyspark.sql import functions as F

from deltaforge_spark.operators.lm import (
    doc_surprisal,
    lm_normalizer,
    perplexity_filter,
    unigram_lm,
    weighted_sample,
)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "a a b"),
            (2, "a b c"),
            (3, "c c c c"),
        ],
        ["doc_id", "text"],
    )


class TestUnigramLm:
    def test_counts(self, docs):
        lm = {r["token"]: r["cnt"] for r in unigram_lm(docs).collect()}
        assert lm == {"a": 3, "b": 2, "c": 5}

    def test_normalizer(self, docs):
        n = lm_normalizer(unigram_lm(docs)).collect()[0]
        assert (n["n_total"], n["vocab"]) == (10, 3)

    def test_empty_tokens_dropped(self, spark):
        df = spark.createDataFrame([(1, "  a   b  ")], ["doc_id", "text"])
        lm = {r["token"]: r["cnt"] for r in unigram_lm(df).collect()}
        assert lm == {"a": 1, "b": 1}


class TestDocSurprisal:
    def _expected_micro(self, cnt, n_total=10, vocab=3):
        return round((math.log(n_total + vocab + 1) - math.log(cnt + 1)) * 1e6)

    def test_hand_computed(self, docs):
        lm = unigram_lm(docs)
        out = {r["doc_id"]: r for r in doc_surprisal(docs, lm).collect()}
        # doc 1: tokens a a b → micro surprisals 2*(ln14-ln4) + (ln14-ln3)
        micro = 2 * self._expected_micro(3) + self._expected_micro(2)
        assert out[1]["n_tokens"] == 3
        assert out[1]["avg_surprisal"] == round(micro / 3 / 1e6, 6)
        assert out[1]["ppl"] == round(math.exp(out[1]["avg_surprisal"]), 4)

    def test_oov_token_gets_smoothed_mass(self, spark, docs):
        lm = unigram_lm(docs)  # vocab {a,b,c}
        other = spark.createDataFrame([(9, "z z")], ["doc_id", "text"])
        row = doc_surprisal(other, lm).collect()[0]
        # c=0 → surprisal ln(14) - ln(1) = ln 14 per token
        assert row["avg_surprisal"] == round(round(math.log(14) * 1e6) / 1e6, 6)

    def test_rare_tokens_score_higher(self, docs):
        lm = unigram_lm(docs)
        out = {r["doc_id"]: r["avg_surprisal"] for r in doc_surprisal(docs, lm).collect()}
        # doc 3 is all 'c' (the most frequent token) → lowest surprisal
        assert out[3] < out[1] and out[3] < out[2]

    def test_filter_flag(self, docs):
        lm = unigram_lm(docs)
        mid = sorted(
            r["ppl"] for r in doc_surprisal(docs, lm).collect()
        )[1]
        out = {r["doc_id"]: r["keep"]
               for r in perplexity_filter(docs, lm, max_ppl=mid).collect()}
        assert sum(out.values()) == 2  # two docs at/below the median ppl

    def test_no_python_in_plan(self, docs):
        lm = unigram_lm(docs)
        plan = doc_surprisal(docs, lm)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestWeightedSample:
    def _docs(self, spark, n=200):
        rows = [(i, (i % 7) + 1) for i in range(n)]
        return spark.createDataFrame(rows, ["doc_id", "w"])

    def test_k_rows_deterministic(self, spark):
        df = self._docs(spark)
        a = sorted(r["doc_id"] for r in weighted_sample(df, key_col="doc_id", weight_col="w", k=20).collect())
        b = sorted(r["doc_id"] for r in weighted_sample(df, key_col="doc_id", weight_col="w", k=20).collect())
        assert len(a) == 20 and a == b

    def test_reshard_invariant(self, spark):
        df = self._docs(spark)
        a = sorted(r["doc_id"] for r in weighted_sample(df, key_col="doc_id", weight_col="w", k=20).collect())
        b = sorted(
            r["doc_id"]
            for r in weighted_sample(
                df.repartition(13, "w"), key_col="doc_id", weight_col="w", k=20
            ).collect()
        )
        assert a == b

    def test_weight_bias(self, spark):
        # weight 1000 vs weight 1: heavy rows should dominate the sample
        rows = [(i, 1000 if i < 100 else 1) for i in range(200)]
        df = spark.createDataFrame(rows, ["doc_id", "w"])
        got = [r["doc_id"] for r in weighted_sample(df, key_col="doc_id", weight_col="w", k=40).collect()]
        heavy = sum(1 for d in got if d < 100)
        assert heavy >= 35  # w ratio 1000:1 → light rows are rare draws

    def test_topk_is_take_ordered_not_global_sort(self, spark):
        df = self._docs(spark)
        plan = (
            weighted_sample(df, key_col="doc_id", weight_col="w", k=20)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan


class TestBigramBackoff:
    """doc_surprisal_backoff — stupid backoff (Brants et al. 2007):
    seen bigrams score c12/c1, unseen back off to 0.4 * p_add1(w2)."""

    def test_hand_computed_seen_and_backoff(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_backoff

        lm_corpus = spark.createDataFrame(
            [(0, "a b a b")], ["doc_id", "text"]
        )
        # LM: c(a)=2 c(b)=2, N=4 V=2; bigrams: c(a b)=2, c(b a)=1
        docs = spark.createDataFrame(
            [(1, "a b"), (2, "b q")], ["doc_id", "text"]
        )
        rows = {r["doc_id"]: r for r in doc_surprisal_backoff(docs, lm_corpus).collect()}
        # doc 1: seen bigram (a,b): sup = ln(c1=2) - ln(c12=2) = 0
        assert rows[1]["n_bigrams"] == 1
        assert rows[1]["avg_surprisal"] == 0.0
        assert rows[1]["ppl"] == 1.0
        # doc 2: (b,q) unseen, q OOV: sup = ln(N+V+1=7) - ln(0+1) + ln(2.5)
        expect = round(
            round(math.log(7.0) - math.log(1.0) + math.log(2.5), 6), 6
        )
        assert abs(rows[2]["avg_surprisal"] - expect) < 2e-6
        assert rows[2]["ppl"] == round(
            math.exp(rows[2]["avg_surprisal"]), 4
        )

    def test_short_docs_emitted_with_keep_false(self, spark):
        # ADVICE r10: <2-token docs must still appear on the filter
        # surface (n_bigrams=0, null score, keep=false) so a max_ppl
        # gate covers the FULL input, like perplexity_filter does.
        from deltaforge_spark.operators.lm import doc_surprisal_backoff

        lm_corpus = spark.createDataFrame([(0, "x y")], ["doc_id", "text"])
        docs = spark.createDataFrame(
            [(1, "solo"), (2, "x y"), (3, "")], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: r
            for r in doc_surprisal_backoff(docs, lm_corpus, max_ppl=1.5).collect()
        }
        assert set(out) == {1, 2, 3}
        assert out[2]["keep"] is True  # seen bigram, ppl == 1.0
        for short in (1, 3):
            assert out[short]["n_bigrams"] == 0
            assert out[short]["avg_surprisal"] is None
            assert out[short]["ppl"] is None
            assert out[short]["keep"] is False

    def test_backoff_scores_higher_than_seen(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_backoff

        lm_corpus = spark.createDataFrame(
            [(0, "the cat sat the cat ran")], ["doc_id", "text"]
        )
        docs = spark.createDataFrame(
            [(1, "the cat"), (2, "cat the")], ["doc_id", "text"]
        )
        rows = {r["doc_id"]: r for r in doc_surprisal_backoff(docs, lm_corpus).collect()}
        assert rows[1]["ppl"] < rows[2]["ppl"]

    def test_no_python_in_plan(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_backoff

        lm_corpus = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
        docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        plan = doc_surprisal_backoff(docs, lm_corpus)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestPerplexityBins:
    """perplexity_bins — CCNet (Wenzek et al. 2020) head/middle/tail
    tertile assignment over the unigram scorer."""

    def test_head_is_lowest_perplexity(self, spark, docs):
        from deltaforge_spark.operators.lm import perplexity_bins, unigram_lm

        lm = unigram_lm(docs)
        out = {r["doc_id"]: r for r in perplexity_bins(docs, lm).collect()}
        assert len(out) == 3
        # doc 3 is all 'c' (most frequent token) -> lowest ppl -> head
        assert out[3]["bin"] == 1
        by_bin = sorted(out.values(), key=lambda r: r["bin"])
        ppls = [r["ppl"] for r in by_bin]
        assert ppls == sorted(ppls), "bins must be monotone in ppl"

    def test_ties_break_by_doc_id(self, spark):
        from deltaforge_spark.operators.lm import perplexity_bins, unigram_lm

        # three identical docs: identical ppl, bins 1/2/3 by doc_id
        docs = spark.createDataFrame(
            [(5, "x y"), (1, "x y"), (9, "x y")], ["doc_id", "text"]
        )
        out = {r["doc_id"]: r["bin"] for r in perplexity_bins(docs, unigram_lm(docs)).collect()}
        assert out == {1: 1, 5: 2, 9: 3}

    def test_matches_duckdb_oracle(self, spark):
        import duckdb
        import pandas as pd

        from deltaforge_spark.operators.lm import (
            perplexity_bins,
            perplexity_bins_oracle_sql,
            unigram_lm,
        )

        texts = [
            "the cat sat on the mat", "a b c d e", "the the the",
            "zz qq unknown words", "mixed the content here", "x",
            "the quick brown fox", "rare tokens appear once", "",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        lm = unigram_lm(df.filter("doc_id % 2 = 0"))
        srows = sorted(map(tuple, perplexity_bins(df, lm).collect()))
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        )
        drows = sorted(
            map(tuple, con.execute(perplexity_bins_oracle_sql()).fetchall())
        )
        assert srows == drows


class TestTrigramBackoff:
    """doc_surprisal_backoff_trigram — stupid backoff chaining
    trigram → bigram → add-one unigram (VERDICT r10 #4)."""

    def test_hand_computed_three_cases(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_backoff_trigram

        lm_corpus = spark.createDataFrame(
            [(0, "a b c a b c")], ["doc_id", "text"]
        )
        # LM: c(a)=2 c(b)=2 c(c)=2, N=6 V=3
        # trigrams: (a,b,c)x2, (b,c,a), (c,a,b); bigrams: (a,b)x2,
        # (b,c)x2, (c,a)
        docs = spark.createDataFrame(
            [
                (1, "a b c"),   # tri seen: ln(c12=2) - ln(c123=2) = 0
                (2, "c a b q"),  # (c,a,b) seen=0; (a,b,q): tri unseen,
                                 # bigram (b,q) unseen -> unigram case
                (3, "b c a"),   # tri seen (b,c,a): ln(c12=2)-ln(1)=ln 2
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in doc_surprisal_backoff_trigram(docs, lm_corpus).collect()
        }
        assert out[1]["n_trigrams"] == 1 and out[1]["avg_surprisal"] == 0.0
        assert out[1]["ppl"] == 1.0
        # doc 3: single trigram, sup = ln 2
        expect3 = round(round(math.log(2.0) * 1e6) / 1e6, 6)
        assert abs(out[3]["avg_surprisal"] - expect3) < 2e-6
        # doc 2: trigram 1 sup=0; trigram 2 falls through BOTH backoffs:
        # 2*ln2.5 + ln(N+V+1=10) - ln(c(q)+1=1)
        t2 = round((2 * math.log(2.5) + math.log(10.0) - math.log(1.0)) * 1e6)
        avg = (0 + t2 + 1) // 2  # half-up integer average of [0, t2]
        assert out[2]["n_trigrams"] == 2
        assert abs(out[2]["avg_surprisal"] - avg / 1e6) < 2e-6

    def test_bigram_backoff_case(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_backoff_trigram

        lm_corpus = spark.createDataFrame(
            [(0, "x a b y a b")], ["doc_id", "text"]
        )
        # (q,a,b): trigram unseen, bigram (a,b) seen c23=2, c(a)=2
        # -> sup = ln 2.5 + ln 2 - ln 2 = ln 2.5
        docs = spark.createDataFrame([(1, "q a b")], ["doc_id", "text"])
        row = doc_surprisal_backoff_trigram(docs, lm_corpus).collect()[0]
        # (q,a,b) has w1=q: trigram and bigram keyed on (w2,w3)=(a,b) —
        # the backoff path ignores w1 entirely (stupid backoff)
        expect = round(round(math.log(2.5) * 1e6) / 1e6, 6)
        assert row["n_trigrams"] == 1
        assert abs(row["avg_surprisal"] - expect) < 2e-6

    def test_short_docs_emitted_with_keep_false(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_backoff_trigram

        lm_corpus = spark.createDataFrame([(0, "x y z")], ["doc_id", "text"])
        docs = spark.createDataFrame(
            [(1, "xy"), (2, "x y z"), (3, "x y")], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: r
            for r in doc_surprisal_backoff_trigram(
                docs, lm_corpus, max_ppl=1.5
            ).collect()
        }
        assert set(out) == {1, 2, 3}
        assert out[2]["keep"] is True
        for short in (1, 3):
            assert out[short]["n_trigrams"] == 0
            assert out[short]["ppl"] is None
            assert out[short]["keep"] is False

    def test_matches_duckdb_oracle(self, spark):
        import duckdb
        import pandas as pd

        from deltaforge_spark.operators.lm import (
            doc_surprisal_backoff_trigram,
            doc_surprisal_backoff_trigram_oracle_sql,
        )

        texts = [
            (0, "the cat sat on the mat the cat ran"),
            (1, "a b c a b c a b"),
            (2, "the cat sat"),
            (3, "solo"),
            (4, ""),
            (5, "x y"),
            (6, "the cat sat on unknown words here"),
            (7, "zz qq pp the cat sat"),
        ]
        df = spark.createDataFrame(texts, ["doc_id", "text"])
        srows = sorted(
            map(
                tuple,
                doc_surprisal_backoff_trigram(
                    df, df.filter("doc_id % 2 = 0"), max_ppl=40.0
                ).collect(),
            )
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(
                {"doc_id": [t[0] for t in texts], "text": [t[1] for t in texts]}
            ),
        )
        drows = sorted(
            map(
                tuple,
                con.execute(
                    doc_surprisal_backoff_trigram_oracle_sql(max_ppl=40.0)
                ).fetchall(),
            )
        )
        assert srows == drows

    def test_no_python_in_plan(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_backoff_trigram

        lm_corpus = spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"])
        docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        plan = (
            doc_surprisal_backoff_trigram(docs, lm_corpus)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestFourgramBackoff:
    """doc_surprisal_backoff_fourgram — stupid backoff chaining
    4-gram → trigram → bigram → add-one unigram (VERDICT r11 #7,
    the higher-order half; one order below CCNet's 5-gram KenLM)."""

    def test_hand_computed_four_cases(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_backoff_fourgram

        lm_corpus = spark.createDataFrame(
            [(0, "a b c d a b c d")], ["doc_id", "text"]
        )
        # unigrams: a,b,c,d x2 each; N=8 V=4
        # 4-grams: (a,b,c,d)x2, (b,c,d,a), (c,d,a,b), (d,a,b,c)
        # trigrams: (a,b,c)x2, (b,c,d)x2, (c,d,a), (d,a,b)
        # bigrams: (a,b)x2, (b,c)x2, (c,d)x2, (d,a)
        docs = spark.createDataFrame(
            [
                # quad seen: sup = ln(c123(a,b,c)=2) - ln(c1234=2) = 0
                (1, "a b c d"),
                # quad (b,c,d,q) unseen; tri (c,d,q) unseen; bigram
                # (d,q) unseen -> unigram: 3ln2.5 + ln(N+V+1=13) - ln(1)
                (2, "b c d q"),
                # quad (q,a,b,c) unseen; tri (a,b,c) SEEN:
                # ln2.5 + ln(c23=c(a,b)=2) - ln(c234=c(a,b,c)=2)
                (3, "q a b c"),
                # quad (q,q,c,d) unseen; tri (q,c,d) unseen; bigram
                # (c,d) SEEN: 2ln2.5 + ln(c3=c(c)=2) - ln(c34=2)
                (4, "q q c d"),
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in doc_surprisal_backoff_fourgram(docs, lm_corpus).collect()
        }
        assert out[1]["n_fourgrams"] == 1 and out[1]["avg_surprisal"] == 0.0
        e2 = round(round((3 * math.log(2.5) + math.log(13.0)) * 1e6) / 1e6, 6)
        assert abs(out[2]["avg_surprisal"] - e2) < 2e-6
        e3 = round(round(math.log(2.5) * 1e6) / 1e6, 6)
        assert abs(out[3]["avg_surprisal"] - e3) < 2e-6
        e4 = round(round(2 * math.log(2.5) * 1e6) / 1e6, 6)
        assert abs(out[4]["avg_surprisal"] - e4) < 2e-6
        for r in out.values():
            assert r["ppl"] == round(math.exp(r["avg_surprisal"]), 4)

    def test_short_docs_emitted_with_keep_false(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_backoff_fourgram

        lm_corpus = spark.createDataFrame([(0, "w x y z")], ["doc_id", "text"])
        docs = spark.createDataFrame(
            [(1, "one two three"), (2, "w x y z"), (3, "")], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: r
            for r in doc_surprisal_backoff_fourgram(
                docs, lm_corpus, max_ppl=1.5
            ).collect()
        }
        assert set(out) == {1, 2, 3}
        assert out[2]["keep"] is True  # seen 4-gram, ppl == 1.0
        for short in (1, 3):
            assert out[short]["n_fourgrams"] == 0
            assert out[short]["avg_surprisal"] is None
            assert out[short]["ppl"] is None
            assert out[short]["keep"] is False

    def test_matches_duckdb_oracle(self, spark):
        import duckdb
        import pandas as pd

        from deltaforge_spark.operators.lm import (
            doc_surprisal_backoff_fourgram,
            doc_surprisal_backoff_fourgram_oracle_sql,
        )

        texts = [
            "the cat sat on the mat today", "a b c d e f", "the the the the",
            "zz qq unknown words here now", "mixed the content here too", "x y",
            "the quick brown fox jumps over", "rare tokens appear once only", "",
            "the cat sat on the mat again and again",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        lm_corpus = df.filter("doc_id % 2 = 0")
        srows = sorted(
            map(
                tuple,
                doc_surprisal_backoff_fourgram(df, lm_corpus, max_ppl=40.0).collect(),
            )
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        )
        drows = sorted(
            map(
                tuple,
                con.execute(
                    doc_surprisal_backoff_fourgram_oracle_sql(max_ppl=40.0)
                ).fetchall(),
            )
        )
        assert srows == drows

    def test_no_python_in_plan(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_backoff_fourgram

        lm_corpus = spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"])
        docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
        plan = (
            doc_surprisal_backoff_fourgram(docs, lm_corpus)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestKneserNey:
    """doc_surprisal_kneser_ney — interpolated Kneser-Ney (D=3/4,
    add-one-smoothed continuation): p(w2|w1) = max(c12-D,0)/ctx1 +
    D*n1p(w1.)/ctx1 * (N1+(.w2)+1)/(N1+(..)+V+1), backing off to the
    smoothed continuation alone for unseen contexts."""

    def test_hand_computed_all_three_branches(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_kneser_ney

        lm_corpus = spark.createDataFrame([(0, "a b a b")], ["doc_id", "text"])
        # bigrams: c(a,b)=2 c(b,a)=1; ctx: a->(2,1) b->(1,1);
        # cont: a->1 b->1; n1pp=2, V=2, M=5
        docs = spark.createDataFrame(
            [(1, "a b"), (2, "b q"), (3, "q a")], ["doc_id", "text"]
        )
        rows = {
            r["doc_id"]: r
            for r in doc_surprisal_kneser_ney(docs, lm_corpus).collect()
        }
        # seen bigram: num = (4*2-3)*5 + 3*1*2 = 31, den = 4*2*5 = 40
        assert abs(rows[1]["avg_surprisal"] - round(math.log(40 / 31), 6)) < 2e-6
        # seen ctx, unseen continuation: num = 0*5 + 3*1*1 = 3, den = 20
        assert abs(rows[2]["avg_surprisal"] - round(math.log(20 / 3), 6)) < 2e-6
        # unseen ctx: sup = ln(M=5) - ln(n1p2(a)+1 = 2)
        assert abs(rows[3]["avg_surprisal"] - round(math.log(5 / 2), 6)) < 2e-6
        for r in rows.values():
            assert r["ppl"] == round(math.exp(r["avg_surprisal"]), 4)

    def test_short_docs_emitted_with_keep_false(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_kneser_ney

        lm_corpus = spark.createDataFrame([(0, "x y x y")], ["doc_id", "text"])
        docs = spark.createDataFrame(
            [(1, "solo"), (2, "x y"), (3, "")], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: r
            for r in doc_surprisal_kneser_ney(docs, lm_corpus, max_ppl=3.0).collect()
        }
        assert set(out) == {1, 2, 3}
        assert out[2]["keep"] is True
        for short in (1, 3):
            assert out[short]["n_bigrams"] == 0
            assert out[short]["avg_surprisal"] is None
            assert out[short]["ppl"] is None
            assert out[short]["keep"] is False

    def test_discount_reserves_mass_for_novel_continuations(self, spark):
        """The KN property stupid backoff lacks: a w2 that continues
        MANY distinct contexts (high N1+(.w2)) scores better after an
        unseen context than one that only ever follows a single
        context, even at equal unigram frequency."""
        from deltaforge_spark.operators.lm import doc_surprisal_kneser_ney

        lm_corpus = spark.createDataFrame(
            # 'b' follows a, c, d (3 distinct contexts, 3 occurrences);
            # 'z' follows only e, 3 times (1 context, 3 occurrences)
            [(0, "a b c b d b"), (1, "e z e z e z")],
            ["doc_id", "text"],
        )
        docs = spark.createDataFrame(
            [(1, "qq b"), (2, "qq z")], ["doc_id", "text"]
        )
        rows = {
            r["doc_id"]: r["ppl"]
            for r in doc_surprisal_kneser_ney(docs, lm_corpus).collect()
        }
        assert rows[1] < rows[2]

    def test_matches_duckdb_oracle(self, spark):
        import duckdb
        import pandas as pd

        from deltaforge_spark.operators.lm import (
            doc_surprisal_kneser_ney,
            doc_surprisal_kneser_ney_oracle_sql,
        )

        texts = [
            "the cat sat on the mat", "a b c d e", "the the the",
            "zz qq unknown words", "mixed the content here", "x",
            "the quick brown fox", "rare tokens appear once", "",
            "the cat ran off the mat again",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        lm_corpus = df.filter("doc_id % 2 = 0")
        srows = sorted(
            map(tuple, doc_surprisal_kneser_ney(df, lm_corpus, max_ppl=40.0).collect())
        )
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
        )
        drows = sorted(
            map(
                tuple,
                con.execute(
                    doc_surprisal_kneser_ney_oracle_sql(max_ppl=40.0)
                ).fetchall(),
            )
        )
        assert srows == drows

    def test_no_python_in_plan(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_kneser_ney

        lm_corpus = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
        docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        plan = (
            doc_surprisal_kneser_ney(docs, lm_corpus)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestBpeTrain:
    """textanalysis.bpe_train — distributed Sennrich BPE training."""

    def test_learns_expected_merges(self, spark):
        from deltaforge_spark.operators.textanalysis import bpe_train

        # 'ab' dominates: pair (a,b) appears in every word, 5 words
        docs = spark.createDataFrame(
            [(0, "abc abd abe ab ab")], ["doc_id", "text"]
        )
        rows = bpe_train(docs, num_merges=2).collect()
        assert (rows[0]["left_sym"], rows[0]["right_sym"]) == ("a", "b")
        assert rows[0]["pair_freq"] == 5
        # merge 2: 'ab </w>' occurs twice ('ab' words); ties with
        # nothing bigger — tie-break is (cnt DESC, pair ASC)
        assert rows[1]["merge_rank"] == 2

    def test_greedy_overlap_and_weighting(self, spark):
        from deltaforge_spark.operators.textanalysis import bpe_train

        # 'aaa' x3: pair (a,a) counted at every adjacent POSITION
        # (2 per word) -> freq 6; after merging, 'aa a </w>' remains
        docs = spark.createDataFrame(
            [(0, "aaa aaa aaa")], ["doc_id", "text"]
        )
        rows = bpe_train(docs, num_merges=1).collect()
        assert (rows[0]["left_sym"], rows[0]["right_sym"], rows[0]["pair_freq"]) == (
            "a", "a", 6,
        )

    def test_canonical_merge_on_symbol_runs(self, spark):
        # ADVICE r10 (medium): the single-space literal replace
        # consumed the shared delimiter and stranded alternate
        # occurrences ('aaaaaa' under (a,a) -> 'aa a aa a'); canonical
        # Sennrich gives 'aa aa aa', so round 2 must learn ('aa','aa')
        # freq 6 — the broken form learns ('aa','a') instead.
        from deltaforge_spark.operators.textanalysis import bpe_train

        docs = spark.createDataFrame(
            [(0, "aaaaaa aaaaaa aaaaaa")], ["doc_id", "text"]
        )
        rows = bpe_train(docs, num_merges=2).collect()
        assert (rows[0]["left_sym"], rows[0]["right_sym"], rows[0]["pair_freq"]) == (
            "a", "a", 15,
        )
        assert (rows[1]["left_sym"], rows[1]["right_sym"], rows[1]["pair_freq"]) == (
            "aa", "aa", 6,
        )

    def test_matches_reference_sennrich(self, spark):
        """Differential vs a literal transcription of Sennrich et al.
        2016's learn_bpe loop (get_stats + token-space non-overlapping
        merge), on text with repeated-symbol runs — the shape the
        flat-string replace used to diverge on."""
        from collections import Counter

        from deltaforge_spark.operators.textanalysis import bpe_train

        texts = [
            "aaaaaa bbbb abab low lower aaab",
            "mississippi banana aaaaaaa abba",
        ]

        import re

        vocab = Counter()
        for t in texts:
            for w in re.findall("[a-z]+", t.lower()):
                vocab[tuple(w) + ("</w>",)] += 1

        def get_stats(v):
            pairs: Counter = Counter()
            for word, freq in v.items():
                for i in range(len(word) - 1):
                    pairs[(word[i], word[i + 1])] += freq
            return pairs

        def merge_word(word, a, b):
            out, i = [], 0
            while i < len(word):
                if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            return tuple(out)

        expected = []
        for rank in range(1, 7):
            stats = get_stats(vocab)
            if not stats:
                break
            (a, b), cnt = min(
                stats.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
            )
            expected.append((rank, a, b, cnt))
            vocab = Counter(
                {merge_word(w, a, b): f for w, f in vocab.items()}
            )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = [
            (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_freq"])
            for r in bpe_train(df, num_merges=6).collect()
        ]
        assert got == expected

    def test_early_stop_on_exhausted_vocab(self, spark):
        from deltaforge_spark.operators.textanalysis import bpe_train

        docs = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
        # each word is one char + </w>: only 2 distinct pairs exist,
        # then every word is a single symbol -> early break
        rows = bpe_train(docs, num_merges=8).collect()
        assert 0 < len(rows) < 8

    def test_chunked_pinning_is_inert(self, spark, monkeypatch):
        """r13 optimization: the trainer pins the word table only every
        _BPE_TRAIN_CHUNK rounds (rounds in between fold their pending
        replaces into the argmax plan). A chunk boundary mid-training
        must not change the learned merge sequence — train 6 merges with
        chunk=2 (3 boundary crossings) and chunk=100 (no crossing) and
        compare row-for-row."""
        from deltaforge_spark.operators import textanalysis as ta

        docs = spark.createDataFrame(
            [(0, "aaaaaa bbbb abab low lower aaab"),
             (1, "mississippi banana aaaaaaa abba")],
            ["doc_id", "text"],
        )
        monkeypatch.setattr(ta, "_BPE_TRAIN_CHUNK", 100)
        unchunked = sorted(map(tuple, ta.bpe_train(docs, num_merges=6).collect()))
        monkeypatch.setattr(ta, "_BPE_TRAIN_CHUNK", 2)
        chunked = sorted(map(tuple, ta.bpe_train(docs, num_merges=6).collect()))
        assert chunked == unchunked
        assert len(chunked) == 6

    def test_matches_duckdb_oracle(self, spark):
        import duckdb
        import pandas as pd

        from deltaforge_spark.operators.textanalysis import (
            bpe_train,
            bpe_train_oracle_sql,
        )

        texts = [
            "the quick brown fox jumps over the lazy dog",
            "low lower lowest newer newest wider widest",
            "aaa aaaa aa a overlapping pairs test aaaa",
            "punctuation, and CAPS! should clean; fine 123 mixed42words",
            "",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        srows = sorted(map(tuple, bpe_train(df, num_merges=6).collect()))
        con = duckdb.connect()
        con.register("documents", pd.DataFrame({"text": texts}))
        drows = sorted(
            map(tuple, con.execute(bpe_train_oracle_sql(num_merges=6)).fetchall())
        )
        assert srows == drows

    def test_apply_learned_table_matches_reference_tokenizer(self, spark):
        """bpe_apply_merges(learned table) must segment exactly like a
        canonical tokenizer applying the same merges in rank order —
        per-doc token counts checked against a pure-python reference."""
        from deltaforge_spark.operators.textanalysis import bpe_apply_merges, bpe_train

        import re

        texts = [
            "aaaaaa banana mississippi the the lower",
            "low lower lowest aaab abab",
            "",
            "123 !!",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        merges_df = bpe_train(df, num_merges=5)
        learned = [
            (r["left_sym"], r["right_sym"])
            for r in merges_df.orderBy("merge_rank").collect()
        ]

        def merge_word(word, a, b):
            out, i = [], 0
            while i < len(word):
                if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            return out

        def tokenize(text):
            n = 0
            for w in re.findall("[a-z]+", text.lower()):
                syms = list(w) + ["</w>"]
                for a, b in learned:
                    syms = merge_word(syms, a, b)
                n += len(syms)
            return n

        got = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_apply_merges(df, merges_df).collect()
        }
        assert got == {i: tokenize(t) for i, t in enumerate(texts)}

    def test_train_and_apply_matches_composed_path(self, spark):
        """The fused roundtrip (bpe_train_and_apply, r14: per-word
        counts ride the trainer's final segmentation instead of a
        second type-table pass) must be row-identical to the composed
        bpe_apply_merges(df, bpe_train(df)) it replaces, and must
        leave no storage behind its scope."""
        from check import storage_counts, storage_surplus

        from deltaforge_spark.operators.textanalysis import (
            bpe_apply_merges,
            bpe_train,
            bpe_train_and_apply,
        )
        from deltaforge_spark.plans.lineage import pin_scope

        texts = [
            "aaaaaa banana mississippi the the lower",
            "low lower lowest aaab abab",
            "",
            "123 !!",
            "the quick brown fox the lazy dog",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        composed = sorted(
            map(tuple, bpe_apply_merges(df, bpe_train(df, num_merges=5)).collect())
        )
        before = storage_counts(spark)
        with pin_scope():
            fused = sorted(map(tuple, bpe_train_and_apply(df, num_merges=5).collect()))
            assert storage_surplus(spark, before)[2] > 0, "training pin backs the result"
        assert fused == composed
        assert storage_surplus(spark, before) == (0, 0, 0)

    def test_apply_reproduces_training_pair_statistics(self, spark):
        """Applying the n learned merges to the training corpus must
        reproduce the trainer's internal word state: the best pair of
        the APPLIED corpus equals the (n+1)th merge bpe_train learns."""
        from pyspark.sql import functions as F

        from deltaforge_spark.operators.textanalysis import (
            _adjacent_pairs,
            bpe_apply_merges,  # noqa: F401 - composition under test
            bpe_train,
        )

        texts = ["the quick brown fox the lazy dog", "lower newest wide the end"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        n = 3
        chain = bpe_train(df, num_merges=n + 1).collect()
        merges_df = spark.createDataFrame(chain[:n])

        # re-derive the applied word table with the learned-table path
        # (the same _apply_merge scan bpe_apply_merges compiles), then
        # ask for its best pair — must equal merge n+1 of the chain
        from deltaforge_spark.operators.textanalysis import (
            _apply_merge,
            _split_symbols,
            bpe_word_table,
        )

        wt = bpe_word_table(df)
        s = F.col("s")
        for r in sorted(merges_df.collect(), key=lambda r: r["merge_rank"]):
            s = _apply_merge(s, r["left_sym"], r["right_sym"])
        applied = wt.select(s.alias("s"), "freq")
        best = (
            applied.select(
                F.explode(_adjacent_pairs(_split_symbols(F.col("s")))).alias("pair"),
                "freq",
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
            .collect()[0]
        )
        nxt = chain[n]
        assert best["pair"] == f"{nxt['left_sym']} {nxt['right_sym']}"
        assert best["cnt"] == nxt["pair_freq"]

    def test_training_loop_releases_checkpoints(self, spark):
        from deltaforge_spark.operators.textanalysis import bpe_train

        def stored(spark):
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            return {i.id() for i in infos if i.numCachedPartitions() > 0}

        before = stored(spark)
        docs = spark.createDataFrame(
            [(0, "the quick brown fox the lazy dog the end")],
            ["doc_id", "text"],
        )
        bpe_train(docs, num_merges=4).collect()
        leaked = stored(spark) - before
        assert not leaked, f"training rounds leaked checkpoints: {leaked}"

    def test_apply_thousand_merge_table_bounded_depth(self, spark):
        """A REAL-vocab-sized learned table (>=1,000 merges) must apply
        in bounded time with bounded plan depth (VERDICT r11 #2: one
        projection per merge table meant a 32k-deep expression tree at
        production vocab). The chunked path pins the word-TYPE table
        every _BPE_MERGE_CHUNK merges, so (a) the job finishes in
        seconds, (b) token counts still match the pure-python reference
        tokenizer applying the SAME 1,000 merges in rank order."""
        import re
        import time

        from deltaforge_spark.operators.textanalysis import (
            _BPE_MERGE_CHUNK,
            bpe_apply_merges,
            bpe_train,
        )

        texts = [
            "aaaaaa banana mississippi the the lower",
            "low lower lowest aaab abab the quick brown fox",
            "overlapping aaaa pairs aaa test",
            "",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        # a few REAL merges (so application actually rewrites words),
        # padded to >=1,000 rows with never-matching synthetic symbols
        # (digits can't appear in the [a-z] symbol alphabet) — the
        # no-ops exercise plan depth exactly like real merges do
        real = [
            (r["left_sym"], r["right_sym"], r["merge_rank"])
            for r in bpe_train(df, num_merges=6).orderBy("merge_rank").collect()
        ]
        learned = [(a, b) for a, b, _ in real] + [
            (f"x{i}", f"y{i}") for i in range(1000 - len(real))
        ]
        merges_df = spark.createDataFrame(
            [(i + 1, a, b, 0) for i, (a, b) in enumerate(learned)],
            ["merge_rank", "left_sym", "right_sym", "pair_freq"],
        )
        assert merges_df.count() >= 1000

        t0 = time.monotonic()
        out = bpe_apply_merges(df, merges_df)
        got = {r["doc_id"]: r["n_bpe_tokens"] for r in out.collect()}
        elapsed = time.monotonic() - t0
        # chunked application = ~4 shallow vocab-sized map jobs; the
        # unchunked plan never finishes Catalyst analysis in this budget
        assert elapsed < 120, f"1k-merge apply took {elapsed:.0f}s"

        def merge_word(word, a, b):
            out, i = [], 0
            while i < len(word):
                if i + 1 < len(word) and word[i] == a and word[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            return out

        def tokenize(text):
            n = 0
            for w in re.findall("[a-z]+", text.lower()):
                syms = list(w) + ["</w>"]
                for a, b in learned:
                    syms = merge_word(syms, a, b)
                n += len(syms)
            return n

        assert got == {i: tokenize(t) for i, t in enumerate(texts)}

        # the returned plan must carry at most ONE chunk of replace()
        # nesting — everything earlier sits behind a checkpoint scan
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("replace(") <= _BPE_MERGE_CHUNK + 8


class TestModifiedKneserNey5:
    """doc_surprisal_kneser_ney5 — order-5 interpolated MODIFIED
    Kneser-Ney (KenLM's estimator): data-derived D1/D2/D3+ per order
    from counts-of-counts, continuation counts at every lower order,
    full interpolation down to uniform 1/(V+1). The reference test is
    an INDEPENDENT pure-Python implementation of the same estimator
    run over a small random corpus — every p-chain branch (seen
    5-gram, each backoff depth, OOV word) is exercised and compared
    at full micro-nat precision."""

    @staticmethod
    def _py_reference(lm_texts, doc_texts):
        """Straight-line Python modified-KN, mirroring the operator's
        documented formulas (same fallbacks, same rounding)."""
        from collections import Counter

        def toks(t):
            return [w for w in t.strip().split() if w]

        def ngrams(ws, n):
            return [tuple(ws[i:i + n]) for i in range(len(ws) - n + 1)]

        counts = {n: Counter() for n in range(1, 6)}
        for t in lm_texts:
            ws = toks(t)
            for n in range(1, 6):
                counts[n].update(ngrams(ws, n))
        vocab = len(counts[1])
        # continuation tables: a_k(u) = distinct predecessors of u
        a = {4: Counter(g[1:] for g in counts[5]),
             3: Counter(g[1:] for g in counts[4]),
             2: Counter(g[1:] for g in counts[3]),
             1: Counter(g[1:] for g in counts[2])}
        tables = {5: counts[5], 4: a[4], 3: a[3], 2: a[2], 1: a[1]}

        def discounts(tbl):
            cc = Counter(tbl.values())
            n1, n2, n3, n4 = cc[1], cc[2], cc[3], cc[4]
            y = n1 / (n1 + 2 * n2) if n1 + 2 * n2 > 0 else 0.5
            ds = []
            for j, mult, num, den, fb in ((1, 2.0, n2, n1, 0.5),
                                          (2, 3.0, n3, n2, 1.0),
                                          (3, 4.0, n4, n3, 1.5)):
                raw = float(j) - mult * y * num / den if den > 0 else None
                ds.append(raw if (den > 0 and raw > 0) else fb)
            return ds

        D = {k: discounts(tables[k]) for k in range(1, 6)}
        # context stats: t_k, h1/h2/h3+ per context
        ctx = {}
        for k in range(1, 6):
            st = {}
            for g, c in tables[k].items():
                key = g[:-1]
                t, h1, h2, h3 = st.get(key, (0, 0, 0, 0))
                st[key] = (t + c, h1 + (c == 1), h2 + (c == 2), h3 + (c >= 3))
            ctx[k] = st

        def p5(g):
            unif = 1.0 / (vocab + 1)
            p = unif
            t1, h11, h21, h31 = ctx[1].get((), (0, 0, 0, 0))
            if t1 > 0:
                c = tables[1].get(g[4:], 0)
                d = 0.0 if c == 0 else D[1][min(c, 3) - 1]
                gam = (D[1][0] * h11 + D[1][1] * h21 + D[1][2] * h31) / t1
                p = max(c - d, 0.0) / t1 + gam * p
            for k in (2, 3, 4, 5):
                key = g[5 - k:-1]
                if key not in ctx[k]:
                    continue
                t, h1, h2, h3 = ctx[k][key]
                c = tables[k].get(g[5 - k:], 0)
                d = 0.0 if c == 0 else D[k][min(c, 3) - 1]
                gam = (D[k][0] * h1 + D[k][1] * h2 + D[k][2] * h3) / t
                p = max(c - d, 0.0) / t + gam * p
            return p

        out = {}
        for doc_id, t in doc_texts:
            ws = toks(t)
            gs = ngrams(ws, 5)
            if not gs:
                out[doc_id] = (0, None, None)
                continue
            sups = [int(round(-math.log(p5(g)) * 1e6)) for g in gs]
            s, n = sum(sups), len(sups)
            avg_micro = (2 * s + n) // (2 * n)
            avg = round(avg_micro / 1e6, 6)
            out[doc_id] = (n, avg, round(math.exp(avg), 4))
        return out

    def test_matches_independent_python_reference(self, spark):
        import random

        from deltaforge_spark.operators.lm import doc_surprisal_kneser_ney5

        rng = random.Random(13)
        words = [f"w{i}" for i in range(30)]
        mk = lambda n: " ".join(rng.choice(words) for _ in range(n))
        lm_texts = [mk(rng.randint(5, 40)) for _ in range(40)]
        doc_rows = (
            [(i, lm_texts[i]) for i in range(0, 40, 4)]        # in-corpus
            + [(100 + i, mk(rng.randint(5, 30))) for i in range(15)]  # held-out
            + [(200, "zz qq " + mk(8)), (201, "w1 w2 w3"), (202, "")]
        )
        lm_df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(lm_texts)], ["doc_id", "text"]
        )
        docs = spark.createDataFrame(doc_rows, ["doc_id", "text"])
        got = {
            r["doc_id"]: (r["n_fivegrams"], r["avg_surprisal"], r["ppl"])
            for r in doc_surprisal_kneser_ney5(docs, lm_df).collect()
        }
        want = self._py_reference(lm_texts, doc_rows)
        assert set(got) == set(want)
        for k in want:
            assert got[k] == want[k], f"doc {k}: {got[k]} != {want[k]}"

    def test_short_docs_full_surface_and_keep(self, spark):
        from deltaforge_spark.operators.lm import doc_surprisal_kneser_ney5

        lm = spark.createDataFrame(
            [(0, "a b c d e a b c d e a b c d f")], ["doc_id", "text"]
        )
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d e"), (3, "")], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: r
            for r in doc_surprisal_kneser_ney5(docs, lm, max_ppl=1e9).collect()
        }
        assert set(out) == {1, 2, 3}
        assert out[2]["n_fivegrams"] == 1 and out[2]["keep"] is True
        for short in (1, 3):
            assert out[short]["n_fivegrams"] == 0
            assert out[short]["avg_surprisal"] is None
            assert out[short]["keep"] is False

    def test_probabilities_positive_under_skewed_counts(self, spark):
        """The clamp-to-zero defect the first cut had: a context whose
        counts-of-counts push D3+ <= 0 must fall back to the default
        discount, keeping gamma > 0 and every score finite."""
        from deltaforge_spark.operators.lm import doc_surprisal_kneser_ney5

        # every 5-gram appears >= 4 times -> n1..n3 sparse/empty at
        # high orders, the degenerate class the fallback guards
        lm = spark.createDataFrame(
            [(i, "p q r s t u p q r s t u") for i in range(6)],
            ["doc_id", "text"],
        )
        docs = spark.createDataFrame(
            [(1, "p q r s t novel"), (2, "p q r s t u")], ["doc_id", "text"]
        )
        rows = {r["doc_id"]: r for r in doc_surprisal_kneser_ney5(docs, lm).collect()}
        for r in rows.values():
            assert r["ppl"] is not None and r["ppl"] > 0
