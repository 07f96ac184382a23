"""Invariants for corpus/training-data operators (value-exactness is
covered by the DuckDB oracle gate; these check the semantic guarantees
the oracle can't express: determinism, leakage-freedom, subset-ness)."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_stream_spark.operators import corpus as cp
from etl_stream_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_hash_bucket_range_and_determinism(spark):
    docs = load_table(spark, SF, "documents")
    b = docs.select(cp.hash_bucket("doc_id").alias("b"))
    lo, hi = b.agg(F.min("b"), F.max("b")).first()
    assert 0 <= lo and hi <= 99
    # same input → same bucket, independent of partitioning
    one = b.collect()
    two = docs.repartition(13).select(cp.hash_bucket("doc_id").alias("b")).collect()
    assert sorted(r["b"] for r in one) == sorted(r["b"] for r in two)


def test_stratified_sample_is_deterministic_subset(spark):
    docs = load_table(spark, SF, "documents")
    rates = {"en": 20, "de": 50, "es": 50, "fr": 50, "zh": 50}
    s1 = cp.stratified_sample(docs, "doc_id", "lang", rates).select("doc_id").collect()
    s2 = cp.stratified_sample(docs.repartition(7), "doc_id", "lang", rates).select(
        "doc_id"
    ).collect()
    assert sorted(r["doc_id"] for r in s1) == sorted(r["doc_id"] for r in s2)
    assert 0 < len(s1) < docs.count()


def test_stratified_sample_respects_default_rate(spark):
    docs = load_table(spark, SF, "documents")
    none = cp.stratified_sample(docs, "doc_id", "lang", {}, default_rate=0)
    assert none.count() == 0
    everything = cp.stratified_sample(docs, "doc_id", "lang", {}, default_rate=100)
    assert everything.count() == docs.count()


def test_train_test_split_is_group_consistent(spark):
    ev = load_table(spark, SF, "events")
    split = cp.train_test_split(ev, "user_id")
    # leakage guard: each user appears in exactly one split
    leaky = (
        split.groupBy("user_id")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert leaky == 0
    # splits cover every event (at sf0.001 few users exist, so not every
    # split need materialize — sf0.01's oracle run sees all three)
    parts = dict(split.groupBy("split").count().collect())
    assert set(parts) <= {"train", "valid", "test"} and "train" in parts
    assert sum(parts.values()) == ev.count()


def test_remove_stopwords_counts(spark):
    docs = load_table(spark, SF, "documents")
    out = cp.remove_stopwords(docs)
    row = out.filter(F.col("n_removed") > 0).first()
    assert row is not None  # 'a'/'the' occur in the synthetic corpus
    # removed tokens really are gone
    assert out.filter(F.col("clean_text").rlike(r"(^| )(a|the)( |$)")).count() == 0


def test_duplicated_passages_min_docs(spark):
    docs = load_table(spark, SF, "documents")
    out = cp.duplicated_passages(docs, width=8, min_docs=2)
    assert out.filter(F.col("n_docs") < 2).count() == 0


def test_vocabulary_freqs(spark):
    docs = load_table(spark, SF, "documents")
    vocab = cp.vocabulary(docs)
    bad = vocab.filter(F.col("doc_freq") > F.col("term_freq")).count()
    assert bad == 0
    n_docs = docs.count()
    assert vocab.filter(F.col("doc_freq") > n_docs).count() == 0


def test_tfidf_ubiquitous_tokens_score_zero(spark):
    docs = load_table(spark, SF, "documents")
    out = cp.tf_idf(docs)
    n_docs = docs.count()
    from etl_stream_spark.operators.text_analysis import tokens

    ubiquitous = (
        docs.select(F.explode(tokens("text")).alias("token"), "doc_id")
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") == n_docs)
    )
    if ubiquitous.count() > 0:
        zeroed = out.join(ubiquitous.select("token"), "token")
        assert zeroed.filter(F.col("tfidf") != 0.0).count() == 0
    # no negative scores (df <= N always)
    assert out.filter(F.col("tfidf") < 0).count() == 0


def test_pivot_counts_cover_all_events(spark):
    ev = load_table(spark, SF, "events")
    from etl_stream_spark.catalog import CATALOG

    out = CATALOG["user_event_pivot"].fn(spark, SF)
    total = out.select(
        (
            F.col("n_click") + F.col("n_error") + F.col("n_purchase")
            + F.col("n_signup") + F.col("n_view")
        ).alias("s")
    ).agg(F.sum("s")).first()[0]
    assert total == ev.count()


def test_length_histogram_shares_sum_to_one(spark):
    docs = load_table(spark, SF, "documents")
    hist = cp.length_histogram(docs).collect()
    assert abs(sum(r["share"] for r in hist) - 1.0) < 1e-4
    assert sum(r["n_docs"] for r in hist) == docs.count()


class TestPacking:
    def test_offset_binning_single_shard(self, spark):
        chunks = spark.createDataFrame(
            [(7, i, 4) for i in range(4)], ["doc_id", "chunk_index", "chunk_tokens"]
        )
        out = cp.pack_chunks(chunks, target=10, shards=1).collect()
        by_bin = {r.bin: r for r in out}
        # offsets 0,4,8,12 -> bins 0,0,0,1 (the chunk at offset 8
        # straddles the boundary and stays in bin 0: overflow < 1 chunk)
        assert by_bin[0].n_chunks == 3 and by_bin[0].bin_tokens == 12
        assert by_bin[1].n_chunks == 1 and by_bin[1].bin_tokens == 4
        assert all(r.shard == 0 for r in out)

    def test_sharding_is_deterministic_and_partitions(self, spark):
        chunks = spark.createDataFrame(
            [(d, 0, 8) for d in range(50)], ["doc_id", "chunk_index", "chunk_tokens"]
        )
        a = {(r.shard, r.bin): r.n_chunks for r in cp.pack_chunks(chunks).collect()}
        b = {(r.shard, r.bin): r.n_chunks for r in cp.pack_chunks(chunks).collect()}
        assert a == b
        assert sum(a.values()) == 50
        assert len({s for s, _ in a}) > 1  # docs spread over shards


class TestBpePretokens:
    def test_classes_partition_text(self, spark):
        from etl_stream_spark.operators import text_analysis as ta

        df = spark.createDataFrame(
            [(1, "Hello world 42!!"), (2, "abc123 x"), (3, "")],
            ["doc_id", "text"],
        )
        rows = {r.doc_id: r for r in ta.with_bpe_pretokens(df).collect()}
        # "hello" " world" " 42" "!!"
        assert rows[1].n_pretokens == 4
        assert (rows[1].n_alpha, rows[1].n_num, rows[1].n_other) == (2, 1, 1)
        # "abc" "123" " x": glued alnum splits at the class boundary
        assert rows[2].n_pretokens == 3
        assert rows[3].n_pretokens == 0
        for r in rows.values():
            assert r.n_pretokens == r.n_alpha + r.n_num + r.n_other


class TestTrainingShuffle:
    def test_reproducible_and_seed_sensitive(self, spark):
        docs = spark.range(0, 200).select(F.col("id").alias("doc_id"))
        a = {r.doc_id: (r.shard, r.pos_in_shard) for r in cp.training_shuffle(docs).collect()}
        b = {
            r.doc_id: (r.shard, r.pos_in_shard)
            for r in cp.training_shuffle(docs.repartition(13)).collect()
        }
        assert a == b  # partitioning-invariant permutation
        c = {
            r.doc_id: (r.shard, r.pos_in_shard)
            for r in cp.training_shuffle(docs, seed="epoch1").collect()
        }
        assert {k: v[0] for k, v in a.items()} == {k: v[0] for k, v in c.items()}  # shards stable
        assert a != c  # order changes with the seed
        # positions within each shard are a contiguous 1..n ranking
        by_shard = {}
        for _, (s, p) in a.items():
            by_shard.setdefault(s, []).append(p)
        for ps in by_shard.values():
            assert sorted(ps) == list(range(1, len(ps) + 1))


class TestContamination:
    def test_planted_leak_detected(self, spark):
        # doc 1000 is in the test split only if its bucket says so; plant
        # an exact-copy pair across splits by brute-forcing ids into
        # train and eval buckets.
        from etl_stream_spark.operators.corpus import hash_bucket
        ids = spark.range(0, 400).select(F.col("id").alias("doc_id"))
        buckets = {r.doc_id: r.b for r in ids.select("doc_id", hash_bucket(F.col("doc_id"), 100).alias("b")).collect()}
        train_id = next(i for i, b in buckets.items() if b < 80)
        test_id = next(i for i, b in buckets.items() if b >= 90)
        clean_id = next(i for i, b in buckets.items() if b >= 90 and i != test_id)
        leak = "the quick brown fox jumps over the lazy dog tonight"
        rows = [
            (train_id, leak),
            (test_id, leak + " with extra trailing words appended here"),
            (clean_id, "completely different content about spark engines"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in cp.contamination_report(docs).collect()}
        assert train_id not in out  # train side is not reported
        assert out[test_id].n_contaminated > 0
        assert out[test_id].contamination_rate > 0.5
        assert out[clean_id].n_contaminated == 0
        assert out[clean_id].contamination_rate == 0.0


class TestModelScore:
    def test_score_monotone_in_features(self, spark):
        from etl_stream_spark.operators.text_analysis import with_model_score
        docs = spark.createDataFrame(
            [
                (1, "the and for are with this that from they have been good text"),
                (2, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in with_model_score(docs).collect()}
        # stopword-rich clean text scores high; punctuation soup scores low
        assert out[1].model_score > 0.5 and out[1].model_keep
        assert out[2].model_score < 0.5 and not out[2].model_keep
        assert 0.0 <= out[2].model_score <= out[1].model_score <= 1.0


class TestSourceReport:
    def test_counts_dups_and_quality(self, spark):
        import etl_stream_spark.operators.corpus as cp

        dup_text = "the quick brown fox jumps over a lazy dog again today"
        rows = [
            (1, "web", dup_text),
            (2, "web", "!!!???###"),  # fails quality (punct soup, <5 toks)
            (3, "books", dup_text),  # exact dup of doc 1, across sources
            (4, "books", "a clean and long enough document about spark"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = {r.source: r for r in cp.source_report(docs).collect()}
        assert out["web"].n_docs == 2 and out["books"].n_docs == 2
        # the fingerprint is corpus-wide: both copies count, one per source
        assert out["web"].n_dup_docs == 1 and out["books"].n_dup_docs == 1
        assert out["books"].keep_rate == 1.0
        assert out["web"].keep_rate == 0.5
        assert out["web"].total_tokens > 0


class TestRemoveBoilerplate:
    def test_common_segments_stripped_order_preserved(self, spark):
        # width=2 segments; "nav bar" opens 3 docs → boilerplate.
        rows = [
            (1, "nav bar alpha beta gamma delta"),
            (2, "nav bar epsilon zeta"),
            (3, "nav bar theta iota kappa mu"),
            (4, "totally unique words here"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in cp.remove_boilerplate(docs, width=2, min_docs=3).collect()
        }
        assert out[1].clean_text == "alpha beta gamma delta"
        assert out[1].n_removed == 1 and out[1].n_segments == 3
        assert out[2].clean_text == "epsilon zeta"
        assert out[4].clean_text == "totally unique words here"
        assert out[4].n_removed == 0

    def test_fully_boilerplate_doc_becomes_empty(self, spark):
        rows = [(i, "nav bar") for i in range(3)] + [(9, "real content words")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in cp.remove_boilerplate(docs, width=2, min_docs=3).collect()
        }
        assert out[0].clean_text == "" and out[0].n_removed == 1
        assert out[9].clean_text == "real content words"

    def test_alignment_not_substring(self, spark):
        # "bar nav" appears as a SUBSTRING of doc 3 but never as an
        # aligned segment — aligned segmentation must not remove it.
        rows = [
            (1, "bar nav x"),
            (2, "bar nav y"),
            (3, "bar nav z"),
            (4, "pad bar nav w"),  # "bar nav" here spans segments 1|2
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r.doc_id: r
            for r in cp.remove_boilerplate(docs, width=2, min_docs=3).collect()
        }
        assert out[1].clean_text == "x"
        assert out[4].clean_text == "pad bar nav w"  # untouched


class TestSourceConcentrationProperties:
    def _brute_gini_ppm(self, weights):
        xs = sorted(weights)
        n, s = len(xs), sum(xs)
        iw = sum(i * x for i, x in enumerate(xs, 1))
        num = 2 * iw - (n + 1) * s
        den = n * s
        return (2 * num * 1_000_000 + den) // (2 * den)

    def test_equal_weights_give_zero_gini(self, spark):
        from etl_stream_spark.operators.corpus import source_concentration

        rows = [(f"s{i}", 100) for i in range(6) for _ in range(3)]
        df = spark.createDataFrame(rows, "source string, n_chars long")
        out = source_concentration(df).collect()
        assert all(r.gini_ppm == 0 for r in out)
        assert out == sorted(out, key=lambda r: (r.total_weight, r.source))

    def test_matches_bruteforce_and_lorenz_identities(self, spark):
        from etl_stream_spark.operators.corpus import source_concentration

        rng = random.Random(9)
        per_source = {f"s{i}": rng.randint(1, 500) for i in range(8)}
        rows = [(s, w) for s, w in per_source.items()]
        df = spark.createDataFrame(rows, "source string, n_chars long")
        out = source_concentration(df).orderBy("cum_weight").collect()
        assert [r.gini_ppm for r in out] == [
            self._brute_gini_ppm(list(per_source.values()))
        ] * len(out)
        # Lorenz curve: cumulative weights are monotone and end at the
        # total; the final cumulative share is exactly 1e6 ppm
        assert out[-1].cum_weight == sum(per_source.values())
        assert out[-1].cum_share_ppm == 1_000_000
        cums = [r.cum_weight for r in out]
        assert cums == sorted(cums)

    def test_partitioning_invariance(self, spark):
        from etl_stream_spark.operators.corpus import source_concentration

        rng = random.Random(21)
        rows = [
            (f"s{rng.randint(0, 5)}", rng.randint(10, 2000)) for _ in range(300)
        ]
        df = spark.createDataFrame(rows, "source string, n_chars long")
        assert _rows(source_concentration(df)) == _rows(
            source_concentration(df.repartition(19))
        )


weights_st = st.dictionaries(
    st.text(alphabet="abcdefgh", min_size=1, max_size=4),
    st.integers(min_value=1, max_value=10**6),
    min_size=1,
    max_size=15,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(per_source=weights_st)
def test_gini_matches_bruteforce_on_random_weights(spark, per_source):
    """For ANY per-source weights: the exact integer-space Gini and a
    Lorenz curve that is monotone and terminates at exactly 1e6 ppm."""
    from etl_stream_spark.operators.corpus import source_concentration

    df = spark.createDataFrame(
        [(s, w) for s, w in per_source.items()], "source string, n_chars long"
    )
    out = sorted(source_concentration(df).collect(), key=lambda r: (r.cum_weight))
    xs = sorted(per_source.values())
    n, s_tot = len(xs), sum(xs)
    iw = sum(i * x for i, x in enumerate(xs, 1))
    num, den = 2 * iw - (n + 1) * s_tot, n * s_tot
    want_gini = (2 * num * 1_000_000 + den) // (2 * den)
    assert all(r.gini_ppm == want_gini for r in out)
    assert out[-1].cum_share_ppm == 1_000_000
    shares = [r.cum_share_ppm for r in out]
    assert shares == sorted(shares)


class TestLateAnalyticsEntryInvariants:
    """Cross-column invariants of the late-round catalog entries over
    the real sf0.001 tables (the oracle gate proves value parity; these
    pin the semantic identities a refactor could silently break)."""

    SF = "/root/testdata/sf0.001"

    def test_oov_rate_bounds_and_totals(self, spark):
        from etl_stream_spark.catalog import corpus_oov_rate, corpus_vocabulary

        rows = corpus_oov_rate(spark, self.SF).collect()
        assert rows, "at least one source"
        total_tokens = sum(r.n_tokens for r in rows)
        vocab_total = (
            corpus_vocabulary(spark, self.SF)
            .agg(F.sum("term_freq").alias("s"))
            .collect()[0]
            .s
        )
        # every exploded token lands in exactly one source bucket
        assert total_tokens == vocab_total
        for r in rows:
            assert 0 <= r.n_oov <= r.n_tokens
            assert 0 <= r.oov_ppm <= 1_000_000
            assert r.oov_ppm == (2 * r.n_oov * 1_000_000 + r.n_tokens) // (
                2 * r.n_tokens
            )

    def test_calibration_bins_partition_the_corpus(self, spark):
        from etl_stream_spark.catalog import corpus_quality_calibration

        rows = corpus_quality_calibration(spark, self.SF).collect()
        assert sorted(r.bin for r in rows) == list(range(10))
        n_docs = (
            spark.read.parquet(f"{self.SF}/documents.parquet").count()
        )
        assert sum(r.n_docs for r in rows) == n_docs
        for r in rows:
            assert r.n_heuristic_keep <= r.n_docs
            if r.n_docs == 0:
                assert r.keep_ppm is None and r.min_score is None
            else:
                # scores in a decile bin sit inside its half-open range
                # (bin 9 also holds score == 1.0)
                assert r.min_score >= r.bin / 10 - 1e-9
                assert r.max_score <= (r.bin + 1) / 10 + 1e-9

    def test_conversion_latency_percentiles_monotone(self, spark):
        from etl_stream_spark.catalog import events_conversion_latency

        r = events_conversion_latency(spark, self.SF).collect()[0]
        assert r.n_converted > 0
        assert 0 <= r.p25_s <= r.p50_s <= r.p75_s <= r.p90_s
