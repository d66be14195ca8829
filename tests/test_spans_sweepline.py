"""Planted-case tests for the ExactSubstr-style repeated-substring span
detector (operators/dedup.repeated_kgram_spans) and the sweep-line interval
concurrency operator (operators/timeseries.interval_concurrency).

Both also have full DuckDB differential oracles in __spark_entry__
(repeated_kgram_spans / orders_in_flight); these tests pin the hand-checkable
semantics the oracle can't express as clearly: exact span boundaries around a
planted duplicate, within-doc repeats, sub-k documents, and partition
independence.
"""

from __future__ import annotations

import string

from pyspark.sql import functions as F

from real_estate_project1_etl_spark.operators.dedup import repeated_kgram_spans
from real_estate_project1_etl_spark.operators.timeseries import interval_concurrency

K = 10

# unique filler with no repeated K-gram anywhere: distinct pair-coded chunks
_ALPHA = string.ascii_lowercase


def _filler(tag: int, n: int) -> str:
    # positionally unique text: every K-window contains the tag+counter
    # encoding, so no K-gram of one filler ever equals a K-gram of another
    out = []
    i = 0
    while len("".join(out)) < n:
        out.append(f"{_ALPHA[tag]}{i:04d}")
        i += 1
    return "".join(out)[:n]


def test_planted_cross_doc_span_exact(spark):
    shared = "THE-QUICK-BROWN-FOX-JUMPS-OVER-THE-LAZYDOG"  # 42 chars
    a = _filler(0, 30) + shared + _filler(1, 25)
    b = _filler(2, 50) + shared + _filler(3, 17)
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id int, text string")
    got = {
        r["doc_id"]: (r["span_start"], r["span_len"], r["n_dup_grams"])
        for r in repeated_kgram_spans(df, "text", "doc_id", k=K).collect()
    }
    # only K-grams fully inside the shared block repeat, so the merged span
    # is exactly the planted block: 42 chars, 42-K+1 duplicated grams
    assert got == {
        0: (31, len(shared), len(shared) - K + 1),
        1: (51, len(shared), len(shared) - K + 1),
    }


def test_within_doc_repeat_two_spans(spark):
    chunk = "ABCDEFGHIJKLMNOPQRST"  # 20 chars, no internal K-gram repeat
    text = chunk + _filler(4, 40) + chunk
    df = spark.createDataFrame([(7, text)], "doc_id int, text string")
    rows = sorted(
        (r["span_start"], r["span_len"])
        for r in repeated_kgram_spans(df, "text", "doc_id", k=K).collect()
    )
    assert rows == [(1, 20), (61, 20)]


def test_sub_k_docs_and_no_dups_empty(spark):
    df = spark.createDataFrame(
        [(0, "short"), (1, _filler(5, 80)), (2, _filler(6, 3))],
        "doc_id int, text string",
    )
    assert repeated_kgram_spans(df, "text", "doc_id", k=K).count() == 0


def test_spans_partition_independent(spark):
    shared = "REPEATED-CONTENT-BLOCK-123456"
    # disjoint filler tags (0-11 prefixes, 13-24 suffixes) so no K-gram
    # repeats outside the planted block
    docs = [(i, _filler(i, 15 + 3 * i) + shared + _filler(i + 13, 11))
            for i in range(12)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    base = set(map(tuple, repeated_kgram_spans(df, "text", "doc_id", k=K).collect()))
    rep = set(
        map(
            tuple,
            repeated_kgram_spans(df.repartition(7), "text", "doc_id", k=K).collect(),
        )
    )
    assert base == rep and len(base) == 12


def test_interval_concurrency_hand_checked(spark):
    iv = spark.createDataFrame(
        [("2020-01-01", "2020-01-03"), ("2020-01-02", "2020-01-05")],
        "start string, end string",
    )
    rows = [
        (r["day"], r["net_change"], r["open_count"])
        for r in interval_concurrency(iv, "start", "end").orderBy("day").collect()
    ]
    assert rows == [
        ("2020-01-01", 1, 1),
        ("2020-01-02", 1, 2),
        ("2020-01-04", -1, 1),
        ("2020-01-06", -1, 0),
    ]


def test_interval_concurrency_collapses_equal_boundaries(spark):
    iv = spark.createDataFrame(
        [("2021-06-01", "2021-06-01")] * 3, "start string, end string"
    )
    rows = [
        (r["day"], r["net_change"], r["open_count"])
        for r in interval_concurrency(iv, "start", "end").orderBy("day").collect()
    ]
    assert rows == [("2021-06-01", 3, 3), ("2021-06-02", -3, 0)]


def test_interval_concurrency_never_negative_and_ends_zero(spark):
    import random

    rng = random.Random(42)
    base = ["2022-%02d-%02d" % (m, d) for m in range(1, 13) for d in range(1, 28)]
    ivs = []
    for _ in range(200):
        s = rng.randrange(len(base) - 30)
        ivs.append((base[s], base[s + rng.randrange(30)]))
    df = spark.createDataFrame(ivs, "start string, end string")
    rows = interval_concurrency(df, "start", "end").orderBy("day").collect()
    assert all(r["open_count"] >= 0 for r in rows)
    assert rows[-1]["open_count"] == 0
    assert sum(r["net_change"] for r in rows) == 0


def test_two_phase_kgram_spans_match_and_incremental(spark, sf_dir):
    # 100 TB path for ExactSubstr: (1) spans recomputed from the
    # materialized bucketed gram table equal the one-shot output;
    # (2) incremental batch spans equal the full recompute restricted to
    # batch ids; (3) the base-side groupBy(h) reads the bucketed table
    # with no Exchange.
    from real_estate_project1_etl_spark.operators.dedup import (
        incremental_kgram_spans,
        kgram_table,
        save_kgram_table,
        _merge_gram_spans,
    )
    from real_estate_project1_etl_spark.sources.parquet import load_table
    from pyspark.sql import functions as F, Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    full = repeated_kgram_spans(docs, "text", "doc_id", k=K)
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    expected = {
        tuple(r) for r in full.collect() if r["doc_id"] in batch_ids
    }

    save_kgram_table(base, "b_gram_tbl", "text", "doc_id", k=K, num_buckets=8)
    try:
        base_grams = spark.table("b_gram_tbl")
        inc = incremental_kgram_spans(base_grams, batch, "text", "doc_id", k=K)
        got = {tuple(r) for r in inc.collect()}
        assert got == expected and len(got) > 0

        # bucketed-on-h base aggregate: no Exchange between the FileScan
        # and the HashAggregate on h
        agg = base_grams.groupBy("h").count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS b_gram_tbl")


def test_phase_split_equals_one_shot(spark):
    from real_estate_project1_etl_spark.operators.dedup import (
        kgram_table,
        _merge_gram_spans,
    )
    from pyspark.sql import functions as F, Window

    shared = "TWO-PHASE-EQUIVALENCE-BLOCK"
    docs = [(i, _filler(i, 17) + shared + _filler(i + 13, 12)) for i in range(8)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    one = set(map(tuple, repeated_kgram_spans(df, "text", "doc_id", k=K).collect()))
    grams = kgram_table(df, "text", "doc_id", k=K)
    dup = grams.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("cnt") >= 2)
    two = set(
        map(tuple, _merge_gram_spans(dup.select("_id", "pos"), "doc_id", K).collect())
    )
    assert one == two and len(one) == 8


# ---- hypothesis cross-model checks: pure-python brute-force models ----
# (the DuckDB oracles share the construction; these don't — an independent
# reference implementation over randomized small inputs)

from datetime import date, timedelta

from hypothesis import given, settings, strategies as st


def _brute_spans(texts: dict[int, str], k: int):
    from collections import Counter

    grams = Counter()
    for t in texts.values():
        for i in range(len(t) - k + 1):
            grams[t[i : i + k]] += 1
    out = set()
    for did, t in texts.items():
        pos = [i + 1 for i in range(len(t) - k + 1) if grams[t[i : i + k]] >= 2]
        if not pos:
            continue
        start, end, n = pos[0], pos[0] + k - 1, 1
        for p in pos[1:]:
            if p <= end + 1:
                end = p + k - 1
                n += 1
            else:
                out.add((did, start, end - start + 1, n))
                start, end, n = p, p + k - 1, 1
        out.add((did, start, end - start + 1, n))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=40), min_size=1, max_size=8
    )
)
def test_spans_match_bruteforce_model(spark, texts):
    # tiny alphabet makes repeats likely; ids are list positions
    k = 5
    data = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(list(data.items()), "doc_id int, text string")
    got = set(map(tuple, repeated_kgram_spans(df, "text", "doc_id", k=k).collect()))
    assert got == _brute_spans(data, k)


def _brute_concurrency(intervals):
    from collections import Counter

    delta = Counter()
    for s, e in intervals:
        delta[s] += 1
        delta[e + timedelta(days=1)] -= 1
    out, run = [], 0
    for d in sorted(delta):
        run += delta[d]
        out.append((d.isoformat(), delta[d], run))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 30)), min_size=1, max_size=40
    )
)
def test_interval_concurrency_matches_bruteforce_model(spark, raw):
    base = date(2023, 1, 1)
    ivs = [(base + timedelta(days=s), base + timedelta(days=s + d)) for s, d in raw]
    df = spark.createDataFrame(
        [(a.isoformat(), b.isoformat()) for a, b in ivs], "start string, end string"
    )
    got = [
        (r["day"], r["net_change"], r["open_count"])
        for r in interval_concurrency(df, "start", "end").orderBy("day").collect()
    ]
    assert got == _brute_concurrency(ivs)


def test_remove_repeated_spans_planted(spark):
    from real_estate_project1_etl_spark.operators.dedup import (
        remove_repeated_spans,
    )

    shared = "SHARED-BLOCK-TO-REMOVE-123"
    a = _filler(0, 15) + shared + _filler(1, 11)
    b = _filler(2, 22) + shared + _filler(3, 14)
    # doc 9: entirely duplicated content (identical to doc 8) -> empty
    dup_text = "Z" * 40
    df = spark.createDataFrame(
        [(0, a), (1, b), (8, dup_text), (9, dup_text), (5, "tiny")],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed_chars"])
        for r in remove_repeated_spans(df, "text", "doc_id", k=K).collect()
    }
    assert got[0] == (_filler(0, 15) + _filler(1, 11), len(shared))
    assert got[1] == (_filler(2, 22) + _filler(3, 14), len(shared))
    assert got[8] == ("", 40) and got[9] == ("", 40)
    assert got[5] == ("tiny", 0)
