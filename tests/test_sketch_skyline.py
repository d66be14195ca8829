"""KMV/theta sketch estimator geometry and skyline dominance semantics.

The oracle queries (kmv_distinct_users, kmv_user_overlap, part_skyline)
prove engine-reproducibility; these tests pin the MATH — estimator
accuracy on planted cardinalities, exact-regime degeneration, and the
sweep-vs-naive dominance equivalence on adversarial point sets the
testdata doesn't contain (duplicates, ties along one axis).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from real_estate_project1_etl_spark.operators.relational import skyline2d
from real_estate_project1_etl_spark.operators.sketch import (
    kmv_distinct,
    kmv_set_overlap,
)


def test_kmv_exact_regime_below_k(spark):
    # < k distinct values -> the sketch IS the exact distinct count
    df = spark.createDataFrame(
        [("g", f"v{i % 40}") for i in range(400)], "g string, v string"
    )
    row = kmv_distinct(df, ["g"], "v", k=64).collect()[0]
    assert row.n_sample == 40
    assert row.kmv_estimate == 40.0


def test_kmv_estimate_within_error_bound(spark):
    # planted 5000 distinct values, k=64: RSE ~ 1/sqrt(k-2) ~ 12.7%;
    # assert within 4 sigma (the hash is fixed, so this is deterministic —
    # the bound just keeps the test robust if k defaults change)
    df = spark.createDataFrame(
        [("g", f"value-{i}") for i in range(5000)], "g string, v string"
    )
    row = kmv_distinct(df, ["g"], "v", k=64).collect()[0]
    assert row.n_sample == 64
    assert abs(row.kmv_estimate - 5000) / 5000 < 0.51


def test_kmv_overlap_planted_jaccard(spark):
    # |A|=600, |B|=600, |A∩B|=300, |A∪B|=900, J=1/3
    rows = [("a", f"u{i}") for i in range(600)] + [
        ("b", f"u{i}") for i in range(300, 900)
    ]
    df = spark.createDataFrame(rows, "k string, v string")
    r = kmv_set_overlap(df, "k", "v", "a", "b", k=64).collect()[0]
    assert r.n_sample == 64
    assert abs(r.union_est - 900) / 900 < 0.51
    assert abs(r.jaccard_est - 1 / 3) < 0.20
    # intersection estimate consistent with its own scale factor
    assert r.intersection_est >= 0


def test_kmv_overlap_exact_regime(spark):
    rows = [("a", f"u{i}") for i in range(20)] + [
        ("b", f"u{i}") for i in range(10, 30)
    ]
    df = spark.createDataFrame(rows, "k string, v string")
    r = kmv_set_overlap(df, "k", "v", "a", "b", k=64).collect()[0]
    assert r.n_sample == 30
    assert r.union_est == 30.0
    assert r.intersection_est == 10.0
    assert abs(r.jaccard_est - 10 / 30) < 1e-12


def _brute_skyline(pts):
    out = []
    for i, (x, y) in enumerate(pts):
        dominated = any(
            (qx <= x and qy <= y and (qx < x or qy < y))
            for j, (qx, qy) in enumerate(pts)
            if j != i
        )
        if not dominated:
            out.append((x, y))
    return sorted(out)


def test_skyline_matches_naive_on_random_points(spark):
    rng = random.Random(7)
    pts = [(rng.randint(0, 50), rng.randint(0, 50)) for _ in range(300)]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "id int, x int, y int"
    )
    got = sorted(
        (r.x, r.y) for r in skyline2d(df, "x", "y", ["x", "y"]).collect()
    )
    assert got == _brute_skyline(pts)


def test_skyline_keeps_duplicate_frontier_points(spark):
    # identical (x, y) points do not dominate each other: both survive
    df = spark.createDataFrame(
        [(1, 5, 5), (2, 5, 5), (3, 9, 9)], "id int, x int, y int"
    )
    ids = sorted(r.id for r in skyline2d(df, "x", "y", ["id"]).collect())
    assert ids == [1, 2]


def test_skyline_partitioned_equals_per_group(spark):
    rng = random.Random(11)
    rows = [
        (g, i, rng.randint(0, 30), rng.randint(0, 30))
        for g in ("p", "q", "r")
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "g string, id int, x int, y int")
    got = {
        (r.g, r.x, r.y)
        for r in skyline2d(
            df, "x", "y", ["g", "x", "y"], partition_cols=["g"]
        ).collect()
    }
    want = set()
    for g in ("p", "q", "r"):
        pts = [(x, y) for (gg, _, x, y) in rows if gg == g]
        want |= {(g, x, y) for (x, y) in _brute_skyline(pts)}
    assert got == want


def test_kmv_partition_independence(spark):
    # same rows, different physical partitioning -> identical sketch
    rows = [("g", f"v{i}") for i in range(2000)]
    a = spark.createDataFrame(rows, "g string, v string").repartition(1)
    b = spark.createDataFrame(rows, "g string, v string").repartition(16, "v")
    ra = kmv_distinct(a, ["g"], "v", k=64).collect()[0]
    rb = kmv_distinct(b, ["g"], "v", k=64).collect()[0]
    assert (ra.n_sample, ra.kth_hash, ra.kmv_estimate) == (
        rb.n_sample,
        rb.kth_hash,
        rb.kmv_estimate,
    )


def test_kmv_partial_sketches_merge_exactly(spark):
    # the scale claim in one property: bottom-k of the union == bottom-k of
    # the union of per-shard bottom-k's. Shard by a day column, sketch each
    # shard, merge the retained hashes, re-take bottom-k -> identical to
    # sketching the whole table directly.
    from pyspark.sql import functions as F

    rows = [(f"d{i % 7}", f"u{i % 900}") for i in range(5000)]
    df = spark.createDataFrame(rows, "day string, v string")

    direct = kmv_distinct(df.withColumn("g", F.lit("all")), ["g"], "v", k=48)
    d_row = direct.collect()[0]

    # per-day partial sketches: retain each day's bottom-48 hashes
    from real_estate_project1_etl_spark.functions.columns import md5_60
    from pyspark.sql import Window

    h = df.select("day", md5_60("v").alias("h")).distinct()
    w = Window.partitionBy("day").orderBy("h")
    partial = h.withColumn("rn", F.row_number().over(w)).filter("rn <= 48")
    # merge: union of retained hashes, global bottom-48
    merged = (
        partial.select("h")
        .distinct()
        .orderBy("h")
        .limit(48)
        .agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("kth"))
        .collect()[0]
    )
    assert (merged.n, merged.kth) == (d_row.n_sample, d_row.kth_hash)


def test_cms_upper_bound_and_exact_heavy_hitter(spark):
    from real_estate_project1_etl_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    # 1 heavy key (5000 occurrences) + 500 light keys (1 each)
    rows = [("hot",)] * 5000 + [(f"k{i}",) for i in range(500)]
    df = spark.createDataFrame(rows, "v string")
    counters = cms_build(df, "v", depth=4, width=256)
    keys = df.distinct()
    est = {
        r.v: r.cms_estimate
        for r in cms_estimate(counters, keys, "v", depth=4).collect()
    }
    exact = {"hot": 5000, **{f"k{i}": 1 for i in range(500)}}
    # never underestimates
    assert all(est[k] >= exact[k] for k in exact)
    # heavy hitter estimate within CMS bound: exact + 2N/width slack
    assert est["hot"] <= 5000 + 2 * 5500 / 256 * 4


def test_cms_partial_sketches_merge_by_summing(spark):
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.sketch import cms_build

    rows = [(f"v{i % 300}",) for i in range(4000)]
    df = spark.createDataFrame(rows, "v string").withColumn(
        "shard", F.monotonically_increasing_id() % 4
    )
    whole = {
        (r.row, r.bucket): r.cnt for r in cms_build(df, "v").collect()
    }
    merged: dict = {}
    for s in range(4):
        part = cms_build(df.filter(F.col("shard") == s), "v").collect()
        for r in part:
            merged[(r.row, r.bucket)] = merged.get((r.row, r.bucket), 0) + r.cnt
    assert merged == whole


def test_join_size_estimate_accuracy_and_determinism(spark):
    from real_estate_project1_etl_spark.operators.sketch import (
        join_size_estimate,
    )

    # 2000 keys; side A has 1-3 rows/key, side B 0-2 rows/key
    a = spark.createDataFrame(
        [(k,) for k in range(2000) for _ in range(1 + k % 3)], "k long"
    )
    b = spark.createDataFrame(
        [(k,) for k in range(2000) for _ in range(k % 2)], "k long"
    )
    true = a.join(b, "k").count()
    r = join_size_estimate(a, "k", b, "k", log2_frac=3).collect()[0]
    assert r["join_size_est"] == r["sampled_pairs"] * 8
    # 1/8 sampling over 1000 matched keys: well inside 25% relative error
    assert abs(r["join_size_est"] - true) / true < 0.25
    # deterministic under repartitioning (content-hash sampling)
    r2 = join_size_estimate(
        a.repartition(13), "k", b.repartition(7), "k", log2_frac=3
    ).collect()[0]
    assert r == r2
    # log2_frac=0 degenerates to the exact join size
    r3 = join_size_estimate(a, "k", b, "k", log2_frac=0).collect()[0]
    assert r3["join_size_est"] == true


def test_join_size_estimate_empty_intersection(spark):
    from real_estate_project1_etl_spark.operators.sketch import (
        join_size_estimate,
    )

    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(99,)], "k long")
    r = join_size_estimate(a, "k", b, "k", log2_frac=0).collect()[0]
    assert r["sampled_pairs"] == 0 and r["join_size_est"] == 0


def test_kmv_merge_equals_from_scratch_sketch(spark):
    # the merge identity the rollup rests on: bottom-k of the union of
    # child bottom-k samples == bottom-k of the union's full hash set,
    # for every rollup group — estimates must be IDENTICAL doubles, not
    # merely close
    import random

    from real_estate_project1_etl_spark.operators.sketch import (
        kmv_distinct,
        kmv_merge_estimate,
        kmv_sketch,
    )

    rng = random.Random(99)
    rows = []
    for child in range(8):
        parent = f"w{child // 4}"
        for _ in range(300):
            rows.append((parent, f"d{child}", rng.randint(0, 5000)))
    df = spark.createDataFrame(rows, "parent string, child string, v long")
    daily = kmv_sketch(df, ["parent", "child"], "v", k=32)
    merged = {
        r["parent"]: (r["n_sample"], r["kth_hash"], r["kmv_estimate"])
        for r in kmv_merge_estimate(daily, ["parent"], k=32).collect()
    }
    scratch = {
        r["parent"]: (r["n_sample"], r["kth_hash"], r["kmv_estimate"])
        for r in kmv_distinct(df, ["parent"], "v", k=32).collect()
    }
    assert merged == scratch
    # exact regime survives the merge: tiny children under k distinct
    tiny = spark.createDataFrame(
        [("p", "a", 1), ("p", "a", 2), ("p", "b", 2), ("p", "b", 3)],
        "parent string, child string, v long",
    )
    [r] = kmv_merge_estimate(
        kmv_sketch(tiny, ["parent", "child"], "v", k=32), ["parent"], k=32
    ).collect()
    assert (r["n_sample"], r["kmv_estimate"]) == (3, 3.0)


def test_log2_hist_bucket_function_and_bounds(spark):
    from real_estate_project1_etl_spark.operators.sketch import (
        log2_hist_sketch,
    )

    rows = [(1, "g"), (2, "g"), (3, "g"), (4, "g"), (1023, "g"), (1024, "g"),
            (0, "g"), (-7, "g")]  # <1 rows are dropped by contract
    df = spark.createDataFrame(rows, "v bigint, g string")
    got = {
        r["bucket"]: r["cnt"]
        for r in log2_hist_sketch(df, ["g"], "v").collect()
    }
    assert got == {0: 1, 1: 2, 2: 1, 9: 1, 10: 1}


def test_hist_rollup_merge_equals_from_scratch(spark):
    # the mergeability identity: day sketches summed into a week equal
    # the sketch built directly on the week's rows — counters AND the
    # derived quantile estimates
    from real_estate_project1_etl_spark.operators.sketch import (
        hist_merge_quantiles,
        log2_hist_sketch,
    )

    rng = random.Random(77)
    rows = [
        (f"d{i % 7}", rng.randrange(1, 1_000_000)) for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "day string, v bigint")
    daily = log2_hist_sketch(df, ["day"], "v")
    via_merge = hist_merge_quantiles(
        daily.select(F.lit("w1").alias("week"), "bucket", "cnt"), ["week"]
    ).collect()[0]
    direct = hist_merge_quantiles(
        log2_hist_sketch(
            df.select(F.lit("w1").alias("week"), "v"), ["week"], "v"
        ),
        ["week"],
    ).collect()[0]
    assert via_merge.asDict() == direct.asDict()


def test_hist_rollup_quantiles_within_bucket_error(spark):
    # log-bucket quantile estimates land within a factor of 2 of the
    # exact inverted-CDF quantile (the bucket-width bound), and the
    # estimates are monotone across permilles
    from real_estate_project1_etl_spark.operators.sketch import (
        hist_merge_quantiles,
        log2_hist_sketch,
    )

    rng = random.Random(101)
    vals = [rng.randrange(1, 500_000) for _ in range(5000)]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g string, v bigint"
    )
    got = hist_merge_quantiles(
        log2_hist_sketch(df, ["g"], "v"), ["g"], permilles=(500, 900, 990)
    ).collect()[0]
    sv = sorted(vals)
    for q in (500, 900, 990):
        target = (len(sv) * q + 999) // 1000
        exact = sv[target - 1]
        est = got[f"p{q}_est"]
        assert exact / 2 <= est <= exact * 2, (q, exact, est)
    assert got["p500_est"] <= got["p900_est"] <= got["p990_est"]
    assert got["n"] == len(vals)


def test_hist_rollup_rejects_bad_permilles(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.sketch import (
        hist_merge_quantiles,
        log2_hist_sketch,
    )

    df = spark.createDataFrame([("g", 5)], "g string, v bigint")
    sk = log2_hist_sketch(df, ["g"], "v")
    with pytest.raises(ValueError):
        hist_merge_quantiles(sk, ["g"], permilles=())
    with pytest.raises(ValueError):
        hist_merge_quantiles(sk, ["g"], permilles=(0,))
    with pytest.raises(ValueError):
        hist_merge_quantiles(sk, ["g"], permilles=(1001,))
    # r12 ADVICE: duplicate permilles → duplicate p{q}_est columns
    with pytest.raises(ValueError, match="duplicate permilles"):
        hist_merge_quantiles(sk, ["g"], permilles=(500, 500))
    # r12 ADVICE: rollup col colliding with internal/output names
    sk2 = log2_hist_sketch(
        df.withColumnRenamed("g", "n"), ["n"], "v"
    )
    with pytest.raises(ValueError, match="collide"):
        hist_merge_quantiles(sk2, ["n"])
