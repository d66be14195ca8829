"""Statistical-analysis operators — contingency-table association
(chi-square), distribution concentration (Gini impurity), and robust
dispersion (median absolute deviation).

The feature-selection / drift-detection statistics a training-data
pipeline runs over its metadata columns (is `source` independent of
`lang`? how concentrated is each source's language mix? what's a
robust spread of the value column per segment?). The chi-square and
Gini statistics are *rational functions of integer counts*, so they are
computed in scaled-integer arithmetic (floor division at the boundary) —
bit-identical across engines, no float summation order, no
transcendentals. MAD uses exact medians (selection / two-point average —
IEEE-exact in both engines).

Scale shape: every statistic reduces to ONE count aggregation over the
fact table (cells = category pairs — map-side collapsed; the cell
tables are tiny) followed by broadcast joins among the marginals. The
fact table shuffles at most once, on the grouping key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def chi2_contingency(
    df: DataFrame, row_col: str, col_col: str, scale: int = 10**6
) -> DataFrame:
    """Per-cell chi-square contributions for the ``row_col`` x
    ``col_col`` contingency table, in scaled-integer arithmetic:

        contrib = floor(scale * (O*N - R*C)^2 / (N * R * C))

    which is ``scale * (O - E)^2 / E`` with ``E = R*C/N`` multiplied
    through — exact integer products (decimal(38,0) guards the squared
    term), one floor at the end. Only observed (non-zero) cells are
    emitted; an unobserved cell's contribution is its expected count
    ``scale*R*C/N^2*N`` with O=0 — callers needing the full statistic add
    it from the marginals; the dominant (dependent) cells rank
    identically either way.

    Returns ``(row_val, col_val, observed, contrib_scaled)``.
    """
    cells = df.groupBy(
        F.col(row_col).alias("row_val"), F.col(col_col).alias("col_val")
    ).agg(F.count(F.lit(1)).alias("observed"))
    rmarg = cells.groupBy("row_val").agg(F.sum("observed").alias("r_tot"))
    cmarg = cells.groupBy("col_val").agg(F.sum("observed").alias("c_tot"))
    n = cells.agg(F.sum("observed").alias("n_tot"))
    return (
        cells.join(F.broadcast(rmarg), "row_val")
        .join(F.broadcast(cmarg), "col_val")
        .crossJoin(F.broadcast(n))
        .select(
            "row_val",
            "col_val",
            "observed",
            F.expr(
                f"""
                cast(
                  (cast({scale} as decimal(38,0))
                     * (observed*n_tot - r_tot*c_tot)
                     * (observed*n_tot - r_tot*c_tot))
                  div
                  (cast(n_tot as decimal(38,0)) * r_tot * c_tot)
                as bigint)
                """
            ).alias("contrib_scaled"),
        )
    )


def gini_impurity(
    df: DataFrame, group_col: str, class_col: str, scale: int = 10**6
) -> DataFrame:
    """Per-group Gini impurity of the ``class_col`` distribution:

        gini = 1 - sum_i (c_i / T)^2
             ~ scale - sum_i floor(scale * c_i^2 / T^2)

    scaled-integer with per-class floors (each term exact to 1/scale;
    deterministic because integer sums are order-independent). 0 =
    perfectly concentrated, -> scale * (1 - 1/k) for k uniform classes.

    Returns ``(group, n_classes, gini_scaled)``.
    """
    counts = df.groupBy(
        F.col(group_col).alias("grp"), F.col(class_col).alias("cls")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("grp").agg(F.sum("c").alias("t"))
    return (
        counts.join(F.broadcast(tot), "grp")
        .withColumn(
            "term",
            F.expr(
                f"cast((cast({scale} as decimal(38,0)) * c * c)"
                f" div (cast(t as decimal(38,0)) * t) as bigint)"
            ),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            (F.lit(scale) - F.sum("term")).alias("gini_scaled"),
        )
    )


def mad_per_group(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Median absolute deviation per group — the robust spread statistic
    (insensitive to the outliers that corrupt stddev):

        mad(g) = median(|x - median_g|)

    Exactness: the 2-dp value column is converted to integer CENTS
    first (via an exact decimal cast), so every order statistic and
    every interpolated median lands on a dyadic rational (k/2, then k/4
    for the deviation median) — exactly representable in a double under
    ANY correct interpolation formula, hence bit-identical across
    engines. Medians over raw doubles would NOT be (engines disagree in
    the last ulp on ``a + (b-a)*q`` vs ``(a+b)/2``).

    Returns ``(grp, median_cents, mad_cents, n)`` — cent-scaled doubles
    (possibly .5 / .25 fractional from even-count interpolation).

    Scale shape: two aggs on the SAME group key — the group median is
    computed once and broadcast back (the median table is
    |groups|-sized), then deviations aggregate once more on that key.
    """
    cents = df.select(
        F.col(group_col).alias("grp"),
        F.expr(f"cast(cast({value_col} as decimal(18,2)) * 100 as bigint)").alias(
            "v_cents"
        ),
    )
    med = cents.groupBy("grp").agg(
        F.expr("percentile(v_cents, 0.5)").alias("median_cents")
    )
    dev = cents.join(F.broadcast(med), "grp").withColumn(
        "adev", F.abs(F.col("v_cents") - F.col("median_cents"))
    )
    return dev.groupBy("grp").agg(
        F.min("median_cents").alias("median_cents"),
        F.expr("percentile(adev, 0.5)").alias("mad_cents"),
        F.count(F.lit(1)).alias("n"),
    )


def winsorize_per_group(
    df: DataFrame, group_col: str, value_col: str, pct: int = 5
) -> DataFrame:
    """Winsorization report per group: clip values to the exact
    ``pct``-th and ``(100-pct)``-th order statistics — the standard
    outlier treatment before moment-based statistics (unlike trimming,
    every row survives; the tails are pulled in to the boundary values).

    Returns one row per group: ``(group_col, n, lo_cents, hi_cents,
    n_clipped_low, n_clipped_high, winsorized_sum_cents)`` — the clipped
    sum rides along so a downstream mean needs no second pass.

    Exactness: values convert to integer cents first; the boundaries are
    ORDER STATISTICS selected by rank (``k_lo = ceil(pct*n/100)``,
    ``k_hi = n - k_lo + 1``), never interpolated. The value at a rank is
    deterministic even though row_number among ties is not, and the
    winsorized sum decomposes as
    ``sum(middle) + n_below*lo + n_above*hi`` — ALL of it integer
    arithmetic inside ONE aggregation, bit-identical across engines.

    Scale shape: one exchange on the group key shared by the ranking
    window and the aggregation; output is groups-sized.

    ``pct`` must satisfy ``0 < pct < 50``: at 0 the boundary ranks fall
    outside [1, n] (both boundaries NULL, sum poisoned), and at >= 50
    the bounds invert (``k_hi < k_lo``) — both rejected rather than
    silently returning NULLs.
    """
    if not 0 < pct < 50:
        raise ValueError(
            f"winsorize_per_group: pct must be in (0, 50), got {pct}"
        )
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("g"), cents.alias("c")
    )
    w = Window.partitionBy("g").orderBy("c")
    wa = Window.partitionBy("g")
    ranked = base.select(
        "g",
        "c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("n"),
    )
    k_lo = F.floor((F.col("n") * pct + 99) / 100).cast("long")
    k_hi = F.col("n") - k_lo + 1
    r = ranked.withColumn("k_lo", k_lo).withColumn("k_hi", k_hi)
    agg = r.groupBy("g").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == F.col("k_lo"), F.col("c"))).alias("lo_cents"),
        F.max(F.when(F.col("rn") == F.col("k_hi"), F.col("c"))).alias("hi_cents"),
        F.sum((F.col("rn") < F.col("k_lo")).cast("bigint")).alias("n_clipped_low"),
        F.sum((F.col("rn") > F.col("k_hi")).cast("bigint")).alias("n_clipped_high"),
        F.sum(
            F.when(
                (F.col("rn") >= F.col("k_lo")) & (F.col("rn") <= F.col("k_hi")),
                F.col("c"),
            ).otherwise(F.lit(0))
        ).alias("_mid_sum"),
    )
    return agg.select(
        F.col("g").alias(group_col),
        "n",
        "lo_cents",
        "hi_cents",
        "n_clipped_low",
        "n_clipped_high",
        (
            F.col("_mid_sum")
            + F.col("n_clipped_low") * F.col("lo_cents")
            + F.col("n_clipped_high") * F.col("hi_cents")
        )
        .cast("bigint")
        .alias("winsorized_sum_cents"),
    )


def kfold_target_encoding(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    id_col: str,
    n_folds: int = 5,
    smoothing: int = 20,
    scale: int = 10**6,
) -> DataFrame:
    """Leakage-free K-fold target (mean) encoding of a categorical
    column, as the MODEL-SIZED encoding map ``(category, fold) ->
    encoding`` (Micci-Barreca 2001, "A preprocessing scheme for
    high-cardinality categorical attributes").

    A row in fold ``f`` must be encoded WITHOUT its own fold's labels
    (otherwise the encoding leaks the target into training features —
    the classic target-encoding bug). The smoothing prior is the
    OUT-OF-FOLD global rate ``P_f/N_f`` (all folds but ``f``) — a prior
    built on the full-corpus rate would leak the fold's labels straight
    back through the smoothing term (pinned by the flip-one-fold test
    in tests/test_stats.py):

        enc(c, f) = (pos_excl + m * P_f/N_f) / (n_excl + m)

    Multiplying through by ``N_f`` keeps it a ratio of exact integers:

        enc_ppm = floor(scale * (pos_excl*N_f + m*P_f)
                        / ((n_excl+m) * N_f))

    computed in decimal(38,0) (products reach n^2 — past bigint at
    warehouse scale). Fold assignment is the engine-portable
    ``md5_60(id) % n_folds``, so any engine reproduces fold membership,
    the map and every encoding bit-for-bit.

    Returns ``(category, fold, n_excl, pos_excl, enc_ppm)`` — one row
    per OBSERVED (category, fold); rows of an unseen fold fall back to
    the prior (derivable from the marginals) at apply time.

    Scale shape: one count/sum agg on ``(category, fold)`` (map-side
    partial — duplicate categories collapse before the shuffle), a
    near-free prefix re-agg to category totals joined back broadcast,
    and a 1-row global cross join. The fact table shuffles once; the
    output is (category x fold)-sized, NOT row-sized — applying the
    encoding downstream is a broadcast join, never a second shuffle.
    """
    from real_estate_project1_etl_spark.functions.columns import md5_60

    base = df.select(
        F.col(cat_col).alias("category"),
        (md5_60(id_col) % n_folds).cast("int").alias("fold"),
        F.col(label_col).cast("bigint").alias("_y"),
    )
    cf = base.groupBy("category", "fold").agg(
        F.count(F.lit(1)).alias("_n_cf"),
        F.sum("_y").alias("_pos_cf"),
    )
    ctot = cf.groupBy("category").agg(
        F.sum("_n_cf").alias("_n_c"), F.sum("_pos_cf").alias("_pos_c")
    )
    ftot = cf.groupBy("fold").agg(
        F.sum("_n_cf").alias("_n_f"), F.sum("_pos_cf").alias("_pos_f")
    )
    gtot = cf.agg(
        F.sum("_n_cf").alias("_n_g"), F.sum("_pos_cf").alias("_pos_g")
    )
    m = int(smoothing)
    return (
        cf.join(F.broadcast(ctot), "category")
        .join(F.broadcast(ftot), "fold")
        .crossJoin(F.broadcast(gtot))
        .select(
            "category",
            "fold",
            (F.col("_n_c") - F.col("_n_cf")).cast("bigint").alias("n_excl"),
            (F.col("_pos_c") - F.col("_pos_cf"))
            .cast("bigint")
            .alias("pos_excl"),
            F.expr(
                f"""
                cast(
                  (cast({scale} as decimal(38,0))
                     * ((_pos_c - _pos_cf) * (_n_g - _n_f)
                        + {m} * (_pos_g - _pos_f)))
                  div
                  (cast((_n_c - _n_cf) + {m} as decimal(38,0))
                     * (_n_g - _n_f))
                as bigint)
                """
            ).alias("enc_ppm"),
        )
    )
