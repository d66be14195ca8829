"""Relational operators the reference implies but outsources (aggregation
happens only in its Looker dashboard, reference: README.md:127-132; its only
join-like op is the region IN-list whitelist, transform.py:92).

All are Spark builtins expressed declaratively so Catalyst picks the
physical strategy:
- small dims (region/nation, and any dim under the broadcast threshold) are
  hinted ``broadcast`` — no shuffle of the fact side;
- fact-fact joins (lineitem x orders) shuffle on the join key once, and AQE
  splits skewed partitions at runtime;
- aggregations are partial (map-side combine) + final by construction of
  ``groupBy``;
- top-k per group is a single window over one exchange; global top-k is
  ``orderBy(...).limit(k)`` which Spark executes as per-partition top-k +
  driver merge (TakeOrderedAndProject), no full sort at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dec2(col: str) -> "F.Column":
    """2-dp money/measure column as exact decimal. Source doubles originate
    from 2-dp values, so this cast is lossless; decimal sums are then exact
    and engine-order-independent — the property that makes results
    bit-reproducible across partitionings (and vs the DuckDB oracle).
    round(double) post-aggregation is NOT reproducible; never do that."""
    return F.col(col).cast("decimal(18,2)")


def revenue_expr():
    """Exact decimal revenue term: price * (1 - discount)."""
    return dec2("l_extendedprice") * (F.lit(1) - dec2("l_discount"))


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the flagship aggregate. Same shape
    as the reference's implied dashboard query (avg price per group,
    README.md:127-132) but over the testdata fact table. All sums are exact
    decimal; doubles only at the output boundary."""
    cnt = F.count(F.lit(1))
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec2("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(revenue_expr()).cast("double").alias("sum_disc_price"),
            (F.sum(dec2("l_quantity")).cast("double") / cnt).alias("avg_qty"),
            (F.sum(dec2("l_extendedprice")).cast("double") / cnt).alias("avg_price"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def star_join_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Revenue per region through the full star: the two fact tables shuffle
    on their join keys; customer/nation/region broadcast (no shuffle)."""
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.sum(revenue_expr()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between two nations by ship
    year. Six-way join where only lineitem-orders shuffles; supplier,
    customer, and both nation role-aliases broadcast. The ship-date range
    filter sits on the fact scan so it reaches the parquet reader
    (PushedFilters), cutting the shuffled volume before the first exchange."""
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") <= "1997-12-31")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
            | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(revenue_expr()).cast("double").alias("revenue"))
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_3",
    region_name: str = "EUROPE",
    part_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q8 shape: the target nation's share of supplier revenue per
    order year, within one region's customers and one part type. The
    share is a ratio of two exact decimal sums (conditional numerator /
    total), cast double only at the boundary — order-independent, so
    reproducible across partitionings and vs the oracle."""
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cust_region = (
        customer.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == region_name)
        .select("c_custkey")
    )
    rev = revenue_expr()
    zero = F.lit(0).cast("decimal(18,2)") * (F.lit(1) - F.lit(0).cast("decimal(18,2)"))
    return (
        lineitem.join(
            F.broadcast(part.filter(F.col("p_type") == part_type)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") <= "1997-12-31")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust_region), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == target_nation, rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
    )


def top_k_per_group(
    df: DataFrame, group: list[str], order: list, k: int, select: list[str] | None = None
) -> DataFrame:
    """Top-k rows per group via row_number — one exchange on ``group``; at
    scale prefer this over sort+collect per group. ``order`` must be a total
    order (include a unique tiebreak) for deterministic output."""
    w = Window.partitionBy(*group).orderBy(*order)
    out = df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    if select:
        out = out.select(*select, "rk")
    return out


def global_top_k(df: DataFrame, order: list, k: int) -> DataFrame:
    """orderBy+limit — physical plan is TakeOrderedAndProject (per-partition
    heap + driver merge), never a full shuffle sort."""
    return df.orderBy(*order).limit(k)


def semi_join(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    """F5 generalized — broadcast left-semi (the join form of the
    reference's ``isin`` whitelist, transform.py:92)."""
    return fact.join(F.broadcast(dim), on, "left_semi")


def anti_join(fact: DataFrame, dim: DataFrame, on) -> DataFrame:
    return fact.join(F.broadcast(dim), on, "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    tiebreak: str,
) -> DataFrame:
    """As-of join: for every left row, attach the most recent right row of
    the same ``key`` with ``right_ts <= left_ts`` (NULLs if none). Ties on
    the timestamp resolve to the highest ``tiebreak`` (a unique right-side
    column), giving a total order -> deterministic output.

    Spark has no ASOF JOIN operator; the scalable construction is
    union-the-sides + one window: tag rows, sort (key, ts, side, tiebreak)
    within each key partition, and carry the running ``last`` right payload
    (ignorenulls) onto the left rows. ONE shuffle on the key, state O(1)
    per row — never the range-explosion of a theta join, so it survives
    100 TB with skew handled by AQE. Right rows sort before left rows at
    equal ts, so an exactly-simultaneous right row is matched.

    Column names of left and right must be disjoint (pre-rename the right
    side); both ts columns must be comparable types.
    """
    lcols, rcols = left.columns, right.columns
    overlap = set(lcols) & set(rcols)
    if overlap:
        raise ValueError(f"rename overlapping columns first: {overlap}")
    l_schema = left.schema.simpleString()
    r_schema = right.schema.simpleString()
    l2 = left.select(
        F.col(left_key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        # carry the tiebreak in its NATURAL type (a lossy cast to long
        # would NULL out string ids and silently break determinism);
        # any orderable type works for the window sort
        F.lit(None).cast(right.schema[tiebreak].dataType).alias("_tb"),
        F.struct(*lcols).alias("_l"),
        F.lit(None).cast(r_schema).alias("_r"),
    )
    r2 = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(tiebreak).alias("_tb"),
        F.lit(None).cast(l_schema).alias("_l"),
        F.struct(*rcols).alias("_r"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", "_tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        l2.unionByName(r2)
        .withColumn("_match", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
        .select("_l.*", "_match.*")
    )


def sliding_distinct_users(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """EXACT rolling N-day distinct-user count per day, without a
    per-window COUNT(DISTINCT) — the scale-shaped form of the classic
    "weekly active users" metric.

    ``count(distinct user) OVER (RANGE N days)`` re-deduplicates every
    user inside every window: O(days * window * events_per_day) state and
    a shuffle per frame evaluation. Instead, observe that user ``u``
    (active on day ``d``, next active on day ``nxt``) is counted in the
    window ending on day ``D`` exactly when ``D`` is in
    ``[d, min(d + N - 1, nxt - 1)]`` — i.e. between this activity and the
    earlier of window expiry or the next activity (which takes over).
    Each (user, active-day) row therefore expands to at most ``N`` small
    contribution rows, and the metric is a plain additive count per day.

    Cost: one distinct on (user, day), one lead window (same exchange),
    a bounded <=N-row explode, one final count agg. All exact — no
    sketches — and every step is mirrorable in SQL.

    Returns (day, active_users) for every day some user is in-window.
    """
    day = F.to_date(F.col(ts_col))
    ud = events.select(F.col(user_col).alias("u"), day.alias("d")).distinct()
    w = Window.partitionBy("u").orderBy("d")
    spans = ud.withColumn("nxt", F.lead("d").over(w)).select(
        "u",
        F.explode(
            F.sequence(
                F.col("d"),
                F.least(
                    F.date_add(F.col("d"), window_days - 1),
                    F.coalesce(
                        F.date_sub(F.col("nxt"), 1),
                        F.date_add(F.col("d"), window_days - 1),
                    ),
                ),
            )
        ).alias("day"),
    )
    return spans.groupBy("day").agg(F.count(F.lit(1)).alias("active_users"))


def skyline2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    keep_cols: list[str] | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Skyline (Pareto-front) query minimizing ``x_col`` and ``y_col``:
    keep every row not dominated by another row. Row a dominates row b
    when ``a.x <= b.x``, ``a.y <= b.y`` and at least one is strict;
    duplicate (x, y) points do not dominate each other (both survive).

    The naive definition is an O(n^2) NOT EXISTS self-join — the oracle
    runs exactly that, and the match proves this sweep is
    semantics-preserving (same trick as
    :func:`~.dedup.prefix_filter_jaccard_pairs`). The sweep:

    1. one agg exchange: per distinct x, the minimum y (``gmin``);
    2. a window over the distinct-x table (rows frame is exact because
       there is ONE row per distinct x) gives the strict-prefix minimum
       ``prefmin`` = min{ y' : x' < x };
    3. broadcast the distinct-x table back: a row is dominated iff
       ``prefmin <= y`` (dominator with strictly smaller x) or
       ``gmin < y`` (dominator sharing x with strictly smaller y).

    Cost at scale: one groupBy on x + a window over |distinct x| rows +
    one broadcastable join — never the quadratic pair space. The
    distinct-x side is small for any realistic skyline dimension
    (prices, sizes); if it weren't, the window degrades gracefully to a
    single-column sort of the distinct-x table only.

    ``partition_cols`` computes an independent skyline per partition (the
    common "frontier per brand/segment" form); the window is then
    partitioned too, so no global sort exists anywhere in the plan.
    """
    keep = keep_cols if keep_cols is not None else df.columns
    parts = list(partition_cols or [])
    gm = df.groupBy(*parts, F.col(x_col).alias("_x")).agg(
        F.min(y_col).alias("_gmin")
    )
    w = (
        Window.partitionBy(*parts).orderBy("_x")
        if parts
        else Window.orderBy("_x")
    ).rowsBetween(Window.unboundedPreceding, -1)
    fronts = gm.withColumn("_prefmin", F.min("_gmin").over(w)).select(
        "_x",
        "_gmin",
        "_prefmin",
        *[F.col(p).alias(f"_part_{p}") for p in parts],
    )
    cond = df[x_col] == fronts["_x"]
    for p in parts:
        cond = cond & (df[p] == fronts[f"_part_{p}"])
    out = df.join(F.broadcast(fronts), on=cond, how="inner")
    dominated = (
        F.col("_prefmin").isNotNull() & (F.col("_prefmin") <= F.col(y_col))
    ) | (F.col("_gmin") < F.col(y_col))
    return out.filter(~dominated).select(*[df[c] for c in keep])
