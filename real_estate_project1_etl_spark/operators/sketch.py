"""KMV / theta-style distinct-count sketches (engine-reproducible).

The reference has no approximate aggregation at all (its only "metric" is
the row-wise price_per_m2, reference: transform.py:96-101); at 100 TB the
count-distinct family is exactly where exact aggregation stops being an
option — COUNT(DISTINCT user_id) per dimension is a full shuffle of every
distinct pair, while a bottom-k (KMV) sketch is O(k) per group and
mergeable across partitions/days (Bar-Yossef et al.'s distinct-elements
estimator; the same bottom-k idea underlies DataSketches' theta sketch).

Why not ``approx_count_distinct``? Spark's HLL++ is engine-specific (its
binary registers don't reproduce outside the JVM), so it can only ever be
rows-only on the correctness ledger. The KMV construction here is built
from an md5-derived 60-bit hash that any engine reproduces bit-for-bit
(DuckDB: ``('0x' || substr(md5(x),1,15))::BIGINT`` — the same idiom the
minhash/simhash oracles in operators/dedup.py use), so candidate sketches
AND estimates are differentially checkable, not just eyeballed.

Estimator (classic KMV): with ``h`` uniform on [0, 2^60) and ``h_(k)`` the
k-th smallest distinct hash of a set S, ``|S| ≈ (k-1) * 2^60 / h_(k)``;
when |S| < k the sketch degenerates to the exact distinct count. The
theta-style set algebra uses the k-th smallest hash of the UNION as the
sampling threshold θ: every distinct value hashing below θ is retained
(k-1 of them), each representing ``2^60/θ`` values — membership flags on
the retained sample estimate any intersection/difference without
rescanning.

Determinism: hashes are exact bigints; the only doubles are fixed per-row
expressions over exact aggregates (NOTES.md determinism rule 8), and
bigint→double casts are correctly rounded in both engines (int64 fits the
double exponent range; no decimal hop needed).

Scale shape: the per-group sort behind ``row_number() <= k`` runs on the
DISTINCT (group, hash) table — already one agg exchange smaller than the
fact table. A 1000-executor deployment would swap the window for a
partial bottom-k aggregate (per-partition k-mins, then merge k-mins —
the sketch's defining mergeability); the output is identical because
"k smallest of a union" = "k smallest of per-partition k-smallest".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import md5_60

__all__ = [
    "cms_build",
    "cms_estimate",
    "hist_merge_quantiles",
    "hll_estimate",
    "hll_registers",
    "kmv_distinct",
    "kmv_set_overlap",
    "log2_hist_sketch",
]

#: hash domain size: md5_60 hashes are uniform on [0, 2^60)
_DOMAIN = float(2**60)


def kmv_distinct(
    df: DataFrame, group_cols: list[str], value_col: str, k: int = 64
) -> DataFrame:
    """Per-group KMV distinct-count estimate of ``value_col``.

    Returns one row per group: ``n_sample`` (min(distinct, k) — the
    sketch size actually retained), ``kth_hash`` (the threshold; the
    sketch's entire state besides the sample itself) and
    ``kmv_estimate`` (double; exact when the group has < k distinct
    values).
    """
    d = (
        df.select(*group_cols, md5_60(value_col).alias("h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("h")
    km = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    agg = km.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_sample"), F.max("h").alias("kth_hash")
    )
    est = F.when(
        F.col("n_sample") < k, F.col("n_sample").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_DOMAIN) / F.col("kth_hash").cast("double")
    )
    return agg.withColumn("kmv_estimate", est)


def kmv_set_overlap(
    df: DataFrame,
    key_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    k: int = 64,
) -> DataFrame:
    """Theta-style union/intersection/Jaccard estimate between the
    distinct ``value_col`` sets of two ``key_col`` groups.

    One output row: ``n_sample`` (union sketch size), ``theta`` (k-th
    smallest union hash; 2^60 in the exact regime), ``union_est``,
    ``intersection_est``, ``jaccard_est`` — all exact when the union has
    fewer than ``k`` distinct values, estimated from the retained
    below-theta sample otherwise.

    The sketch never rescans the fact table per set operation — the
    membership flags ride along with the retained hashes, which is the
    whole point of theta-sketch algebra at scale (estimate A∩B, A∖B, …
    for any pair of already-sketched dimensions).
    """
    flagged = df.filter(F.col(key_col).isin([group_a, group_b])).select(
        md5_60(value_col).alias("h"),
        (F.col(key_col) == group_a).alias("in_a"),
        (F.col(key_col) == group_b).alias("in_b"),
    )
    # distinct hash of the union, with membership flags (one agg exchange)
    m = flagged.groupBy("h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w = Window.orderBy("h")
    km = m.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    both = (F.col("in_a") & F.col("in_b")).cast("bigint")
    agg = km.select(
        F.lit(1).alias("g"), "rn", "h", both.alias("both")
    ).groupBy("g").agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.max("h").alias("theta_hash"),
        F.sum("both").alias("n_both_all"),
        F.sum(F.when(F.col("rn") <= k - 1, F.col("both")).otherwise(0)).alias(
            "n_both_retained"
        ),
    )
    exact = F.col("n_sample") < k
    scale = F.lit(_DOMAIN) / F.col("theta_hash").cast("double")
    union_est = F.when(exact, F.col("n_sample").cast("double")).otherwise(
        F.lit(float(k - 1)) * scale
    )
    inter_est = F.when(exact, F.col("n_both_all").cast("double")).otherwise(
        F.col("n_both_retained").cast("double") * scale
    )
    jacc = F.when(
        exact,
        F.col("n_both_all").cast("double") / F.col("n_sample").cast("double"),
    ).otherwise(F.col("n_both_retained").cast("double") / F.lit(float(k - 1)))
    return agg.select(
        "n_sample",
        F.when(exact, F.lit(2**60)).otherwise(F.col("theta_hash")).alias("theta"),
        union_est.alias("union_est"),
        inter_est.alias("intersection_est"),
        jacc.alias("jaccard_est"),
    )


def cms_build(
    df: DataFrame, value_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch of ``value_col`` frequencies: a ``depth x width``
    counter grid, each row a different salted md5_60 hash. One scan, one
    agg exchange; counters are ADDITIVE, so per-partition / per-day
    sketches merge by summing cells — the same mergeability as the KMV
    and histogram sketches, for the frequency-estimation job (Cormode &
    Muthukrishnan '05).

    Returns (row, bucket, cnt) — at most depth*width rows regardless of
    input size, the whole point at 100 TB.
    """
    v = F.col(value_col).cast("string")
    bk = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("row"),
                    (md5_60(F.concat(F.lit(f"cms{j}#"), v)) % width).alias(
                        "bucket"
                    ),
                )
                for j in range(depth)
            ]
        )
    ).alias("bk")
    return (
        df.select(bk)
        .select("bk.row", "bk.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame,
    keys: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch for each distinct key in ``keys``: the
    estimate is the MIN over the key's ``depth`` counters — an upper
    bound on the true count (collisions only ever inflate), within
    2N/width with probability 1-2^-depth. The tiny counter table is
    broadcast; keys never shuffle."""
    v = F.col(value_col).cast("string")
    kb = keys.select(
        value_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        (
                            md5_60(F.concat(F.lit(f"cms{j}#"), v)) % width
                        ).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("bk"),
    ).select(value_col, "bk.row", "bk.bucket")
    joined = kb.join(F.broadcast(counters), ["row", "bucket"], "left")
    return joined.groupBy(value_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate")
    )


def join_size_estimate(
    a: DataFrame,
    a_key: str,
    b: DataFrame,
    b_key: str,
    log2_frac: int = 4,
) -> DataFrame:
    """Estimate ``|A JOIN B ON key|`` WITHOUT running the join —
    correlated key sampling (cf. Vengerov et al., VLDB'15): both sides
    keep only keys whose shared 60-bit content hash falls below
    ``tau = 2^(60 - log2_frac)`` (the same keys survive on both sides —
    that correlation is what makes the estimator work for joins), count
    multiplicities per surviving key, and scale the matched-pair sum
    back up by ``2^log2_frac``.

    One output row: ``(n_sampled_keys, sampled_pairs, join_size_est)``.
    Because the sampling fraction is an exact power of two, the
    estimator is INTEGER arithmetic end-to-end — deterministic, and
    bit-identical in any engine (no RNG, no float scaling).

    Scale shape: the hash filter runs in each side's scan stage (a
    1/2^log2_frac fraction of keys survives BEFORE any exchange), the
    per-key counts aggregate only sampled rows, and the final join is
    sampled-keys-sized. This is the estimator a pipeline runs to choose
    shuffle partition counts / detect join blowups before paying for
    the real join.
    """
    if not 0 <= log2_frac < 60:
        raise ValueError("join_size_estimate: log2_frac must be in [0, 60)")
    tau = 1 << (60 - log2_frac)

    def sampled_counts(df: DataFrame, key: str) -> DataFrame:
        h = md5_60(key)
        return (
            df.filter(h < F.lit(tau))
            .groupBy(F.col(key).alias("_k"))
            .agg(F.count(F.lit(1)).alias("_m"))
        )

    ca = sampled_counts(a, a_key).withColumnRenamed("_m", "_ma")
    cb = sampled_counts(b, b_key).withColumnRenamed("_m", "_mb")
    j = ca.join(cb, "_k")
    return j.agg(
        F.count(F.lit(1)).alias("n_sampled_keys"),
        F.coalesce(F.sum(F.col("_ma") * F.col("_mb")), F.lit(0))
        .cast("bigint")
        .alias("sampled_pairs"),
    ).select(
        "n_sampled_keys",
        "sampled_pairs",
        (F.col("sampled_pairs") * F.lit(1 << log2_frac))
        .cast("bigint")
        .alias("join_size_est"),
    )


def kmv_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, k: int = 64
) -> DataFrame:
    """Materialize the per-group KMV sketch itself — one row per group
    with ``kmv_hashes``, the sorted bottom-``k`` distinct 60-bit hashes
    of ``value_col`` — the form a rollup table STORES so coarser periods
    re-aggregate from sketches instead of rescanning facts
    (:func:`kmv_merge_estimate`).

    The whole sketch is ≤ k longs per group and, like everything in this
    module, engine-reproducible bit-for-bit (md5-derived hashes, no RNG,
    no JVM-private register format — the reason this rollup is on the
    differential ledger while an HLL++ binary column never could be).
    """
    d = df.select(*group_cols, md5_60(value_col).alias("h")).distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    km = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return km.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("h")).alias("kmv_hashes")
    )


def kmv_merge_estimate(
    sketches: DataFrame,
    rollup_cols: list[str],
    k: int = 64,
    hashes_col: str = "kmv_hashes",
) -> DataFrame:
    """Merge stored KMV sketches up a hierarchy (days → weeks → months)
    and estimate the merged distinct count — WITHOUT touching the fact
    table: the classic mergeable-sketch rollup (Bar-Yossef et al.;
    the same union rule as theta-sketch algebra).

    Merge rule: bottom-``k`` of the distinct union of the child
    samples. This equals the bottom-``k`` the union's full hash set
    would produce, because any hash among the union's true bottom-k is
    necessarily within its own child's bottom-k (if k smaller hashes
    existed in that child, they would all precede it in the union too —
    contradiction). So a rollup from stored sketches is EXACTLY the
    sketch of the rolled-up period: no estimator drift stacks across
    levels, and the estimate matches what a from-scratch sketch of the
    period yields (the registered query's oracle checks this equality).

    Returns one row per rollup group: ``n_sample``, ``kth_hash``
    (2^60-capped sentinel NOT applied — exact regime is ``n_sample <
    k``), ``kmv_estimate`` (same estimator expression tree as
    :func:`kmv_distinct`, so IEEE doubles reproduce cross-engine).

    Scale shape: the fact table is scanned ONCE ever (at sketch-build
    time); each rollup level exchanges ≤ k longs per child group.
    """
    ex = (
        sketches.select(*rollup_cols, F.explode(hashes_col).alias("h"))
        .distinct()
    )
    w = Window.partitionBy(*rollup_cols).orderBy("h")
    km = ex.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    agg = km.groupBy(*rollup_cols).agg(
        F.count(F.lit(1)).alias("n_sample"), F.max("h").alias("kth_hash")
    )
    est = F.when(
        F.col("n_sample") < k, F.col("n_sample").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_DOMAIN) / F.col("kth_hash").cast("double")
    )
    return agg.withColumn("kmv_estimate", est)


def log2_hist_sketch(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group power-of-two-bucket histogram sketch of a positive
    integer measure: bucket ``b`` covers ``[2^b, 2^(b+1))``, computed as
    ``length(bin(v)) - 1`` — pure integer arithmetic, so the bucket
    function (unlike ``floor(log2(v))``, knife-edged at powers of two
    in floating point) is bit-identical in any engine with a
    binary-string function.

    This is the quantile-estimation member of the module's mergeable
    family (KMV = distinct counts, CMS = frequencies): bucket counters
    are ADDITIVE, so per-day / per-partition sketches roll up by summing
    cells (:func:`hist_merge_quantiles`) without rescanning facts, and a
    rollup of stored sketches is EXACTLY the sketch of the rolled-up
    period. Log-spaced buckets bound the relative quantile error by the
    bucket width (factor-of-two raw; the within-bucket interpolation
    does much better on smooth data) for any value range — the classic
    HDR-histogram / DDSketch trade (Masson et al., VLDB'19: relative-
    error quantile sketches are log-bucket histograms).

    ``value_col`` must be a positive bigint (``v >= 1``) — map your
    measure to integral units first (cents, microseconds, bytes).
    Output: one ``(group_cols..., bucket, cnt)`` row per non-empty
    bucket — at most 63 rows per group regardless of input size.
    """
    v = F.col(value_col)
    b = (F.length(F.bin(v)) - F.lit(1)).cast("int")
    return (
        df.filter(v >= 1)
        .groupBy(*group_cols, b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge_quantiles(
    sketches: DataFrame,
    rollup_cols: list[str],
    permilles: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """Merge stored log2-histogram sketches up a hierarchy (days →
    weeks/months) and estimate quantiles of the merged distribution —
    without touching the fact table.

    Quantile convention (exact integer arithmetic, engine-mirrorable):
    target rank ``r_q = ceil(q/1000 * N)`` (the inverted-CDF quantile on
    the sorted multiset), located in the first bucket whose cumulative
    count reaches it; the estimate interpolates uniformly within the
    bucket: ``est = 2^b + (2^b * (r_q - cum_below)) div cnt_b`` (bucket
    width IS the lower bound for power-of-two buckets).

    Returns one row per rollup group: ``n`` plus one ``p{q}_est`` bigint
    column per requested permille.

    Scale shape: merge is one sum-aggregation over ≤ 63-row-per-child
    sketch tables; the cumulative walk runs on the merged ≤ 63-row-per-
    group table (two tiny window passes, partitioned by the rollup key —
    never a per-fact window). The fact table was scanned once ever, at
    sketch-build time.
    """
    if not permilles or any(not 0 < q <= 1000 for q in permilles):
        raise ValueError(
            f"hist_merge_quantiles: permilles must be in (0, 1000], got {permilles!r}"
        )
    if len(set(permilles)) != len(permilles):
        raise ValueError(
            "hist_merge_quantiles: duplicate permilles would produce"
            f" duplicate p{{q}}_est output columns, got {permilles!r}"
        )
    reserved = {"bucket", "cnt", "cum_below", "n"}
    bad = [c for c in rollup_cols if c in reserved]
    if bad:
        raise ValueError(
            "hist_merge_quantiles: rollup_cols collide with internal/"
            f"output column names {sorted(reserved)}: {bad!r}"
        )
    merged = sketches.groupBy(*rollup_cols, "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    w_below = (
        Window.partitionBy(*rollup_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*rollup_cols)
    cum = merged.select(
        *rollup_cols,
        "bucket",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias("cum_below"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    lower = "shiftleft(cast(1 as bigint), bucket)"
    aggs = [F.max("n").cast("bigint").alias("n")]
    for q in permilles:
        target = f"(n * {int(q)} + 999) div 1000"
        hit = F.expr(f"cum_below < {target} and {target} <= cum_below + cnt")
        est = F.expr(f"{lower} + ({lower} * ({target} - cum_below)) div cnt")
        aggs.append(
            F.max(F.when(hit, est)).cast("bigint").alias(f"p{int(q)}_est")
        )
    return cum.groupBy(*rollup_cols).agg(*aggs)


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str, p: int = 6
) -> DataFrame:
    """Per-group HyperLogLog registers over the md5_60 hash — the stored,
    mergeable sketch form: one row per NON-EMPTY register,
    ``(group..., bucket, rho)`` with ``rho = max`` over the group's
    values hashing into that bucket.

    Unlike Spark's builtin ``approx_count_distinct`` (HLL++ with
    JVM-opaque binary registers — see the module docstring), this HLL is
    built from the engine-portable 60-bit md5 hash with registers as
    plain rows, so any engine reproduces the sketch AND the estimate
    bit-for-bit (Flajolet et al. 2007, "HyperLogLog: the analysis of a
    near-optimal cardinality estimation algorithm").

    Construction: ``bucket`` = low ``p`` bits of the hash; the remaining
    ``w = h div 2^p`` (a ``60-p``-bit value) gives
    ``rho = (60-p) - bitlen(w) + 1`` — the 1-based position of the first
    set bit from the top, ``(60-p)+1`` when ``w = 0``. ``bitlen`` is
    ``length(bin(w))`` (both Spark and DuckDB strip leading zeros).

    Scale shape: NO distinct pass is needed (``max`` is idempotent, so
    duplicate values are absorbed by the partial aggregate map-side) —
    one agg exchange on ``(group, bucket)`` whose output is at most
    ``2^p`` rows per group, vs the full distinct-pair shuffle of
    ``COUNT(DISTINCT)``. Registers merge across shards/days by ``max``.
    """
    m = 1 << p
    wbits = 60 - p
    b = df.select(
        *group_cols, md5_60(value_col).alias("h")
    ).select(
        *group_cols,
        (F.col("h") % m).alias("bucket"),
        F.expr(f"h div {m}").alias("w"),
    )
    rho = (
        F.when(F.col("w") == 0, F.lit(wbits + 1))
        .otherwise(F.lit(wbits + 1) - F.length(F.bin("w")))
        .cast("int")
    )
    return (
        b.withColumn("rho", rho)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


#: alpha_m bias-correction constants from Flajolet et al. 2007, Fig. 3
_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def hll_estimate(
    reg: DataFrame, group_cols: list[str], p: int = 6
) -> DataFrame:
    """Collapse per-group HLL registers (from :func:`hll_registers`,
    possibly merged across shards by ``max(rho)``) into the raw HLL
    estimate.

    Returns ``(group..., v_zero, reg_sum_2p, hll_estimate)``:

    - ``v_zero`` — number of EMPTY registers (the linear-counting
      regime indicator; emitted so a consumer can apply the small-range
      correction, which is kept out of the estimate column because
      ``ln`` is transcendental and would break cross-engine bit
      equality — NOTES.md determinism rule 8);
    - ``reg_sum_2p`` — the harmonic denominator ``sum_j 2^(-M_j)``
      scaled by ``2^(wbits+1)`` so it is an EXACT bigint
      (``sum_j 2^(wbits+1-M_j)``, at most ``2^p * 2^(wbits+1) < 2^62``);
      empty registers contribute ``M_j = 0``;
    - ``hll_estimate`` — ``alpha_m * m^2 * 2^(wbits+1) / reg_sum_2p``
      as a double (one correctly-rounded division of exact operands).

    Empty registers are accounted for arithmetically
    (``(m - n_nonempty) * 2^(wbits+1)``) rather than materialized, so
    the merge input stays at most ``2^p`` rows per group.
    """
    m = 1 << p
    wbits = 60 - p
    if m not in _HLL_ALPHA and m < 128:
        raise ValueError(f"unsupported register count m={m}")
    alpha = _HLL_ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))
    full = 1 << (wbits + 1)
    term = F.call_function(
        "shiftleft",
        F.lit(1).cast("long"),
        (F.lit(wbits + 1) - F.col("rho")).cast("int"),
    )
    agg = reg.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_nb"),
        F.sum(term).cast("long").alias("_s_nonempty"),
    )
    reg_sum = (
        F.col("_s_nonempty")
        + (F.lit(m) - F.col("_nb")).cast("long") * F.lit(full).cast("long")
    )
    out = agg.select(
        *group_cols,
        (F.lit(m) - F.col("_nb")).cast("bigint").alias("v_zero"),
        reg_sum.cast("bigint").alias("reg_sum_2p"),
    )
    est = (
        F.lit(alpha)
        * F.lit(float(m * m))
        * F.lit(float(full))
        / F.col("reg_sum_2p").cast("double")
    )
    return out.withColumn("hll_estimate", est)
