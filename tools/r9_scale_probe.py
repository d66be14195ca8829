#!/usr/bin/env python
"""Round-9 operator scale probes (results recorded in SCALE.md).

Synthesizes corpora well past the grading scales and measures:

1. ``corpus.bigram_lm_scores`` — corpus-trained bigram LM scoring over
   ~200k docs / ~8M tokens (Zipfian vocabulary so the count aggs
   exercise the partial-agg collapse the docstring claims).
2. ``quality.hashed_linear_classifier`` — hashed-feature inference over
   the same corpus with a 64k-feature weight table.
3. ``textstats.pseudonymize`` — split/stitch rewrite throughput with
   ~2 emails per doc.
4. ``snapshots.snapshot_diff`` — 5M-row digest diff (1/13 removed,
   1/11 changed, 1/10 added).
5. ``quality.rrf_ensemble`` — two-signal fusion over 2M rows (two
   range-partitioned global rankings).

Usage: python tools/r9_scale_probe.py [n_docs] [n_diff]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from real_estate_project1_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_diff = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    spark = get_spark(app_name="r9-scale-probe")

    # --- corpus: ~40 words/doc, Zipf-ish vocabulary ---------------------
    # word ids drawn as (id*k) % (1 + id%997): small moduli repeat the
    # head words corpus-wide, large ones contribute the long tail
    words = [
        F.concat(
            F.lit("w"),
            ((F.col("id") * (i + 3)) % (3 + (F.col("id") + i) % 997)).cast(
                "string"
            ),
        )
        for i in range(40)
    ]
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *words).alias("text"),
    )
    docs.write.mode("overwrite").parquet("/tmp/r9_probe_docs")
    corpus = spark.read.parquet("/tmp/r9_probe_docs")
    n_tokens = n_docs * 40

    from real_estate_project1_etl_spark.operators.corpus import (
        bigram_lm_scores,
    )

    t0 = time.time()
    out = bigram_lm_scores(corpus)
    n = out.count()
    lm_s = time.time() - t0
    print(
        f"bigram_lm_scores: {n_docs} docs / {n_tokens} tokens -> {n} rows "
        f"in {lm_s:.1f}s ({n_tokens / lm_s / 1e6:.1f}M tokens/s)"
    )

    from real_estate_project1_etl_spark.operators.quality import (
        hashed_linear_classifier,
    )

    weights = spark.range(65536).select(
        F.col("id").alias("feature_id"),
        ((F.col("id") * 2654435761) % 2001 - 1000).alias("weight_milli"),
    )
    t0 = time.time()
    out = hashed_linear_classifier(
        corpus, weights, dim=65536, threshold_milli=0
    )
    kept = out.filter("kept").count()
    clf_s = time.time() - t0
    print(
        f"hashed_linear_classifier: {n_docs} docs / 64k features"
        f" -> {kept} kept in {clf_s:.1f}s"
        f" ({n_tokens / clf_s / 1e6:.1f}M tokens/s)"
    )

    from real_estate_project1_etl_spark.operators.textstats import (
        pseudonymize,
    )

    mails = corpus.select(
        "doc_id",
        F.concat(
            F.lit("from user"),
            (F.col("doc_id") % 5000).cast("string"),
            F.lit("@example.com to user"),
            ((F.col("doc_id") + 1) % 5000).cast("string"),
            F.lit("@example.org re: "),
            F.col("text"),
        ).alias("text"),
    )
    t0 = time.time()
    n = mails.select(F.length(pseudonymize(F.col("text"))).alias("l")).agg(
        F.sum("l")
    ).collect()[0][0]
    pii_s = time.time() - t0
    print(
        f"pseudonymize: {n_docs} docs / {2 * n_docs} emails -> "
        f"{n} chars out in {pii_s:.1f}s ({n_docs / pii_s / 1e3:.0f}k docs/s)"
    )

    from real_estate_project1_etl_spark.operators.snapshots import (
        snapshot_diff,
    )

    base = spark.range(n_diff).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("content "), F.col("id").cast("string")).alias("text"),
    )
    old = base.filter(F.col("doc_id") % 13 != 0)
    nw = base.filter(F.col("doc_id") % 9 != 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionAll(
        base.filter(F.col("doc_id") % 10 == 2).select(
            (F.col("doc_id") + n_diff).alias("doc_id"), "text"
        )
    )
    t0 = time.time()
    counts = dict(
        (r["status"], r["n"])
        for r in snapshot_diff(old, nw)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    diff_s = time.time() - t0
    print(
        f"snapshot_diff: {n_diff} x2 rows -> {counts} in {diff_s:.1f}s "
        f"({2 * n_diff / diff_s / 1e6:.1f}M rows/s)"
    )

    from real_estate_project1_etl_spark.operators.quality import (
        rrf_ensemble,
    )

    n_rrf = max(n_diff // 2, 1)
    sig = spark.range(n_rrf).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 7919) % 100000).alias("s1"),
        ((F.col("id") * 104729) % 100000).alias("s2"),
    )
    t0 = time.time()
    n = rrf_ensemble(sig, "doc_id", ["s1", "s2"]).count()
    rrf_s = time.time() - t0
    print(
        f"rrf_ensemble: {n_rrf} rows x 2 signals -> {n} in {rrf_s:.1f}s "
        f"({n_rrf / rrf_s / 1e6:.1f}M rows/s)"
    )


if __name__ == "__main__":
    main()
