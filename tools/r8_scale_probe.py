#!/usr/bin/env python
"""Round-8 operator scale probes (results recorded in SCALE.md).

Synthesizes corpora well past the grading scales and measures:

1. ``corpus.remove_frequent_lines`` at ~4M lines / 200k docs with
   planted boilerplate (50 hot lines).
2. ``quality.temperature_sample`` — 20M rows across 12 skewed sources.
3. ``textstats.bpe_segment`` — merge-fold throughput over 200k docs.

Usage: python tools/r8_scale_probe.py [n_docs] [n_rows_temp]
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
    n_temp = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000
    spark = get_spark(app_name="r8-scale-probe")

    # --- corpus with planted boilerplate lines -------------------------
    # 20 lines/doc: 3 hot boilerplate lines drawn from a pool of 50
    # (each appears in ~n_docs/50*3 docs) + 17 unique lines
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n",
            F.concat(F.lit("boiler "), (F.col("id") % 50).cast("string")),
            F.concat(F.lit("boiler "), ((F.col("id") + 17) % 50).cast("string")),
            F.concat(F.lit("boiler "), ((F.col("id") + 31) % 50).cast("string")),
            *[
                F.concat(
                    F.lit(f"unique line {i} of doc "), F.col("id").cast("string")
                )
                for i in range(17)
            ],
        ).alias("text"),
    )
    docs.write.mode("overwrite").parquet("/tmp/r8_probe_docs")
    corpus = spark.read.parquet("/tmp/r8_probe_docs")

    from real_estate_project1_etl_spark.operators.corpus import (
        remove_frequent_lines,
    )

    t0 = time.time()
    out = remove_frequent_lines(corpus, min_df=1000)
    agg = out.agg(
        F.count(F.lit(1)), F.sum("n_removed"), F.sum("n_kept")
    ).collect()[0]
    print(
        f"remove_frequent_lines n_docs={n_docs} "
        f"lines={n_docs*20} wall={time.time()-t0:.1f}s "
        f"docs={agg[0]} removed={agg[1]} kept={agg[2]}"
    )

    # --- BPE segmentation throughput ----------------------------------
    from real_estate_project1_etl_spark.operators.textstats import (
        bpe_token_frequencies,
    )

    merges = [
        ("b", "o"), ("bo", "i"), ("boi", "l"), ("boil", "e"), ("boile", "r"),
        ("u", "n"), ("un", "i"), ("uni", "q"), ("l", "i"), ("li", "n"),
        ("lin", "e"), ("d", "o"), ("do", "c"), ("o", "f"),
    ]
    t0 = time.time()
    top = bpe_token_frequencies(corpus, merges, top_k=10)
    n = top.count()
    chars = corpus.agg(F.sum(F.length("text"))).collect()[0][0]
    dt = time.time() - t0
    print(
        f"bpe_segment n_docs={n_docs} chars={chars} wall={dt:.1f}s "
        f"({chars/dt/1e6:.0f} MB/s single node) top_k_rows={n}"
    )

    # --- temperature sampling at 20M rows ------------------------------
    from real_estate_project1_etl_spark.operators.quality import (
        temperature_sample,
    )

    rows = spark.range(n_temp).select(
        F.col("id").alias("doc_id"),
        # Zipf-ish: source s gets ~ n/2^s rows, 12 sources
        F.concat(
            F.lit("src"),
            F.floor(F.log2(F.col("id") % (1 << 12) + 1)).cast("int").cast("string"),
        ).alias("source"),
    )
    rows.write.mode("overwrite").parquet("/tmp/r8_probe_rows")
    big = spark.read.parquet("/tmp/r8_probe_rows")
    t0 = time.time()
    kept = temperature_sample(big, "source", ["doc_id"], alpha=0.5)
    stats = kept.groupBy("source").count().orderBy("source").collect()
    dt = time.time() - t0
    print(
        f"temperature_sample n_rows={n_temp} sources={len(stats)} "
        f"wall={dt:.1f}s kept={sum(r['count'] for r in stats)}"
    )
    for r in stats[:4]:
        print(f"  {r['source']}: {r['count']}")


if __name__ == "__main__":
    main()
