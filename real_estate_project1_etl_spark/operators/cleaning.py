"""The property-listings cleaning chain — full parity with the reference's
``clean_and_transform_data`` (reference: transform.py:62-116), re-expressed
as one lazy chain of native Column expressions.

Execution-model upgrade: the reference runs eagerly, single-threaded, whole
file in memory, with hand-chosen predicate order (transform.py:62-103).
Here the chain is *one logical plan*; Catalyst folds the constant regexes,
reorders/pushes filters into the scan, and whole-stage-codegens the entire
project+filter pipeline into a single narrow stage. The only shuffle is the
first-wins dedup (exchange on ``link``), which AQE coalesces at runtime.

Documented divergences from pandas quirks (SURVEY.md §7 "hard parts"):
- digit-extract yields NULL on zero-digit input (reference throws).
- dedup is *deterministic first-by-link-ordered* via row_number (pandas
  keeps first-in-file-order; Spark has no implicit order, so we order by a
  caller-supplied tiebreak column, defaulting to the natural all-column sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import guarded_ratio_int, lenient_int
from ..functions.text import (
    basename,
    digits_only,
    drop_last_two_words,
    last_two_words,
    nbsp_to_space,
    strip_diacritics,
)
from ..schemas import CZECH_REGIONS, PROPERTIES_RAW

#: rent/sale purpose keyword lists, transcribed verbatim from the reference
#: (transform.py:44-60; the reference re-declares the same lists mid-function
#: at transform.py:73-74 — declared once here). tests/test_reference_fidelity.py
#: pins these against the reference text itself so they can never silently
#: drift again (round-2 verdict items 1-2).
RENT_KEYWORDS = [
    "Pronajem kancelare",
    "Pronajem nebytoveho prostoru",
    "Pronajem chaty, chalupy",
    "Pronajem domu",
    "Pronajem pozemku",
]
SALE_KEYWORDS = [
    "Prodej bytu",
    "Prodej domu",
    "Prodej nebytoveho prostoru",
    "Prodej pozemku",
    "Prodej chaty, chalupy",
    "Prodej garaze",
    "Prodej kancelare",
]


def dedup_first(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """D1 — deterministic first-wins dedup (transform.py:62).

    ``dropDuplicates`` keeps an arbitrary row; a row_number window makes
    "first" explicit. At scale this is one hash exchange on ``keys`` —
    identical cost to dropDuplicates — and skew on a hot key is handled by
    AQE. Keys with NULLs group together (pandas semantics).
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def region_expr(address: Column | str = "address") -> Column:
    """C11 — region from address: last two words when the address mentions
    'kraj', else 'Praha' (transform.py:90)."""
    a = F.col(address) if isinstance(address, str) else address
    return F.when(
        F.lower(a).contains("kraj"), last_two_words(a)
    ).otherwise(F.lit("Praha"))


def address_without_region_expr(address: Column | str = "address") -> Column:
    """C12 — strip the region suffix from addresses that carry one
    (transform.py:91)."""
    a = F.col(address) if isinstance(address, str) else address
    return F.when(
        F.lower(a).contains("kraj"), drop_last_two_words(a)
    ).otherwise(a)


def clean_properties(
    df: DataFrame,
    dedup_order: list[str] | None = None,
    file_name_col: Column | None = None,
    dump_ts: Column | None = None,
    streaming: bool = False,
) -> DataFrame:
    """Full bronze -> silver clean (transform.py:62-116), same operator
    order, one logical plan.

    ``file_name_col`` defaults to the scan's file metadata (the reference
    back-computes it from the S3 key, transform.py:112); ``dump_ts`` defaults
    to ``current_timestamp()`` — inject a literal for deterministic tests.

    ``dedup_order`` is the first-wins tiebreak among rows sharing a
    ``link``; it defaults to every bronze column, then ``file_name``, so
    the surviving duplicate does not depend on the order rows arrive in.
    """
    dedup_order = dedup_order or [*PROPERTIES_RAW.fieldNames(), "file_name"]
    rent_rx = "|".join(RENT_KEYWORDS)
    sale_rx = "|".join(SALE_KEYWORDS)

    # P3/C15 — capture scan-time lineage BEFORE any shuffle:
    # input_file_name() is only defined on the scan partition, and the
    # dedup window below introduces an exchange.
    out = df.withColumn(
        "file_name",
        file_name_col if file_name_col is not None else basename(F.input_file_name()),
    )
    if streaming:
        # D1, streaming form: stateful dedup keyed (link, file_name) —
        # row_number windows aren't supported on streams. Scoping the key
        # to the source file reproduces the reference's *within-batch*
        # dedup exactly: the same listing may legitimately reappear in the
        # next day's file (transform.py:62 dedups one file at a time).
        out = out.dropDuplicates(["link", "file_name"])
    else:
        out = dedup_first(out, ["link"], dedup_order)  # D1

    # C2 global NBSP fix across all string columns (transform.py:63)
    for c in ("purpose", "address", "size_m2", "design", "price_czk", "link"):
        out = out.withColumn(c, nbsp_to_space(F.col(c)))

    out = (
        out.filter(~F.coalesce(F.col("price_czk").contains("EUR"), F.lit(False)))  # F1
        .withColumn("price_czk", digits_only(F.regexp_replace("price_czk", "Kc", "")))  # C3+C4
        .filter(F.col("price_czk") >= 500)  # F2
        .filter(~(F.col("purpose").rlike(rent_rx) & (F.col("price_czk") <= 1000)))  # F3
        .filter(~(F.col("purpose").rlike(sale_rx) & (F.col("price_czk") <= 20000)))  # F4
        .withColumn(
            "size_m2",
            lenient_int(F.regexp_replace("size_m2", "m2", "")),  # C3+C5+C6
        )
        .withColumn("region", region_expr("address"))  # C10+C11
        .withColumn("address", address_without_region_expr("address"))  # C12
        .filter(F.col("region").isin(CZECH_REGIONS))  # F5 (broadcast IN-list)
        .withColumn(
            "price_per_m2", guarded_ratio_int("price_czk", "size_m2")  # C7-C9
        )
        .filter(  # F6 outlier
            ~(
                F.col("purpose").contains("Prodej pozemku")
                & (F.col("price_per_m2") > 80000)
            )
            | F.col("price_per_m2").isNull()
        )
        .withColumn("dump_date", dump_ts if dump_ts is not None else F.current_timestamp())  # P3/C14
        .select(  # P2 final projection, exact silver order (transform.py:115-116)
            "purpose", "address", "region", "size_m2", "design", "price_czk",
            "price_per_m2", "link", "dump_date", "file_name",
        )
    )
    return out


def scraped_rows_to_bronze(df: DataFrame) -> DataFrame:
    """P1+C1+C13 — apply trim + transliteration to freshly scraped rows
    (extract.py:24-35,44-45)."""
    return df.select(
        *[F.trim(strip_diacritics(F.col(c))).alias(c) for c in df.columns]
    )
