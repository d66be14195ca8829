"""Golden pipeline test (SURVEY.md §5.2): a handcrafted bronze fixture with
every quirk the reference transform handles — duplicate links, EUR rows,
NBSP, Kc/m² suffixes, kraj addresses, junk/zero sizes, outlier prices —
must produce exactly the expected silver rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from real_estate_project1_etl_spark.functions.text import (
    digits_only,
    last_two_words,
    strip_diacritics,
)
from real_estate_project1_etl_spark.operators.cleaning import (
    clean_properties,
    scraped_rows_to_bronze,
)
from real_estate_project1_etl_spark.schemas import PROPERTIES_RAW

RAW_ROWS = [
    # kept: Praha default region, ceil division
    ("Prodej bytu 2+kk", "Sokolovská, Praha 8", "43 m²", "2+kk", "5 500 000 Kč", "/n/1"),
    # exact duplicate link of the row above -> deduped (D1)
    ("Prodej bytu 2+kk", "Sokolovská, Praha 8", "43 m²", "2+kk", "5 500 000 Kč", "/n/1"),
    # kept: kraj address stripped, NBSP thousands (C2 via C1 map)
    ("Prodej domu", "Brno, Jihomoravský kraj", "120 m2", "4+1", "9 000 000 Kc", "/n/2"),
    # dropped: EUR listing (F1)
    ("Prodej bytu 1+kk", "Bratislava", "30 m2", "1+kk", "450 EUR", "/n/3"),
    # dropped: price < 500 (F2)
    ("Prodej bytu 3+1", "Olomouc, Olomoucký kraj", "80 m2", "3+1", "300 Kč", "/n/4"),
    # dropped: rent keyword and price <= 1000 (F3)
    ("Pronájem kanceláře", "Praha 1", "25 m2", "", "900 Kc", "/n/5"),
    # dropped: sale keyword and price <= 20000 (F4)
    ("Prodej garáže", "Plzeň, Plzeňský kraj", "18 m2", "", "15 000 Kc", "/n/6"),
    # dropped: non-whitelist region (F5)
    ("Prodej domu", "Kdesi, Dolný kraj", "90 m2", "5+1", "4 000 000 Kc", "/n/7"),
    # kept: junk size -> 0 -> price_per_m2 NULL (C5/C6/C7/C9)
    ("Prodej domu", "Ostrava, Moravskoslezský kraj", "xx", "3+1", "2 500 000 Kc", "/n/8"),
    # dropped: pozemek with price_per_m2 > 80000 (F6)
    ("Prodej pozemku", "Liberec, Liberecký kraj", "10 m2", "", "5 000 000 Kc", "/n/9"),
    # kept: pozemek under the outlier bound
    ("Prodej pozemku", "Zlín, Zlínský kraj", "1000 m2", "", "3 000 000 Kc", "/n/10"),
]

EXPECTED = {
    # link -> (purpose, address, region, size, price, ppm2)
    "/n/1": ("Prodej bytu 2+kk", "Sokolovska, Praha 8", "Praha", 43, 5500000, 127907),
    "/n/2": ("Prodej domu", "Brno", "Jihomoravsky kraj", 120, 9000000, 75000),
    "/n/8": ("Prodej domu", "Ostrava", "Moravskoslezsky kraj", 0, 2500000, None),
    "/n/10": ("Prodej pozemku", "Zlin", "Zlinsky kraj", 1000, 3000000, 3000),
}


def test_golden_pipeline(spark):
    bronze = scraped_rows_to_bronze(
        spark.createDataFrame(RAW_ROWS, PROPERTIES_RAW)
    )
    silver = clean_properties(
        bronze,
        dedup_order=["purpose"],
        file_name_col=F.lit("raw_properties_x.csv"),
        dump_ts=F.to_timestamp(F.lit("2026-01-01 00:00:00")),
    )
    rows = {r["link"]: r for r in silver.collect()}
    assert set(rows) == set(EXPECTED), f"kept links: {sorted(rows)}"
    for link, (purpose, address, region, size, price, ppm2) in EXPECTED.items():
        r = rows[link]
        assert (
            r["purpose"], r["address"], r["region"], r["size_m2"],
            r["price_czk"], r["price_per_m2"],
        ) == (purpose, address, region, size, price, ppm2), r
        assert r["file_name"] == "raw_properties_x.csv"
    # silver column order is the reference's exact projection (transform.py:115-116)
    assert silver.columns == [
        "purpose", "address", "region", "size_m2", "design", "price_czk",
        "price_per_m2", "link", "dump_date", "file_name",
    ]


def test_scalar_edges(spark):
    df = spark.createDataFrame(
        [("abc", "one", "Pět set 5 0 0"), ("", "two words", "9x9")],
        "a string, b string, c string",
    )
    out = df.select(
        digits_only("a").alias("no_digits"),
        last_two_words("b").alias("l2w"),
        digits_only("c").alias("digits"),
        strip_diacritics(F.lit("Příliš žluťoučký kůň ²")).alias("uni"),
    ).collect()
    assert out[0]["no_digits"] is None  # documented divergence: NULL, not throw
    assert out[0]["l2w"] == ""  # fewer than two words
    assert out[0]["digits"] == 500
    assert out[0]["uni"] == "Prilis zlutoucky kun 2"
    assert out[1]["l2w"] == "two words"
    assert out[1]["digits"] == 99


def test_unigram_logprob_matches_numpy_model(spark):
    import math

    from real_estate_project1_etl_spark.operators.textstats import (
        unigram_logprob_scores,
    )

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat"),
        (2, "zyx qwv"),  # rare tokens -> lowest score
        (3, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_logprob"])
        for r in unigram_logprob_scores(df).collect()
    }

    # reference model in plain python
    toks = {i: [w for w in t.split() if w] for i, t in docs}
    from collections import Counter

    vocab = Counter(w for ws in toks.values() for w in ws)
    total, v = sum(vocab.values()), len(vocab)
    for i, ws in toks.items():
        if not ws:
            assert i not in got  # empty docs yield no row
            continue
        expect = sum(math.log((vocab[w] + 1) / (total + v)) for w in ws) / len(ws)
        n, lp = got[i]
        assert n == len(ws)
        assert abs(lp - expect) < 1e-9, (i, lp, expect)
    # the gibberish doc scores strictly lowest
    assert got[2][1] == min(lp for _, lp in got.values())


def test_split_sentences_udtf_edges(spark):
    # UDTF surface: null in -> no rows; whitespace-only text -> no rows;
    # empties dropped with indices renumbered; trailing text without
    # punctuation kept as a final sentence
    from real_estate_project1_etl_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    df = spark.createDataFrame(
        [
            (1, "One. Two!   Three? tail no punct"),
            (2, None),
            (3, "   "),
            (4, "!  !  x."),
        ],
        "id long, text string",
    )
    df.createOrReplaceTempView("_udtf_edge")
    got = {
        (r.id, r.idx): r.sentence
        for r in spark.sql(
            "SELECT d.id, t.idx, t.sentence FROM _udtf_edge d, "
            "LATERAL split_sentences(d.text) t"
        ).collect()
    }
    assert got == {
        (1, 0): "One.",
        (1, 1): "Two!",
        (1, 2): "Three?",
        (1, 3): "tail no punct",
        (4, 0): "!",
        (4, 1): "!",
        (4, 2): "x.",
    }


def test_dedup_winner_independent_of_input_order(spark):
    # changed-price duplicates of one link: the default first-wins order
    # (bronze columns, then file_name) picks the same survivor whichever
    # row arrives first
    rows = [
        ("Prodej bytu 2+kk", "Sokolovska, Praha 8", "43 m2", "2+kk", "5 600 000 Kc", "/d/1"),
        ("Prodej bytu 2+kk", "Sokolovska, Praha 8", "43 m2", "2+kk", "5 500 000 Kc", "/d/1"),
        ("Prodej bytu 2+kk", "Sokolovska, Praha 8", "45 m2", "2+kk", "5 500 000 Kc", "/d/1"),
    ]

    def silver(ordered):
        bronze = spark.createDataFrame(ordered, PROPERTIES_RAW).coalesce(1)
        out = clean_properties(
            bronze,
            file_name_col=F.lit("raw_properties_x.csv"),
            dump_ts=F.to_timestamp(F.lit("2026-01-01 00:00:00")),
        )
        return [tuple(r) for r in out.collect()]

    first = silver(rows)
    assert len(first) == 1
    assert silver(rows[::-1]) == first
    assert silver(rows[1:] + rows[:1]) == first
