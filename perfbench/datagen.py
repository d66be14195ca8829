"""Seeded input generators for the benchmark workloads.

Everything the engine sees is made here from ``--seed``:

* ``corpus_tables`` writes the parquet tables the corpus mix reads
  (orders, lineitem, events, documents, embeddings) with the schemas of
  FIXTURES.md §B and value distributions shaped like the reference test
  data: a 30-word vocabulary corpus with ~5% ``<doc> dup`` near-duplicates
  and a few exact copies, unit-norm 64-d embeddings clustered by label,
  two-decimal prices.
* ``listings`` makes bronze real-estate rows (the TSV inbox of the daily
  job): every cleaning branch, exact-copy and changed-price duplicate
  links, ~5% EUR prices, NBSP thousands separators, region and non-region
  addresses.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False), path
    )


def corpus_tables(out_dir: str, seed: int, lineitem_rows: int, docs: int, vecs: int) -> dict:
    """Write the five tables the corpus mix reads under ``out_dir``; return
    {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li = lineitem_rows
    n_ord = max(100, n_li // 4)
    n_cust = max(50, n_li // 40)
    n_part = max(50, n_li // 30)
    n_supp = max(10, n_li // 600)
    n_ev = max(100, n_li // 6)
    n_users = max(20, n_ev // 66)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    rows = {}

    def put(name, df, fields):
        _write(df, os.path.join(out_dir, f"{name}.parquet"), pa.schema(fields))
        rows[name] = len(df)

    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    }), [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
         ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)])
    put("lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-05", n_li),
    }), [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
         ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
         ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
         ("l_linestatus", s), ("l_shipdate", ts)])
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month_us = 30 * 86400 * 10**6
    put("events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(t0 + rng.integers(0, month_us, n_ev)).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50, n_ev), 490) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
         ("value", f64), ("props", s)])

    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, docs)]
    for i in np.flatnonzero(rng.random(docs) < 0.05):  # near-duplicates
        texts[i] = texts[int(rng.integers(0, docs))] + " dup"
    for i in rng.choice(docs, max(1, docs // 600) * 2, replace=False).reshape(-1, 2):
        texts[i[1]] = texts[i[0]]  # exact copies
    put("documents", pd.DataFrame({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])
    label = rng.integers(0, 10, vecs).astype(np.int32)
    centres = rng.normal(0, 1, (10, 64))
    emb = centres[label] * 0.6 + rng.normal(0, 1, (vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pd.DataFrame({
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": list(emb),
        "label": label,
    }), [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])
    return rows


# --- bronze listings (the daily job's TSV inbox) ------------------------------

_PURPOSES = [
    "Pronajem kancelare", "Pronajem nebytoveho prostoru", "Pronajem chaty, chalupy",
    "Pronajem domu", "Pronajem pozemku", "Prodej bytu 2+kk", "Prodej domu",
    "Prodej nebytoveho prostoru", "Prodej pozemku", "Prodej chaty, chalupy",
    "Prodej garaze", "Prodej kancelare", "Pronajem bytu 3+1", "Drazba domu",
]
_REGIONS = [
    "Jihomoravsky kraj", "Stredocesky kraj", "Moravskoslezsky kraj",
    "Ustecky kraj", "Plzensky kraj", "Olomoucky kraj", "Kraj Vysocina",
    "Dolny kraj",  # not a Czech region: dropped by the whitelist
]
_STREETS = ["Sokolovska", "Husova", "Nadrazni", "Palackeho", "Masarykova", "Okres"]
NBSP = "\u00a0"
BRONZE_COLS = ["purpose", "address", "size_m2", "design", "price_czk", "link"]


def _prices(rng, n) -> list[str]:
    """Whole-crown amounts, thousands separated by a space or an NBSP."""
    nbsp = rng.random(n) < 0.3
    v = np.where(rng.random(n) < 0.5, rng.integers(300, 60_000, n),
                 rng.integers(60_000, 20_000_000, n))
    return [f"{x:,}".replace(",", NBSP if sep else " ") for x, sep in zip(v, nbsp)]


def listings(seed: int, rows: int, link_offset: int = 0) -> pd.DataFrame:
    """``rows`` bronze rows: ~88% fresh links, ~6% exact copies of an
    earlier row, ~6% the same link with a changed price."""
    rng = np.random.default_rng(seed)
    purpose = np.array(_PURPOSES)[rng.integers(0, len(_PURPOSES), rows)]
    street = np.array(_STREETS)[rng.integers(0, len(_STREETS), rows)]
    region = np.array(_REGIONS)[rng.integers(0, len(_REGIONS), rows)]
    kind = rng.random(rows)
    comma = np.where(rng.random(rows) < 0.1, ",,", ",")
    address = np.where(
        kind < 0.7,
        np.char.add(np.char.add(np.char.add(street, comma), " "), region),
        np.char.add(street, np.char.add(", Praha ", rng.integers(1, 11, rows).astype(str))),
    )
    size_kind = rng.random(rows)
    size = np.where(
        size_kind < 0.85,
        np.char.add(rng.integers(15, 400, rows).astype(str), " m2"),
        np.where(size_kind < 0.93, "", "n/a m2"),
    )
    design = np.where(rng.random(rows) < 0.8,
                      np.array(["1+kk", "2+kk", "3+1", "4+kk"])[rng.integers(0, 4, rows)], "")
    price = np.char.add(np.array(_prices(rng, rows)),
                        np.where(rng.random(rows) < 0.05, " EUR", " Kc"))
    link = np.char.add("/nemovitost/", (link_offset + np.arange(rows)).astype(str))
    df = pd.DataFrame({
        "purpose": purpose, "address": address, "size_m2": size,
        "design": design, "price_czk": price, "link": link,
    })
    dup = rng.random(rows)
    src = rng.integers(0, rows, rows)
    exact = np.flatnonzero(dup < 0.06)
    changed = np.flatnonzero((dup >= 0.06) & (dup < 0.12))
    df.iloc[exact] = df.iloc[src[exact]].to_numpy()
    df.loc[df.index[changed], "link"] = df["link"].to_numpy()[src[changed]]
    return df.astype(str)


def write_tsv(df: pd.DataFrame, path: str) -> int:
    """Write bronze rows as the extract stage's tab-separated file; return
    its size in bytes."""
    df.to_csv(path, sep="\t", index=False, lineterminator="\n")
    return os.path.getsize(path)
