"""Correctness checks of the benchmark, all run outside the timed region.

* Registered queries are compared with their DuckDB ``oracle_sql()`` using
  the strict canonicalisation of ``tools/driver_sim.py``.
* Cleaned listings are compared with the pandas model of the reference
  clean (``_pandas_reference_clean`` in ``tests/test_reference_fidelity.py``)
  run on the generated bronze rows.

Dedup winners. The engine keeps one row per dedup key ordered by ``link``
alone, so among rows sharing a link with different content (a changed
price) the survivor is arbitrary. (The ``clean_properties`` module docstring
promises an all-column tiebreak, the code orders by ``link`` only; recorded
here, not fixed.) The check therefore accepts, per key, any candidate's
model outcome and checks everything else exactly.
"""

from __future__ import annotations

import importlib.util
import math
import os

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SILVER_COLS = ["purpose", "address", "region", "size_m2", "design",
               "price_czk", "price_per_m2", "link", "file_name"]


def _load(relpath: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_driver_sim = _load("tools/driver_sim.py", "perfbench_driver_sim")
canon = _driver_sim.canon
ORACLE_TABLES = _driver_sim.TABLES


def oracle_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if not os.path.exists(path):
            continue  # a table the workload does not generate
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def matches_oracle(con, sql: str, got: pd.DataFrame) -> bool:
    return canon(got) == canon(con.execute(sql).df())


# --- listings ---------------------------------------------------------------


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NA:
        return "NULL"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    s = str(v)
    return "NULL" if s == "" else s


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    """Silver rows (without ``dump_date``) as comparable string tuples;
    NULL, NaN and the empty string all read as NULL (a TSV sink cannot
    tell them apart)."""
    return [tuple(_cell(v) for v in row) for row in df[SILVER_COLS].itertuples(index=False)]


def model_candidates(bronze: pd.DataFrame) -> pd.DataFrame:
    """Model outcome of every bronze row on its own (no dedup): one silver
    row per surviving bronze row, carrying ``_row``, the bronze row index.
    ``bronze`` holds the six raw string columns plus ``file_name``, with
    NULL where the TSV field is empty."""
    model = _load("tests/test_reference_fidelity.py", "perfbench_reference_model")
    parts = []
    for fname, grp in bronze.groupby("file_name", sort=False):
        raw = grp.drop(columns="file_name").copy()
        raw["link"] = raw["link"] + "@@" + grp.index.astype(str)  # no dedup
        out = model._pandas_reference_clean(raw, fname, "-")
        out["_row"] = out["link"].str.split("@@").str[1].astype(int)
        out["link"] = out["link"].str.split("@@").str[0]
        parts.append(out)
    return pd.concat(parts)


def outcomes(bronze: pd.DataFrame, keys: list[str]) -> dict:
    """Per dedup key: the set of model rows any of its candidates gives,
    and whether some candidate is dropped by the model (``kept`` is then
    not ``all``)."""
    cand = model_candidates(bronze)
    idx = [SILVER_COLS.index(k) for k in keys]
    out: dict = {}
    kept = set(cand["_row"])
    for i, key in zip(bronze.index, zip(*(bronze[k] for k in keys))):
        o = out.setdefault(tuple(_cell(v) for v in key), {"rows": set(), "kept": []})
        o["kept"].append(i in kept)
    for row in canon_rows(cand):
        out[tuple(row[i] for i in idx)]["rows"].add(row)
    return out


def check_silver(expected: dict, silver: pd.DataFrame, keys: list[str]) -> list[str]:
    """Problems found comparing engine ``silver`` rows with ``expected =
    outcomes(bronze, keys)``; rows are deduplicated per ``keys``
    (``["link"]`` for the batch job, ``["link", "file_name"]`` for the
    stream)."""
    idx = [SILVER_COLS.index(k) for k in keys]
    problems, seen = [], set()
    for row in canon_rows(silver):
        key = tuple(row[i] for i in idx)
        if key in seen:
            problems.append(f"key {key} appears twice in silver")
        seen.add(key)
        if key not in expected or row not in expected[key]["rows"]:
            problems.append(f"silver row {row} is no candidate's model outcome")
    for key, o in expected.items():
        if key not in seen and all(o["kept"]):
            problems.append(f"key {key} missing from silver")
    return problems[:20]


def silver_row_range(expected: dict) -> tuple[int, int]:
    """Fewest and most silver rows any choice of dedup winners can give."""
    return (sum(all(o["kept"]) for o in expected.values()),
            sum(any(o["kept"]) for o in expected.values()))


def read_bronze(paths: list[str]) -> pd.DataFrame:
    frames = []
    for p in paths:
        df = pd.read_csv(p, sep="\t", dtype=str, keep_default_na=False, na_values=[""])
        df["file_name"] = os.path.basename(p)
        frames.append(df)
    out = pd.concat(frames, ignore_index=True)
    return out.astype(object).where(out.notna(), None)
