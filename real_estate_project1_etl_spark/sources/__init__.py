from .parquet import load_table, load_tables  # noqa: F401
from .csv import read_tsv  # noqa: F401
