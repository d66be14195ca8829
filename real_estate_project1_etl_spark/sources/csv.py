"""Tab-separated CSV scan — the reference's interchange format.

The reference round-trips every stage through tab-sep CSV on S3 with
pandas type *inference* in the middle (reference: extract.py:52,
transform.py:18, load_db.py:20). Here the schema is declared (no inference
drift) and Spark enumerates all files under a glob natively — removing the
reference's one-file-per-run assumption (transform.py:8-13 takes the *first*
key) and the S3 ``list_objects`` 1000-key cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..schemas import PROPERTIES_RAW


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """Read tab-sep CSV (path may be a file, dir, or glob; s3a:// works
    unchanged on a cluster with the hadoop-aws jars)."""
    reader = (
        spark.read.option("sep", "\t")
        .option("header", header)
        .option("multiLine", False)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(PROPERTIES_RAW)
    return reader.csv(path)
