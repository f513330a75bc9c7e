"""Schema-pinned file readers with malformed-row policy.

Reference analog S1: ``src/extract.py:27-69`` reads CSV with an explicit
StructType (never inferred — no double scan, strict types, enables
FAILFAST; rationale ``notebooks/01_data_ingestion.py:172-179``) and a
read-time mode: FAILFAST | PERMISSIVE | DROPMALFORMED. This module keeps
those semantics and adds the quarantine pattern PERMISSIVE enables: with a
``corrupt_col``, malformed rows land in a side column instead of
vanishing, and ``split_corrupt`` separates them for audit — the batch
analog of the CDC engine's envelope quarantine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MODES = ("FAILFAST", "PERMISSIVE", "DROPMALFORMED")


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    header: bool = True,
    timestamp_format: str | None = None,
    multi_line: bool = False,
    corrupt_col: str | None = None,
) -> DataFrame:
    """CSV scan with pinned schema (src/extract.py:40-69 semantics)."""
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    if corrupt_col:
        schema = T.StructType(
            list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
        )
    reader = (
        spark.read.option("header", str(header).lower())
        .option("mode", mode)
        .option("escape", '"')
        .option("multiLine", str(multi_line).lower())
    )
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    if corrupt_col:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.schema(schema).csv(path)


def split_corrupt(
    df: DataFrame, corrupt_col: str = "_corrupt"
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) from a PERMISSIVE read with a corrupt column.

    Spark disallows predicates that reference ONLY the internal corrupt
    column on a raw file scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the
    scan must be materialized first; ``cache()`` is the documented
    workaround and both halves reuse the one materialization.
    """
    df = df.cache()
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull())
    return clean, bad
