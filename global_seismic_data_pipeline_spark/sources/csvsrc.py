"""CSV source with explicit schema + corrupt-record quarantine.

The CSV twin of :mod:`.jsonl`, same design for the same 100 TB reasons:
read as splittable text lines, parse with ``from_csv`` under an EXPLICIT
schema (inference would be a second full pass), capture unparseable lines
in a corrupt-record column instead of dropping or raising. Parsing runs
in the JVM's univocity path under whole-stage codegen.

PERMISSIVE contract subtleties (each pinned in tests/test_csvsrc.py):

- BOTH the column parser (``from_csv``) and the file reader capture
  malformed fields (letters in a numeric column) AND token-count
  mismatches (missing trailing field) in the corrupt column — while
  still populating the fields they could parse (contrast JSON, where a
  bad line yields all-null fields);
- a quarantined line is therefore not necessarily all-null: accounting
  must key off the corrupt column, never off field nullness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import materialize

CORRUPT_COL = "_corrupt_record"


def _schema_with_corrupt(schema: str | StructType) -> str | StructType:
    if isinstance(schema, str):
        return f"{schema}, {CORRUPT_COL} string"
    from pyspark.sql.types import StringType, StructField

    return StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )


def parse_csv_lines(
    lines: DataFrame,
    schema: str | StructType,
    *,
    line_col: str = "value",
    sep: str = ",",
) -> DataFrame:
    """Parse a text-line DataFrame into ``schema`` columns + corrupt col."""
    parsed = F.from_csv(
        F.col(line_col),
        _schema_with_corrupt(schema)
        if isinstance(schema, str)
        else _schema_with_corrupt(schema).simpleString(),
        {
            "sep": sep,
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": CORRUPT_COL,
        },
    )
    return lines.select(parsed.alias("__p")).select("__p.*")


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | StructType,
    *,
    sep: str = ",",
    header: bool = False,
) -> DataFrame:
    """Read CSV shards with explicit schema and corrupt capture.

    Uses the native splittable CSV reader (one task per file split); the
    corrupt column is appended to the schema so PERMISSIVE mode has a
    place to put unparseable lines.
    """
    return (
        spark.read.schema(_schema_with_corrupt(schema))
        .option("sep", sep)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine): good rows without the corrupt column;
    quarantined raw lines for reprocessing/accounting.

    The parse is persisted once: good+bad is a diamond (two consumers of
    one scan — CLAUDE.md persist rule), and Spark additionally disallows
    corrupt-column-only projections straight over a raw CSV file scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the persist
    satisfies both. Released with the caller's ``materialized_scope``."""
    df = materialize(df)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return good, bad
