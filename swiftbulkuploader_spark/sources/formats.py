"""Source/sink format coverage beyond parquet (SURVEY.md §2.1).

The reference reads exactly one source (the filesystem) and one table
(MySQL). An engine replacing it meets data where it lives: explicit-schema
readers/writers for CSV, JSON-lines, ORC and Parquet with consistent
null/date handling.

Explicit schemas everywhere: `inferSchema` double-scans the data and guesses
types per-run — at 100 TB both are unacceptable. Schema objects are the
catalog contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FORMATS = ("parquet", "orc", "json", "csv")


def write_table(df: DataFrame, path: str, fmt: str, mode: str = "overwrite") -> None:
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; supported: {FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        # header for interop; explicit timestamp format so round-trips are
        # lossless at second granularity; the writer TRIMS field whitespace
        # by default (ignore*WhiteSpace=true) — disable for lossless values
        w = (
            w.option("header", "true")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
        )
    df_out = w
    df_out.save(path)


def read_table(spark: SparkSession, path: str, fmt: str, schema: T.StructType) -> DataFrame:
    """Read with an EXPLICIT schema — never inferSchema (double scan +
    per-run type drift)."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format {fmt!r}; supported: {FORMATS}")
    r = spark.read.format(fmt).schema(schema)
    if fmt == "csv":
        r = (
            r.option("header", "true")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
            # multiLine: quoted fields may contain record separators — without
            # it a value with an embedded newline silently corrupts into two
            # rows (found by the adversarial round-trip property test).
            # Costs splittability: a multiLine csv file is one task; that is
            # the price of newline-bearing data in csv — parquet is the
            # scale format, csv the interchange one.
            .option("multiLine", "true")
        )
    return r.load(path)


def read_tolerant(spark: SparkSession, path: str, fmt: str,
                  schema: T.StructType) -> DataFrame:
    """Read semi-structured text data (json/csv) with malformed rows
    captured as DATA instead of killing the job: PERMISSIVE mode routes
    each unparseable line into a `_corrupt_record` column (good rows have
    it null). The row-level counterpart of the try_* expression suite and
    of the upload stage's errors-as-rows policy — at 100 TB one bad line
    in a billion must quarantine, not crash. Filter `_corrupt_record IS
    NOT NULL` into a quarantine table; the reverse is the clean feed."""
    if fmt not in ("json", "csv"):
        raise ValueError(f"tolerant reads are for json/csv, got {fmt!r}")
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    r = (
        spark.read.format(fmt).schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if fmt == "csv":
        # same parse options as read_table — otherwise rows write_table
        # produced (quoted newlines, 6-digit-fraction timestamps) would be
        # FALSELY quarantined as corrupt
        r = (
            r.option("header", "true")
            .option("multiLine", "true")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        )
    return r.load(path)


def read_evolved(spark: SparkSession, path: str,
                 schema: T.StructType | None = None) -> DataFrame:
    """Read a parquet dataset whose files were written under DIFFERENT
    schema versions (columns added over time — the normal life of a
    long-lived attempt log or manifest).

    Two supported contracts:
    * `schema` given (preferred at scale): the CURRENT catalog schema is
      projected onto every file; missing columns read as null. No footer
      pre-scan at all — planning cost independent of file count.
    * `schema=None`: `mergeSchema` unions the per-file footers — a
      planning-time footer scan of every file; acceptable for ad-hoc
      exploration, not for a 100 TB production read (which is why the
      catalog schema is the default path everywhere else in this engine).

    Renames and type changes are NOT schema evolution (they are new
    columns / new tables); additive-only is the contract, same as
    parquet's own.
    """
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)
