"""CSV/TSV readers reproducing the reference's file-format semantics.

Reference file formats (BlueForty.py:23-33 purchases CSV, :331-338 supplier
CSV, :392-395 gazetteer TSV):

- header skip, optional ``"`` quoting, whitespace trim
- multi-token null sentinels ``('\\N','NULL','','N/A')``
- empty field → null
- ``YYYY-MM-DD`` date format, auto timestamps
- row-level error tolerance ``ON_ERROR='CONTINUE'`` (BlueForty.py:113)

Spark's ``nullValue`` takes a single token, so the multi-sentinel contract
is applied as a post-read column transform (still JVM-side, still inside
whole-stage codegen — no UDF).  Error tolerance maps to the reader's
PERMISSIVE / DROPMALFORMED / FAILFAST modes (ON_ERROR CONTINUE ≈
DROPMALFORMED, ABORT_STATEMENT ≈ FAILFAST).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

#: BlueForty.py:29 — NULL_IF = ('\N','NULL','','N/A')
NULL_SENTINELS = ("\\N", "NULL", "", "N/A")

#: BlueForty.py:23-33 (FF_PURCHASES_CSV)
PURCHASES_CSV_OPTIONS = {
    "header": "true",
    "quote": '"',
    "ignoreLeadingWhiteSpace": "true",  # TRIM_SPACE=TRUE
    "ignoreTrailingWhiteSpace": "true",
    "dateFormat": "yyyy-MM-dd",
    "mode": "DROPMALFORMED",  # ON_ERROR='CONTINUE'
}

#: BlueForty.py:331-338 (FF_SUPPLIER_CSV — no TRIM_SPACE, same sentinels minus '\N')
SUPPLIER_CSV_OPTIONS = {
    "header": "true",
    "quote": '"',
    "mode": "DROPMALFORMED",
}

#: BlueForty.py:392-395 (tab-delimited gazetteer)
TSV_OPTIONS = {
    "header": "true",
    "quote": '"',
    "sep": "\t",
    "mode": "PERMISSIVE",
}


def nullify_sentinels(
    col: Column, sentinels: tuple[str, ...] = NULL_SENTINELS
) -> Column:
    """Multi-token NULL_IF (BlueForty.py:29): any sentinel value → null.
    Pure Column expression — stays in whole-stage codegen."""
    return F.when(col.isin(*sentinels), F.lit(None)).otherwise(col)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    options: dict[str, str] | None = None,
    null_sentinels: tuple[str, ...] | None = NULL_SENTINELS,
    path_glob: str | None = None,
) -> DataFrame:
    """Declarative CSV scan with the reference's option bundle.

    ``path_glob`` reproduces the COPY `PATTERN` path-regex scan filter
    (BlueForty.py:110) via ``pathGlobFilter`` + ``recursiveFileLookup`` —
    at scale this is file-listing-time pruning, no data read for
    non-matching files.
    """
    opts = dict(PURCHASES_CSV_OPTIONS if options is None else options)
    if path_glob:
        opts["pathGlobFilter"] = path_glob
        opts["recursiveFileLookup"] = "true"
    reader = spark.read.options(**opts)
    if schema is not None:
        # Read as all-string first when sentinel scrubbing is requested so
        # sentinels in numeric columns don't hard-fail the typed parse;
        # typed casting happens after scrubbing.
        df = reader.csv(path) if null_sentinels else reader.schema(schema).csv(path)
    else:
        df = reader.csv(path)
    if null_sentinels:
        df = df.select(
            *[nullify_sentinels(F.col(c), null_sentinels).alias(c) for c in df.columns]
        )
        if schema is not None:
            # Apply the schema BY POSITION (headerless files surface as
            # _c0.., so name matching would silently drop every field), and
            # use try_cast so the null-on-failure contract holds even under
            # a caller session with spark.sql.ansi.enabled=true.
            if len(schema.fields) != len(df.columns):
                raise ValueError(
                    f"schema has {len(schema.fields)} fields but CSV has "
                    f"{len(df.columns)} columns"
                )
            df = df.select(
                *[
                    df[c].try_cast(f.dataType).alias(f.name)
                    for f, c in zip(schema.fields, df.columns)
                ]
            )
    return df


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    **kwargs,
) -> DataFrame:
    """Gazetteer-style TSV (BlueForty.py:392-422)."""
    return read_csv(spark, path, schema=schema, options=TSV_OPTIONS, **kwargs)


def with_file_metadata(df: DataFrame) -> DataFrame:
    """METADATA$FILENAME / METADATA$FILE_LAST_MODIFIED per row
    (BlueForty.py:106-107) via Spark's hidden ``_metadata`` struct."""
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("SRC_FILENAME"),
        F.col("_metadata.file_modification_time").alias("SRC_FILE_TS"),
    )


def with_filename_partition(
    df: DataFrame,
    pattern: str = r"(20\d{2})[-_](\d{1,2})",
) -> DataFrame:
    """Filename-derived partition columns.

    The reference derives ``purchases/yyyy/mm/`` stage paths from a filename
    regex at upload time (BlueForty.py:66-75) — a hand-rolled partition
    scheme.  Here the year/month become real columns derived from
    ``input_file_name()``; written back out with ``partitionBy('yyyy','mm')``
    they become genuine Hive partitions that Catalyst prunes.
    Files not matching the pattern land in the reference's ``misc/00``
    bucket (BlueForty.py:70-71).
    """
    fname = F.input_file_name()
    yyyy = F.regexp_extract(fname, pattern, 1)
    mm = F.regexp_extract(fname, pattern, 2)
    return df.select(
        "*",
        F.when(yyyy == "", F.lit("misc")).otherwise(yyyy).alias("yyyy"),
        F.when(mm == "", F.lit("00")).otherwise(F.lpad(mm, 2, "0")).alias("mm"),
    )


def read_csv_with_badrows(
    spark: SparkSession,
    path: str,
    schema: StructType,
    options: Mapping[str, str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE CSV read returning ``(good_rows, bad_rows)`` — the
    audit variant of the reference's ``ON_ERROR='CONTINUE'``
    (BlueForty.py:113): rows the typed parse rejects are quarantined as
    raw text instead of silently dropped.

    Requires an explicit ``schema`` (PERMISSIVE needs somewhere to put
    the raw line, and positional semantics demand declared types).  The
    parsed frame is cached for the same reason as the JSONL twin: Spark
    refuses plans reading ONLY the corrupt-record column from a raw
    scan, and one cached pass feeds both outputs anyway.
    """
    corrupt = "_corrupt_record"
    full = StructType(
        list(schema.fields) + [StructField(corrupt, StringType())]
    )
    reader = (
        spark.read.options(**(dict(options) if options else {}))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .schema(full)
    )
    df = reader.csv(path).cache()
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = df.filter(F.col(corrupt).isNotNull()).select(corrupt)
    return good, bad
