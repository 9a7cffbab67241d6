"""JSON Lines source/sink — the interchange format of LLM corpora.

The reference's file surface is CSV only (reader/csvreader.py:12-58,
writer/csvwriter.py:122); real training-data pipelines move documents
as JSONL (one JSON object per line: The Pile, RedPajama, Dolma all
ship this way). This module gives the same S3/K2-style contract for
JSONL with Spark's distributed, SPLITTABLE line-oriented JSON scan:

- explicit ``schema`` is the zero-extra-pass path (no inference job,
  same guarantee tests pin for the CSV source);
- malformed lines (truncated uploads, encoding bugs — unavoidable at
  100 TB of scraped data) follow an explicit policy instead of killing
  the job: PERMISSIVE routes them to a corrupt-record column that
  ``quarantine_split`` turns into (good, bad) frames so the pipeline
  lands clean rows AND retains the evidence; DROPMALFORMED discards;
  FAILFAST aborts — loud, for curated inputs where a bad line means an
  upstream bug.

Scale notes: uncompressed or zstd/bzip2 JSONL splits across executors
per line; gzip does NOT split (one task per .gz file), so the writer
defaults to no compression and documents the trade-off. Schema
inference on JSON is a full extra scan bounded only by
``sampling_ratio`` — always pass a schema in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MODES = ("PERMISSIVE", "DROPMALFORMED", "FAILFAST")


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
    sampling_ratio: float = 0.01,
    line_sep: str | None = None,
) -> DataFrame:
    """Distributed JSONL read with an explicit malformed-line policy.

    With ``mode='PERMISSIVE'`` and an explicit ``schema``, a
    ``corrupt_col`` string field is appended (unless the caller already
    declared one) so broken lines surface as rows with every data
    column NULL and the raw line preserved — feed the result to
    :func:`quarantine_split`. Spark only populates the column when it
    is part of the schema, which is easy to forget; doing it here makes
    the PERMISSIVE contract real instead of silently dropping evidence.
    """
    mode = mode.upper()
    if mode not in _MODES:
        raise ValueError(f"read_jsonl: mode must be one of {_MODES}, got {mode!r}")
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if schema is not None and mode == "PERMISSIVE" and corrupt_col not in schema.names:
        # COPY first: StructType.add mutates in place and returning
        # self would leak the quarantine column into the CALLER'S
        # schema object (phantom field in every later reuse)
        schema = T.StructType(list(schema.fields)).add(
            corrupt_col, T.StringType(), True
        )
    reader = spark.read.option("mode", mode).option("columnNameOfCorruptRecord", corrupt_col)
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # inference pays a bounded extra scan; explicit schema pays none
        reader = reader.option("samplingRatio", sampling_ratio)
    return reader.json(path)


def quarantine_split(df: DataFrame, corrupt_col: str = "_corrupt_record") -> tuple[DataFrame, DataFrame]:
    """(good, quarantine) from a PERMISSIVE read.

    ``good`` drops the corrupt column; ``quarantine`` keeps the raw
    offending line as ``raw_line`` PLUS the data columns (partially
    parsed fields when only one field was bad, all-NULL when the line
    was unparseable). Both are lazy filters over the same scan.

    Keeping the data columns is also a hard requirement, not a
    convenience: Spark refuses plans over raw JSON whose referenced
    columns prune down to ONLY the internal corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — e.g. a
    bare ``quarantine.count()`` still trips it. Materialize the
    quarantine (collect/write/cache) or aggregate over a data column.
    """
    if corrupt_col not in df.columns:
        raise ValueError(
            f"quarantine_split: column {corrupt_col!r} not present — read with "
            "mode='PERMISSIVE' and an explicit schema (read_jsonl adds it)"
        )
    data_cols = [c for c in df.columns if c != corrupt_col]
    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line"), *data_cols
    )
    return good, bad


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
    num_files: int | None = None,
) -> None:
    """JSONL writer (K2-family sink).

    ``compression``: None keeps output line-splittable for the next
    reader; 'zstd'/'bzip2' stay splittable in recent Hadoop codecs;
    'gzip' shrinks best but forces one read task per file — only use it
    for archive tiers. ``num_files`` coalesces small outputs (metadata
    hygiene for downstream listings); leave None to keep the upstream
    parallelism for big writes.
    """
    out = df.coalesce(num_files) if num_files else df
    writer = out.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
