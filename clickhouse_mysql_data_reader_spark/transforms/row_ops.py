"""Row-level transform surface (SURVEY §2.3), columnar-style.

The reference applies these per-row in Python loops
(converter/chwriteconverter.py, csvwriteconverter.py, csvreadconverter.py);
here each is a whole-column Catalyst expression — vectorized, codegen'd,
and pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def skip_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """T2 — column skip-list (tablesqlbuilder.py:199-201,
    tablemigrator.py:226-237). ``drop`` prunes all the way into the scan."""
    return df.drop(*[c for c in cols if c in df.columns])


def apply_defaults(df: DataFrame, defaults: dict[str, object]) -> DataFrame:
    """T5 — NULL -> configured default (csvwriteconverter.py:19-33)."""
    return df.fillna({k: v for k, v in defaults.items() if k in df.columns})


def empty_string_to_null(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """T6 — '' -> NULL on ingest (csvreadconverter.py:10-22)."""
    targets = cols or [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    for c in targets:
        df = df.withColumn(c, F.nullif(F.col(c), F.lit("")))
    return df


def cast_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """T4 — coerce columns to the §1.2-mapped types. The reference does
    per-value Python casts at write time (chwriteconverter.py:17-72);
    here it is one projection the optimizer folds into the scan."""
    by_name = {f.name: f.dataType for f in schema.fields}
    return df.select(
        *[
            F.col(c).cast(by_name[c]).alias(c) if c in by_name else F.col(c)
            for c in df.columns
        ]
    )


def filter_tables(df: DataFrame, table_col: str, tables: list[str] | None = None,
                  prefixes: list[str] | None = None) -> DataFrame:
    """T3 — keep events for listened tables (mysqlreader.py:155-174):
    exact list OR prefix match, as one pushdown-able predicate."""
    cond = F.lit(False)
    if tables:
        cond = cond | F.col(table_col).isin(tables)
    for p in prefixes or []:
        cond = cond | F.col(table_col).startswith(p)
    return df.filter(cond)


def _merge_json_types(a, b):
    """Widen two inferred Spark types to the narrowest common one.
    Conflicting shapes degrade to string — the reference's own move for
    values it can't type (tablesqlbuilder.py default branch)."""
    if a is None:
        return b
    if b is None or a == b:
        return a
    numeric = (T.LongType(), T.DoubleType())
    if a in numeric and b in numeric:
        return T.DoubleType()
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fields = {f.name: f.dataType for f in a.fields}
        for f in b.fields:
            fields[f.name] = _merge_json_types(fields.get(f.name), f.dataType)
        return T.StructType(
            [T.StructField(n, t, True) for n, t in sorted(fields.items())]
        )
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(
            _merge_json_types(a.elementType, b.elementType), True
        )
    return T.StringType()


def _json_value_type(v):
    if v is None:
        return None
    if isinstance(v, bool):  # before int: bool is an int subclass
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, list):
        el = None
        for x in v:
            el = _merge_json_types(el, _json_value_type(x))
        return T.ArrayType(el or T.StringType(), True)
    if isinstance(v, dict):
        return T.StructType(
            [
                T.StructField(k, _json_value_type(x) or T.StringType(), True)
                for k, x in sorted(v.items())
            ]
        )
    return T.StringType()


def infer_json_schema(
    df: DataFrame, col: str, sample_rows: int = 1000
) -> T.StructType:
    """Infer a StructType for a JSON-string column from a BOUNDED
    driver-side sample (the reference's CDC path destroys JSON values
    entirely, mysqlreader.py:253-262 — here semi-structured payloads
    become typed columns instead). Schemas are merged across the
    sample: missing keys stay nullable, int+float widens to double,
    genuinely conflicting shapes degrade to string. The sample is
    `limit(sample_rows)` — one bounded driver action, never a full
    scan; keys appearing only past the sample are MISSED by design
    (pass a bigger sample_rows, or a hand-written schema, when payload
    shapes rotate slowly)."""
    import json as _json

    merged = None
    for row in df.select(col).filter(F.col(col).isNotNull()).limit(sample_rows).collect():
        try:
            v = _json.loads(row[0])
        except (ValueError, TypeError):
            continue
        if isinstance(v, dict):
            merged = _merge_json_types(merged, _json_value_type(v))
    if merged is None or not isinstance(merged, T.StructType):
        raise ValueError(
            f"infer_json_schema: no parseable JSON objects in the first "
            f"{sample_rows} rows of {col!r}"
        )
    return merged


def flatten_json(
    df: DataFrame,
    col: str,
    schema: T.StructType | None = None,
    sample_rows: int = 1000,
) -> DataFrame:
    """Promote a JSON-string column's top-level fields to real typed
    columns via from_json (JVM-side, codegen) — the semi-structured
    landing step. ``schema=None`` infers one from a bounded sample;
    production pins an explicit schema (inference is for exploration
    and first-landing). Name collisions with existing columns raise
    rather than silently shadow. Nested objects stay structs (dot-path
    selects prune into them)."""
    schema = schema or infer_json_schema(df, col, sample_rows)
    clash = [f.name for f in schema.fields if f.name in df.columns]
    if clash:
        raise ValueError(f"flatten_json: field names collide with columns {clash}")
    parsed = df.withColumn("_fj", F.from_json(F.col(col), schema))
    keep = [c for c in df.columns if c != col]
    return parsed.select(
        *keep, *[F.col(f"_fj.{f.name}").alias(f.name) for f in schema.fields]
    )
