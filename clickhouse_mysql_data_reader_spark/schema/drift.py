"""Schema drift detection between two table schemas.

The reference has no ALTER handling — a changed source table means
re-running the migration by hand (manual.md's drop/recreate recipe);
its users diff `DESCRIBE` output by eye. Here the diff is a pure
function over Spark StructTypes with an explicit safety verdict per
change, so the CDC/migration path can decide mechanically: keep
landing (all changes safe), or stop and re-land (any unsafe one).

Safety here means "existing landed parquet remains readable and every
old value fits the new type" — Spark's up-cast rules (Cast.canUpCast
in the public Spark source), restated:

- numeric widening along byte < short < int < long, float < double,
  and integral -> a decimal with enough integer digits;
- decimal -> decimal when both the scale and the integer-digit
  capacity (precision - scale) grow or stay equal;
- date -> timestamp;
- any atomic type -> string (the reference's own degrade-to-String
  move, tablesqlbuilder.py:293-294);
- ADDED columns are safe only if nullable (old rows read as NULL);
  REMOVED columns and nullable -> non-nullable tightening are unsafe.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

_INT_RANK = {
    T.ByteType(): 1,
    T.ShortType(): 2,
    T.IntegerType(): 3,
    T.LongType(): 4,
}
# minimum decimal integer-digit capacity that holds each integral type
_INT_DIGITS = {
    T.ByteType(): 3,
    T.ShortType(): 5,
    T.IntegerType(): 10,
    T.LongType(): 19,
}


def _can_upcast(old: T.DataType, new: T.DataType) -> bool:
    if old == new:
        return True
    if isinstance(new, T.StringType) and isinstance(old, T.AtomicType):
        return True
    if old in _INT_RANK and new in _INT_RANK:
        return _INT_RANK[old] < _INT_RANK[new]
    if isinstance(old, T.FloatType) and isinstance(new, T.DoubleType):
        return True
    if old in _INT_DIGITS and isinstance(new, T.DecimalType):
        return new.precision - new.scale >= _INT_DIGITS[old]
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        return (
            new.scale >= old.scale
            and new.precision - new.scale >= old.precision - old.scale
        )
    if isinstance(old, T.DateType) and isinstance(new, T.TimestampType):
        return True
    return False


@dataclass(frozen=True)
class SchemaChange:
    kind: str  # added | removed | type_changed | nullability_changed
    column: str
    old_type: str | None
    new_type: str | None
    safe: bool
    reason: str


def schema_diff(old: T.StructType, new: T.StructType) -> list[SchemaChange]:
    """Every difference between two schemas, each with a safety verdict.

    Order: removed, then per-new-column added/changed — deterministic
    for a given pair of schemas (dict order of the fields).
    """
    old_fields = {f.name: f for f in old.fields}
    new_fields = {f.name: f for f in new.fields}
    changes: list[SchemaChange] = []
    for name, f in old_fields.items():
        if name not in new_fields:
            changes.append(
                SchemaChange(
                    "removed", name, f.dataType.simpleString(), None, False,
                    "column dropped: landed values become unreadable",
                )
            )
    for name, f in new_fields.items():
        if name not in old_fields:
            changes.append(
                SchemaChange(
                    "added", name, None, f.dataType.simpleString(), f.nullable,
                    "nullable add: old rows read as NULL"
                    if f.nullable
                    else "non-nullable add: old rows have no value",
                )
            )
            continue
        o = old_fields[name]
        if o.dataType != f.dataType:
            ok = _can_upcast(o.dataType, f.dataType)
            changes.append(
                SchemaChange(
                    "type_changed", name,
                    o.dataType.simpleString(), f.dataType.simpleString(), ok,
                    "lossless up-cast" if ok else "narrowing or incompatible cast",
                )
            )
        if o.nullable != f.nullable:
            changes.append(
                SchemaChange(
                    "nullability_changed", name,
                    o.dataType.simpleString(), f.dataType.simpleString(),
                    f.nullable,
                    "loosened to nullable"
                    if f.nullable
                    else "tightened: existing NULLs would violate",
                )
            )
    return changes
