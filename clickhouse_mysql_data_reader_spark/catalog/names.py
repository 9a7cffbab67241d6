"""Table-name resolution: rename, prefixing, fan-in, distributed suffix.

Same contract as the reference's TableProcessor name logic
(tableprocessor.py:63-213) without copying its implementation:

- ``create_full_table_name`` — backtick-quoted ``db.table`` names
  (tableprocessor.py:146-213).
- prefix matching for ``log_*``-style fan-in discovery
  (``tables_match``, tableprocessor.py:118-144).
- destination rename map + ``_all`` suffix for distributed mode
  (tableprocessor.py:165-181; chwriter.py:35-38, 89-91). In Spark the
  ``_all`` concept is naming-only: reads of a sharded set are a
  ``unionByName`` over per-shard tables.
"""

from __future__ import annotations

from dataclasses import dataclass, field


def quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def create_full_table_name(db: str | None, table: str) -> str:
    return f"{quote_ident(db)}.{quote_ident(table)}" if db else quote_ident(table)


def table_matches_prefix(table: str, prefixes: list[str]) -> bool:
    return any(table.startswith(p) for p in prefixes)


@dataclass
class NameResolver:
    """Destination naming policy for the write path (T9)."""

    dst_schema: str | None = None  # rename every db to this
    dst_table: str | None = None  # fan-in: every src table lands here
    dst_table_prefix: str | None = None  # e.g. "ch_"
    distribute: bool = False  # append the reference's `_all` suffix
    rename_map: dict[tuple[str, str], tuple[str, str]] = field(default_factory=dict)

    def resolve(self, src_db: str, src_table: str) -> tuple[str, str]:
        if (src_db, src_table) in self.rename_map:
            db, table = self.rename_map[(src_db, src_table)]
        else:
            db = self.dst_schema or src_db
            table = self.dst_table or src_table
            if self.dst_table_prefix and not self.dst_table:
                table = self.dst_table_prefix + table
        if self.distribute:
            table = f"{table}_all"
        return db, table
