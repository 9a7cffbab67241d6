"""PySpark-native analytics + pipeline engine.

A ground-up Spark-first re-expression of the capabilities of
``SamvelGabrielyan/clickhouse-mysql-data-reader`` (a MySQL -> ClickHouse
bulk-migration + binlog-CDC pipeline, see SURVEY.md):

- pipeline surface  [A]: type mapping, DDL generation, JDBC/CSV/parquet
  sources, row transforms, batch sinks, CDC apply semantics
  (``ReplacingMergeTree``-style last-write-wins), structured-streaming pump.
- analytics surface [B]: the query operators the reference delegates to
  ClickHouse (joins, aggregates, windows, set ops, scalar/JSON functions),
  exposed as Catalyst built-ins.
- scale extras: dedup (exact/minhash/simhash/jaccard), embedding
  similarity search, text analysis, multimodal column plumbing.

Everything is DataFrame/SQL-first: logical plans are declared, Catalyst +
Tungsten pick the physical strategy. UDFs appear only where built-ins
genuinely cannot express the semantics (and then as Arrow-batched
pandas UDFs).
"""

__version__ = "0.1.0"

from clickhouse_mysql_data_reader_spark.curation import (  # noqa: F401
    CurationConfig,
    CurationState,
    curate,
    curate_increment,
    curate_stream,
)
from clickhouse_mysql_data_reader_spark.session import get_spark  # noqa: F401
from clickhouse_mysql_data_reader_spark.sources.parquet import load_tables  # noqa: F401
