"""Streaming CDC pump — the reference's ``--pump-data`` mode
(Pumper + MySQLReader + writer chain, SURVEY §3.3) as Structured
Streaming.

The reference tails the binlog single-threaded, batches rows in an
in-memory pool flushed by size/time, forks a writer per flush, and
applies updates/deletes as per-row ALTERs outside the writer chain.
Spark shape (restoring one unified path):

- source: a file/Kafka stream of CDC records
  ``(op, log_file, log_pos, schema, table, payload...)`` (FIXTURES F5;
  in production Debezium->Kafka, here a JSON file stream stand-in);
- batching: ``trigger(processingTime=...)`` replaces the
  buckets-on-belts pool (bbpool.py) — flush-by-time is the trigger
  interval, flush-by-size is ``maxFilesPerTrigger``/
  ``maxOffsetsPerTrigger``;
- apply: ``foreachBatch`` routes rows per destination table and MERGEs
  via ``operators.cdc.apply_cdc_batch`` (last-write-wins by binlog
  position — mysqlreader.py:356-360's checkpoint pair);
- exactly-once resume: ``checkpointLocation`` replaces the reference's
  binlog-position file (O5, config.py:42-58).

Scale: each micro-batch does one window + one anti-join per touched
table; state is bounded by the *touched partitions* of the snapshot,
not the whole table — the store is partition-versioned (see
``SnapshotStore``), so a micro-batch touching one month of a 100 TB
table reads and rewrites only that month.
"""

from __future__ import annotations

import json
import os
import shutil
import urllib.parse
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_mysql_data_reader_spark.catalog.names import NameResolver
from clickhouse_mysql_data_reader_spark.operators.cdc import apply_cdc_batch

CDC_ENVELOPE = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("log_file", T.StringType(), False),
        T.StructField("log_pos", T.LongType(), False),
        T.StructField("schema", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
    ]
)


def cdc_event_schema(payload: T.StructType) -> T.StructType:
    """Envelope + flattened payload columns (the F5 event shape)."""
    return T.StructType(list(CDC_ENVELOPE.fields) + list(payload.fields))


def read_cdc_stream(
    spark: SparkSession,
    path: str,
    payload: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """JSON-file CDC source stand-in (swap for Kafka/Debezium in prod:
    same downstream plan, different ``format``)."""
    reader = spark.readStream.schema(cdc_event_schema(payload)).format("json")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


PART_COL = "_part"
MANIFEST = "MANIFEST.json"


@dataclass
class SnapshotStore:
    """Partition-versioned parquet snapshots, one dir per (db, table).

    Models the reference destination's ``ReplacingMergeTree(...)
    PARTITION BY toYYYYMM(date)`` contract (reference
    tablesqlbuilder.py:393-398) with the durability the reference gets
    from ClickHouse parts:

    - layout: ``<table>/gen-<N>/_part=<pv>/*.parquet`` data generations
      plus a ``MANIFEST.json`` mapping each live partition value to the
      generation directory that holds its current rows;
    - ``apply`` merges a CDC batch into ONLY the partitions the batch
      touches, writes the merged rows ONCE into a fresh generation, and
      commits by atomically replacing the manifest (``os.replace``).
      Untouched partitions keep pointing at their existing files, which
      are never rewritten — per-trigger I/O is O(|touched partitions|),
      not O(|snapshot|);
    - a crash anywhere before the manifest swap leaves the previous
      manifest (and every file it references) intact, so the next batch
      reads the pre-crash state; the orphaned generation is garbage-
      collected by the next successful commit. Combined with the stream
      checkpoint this gives effectively-once application.

    ``partition_expr`` is a SQL expression over payload columns (e.g.
    ``date_format(day, 'yyyyMM')``). Like the reference's partition
    key, it must be stable for a given primary key: an update that
    moves a key across partitions leaves the old copy behind — the
    exact semantics of ReplacingMergeTree, which also never merges
    across partitions. Single writer per table (the micro-batch loop),
    as in the reference's single-threaded pump.
    """

    root: str
    key_cols: list[str]
    order_cols: list[str] = field(default_factory=lambda: ["log_file", "log_pos"])
    resolver: NameResolver = field(default_factory=NameResolver)
    partition_expr: str | None = None

    def path_for(self, db: str, table: str) -> str:
        dst_db, dst_table = self.resolver.resolve(db, table)
        return os.path.join(self.root, dst_db, dst_table)

    # -- manifest ----------------------------------------------------------
    def _load_manifest(self, tdir: str) -> dict | None:
        mp = os.path.join(tdir, MANIFEST)
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            return json.load(f)

    def _commit_manifest(self, tdir: str, manifest: dict) -> None:
        """Atomic commit: tmp write + ``os.replace`` (POSIX-atomic)."""
        tmp = os.path.join(tdir, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(tdir, MANIFEST))

    def _gc(self, tdir: str, manifest: dict) -> None:
        """Best-effort removal of generations the manifest no longer
        references (crash-orphaned or fully superseded)."""
        live = {rel.split("/", 1)[0] for rel in manifest["partitions"].values()}
        for name in os.listdir(tdir):
            if name.startswith("gen-") and name not in live:
                shutil.rmtree(os.path.join(tdir, name), ignore_errors=True)

    # -- read/apply --------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        db: str,
        table: str,
        partitions: list[str] | None = None,
    ) -> DataFrame | None:
        """Read the snapshot's current state; ``partitions`` restricts
        the read to the named partition VALUES (as produced by
        ``partition_expr``) — manifest-level pruning, the ClickHouse
        partition-pruning analog: unselected partitions' files are
        never listed, opened, or footer-read, which at a
        month-partitioned 100 TB snapshot turns a one-month readback
        into a 1/N scan. Unknown partition values are simply absent
        (same semantics as a filter matching nothing)."""
        tdir = self.path_for(db, table)
        m = self._load_manifest(tdir)
        if m is None:
            return None
        parts = m["partitions"]
        if partitions is not None:
            want = set(partitions)
            parts = {pv: rel for pv, rel in parts.items() if pv in want}
        paths = [os.path.join(tdir, rel) for rel in parts.values()]
        schema = T.StructType.fromJson(m["schema"])
        if not paths:  # every key deleted — empty frame with the landed schema
            return spark.createDataFrame([], schema)
        # the manifest records the schema: reading with it skips
        # parquet's schema-inference job
        return spark.read.schema(schema).parquet(*paths)

    def apply(self, spark: SparkSession, db: str, table: str, changes: DataFrame) -> None:
        from clickhouse_mysql_data_reader_spark.operators.cdc import cdc_final_state

        payload_cols = [
            c for c in changes.columns if c not in {"op", "log_file", "log_pos", "schema", "table"}
        ]
        tdir = self.path_for(db, table)
        os.makedirs(tdir, exist_ok=True)
        manifest = self._load_manifest(tdir) or {"version": 0, "partitions": {}, "schema": None}

        if self.partition_expr:
            part_expr = F.expr(self.partition_expr).cast("string")
            touched = sorted(r[0] for r in changes.select(part_expr).distinct().collect())
        else:  # one partition: no job needed to learn which one is touched
            part_expr, touched = F.lit("all"), ["all"]
        base_paths = [
            os.path.join(tdir, manifest["partitions"][pv])
            for pv in touched
            if pv in manifest["partitions"]
        ]
        change_cols = changes.select(*payload_cols, "op", *self.order_cols)
        if base_paths:
            base = spark.read.schema(T.StructType.fromJson(manifest["schema"])).parquet(
                *base_paths
            )
            merged = apply_cdc_batch(base, change_cols, self.key_cols, self.order_cols)
        else:
            merged = cdc_final_state(change_cols, self.key_cols, self.order_cols, payload_cols)

        gen = f"gen-{manifest['version'] + 1:06d}"
        gen_dir = os.path.join(tdir, gen)
        if os.path.exists(gen_dir):  # orphan from a crashed attempt: not in
            shutil.rmtree(gen_dir)   # the manifest, safe to clear for retry
        out = merged.withColumn(PART_COL, part_expr)
        # the single data write of this commit (the old store wrote twice)
        out.write.partitionBy(PART_COL).parquet(gen_dir)

        written = {}
        if os.path.isdir(gen_dir):
            for d in os.listdir(gen_dir):
                if d.startswith(PART_COL + "="):
                    pv = urllib.parse.unquote(d.split("=", 1)[1])
                    written[pv] = f"{gen}/{d}"
        new_parts = dict(manifest["partitions"])
        for pv in touched:  # a touched partition with zero survivors drops out
            new_parts.pop(pv, None)
        new_parts.update(written)
        new_manifest = {
            "version": manifest["version"] + 1,
            "partitions": new_parts,
            "schema": json.loads(merged.schema.json()),
        }
        self._commit_manifest(tdir, new_manifest)
        self._gc(tdir, new_manifest)


def start_pump(
    events: DataFrame,
    store: SnapshotStore,
    checkpoint_dir: str,
    trigger: dict | None = None,
    max_parallel_tables: int = 8,
):
    """Wire the pump: each micro-batch is split per (schema, table) —
    the per-table belt routing of bbpool.py:13-28 as a groupBy — and
    merged into its snapshot. Returns the StreamingQuery.

    Tables touched in one micro-batch are applied CONCURRENTLY from a
    driver-side thread pool (Spark's scheduler accepts jobs from many
    driver threads) — a serial loop would turn a 500-table CDC topology
    into 500 small back-to-back Spark jobs per trigger. Concurrency is
    keyed on the DESTINATION snapshot dir, not the source table: the
    store's NameResolver supports many-to-one fan-in (dst_table /
    rename_map), and two threads applying into one dir would race the
    gen-dir cleanup and the manifest os.replace, silently dropping one
    table's changes — so source tables resolving to the same
    destination apply serially inside one pool task, in sorted order
    (deterministic), and only distinct destinations run in parallel.
    The micro-batch frame is persisted once so the per-table filters
    re-read cached blocks instead of re-executing the source scan per
    table. Any table's failure fails the whole batch (first exception
    propagates), so the trigger retries with exactly-once semantics
    intact — the snapshot commit protocol already tolerates replayed
    applies."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            tables = [
                (r["schema"], r["table"])
                for r in batch_df.select("schema", "table").distinct().collect()
            ]
            # group by resolved destination: same-dir sources must not
            # run concurrently (fan-in safety)
            by_dest: dict[str, list[tuple[str, str]]] = {}
            for db, table in sorted(tables):
                by_dest.setdefault(store.path_for(db, table), []).append((db, table))

            def apply_one(db: str, table: str) -> None:
                changes = batch_df.filter(
                    (F.col("schema") == db) & (F.col("table") == table)
                ).drop("schema", "table")
                store.apply(spark, db, table, changes)

            def apply_dest(group: list[tuple[str, str]]) -> None:
                for db, table in group:
                    apply_one(db, table)

            groups = list(by_dest.values())
            if len(groups) <= 1:
                for g in groups:
                    apply_dest(g)
            else:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(max_parallel_tables, len(groups))
                ) as pool:
                    # list() drains the iterator -> first failure raises
                    list(pool.map(apply_dest, groups))
        finally:
            batch_df.unpersist()

    writer = (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
