"""CLI entrypoint (O4) — ``python -m clickhouse_mysql_data_reader_spark``.

Routes the reference's four verbs (main.py:185-228: start() dispatch
over create-table-sql / create-table-json-template / migrate-table /
pump-data) onto the engine:

- create-table-sql  -> print executable Spark DDL per discovered table
- create-table-json-template -> print the JSON IPC template
- migrate-table     -> Migrator.migrate_all() + reconciliation report
- pump-data         -> streaming CDC pump over a JSON event directory
- profile-table     -> per-column quality profile + schema drift vs the
                       landed destination (monitoring verb beyond the
                       reference's four; exit 1 on UNSAFE drift)
- curate-data       -> LLM-corpus curation (gates + exact/near/semantic
                       dedup + decontamination, curation.py) over a
                       parquet document corpus; batch, or incremental
                       against a landed CurationState (--curation-state)

Exit code is 0 only when every migrated table reconciles (the
reference's manual acceptance check, automated).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession

from clickhouse_mysql_data_reader_spark.config import AppConfig, parse_config
from clickhouse_mysql_data_reader_spark.migrator import Migrator
from clickhouse_mysql_data_reader_spark.session import get_spark


def run(cfg: AppConfig, spark: SparkSession | None = None) -> int:
    verb = cfg.verb()  # validates exactly-one
    if spark is None:
        spark = get_spark(app_name="clickhouse-mysql-spark")
        spark.sparkContext.setLogLevel(cfg.log_level)

    if verb in ("create-table-sql", "create-table-json-template"):
        mig = Migrator(spark, cfg)
        for db, tables in sorted(mig.discover().items()):
            for table in tables:
                # policy-applied frame so the printed DDL matches the
                # schema migrate-table actually lands (column-skip etc.)
                df = mig.apply_column_policy(mig.read_source(db, table))
                if verb == "create-table-sql":
                    dst_db, dst_table = mig.resolver.resolve(db, table)
                    location = (
                        f"{cfg.dst.parquet_dir}/{dst_db}/{dst_table}"
                        if cfg.dst.parquet_dir
                        else None
                    )
                    print(mig.ddl_for(db, table, df, location) + ";")
                else:
                    print(mig.json_template_for(db, table, df))
        return 0

    if verb == "profile-table":
        from clickhouse_mysql_data_reader_spark.operators.profile import (
            profile_table,
        )

        mig = Migrator(spark, cfg)
        unsafe = 0
        for db, tables in sorted(mig.discover().items()):
            for table in tables:
                df = mig.apply_column_policy(mig.read_source(db, table))
                for row in profile_table(df).collect():
                    print(json.dumps({"db": db, "table": table, **row.asDict()}))
                if cfg.dst.parquet_dir:
                    # drift vs the landed destination, when one exists;
                    # ONLY a missing path means "nothing landed yet" —
                    # any other failure (corrupt footer, permissions,
                    # schema-merge conflict) must surface, not read as
                    # drift-free
                    from pyspark.errors import AnalysisException

                    try:
                        changes = mig.check_drift(db, table)
                    except AnalysisException as ex:
                        if "PATH_NOT_FOUND" in str(ex):
                            continue  # nothing landed yet -> no drift row
                        raise
                    for c in changes:
                        unsafe += 0 if c.safe else 1
                        print(json.dumps({
                            "db": db, "table": table, "drift": c.kind,
                            "column": c.column, "old_type": c.old_type,
                            "new_type": c.new_type, "safe": c.safe,
                            "reason": c.reason,
                        }))
        # exit 0 only when no UNSAFE drift (profile rows are informational)
        return 0 if unsafe == 0 else 1

    if verb == "curation-report":
        from clickhouse_mysql_data_reader_spark.curation import CurationState

        if not cfg.curate.state_dir:
            raise ValueError(
                "--curation-report requires --curation-state (the landed "
                "state directory to report on)"
            )
        # a plain read handle: the report only scans landed tables, so
        # no geometry/decoder parameters are needed (or validated)
        state = CurationState(cfg.curate.state_dir)
        print(json.dumps({
            "verb": verb,
            "state_dir": cfg.curate.state_dir,
            "growth": state.growth_report(spark),
            "media_dup_rates": [
                r.asDict() for r in state.media_dup_rate_report(spark).collect()
            ],
        }))
        return 0
    if verb == "curate-data":
        from clickhouse_mysql_data_reader_spark.curation import (
            CurationConfig,
            CurationState,
            curate,
            curate_increment,
        )

        if not (cfg.src.parquet_dir and cfg.dst.parquet_dir):
            raise ValueError(
                "--curate-data requires --src-parquet-dir (the document "
                "corpus) and --dst-parquet-dir (where survivors land)"
            )
        if cfg.curate.run_id is not None and cfg.curate.epoch_id is None:
            # the history-join exclusion is keyed on the EPOCH tag (the
            # run id only scopes it) — a run id alone provides ZERO
            # retry protection while looking like it does
            raise ValueError(
                "--curation-run-id requires --curation-epoch: replay "
                "exclusion is keyed on the epoch tag; a run id alone "
                "does not make the batch retryable"
            )
        ckw = {}
        if cfg.curate.config_file:
            with open(cfg.curate.config_file) as f:
                ckw = json.load(f)
        ccfg = CurationConfig(**ckw)  # __post_init__ validates the knobs
        docs = spark.read.parquet(cfg.src.parquet_dir)
        benchmark = (
            spark.read.parquet(cfg.curate.benchmark_dir)
            if cfg.curate.benchmark_dir
            else None
        )
        mode = (
            "stream"
            if cfg.curate.stream_checkpoint
            else ("increment" if cfg.curate.state_dir else "batch")
        )
        if cfg.dry:
            # dry mode prints the plan inputs and changes nothing,
            # like the migration verbs
            print(json.dumps({
                "verb": verb, "dry": True, "input_rows": docs.count(),
                "mode": mode, "curation_config": ckw,
            }))
            return 0
        # input_rows is counted only AT REPORT TIME (after the real
        # work): for parquet it's a footer read either way, but a
        # non-parquet front would pay a full scan before curating
        if cfg.curate.stream_checkpoint:
            # streaming mode: drain the source dir's current files
            # through curate_stream (availableNow — the pump's
            # drain-and-stop shape), epoch outputs under dst, state
            # grown per epoch. Resumable: rerunning with the same
            # checkpoint processes only NEW files, and run_id =
            # checkpoint dir scopes the epoch tags exactly as
            # curate_stream's contract requires (a fresh checkpoint
            # restarts epoch ids at 0).
            from clickhouse_mysql_data_reader_spark.curation import curate_stream

            if not cfg.curate.state_dir:
                raise ValueError(
                    "--curation-stream-checkpoint requires --curation-state "
                    "(the stream dedups each epoch against the landed state)"
                )
            state = CurationState.from_config(ccfg, cfg.curate.state_dir)
            stream = (
                spark.readStream.schema(docs.schema).parquet(cfg.src.parquet_dir)
            )
            writer = curate_stream(
                stream, state, cfg.dst.parquet_dir, cfg=ccfg,
                benchmark=benchmark, text_col=cfg.curate.text_col,
                id_col=cfg.curate.id_col,
                run_id=cfg.curate.stream_checkpoint,
            )
            q = (
                writer.option("checkpointLocation", cfg.curate.stream_checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            print(json.dumps({
                "verb": verb, "mode": mode, "input_rows": docs.count(),
                "out_dir": cfg.dst.parquet_dir,
                "state_dir": cfg.curate.state_dir,
                "checkpoint": cfg.curate.stream_checkpoint,
            }))
            return 0
        if cfg.curate.state_dir:
            state = CurationState.from_config(ccfg, cfg.curate.state_dir)
            # State commits LAST, derived from the durably written dst
            # (curation_epoch_apply's ordering): doc tables, line fps and
            # split assignment land in ONE commit, so a crash leaves the
            # state without the batch and a plain rerun lands it exactly
            # once. Rerunning a batch whose state already committed
            # needs the same --curation-epoch/--curation-run-id, so the
            # history joins exclude the batch's own rows.
            fps_out: dict = {}
            sp_out: dict = {}
            kept = curate_increment(
                docs, state, cfg=ccfg, benchmark=benchmark,
                text_col=cfg.curate.text_col, id_col=cfg.curate.id_col,
                update_state=False,
                epoch_id=cfg.curate.epoch_id, run_id=cfg.curate.run_id,
                line_fps_out=fps_out, splits_out=sp_out,
            )
            kept.write.mode("overwrite").parquet(cfg.dst.parquet_dir)
            state.write(
                spark.read.parquet(cfg.dst.parquet_dir),
                text_col=cfg.curate.text_col, id_col=cfg.curate.id_col,
                epoch_id=cfg.curate.epoch_id, run_id=cfg.curate.run_id,
                line_fps=fps_out.get("line_fps"),
                split_comps=sp_out.get("comps"),
                split_fractions=ccfg.split_fractions,
            )
            mode = "increment"
        else:
            res = curate(
                docs, benchmark=benchmark, cfg=ccfg,
                text_col=cfg.curate.text_col, id_col=cfg.curate.id_col,
            )
            # after_mixture = the curated corpus (mixture-shaped when
            # configured); `packed` adds training-shard layout columns,
            # a downstream concern the API exposes
            res.after_mixture.write.mode("overwrite").parquet(cfg.dst.parquet_dir)
            if res.split_assignments is not None:
                # leakage-safe split map (id, component, split) lands as
                # a sibling table — joinable back on the id, and written
                # AFTER the corpus so a crash between the two leaves a
                # complete corpus with splits merely absent
                splits_dir = cfg.dst.parquet_dir.rstrip("/") + "_splits"
                res.split_assignments.write.mode("overwrite").parquet(splits_dir)
            res.unpersist()
            mode = "batch"
        n_out = spark.read.parquet(cfg.dst.parquet_dir).count()
        report = {
            "verb": verb, "mode": mode, "input_rows": docs.count(),
            "kept_rows": n_out, "out_dir": cfg.dst.parquet_dir,
            "state_dir": cfg.curate.state_dir,
        }
        if ccfg.split_fractions is not None and not cfg.curate.state_dir:
            report["splits_dir"] = cfg.dst.parquet_dir.rstrip("/") + "_splits"
        elif ccfg.split_fractions is not None:
            # increments land assignments in the state's splits table
            # (read back via CurationState.split_assignments)
            report["split_rows"] = {
                r["split"]: r["count"]
                for r in state.split_assignments(spark)
                .groupBy("split").count().collect()
            }
        print(json.dumps(report))
        return 0

    if verb == "migrate-table":
        mig = Migrator(spark, cfg)
        reports = mig.migrate_all()
        ok = True
        for r in reports:
            print(json.dumps(r.as_dict()))
            ok = ok and (cfg.dry or r.reconciled)
        return 0 if ok else 1

    # pump-data
    from pyspark.sql import types as T

    from clickhouse_mysql_data_reader_spark.catalog.names import NameResolver
    from clickhouse_mysql_data_reader_spark.streaming.pump import (
        SnapshotStore,
        read_cdc_stream,
        start_pump,
    )

    p = cfg.pump
    if not (p.cdc_dir and p.checkpoint_dir and p.snapshot_root and p.key_cols):
        raise ValueError(
            "--pump-data requires --cdc-dir, --binlog-position-file, "
            "--snapshot-root and --pump-key-columns"
        )
    # payload schema from a sample event file (driver-side peek, like
    # the reference reading the binlog header)
    sample = spark.read.json(p.cdc_dir)
    payload = T.StructType(
        [f for f in sample.schema.fields
         if f.name not in {"op", "log_file", "log_pos", "schema", "table"}]
    )
    events = read_cdc_stream(
        spark, p.cdc_dir, payload, max_files_per_trigger=p.max_files_per_trigger
    )
    store = SnapshotStore(
        root=p.snapshot_root,
        key_cols=p.key_cols,
        resolver=NameResolver(
            dst_schema=cfg.dst.schema,
            dst_table=cfg.dst.table,
            dst_table_prefix=cfg.dst.table_prefix,
        ),
    )
    trigger: dict = {}
    if p.available_now:
        trigger = {"availableNow": True}
    elif p.flush_interval_secs:
        trigger = {"processingTime": f"{p.flush_interval_secs} seconds"}
    query = start_pump(events, store, p.checkpoint_dir, trigger or None)
    query.awaitTermination()
    return 0


def main(argv: list[str] | None = None) -> int:
    return run(parse_config(argv))


if __name__ == "__main__":
    sys.exit(main())
