"""Tests for the O4/K9 product surface (VERDICT r2 item 2): config
parsing and INI layering, Migrator discovery/policy, and the
migrate-table verb end-to-end over TESTDATA — the reference's own
acceptance method (docs/manual.md:436-443, count reconciliation).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pyspark
import pytest

from clickhouse_mysql_data_reader_spark.cli import run
from clickhouse_mysql_data_reader_spark.config import AppConfig, parse_config
from clickhouse_mysql_data_reader_spark.migrator import Migrator

SF = "/root/testdata/sf0.001"


# -- config: CLI parsing ----------------------------------------------------


def test_parse_basic_migrate_verb():
    cfg = parse_config(
        [
            "--migrate-table",
            "--src-parquet-dir", SF,
            "--src-tables", "nation,region",
            "--dst-parquet-dir", "/tmp/out",
        ]
    )
    assert cfg.verb() == "migrate-table"
    assert cfg.src.tables == ["nation", "region"]
    assert cfg.dst.parquet_dir == "/tmp/out"


def test_verb_validation_rejects_none_and_multiple():
    with pytest.raises(ValueError):
        parse_config(["--src-parquet-dir", SF]).verb()
    with pytest.raises(ValueError):
        parse_config(["--migrate-table", "--pump-data"]).verb()


def test_column_skip_csv_and_repeated_forms():
    a = parse_config(["--migrate-table", "--column-skip", "a,b"])
    b = parse_config(["--migrate-table", "--column-skip", "a", "b"])
    assert a.columns.skip == b.columns.skip == ["a", "b"]


def test_column_default_value_pairs():
    cfg = parse_config(
        ["--migrate-table", "--column-default-value", "x=0", "y=none"]
    )
    assert cfg.columns.defaults == {"x": "0", "y": "none"}
    with pytest.raises(ValueError):
        parse_config(["--migrate-table", "--column-default-value", "noequals"])


def test_where_clause_positional_pairing():
    cfg = parse_config(
        [
            "--migrate-table",
            "--src-tables", "t1,t2,t3",
            "--src-tables-where-clauses", "a > 1,b = 2",
        ]
    )
    assert cfg.src.where_for("t1") == "a > 1"
    assert cfg.src.where_for("t2") == "b = 2"
    assert cfg.src.where_for("t3") is None  # fewer clauses than tables
    assert cfg.src.where_for("unknown") is None


def test_where_clause_from_file(tmp_path):
    """Reference contract tablemigrator.py:69-119: a clause naming an
    existing file is read from the file (first line)."""
    clause = tmp_path / "where.sql"
    clause.write_text("n_regionkey = 1\n-- trailing comment line\n")
    cfg = parse_config(
        [
            "--migrate-table",
            "--src-tables", "nation",
            "--src-tables-where-clauses", str(clause),
        ]
    )
    assert cfg.src.where_for("nation") == "n_regionkey = 1"


# -- config: INI layering ---------------------------------------------------

INI = """
[source]
src-parquet-dir = {sf}
src-tables = nation,region
src-lower-bound = 5
num-partitions = 4
mempool-max-flush-interval = 2.5
mempool-max-events-num = 7
column-skip = n_comment,r_comment
column-default-value = a=1,b=2
dst-distribute = true
binlog-position-file = /tmp/ckpt
"""


def _ini(tmp_path):
    p = tmp_path / "app.ini"
    p.write_text(INI.format(sf=SF))
    return str(p)


def test_ini_layering_types(tmp_path):
    """The ADVICE r2 medium: INI values must be coerced by the option's
    registered type/nargs — list options to lists, int/float options
    with None defaults to numbers, booleans via getboolean."""
    cfg = parse_config(["--migrate-table", "--config-file", _ini(tmp_path)])
    assert cfg.src.parquet_dir == SF
    assert cfg.src.tables == ["nation", "region"]
    assert cfg.src.lower_bound == 5  # int despite default None
    assert cfg.src.num_partitions == 4
    assert cfg.pump.flush_interval_secs == 2.5  # float despite default None
    assert cfg.pump.max_files_per_trigger == 7
    assert cfg.columns.skip == ["n_comment", "r_comment"]  # nargs='*' list
    assert cfg.columns.defaults == {"a": "1", "b": "2"}
    assert cfg.dst.distribute is True
    assert cfg.pump.checkpoint_dir == "/tmp/ckpt"  # dest-aliased option


def test_cli_overrides_ini(tmp_path):
    cfg = parse_config(
        [
            "--migrate-table",
            "--config-file", _ini(tmp_path),
            "--src-tables", "orders",
            "--num-partitions", "16",
        ]
    )
    assert cfg.src.tables == ["orders"]
    assert cfg.src.num_partitions == 16
    assert cfg.src.lower_bound == 5  # untouched keys still layered


def test_missing_config_file_raises():
    with pytest.raises(FileNotFoundError):
        parse_config(["--migrate-table", "--config-file", "/nope/absent.ini"])


# -- migrator: discovery ----------------------------------------------------


def _mig(spark, argv):
    return Migrator(spark, parse_config(argv))


def test_discover_all_tables(spark):
    found = _mig(
        spark, ["--migrate-table", "--src-parquet-dir", SF, "--src-schemas", "db"]
    ).discover()
    assert "db" in found and "lineitem" in found["db"] and "nation" in found["db"]


def test_discover_tables_and_prefixes_union(spark):
    """ADVICE r2: --src-tables and --src-tables-prefixes are a UNION of
    inclusions over the full list, matching the JDBC discover path —
    a prefix match absent from --src-tables must survive."""
    found = _mig(
        spark,
        [
            "--migrate-table",
            "--src-parquet-dir", SF,
            "--src-schemas", "db",
            "--src-tables", "nation",
            "--src-tables-prefixes", "part",
        ],
    ).discover()
    assert found == {"db": ["nation", "part"]}


def test_discover_prefix_only(spark):
    found = _mig(
        spark,
        [
            "--migrate-table",
            "--src-parquet-dir", SF,
            "--src-schemas", "db",
            "--src-tables-prefixes", "region,nat",
        ],
    ).discover()
    assert found == {"db": ["nation", "region"]}


# -- migrator: policy + migrate loop ---------------------------------------


def test_column_policy_skip_and_defaults(spark):
    mig = _mig(
        spark,
        [
            "--migrate-table",
            "--src-parquet-dir", SF,
            "--column-skip", "n_comment",
            "--column-default-value", "n_name=unknown",
        ],
    )
    df = mig.apply_column_policy(mig.read_source("db", "nation"))
    assert "n_comment" not in df.columns
    assert "n_name" in df.columns


def test_migrate_all_reconciles(spark, tmp_path):
    """Integration: migrate several tables end-to-end; every report
    must reconcile src/dst counts (the reference's acceptance gate)."""
    mig = _mig(
        spark,
        [
            "--migrate-table",
            "--src-parquet-dir", SF,
            "--src-schemas", "db",
            "--src-tables", "nation,region,customer,orders",
            "--dst-parquet-dir", str(tmp_path / "dst"),
        ],
    )
    reports = mig.migrate_all()
    assert len(reports) == 4
    assert all(r.reconciled for r in reports)
    assert all(r.src_rows > 0 for r in reports)


def test_migrate_with_where_clause_filters_rows(spark, tmp_path):
    mig = _mig(
        spark,
        [
            "--migrate-table",
            "--src-parquet-dir", SF,
            "--src-tables", "nation",
            "--src-tables-where-clauses", "n_regionkey = 0",
            "--dst-parquet-dir", str(tmp_path / "dst"),
        ],
    )
    [report] = mig.migrate_all()
    assert report.reconciled
    assert 0 < report.src_rows < 25


def test_migrate_dry_runs_nothing(spark, tmp_path):
    dst = tmp_path / "dst"
    mig = _mig(
        spark,
        [
            "--migrate-table", "--dry",
            "--src-parquet-dir", SF,
            "--src-tables", "nation",
            "--dst-parquet-dir", str(dst),
        ],
    )
    [report] = mig.migrate_all()
    assert report.src_rows == 25 and report.dst_rows == 0
    assert not dst.exists()


def test_migrate_to_csv_roundtrip(spark, tmp_path):
    dst = tmp_path / "out_csv"
    mig = _mig(
        spark,
        [
            "--migrate-table",
            "--src-parquet-dir", SF,
            "--src-tables", "region",
            "--dst-file", str(dst),
        ],
    )
    [report] = mig.migrate_all()
    assert report.reconciled and report.src_rows == 5


# -- cli: verbs end-to-end --------------------------------------------------


def test_cli_main_session_keeps_submit_master_and_package_settings(tmp_path):
    """main() without a session builds it through session.get_spark: it
    carries the package's SQL settings, applies --log-level, and keeps
    the --master spark-submit was launched with (no local[N] default
    forced on it)."""
    from clickhouse_mysql_data_reader_spark.session import DEFAULT_SHUFFLE_PARTITIONS

    probe = tmp_path / "probe.py"
    probe.write_text(textwrap.dedent(f"""
        import json
        from pyspark.sql import SparkSession
        from clickhouse_mysql_data_reader_spark.cli import main
        rc = main(["--create-table-json-template", "--src-parquet-dir", {SF!r},
                   "--src-tables", "region", "--log-level", "ERROR"])
        s = SparkSession.getActiveSession()
        root = s._jvm.org.apache.logging.log4j.LogManager.getRootLogger()
        keys = ["spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "spark.sql.shuffle.partitions", "spark.sql.session.timeZone"]
        print(json.dumps({{"rc": rc, "master": s.sparkContext.master,
                          "log": root.getLevel().toString(),
                          **{{k: s.conf.get(k) for k in keys}}}}))
    """))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([repo, os.environ.get("PYTHONPATH", "")]),
    }
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    proc = subprocess.run(
        [submit, "--master", "local[1]", "--driver-memory", "1g", str(probe)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {
        "rc": 0,
        "master": "local[1]",
        "log": "ERROR",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.session.timeZone": "UTC",
    }


def test_cli_migrate_table_exit_code_and_report(spark, tmp_path, capsys):
    cfg = parse_config(
        [
            "--migrate-table",
            "--src-parquet-dir", SF,
            "--src-tables", "nation",
            "--dst-parquet-dir", str(tmp_path / "dst"),
        ]
    )
    rc = run(cfg, spark)
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["reconciled"] is True and report["src_rows"] == 25


def test_cli_create_table_sql_respects_column_skip(spark, capsys):
    """ADVICE r2: the printed DDL must match the schema migrate-table
    lands — column-skip applies to the create-table verbs too."""
    cfg = parse_config(
        [
            "--create-table-sql",
            "--src-parquet-dir", SF,
            "--src-tables", "nation",
            "--column-skip", "n_comment",
        ]
    )
    assert run(cfg, spark) == 0
    ddl = capsys.readouterr().out
    assert "CREATE TABLE" in ddl
    assert "n_nationkey" in ddl and "n_comment" not in ddl


def test_cli_create_table_json_template(spark, capsys):
    cfg = parse_config(
        [
            "--create-table-json-template",
            "--src-parquet-dir", SF,
            "--src-tables", "region",
        ]
    )
    assert run(cfg, spark) == 0
    tmpl = json.loads(capsys.readouterr().out)
    names = [f["name"] for f in tmpl["schema"]["fields"]]
    assert "r_regionkey" in names
    assert tmpl["table"] == "region" and "CREATE TABLE" in tmpl["ddl"]


def test_check_drift_clean_then_source_drops_column(spark, tmp_path):
    dst = str(tmp_path / "landed")
    argv = [
        "--migrate-table",
        "--src-parquet-dir", SF,
        "--src-schemas", "db",
        "--src-tables", "nation",
        "--dst-parquet-dir", dst,
    ]
    mig = _mig(spark, argv)
    mig.migrate_table("db", "nation")
    assert mig.check_drift("db", "nation") == []

    # the source "loses" a column (simulated via the skip policy):
    # drift must flag it as an unsafe removal
    drifted = _mig(spark, argv + ["--column-skip", "n_name"])
    changes = drifted.check_drift("db", "nation")
    assert [(c.kind, c.column, c.safe) for c in changes] == [
        ("removed", "n_name", False)
    ]

    no_dst = _mig(spark, argv[:-2])
    with pytest.raises(ValueError, match="dst-parquet-dir"):
        no_dst.check_drift("db", "nation")


def test_cli_profile_table_verb(spark, tmp_path, capsys):
    import json as _json

    from clickhouse_mysql_data_reader_spark.cli import run

    dst = str(tmp_path / "landed")
    base = [
        "--src-parquet-dir", SF,
        "--src-schemas", "db",
        "--src-tables", "nation",
        "--dst-parquet-dir", dst,
    ]
    # land first, then profile: profile rows + zero drift -> exit 0
    assert run(parse_config(["--migrate-table", *base]), spark) == 0
    capsys.readouterr()
    assert run(parse_config(["--profile-table", *base]), spark) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    profiled = {r["column"] for r in rows if "n_nulls" in r}
    assert {"n_nationkey", "n_name", "n_regionkey"} <= profiled
    assert all(r["table"] == "nation" for r in rows)
    assert not [r for r in rows if "drift" in r]

    # a source that "lost" a column: drift row printed, exit 1
    assert (
        run(parse_config(["--profile-table", *base, "--column-skip", "n_name"]), spark)
        == 1
    )
    out = [_json.loads(l) for l in capsys.readouterr().out.splitlines()]
    drift = [r for r in out if r.get("drift")]
    assert drift == [{
        "db": "db", "table": "nation", "drift": "removed", "column": "n_name",
        "old_type": "string", "new_type": None, "safe": False,
        "reason": "column dropped: landed values become unreadable",
    }]


# ---- --curate-data verb -------------------------------------------------

_CUR_A = (
    "the quick brown fox jumps over the lazy dog and then it runs far "
    "away to find a place for the long sleep it wanted all day"
)
_CUR_B = (
    "call it what you want but the story of the sea is the story of "
    "the men who sailed it for the wind and the tide and the stars"
)


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(path)


def test_cli_curate_data_batch_and_dry(spark, tmp_path, capsys):
    """Batch curation from the CLI: near-dup pair collapses, survivors
    land under --dst-parquet-dir, the report line carries the counts;
    --dry prints the plan inputs and writes nothing."""
    src = str(tmp_path / "docs")
    _write_docs(spark, src, [
        (1, "web", _CUR_A),
        (2, "web", _CUR_A + " tiny extra suffix"),  # near-dup of 1
        (3, "books", _CUR_B),
    ])
    ccfg = tmp_path / "curation.json"
    ccfg.write_text(json.dumps({"near_dup_jaccard": 0.5}))
    out = str(tmp_path / "kept")
    base = [
        "--curate-data",
        "--src-parquet-dir", src,
        "--dst-parquet-dir", out,
        "--curation-config", str(ccfg),
    ]
    assert run(parse_config([*base, "--dry"]), spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["dry"] is True and rep["input_rows"] == 3
    assert rep["curation_config"] == {"near_dup_jaccard": 0.5}
    import os

    assert not os.path.exists(out), "--dry must not write"

    assert run(parse_config(base), spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {
        "verb": "curate-data", "mode": "batch", "input_rows": 3,
        "kept_rows": 2, "out_dir": out, "state_dir": None,
    }
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}


@pytest.mark.slow
def test_cli_curate_data_incremental_state(spark, tmp_path, capsys):
    """--curation-state switches to curate_increment: batch 2 dedups
    against batch 1's landed state (exact dup of a landed doc drops),
    and the state handle derives every parameter from the JSON config
    (CurationState.from_config)."""
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    _write_docs(spark, b1, [(1, "web", _CUR_A)])
    _write_docs(spark, b2, [(10, "web", _CUR_A), (11, "books", _CUR_B)])
    ccfg = tmp_path / "curation.json"
    ccfg.write_text(json.dumps({"near_dup_jaccard": 0.8}))
    state = str(tmp_path / "state")

    def _run_inc(src, out):
        return run(parse_config([
            "--curate-data",
            "--src-parquet-dir", src,
            "--dst-parquet-dir", out,
            "--curation-config", str(ccfg),
            "--curation-state", state,
        ]), spark)

    assert _run_inc(b1, str(tmp_path / "out1")) == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["mode"] == "increment" and rep1["kept_rows"] == 1
    assert _run_inc(b2, str(tmp_path / "out2")) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["kept_rows"] == 1
    kept2 = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out2")).collect()}
    assert kept2 == {11}, "exact dup of the landed doc must drop"


def test_cli_curate_data_requires_dirs_and_valid_config(spark, tmp_path):
    with pytest.raises(ValueError, match="curate-data requires"):
        run(parse_config(["--curate-data"]), spark)
    src = str(tmp_path / "docs")
    _write_docs(spark, src, [(1, "web", _CUR_A)])
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"embed_near_cos": 0.9}))  # needs embed_dim
    with pytest.raises(ValueError, match="embed_dim"):
        run(parse_config([
            "--curate-data", "--src-parquet-dir", src,
            "--dst-parquet-dir", str(tmp_path / "o"),
            "--curation-config", str(bad),
        ]), spark)


@pytest.mark.slow
def test_cli_curate_data_stream_mode(spark, tmp_path, capsys):
    """--curation-stream-checkpoint runs curate_stream (drain-and-stop):
    epoch outputs land under run-scoped dirs, the state grows per epoch,
    and a SECOND invocation with the same checkpoint processes only the
    NEW files — the resumable daily-drain shape."""
    import glob

    src = str(tmp_path / "stream_src")
    _write_docs(spark, src, [(1, "web", _CUR_A), (2, "books", _CUR_B)])
    out, state, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    args = [
        "--curate-data",
        "--src-parquet-dir", src,
        "--dst-parquet-dir", out,
        "--curation-state", state,
        "--curation-stream-checkpoint", ckpt,
    ]
    assert run(parse_config(args), spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "stream" and rep["checkpoint"] == ckpt
    epochs = sorted(glob.glob(f"{out}/run=*/epoch=*"))
    assert len(epochs) == 1
    kept1 = {r["doc_id"] for r in spark.read.parquet(epochs[0]).collect()}
    assert kept1 == {1, 2}

    # append a new file: one exact dup of a landed doc + one fresh doc;
    # the resumed stream must process ONLY this file and dedup vs state
    spark.createDataFrame(
        [(10, "web", _CUR_A),
         (11, "web", "fresh words about mountains and meadows and the "
                     "morning frost on the window glass before sunrise")],
        "doc_id long, source string, text string",
    ).write.mode("append").parquet(src)
    assert run(parse_config(args), spark) == 0
    epochs = sorted(glob.glob(f"{out}/run=*/epoch=*"))
    assert len(epochs) == 2
    kept2 = {r["doc_id"] for r in spark.read.parquet(epochs[1]).collect()}
    assert kept2 == {11}, "dup of the landed doc must drop on resume"

    # streaming without a state dir is a config error
    with pytest.raises(ValueError, match="requires --curation-state"):
        run(parse_config([
            "--curate-data", "--src-parquet-dir", src,
            "--dst-parquet-dir", out,
            "--curation-stream-checkpoint", ckpt,
        ]), spark)


_CUR_C = (
    "a completely different account of the northern hills where the "
    "miners dug for copper and the rivers ran cold under the old stone "
    "bridges that nobody crossed after dark anymore"
)


def _write_docs_vec(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, source string, text string, embedding array<double>"
    ).write.parquet(path)


@pytest.mark.slow
def test_cli_curate_data_increment_embed_and_retry(spark, tmp_path, capsys):
    """--curate-data with an embed-enabled curation config (the
    from_config geometry plumbing): the landed state grows
    srp_bands/embeddings, a SEMANTIC near-dup of a landed doc
    (different text, identical vector) drops in increment mode, and —
    the round-10 advice item — a rerun of the same batch with the same
    --curation-epoch/--curation-run-id reproduces the kept corpus
    instead of overwriting dst with an EMPTY one (state lands AFTER
    the dst write, tagged so the replay excludes its own append)."""
    from clickhouse_mysql_data_reader_spark.curation import CurationState

    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    _write_docs_vec(spark, b1, [(1, "web", _CUR_A, [1.0, 0.0, 0.0, 0.0])])
    _write_docs_vec(spark, b2, [
        # semantic dup of landed doc 1: lexically distinct text (no
        # exact/LSH path fires), same vector -> cosine 1.0 >= 0.95
        (10, "web", _CUR_C, [1.0, 0.0, 0.0, 0.0]),
        (11, "books", _CUR_B, [0.0, 1.0, 0.0, 0.0]),
    ])
    ccfg = tmp_path / "curation.json"
    ccfg.write_text(json.dumps({"embed_near_cos": 0.95, "embed_dim": 4}))
    state = str(tmp_path / "state")

    def _run_inc(src, out, *extra):
        return run(parse_config([
            "--curate-data",
            "--src-parquet-dir", src,
            "--dst-parquet-dir", out,
            "--curation-config", str(ccfg),
            "--curation-state", state,
            *extra,
        ]), spark)

    assert _run_inc(b1, str(tmp_path / "out1")) == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["mode"] == "increment" and rep1["kept_rows"] == 1
    # the embed-enabled state landed both semantic tables
    assert CurationState(state).landed(spark, "srp_bands", "embeddings")

    out2 = str(tmp_path / "out2")
    tags = ("--curation-epoch", "7", "--curation-run-id", "nightly")
    assert _run_inc(b2, out2, *tags) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["kept_rows"] == 1
    kept2 = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
    assert kept2 == {11}, "semantic dup of the landed doc must drop"

    # RETRY: same batch, same (epoch, run) tags — the history joins
    # exclude the first attempt's state append, so dst is reproduced,
    # not emptied (without tags every doc would anti-join itself away)
    assert _run_inc(b2, out2, *tags) == 0
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep3["kept_rows"] == 1
    kept3 = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
    assert kept3 == {11}, "tagged rerun must reproduce, not empty, dst"


@pytest.mark.slow
def test_cli_curate_data_stream_embed(spark, tmp_path, capsys):
    """Streaming --curate-data with an embed-enabled config: epoch 2's
    semantic near-dup of an epoch-1 doc (distinct text, same vector)
    drops via the landed srp_bands/embeddings probe."""
    import glob

    src = str(tmp_path / "stream_src")
    _write_docs_vec(spark, src, [
        (1, "web", _CUR_A, [1.0, 0.0, 0.0, 0.0]),
        (2, "books", _CUR_B, [0.0, 1.0, 0.0, 0.0]),
    ])
    out, state, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    ccfg = tmp_path / "curation.json"
    ccfg.write_text(json.dumps({"embed_near_cos": 0.95, "embed_dim": 4}))
    args = [
        "--curate-data",
        "--src-parquet-dir", src,
        "--dst-parquet-dir", out,
        "--curation-config", str(ccfg),
        "--curation-state", state,
        "--curation-stream-checkpoint", ckpt,
    ]
    assert run(parse_config(args), spark) == 0
    capsys.readouterr()
    epochs = sorted(glob.glob(f"{out}/run=*/epoch=*"))
    assert len(epochs) == 1
    assert {r["doc_id"] for r in spark.read.parquet(epochs[0]).collect()} == {1, 2}

    spark.createDataFrame(
        [(10, "web", _CUR_C, [1.0, 0.0, 0.0, 0.0]),  # semantic dup of 1
         (11, "web", "fresh words about mountains and meadows and the "
                     "morning frost on the window glass before sunrise",
          [0.0, 0.0, 1.0, 0.0])],
        "doc_id long, source string, text string, embedding array<double>",
    ).write.mode("append").parquet(src)
    assert run(parse_config(args), spark) == 0
    capsys.readouterr()
    epochs = sorted(glob.glob(f"{out}/run=*/epoch=*"))
    assert len(epochs) == 2
    kept2 = {r["doc_id"] for r in spark.read.parquet(epochs[1]).collect()}
    assert kept2 == {11}, "semantic dup of the landed doc must drop on resume"


def test_cli_curate_data_run_id_requires_epoch(spark, tmp_path):
    """--curation-run-id without --curation-epoch is rejected: the
    replay exclusion is keyed on the epoch tag, so a bare run id gives
    no retry protection while looking like it does."""
    src = str(tmp_path / "docs")
    _write_docs(spark, src, [(1, "web", _CUR_A)])
    with pytest.raises(ValueError, match="curation-epoch"):
        run(parse_config([
            "--curate-data", "--src-parquet-dir", src,
            "--dst-parquet-dir", str(tmp_path / "o"),
            "--curation-state", str(tmp_path / "state"),
            "--curation-run-id", "nightly",
        ]), spark)


def test_cli_curate_data_quality_thresholds_json(spark, tmp_path, capsys):
    """The frozen per-source calibrated gate rides the --curation-config
    JSON path end-to-end: thresholds arrive as lists (JSON has no
    tuples), CurationConfig accepts them, and below-threshold docs from
    a mapped source are dropped while unmapped sources pass."""
    src = str(tmp_path / "docs_thr")
    _write_docs(spark, src, [
        (1, "web", _CUR_A),          # fluent -> quality ~1.0, passes
        (2, "web", "x1 y2 z3 w4"),   # no stopwords -> low score, dropped
        (3, "unmapped", "x1 y2 z3 w4"),  # unmapped source -> passes gate
    ])
    ccfg = tmp_path / "curation_thr.json"
    ccfg.write_text(json.dumps({
        "min_quality_score": 0.0,
        "drop_repetitive": False,
        "quality_thresholds": [["web", 0.5]],
    }))
    out = str(tmp_path / "kept_thr")
    assert run(parse_config([
        "--curate-data",
        "--src-parquet-dir", src,
        "--dst-parquet-dir", out,
        "--curation-config", str(ccfg),
    ]), spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["kept_rows"] == 2
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}


def test_cli_curate_data_split_fractions_json(spark, tmp_path, capsys):
    """split_fractions rides the --curation-config JSON path: the batch
    verb lands the curated corpus AND a sibling <dst>_splits table
    whose rows cover exactly the kept ids, each with a split label."""
    src = str(tmp_path / "docs_split")
    _write_docs(spark, src, [
        (1, "web", _CUR_A),
        (2, "web", _CUR_B),
        (3, "web", _CUR_A + " near duplicate tail"),
    ])
    ccfg = tmp_path / "curation_split.json"
    ccfg.write_text(json.dumps({
        "min_quality_score": 0.0,
        "drop_repetitive": False,
        "split_fractions": [["train", 0.8], ["val", 0.1], ["test", 0.1]],
    }))
    out = str(tmp_path / "kept_split")
    assert run(parse_config([
        "--curate-data",
        "--src-parquet-dir", src,
        "--dst-parquet-dir", out,
        "--curation-config", str(ccfg),
    ]), spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["splits_dir"] == out + "_splits"
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    splits = {
        r["doc_id"]: r["split"]
        for r in spark.read.parquet(rep["splits_dir"]).collect()
    }
    assert set(splits) == kept
    assert set(splits.values()) <= {"train", "val", "test"}


def test_cli_curate_data_image_edge_json(spark, tmp_path, capsys):
    """The image near-dup edge type rides the --curation-config JSON
    path (image_near_hamming is a plain JSON knob; the decoder
    defaults to the deterministic fake): a doc whose image is a
    near-twin of another's is dropped even though the texts share
    nothing."""
    # md5-blocked fake: contents differing only in the last 64-char
    # block sit at dHash Hamming 3 (test_image_curation's fixtures)
    img = ("img-alpha-" + "x" * 246).encode()
    img_near = (
        ("img-alpha-" + "x" * 246)[:192] + "img-alpha-tail-v1".ljust(64, "y")
    ).encode()
    src = str(tmp_path / "docs_img_edge")
    spark.createDataFrame(
        [
            (1, "web", _CUR_A, img),
            (2, "web", _CUR_B, img_near),
            (3, "web", "meanwhile the village bakery opened early because "
             "the harvest festival needed seven hundred loaves of dark "
             "rye bread by noon", None),
        ],
        "doc_id long, source string, text string, image binary",
    ).write.mode("overwrite").parquet(src)
    ccfg = tmp_path / "curation_img.json"
    ccfg.write_text(json.dumps({
        "min_quality_score": 0.0,
        "drop_repetitive": False,
        "image_near_hamming": 7,
    }))
    out = str(tmp_path / "kept_img_edge")
    assert run(parse_config([
        "--curate-data",
        "--src-parquet-dir", src,
        "--dst-parquet-dir", out,
        "--curation-config", str(ccfg),
    ]), spark) == 0
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}  # image near-twin 2 merged into 1, min_id keeps 1


def test_cli_curate_data_audio_edge_json(spark, tmp_path, capsys):
    """The audio near-dup edge rides the --curation-config JSON path
    (audio_near_hamming + geometry are plain JSON knobs), and with
    --curation-state the verb lands the audio_fps sibling state from
    the command line — the image CLI test's mirror on the fifth edge
    type."""
    from clickhouse_mysql_data_reader_spark.curation import CurationState

    # md5-blocked fake: last-64-char-block edit -> energy-contour
    # Hamming 1 (test_audio_curation's pinned fixtures)
    aud = ("aud-alpha-" + "x" * 246).encode()
    aud_near = (
        ("aud-alpha-" + "x" * 246)[:192] + "aud-alpha-tail-v1".ljust(64, "y")
    ).encode()
    src = str(tmp_path / "docs_aud_edge")
    spark.createDataFrame(
        [
            (1, "web", _CUR_A, aud),
            (2, "web", _CUR_B, aud_near),
            (3, "web", "meanwhile the village bakery opened early because "
             "the harvest festival needed seven hundred loaves of dark "
             "rye bread by noon", None),
        ],
        "doc_id long, source string, text string, audio binary",
    ).write.mode("overwrite").parquet(src)
    ccfg = tmp_path / "curation_aud.json"
    ccfg.write_text(json.dumps({
        "min_quality_score": 0.0,
        "drop_repetitive": False,
        "audio_near_hamming": 7,
        "audio_n_windows": 49,
    }))
    out = str(tmp_path / "kept_aud_edge")
    state_dir = str(tmp_path / "state_aud")
    assert run(parse_config([
        "--curate-data",
        "--src-parquet-dir", src,
        "--dst-parquet-dir", out,
        "--curation-config", str(ccfg),
        "--curation-state", state_dir,
        "--curation-epoch", "0",
    ]), spark) == 0
    capsys.readouterr()
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}  # audio near-twin 2 merged into 1, min_id keeps
    state = CurationState(state_dir, audio_n_windows=49)
    assert state.landed(spark, "audio_fps")
    fps = {r["doc_id"] for r in state.audio_fps(spark).collect()}
    assert fps == {1}  # only the clip-bearing keeper has a fingerprint


def test_cli_curate_data_video_edge_json(spark, tmp_path, capsys):
    """The video near-dup edge (sixth type) through --curation-config
    JSON + --curation-state: video_min_matching / video_every_ms /
    the stop-frame cap are plain JSON knobs, and the verb lands the
    video_fps frame-set sibling state from the command line."""
    from clickhouse_mysql_data_reader_spark.curation import CurationState

    # fake frame decoder: frame j hashes the j-th 64-char slice; 2560
    # ms -> 3 frames; sharing the first two slices = 2 matching frames
    vid = ("vid-alpha-" + "x" * 246).encode()
    vid_near = (
        ("vid-alpha-" + "x" * 246)[:128] + "vid-tail-" + "y" * 119
    ).encode()
    src = str(tmp_path / "docs_vid_edge")
    spark.createDataFrame(
        [
            (1, "web", _CUR_A, vid, 2560),
            (2, "web", _CUR_B, vid_near, 2560),
            (3, "web", "meanwhile the village bakery opened early because "
             "the harvest festival needed seven hundred loaves of dark "
             "rye bread by noon", None, None),
        ],
        "doc_id long, source string, text string, video binary, "
        "video_ms long",
    ).write.mode("overwrite").parquet(src)
    ccfg = tmp_path / "curation_vid.json"
    ccfg.write_text(json.dumps({
        "min_quality_score": 0.0,
        "drop_repetitive": False,
        "video_min_matching": 2,
        "video_every_ms": 1000,
        "video_max_frame_df": 50,
    }))
    out = str(tmp_path / "kept_vid_edge")
    state_dir = str(tmp_path / "state_vid")
    assert run(parse_config([
        "--curate-data",
        "--src-parquet-dir", src,
        "--dst-parquet-dir", out,
        "--curation-config", str(ccfg),
        "--curation-state", state_dir,
        "--curation-epoch", "0",
    ]), spark) == 0
    capsys.readouterr()
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}  # 2 shares 2 of 3 frames with 1 -> merged
    state = CurationState(state_dir, video_every_ms=1000)
    assert state.landed(spark, "video_fps")
    per_doc = {
        r["doc_id"]: r["count"]
        for r in state.video_fps(spark).groupBy("doc_id").count().collect()
    }
    assert per_doc == {1: 3}  # the keeper's 3 distinct frame hashes


def test_cli_curation_report(spark, tmp_path, capsys):
    """--curation-report: read-only ops verb over a landed state —
    per-table growth plus the per-modality dup-rate rows from the
    landed fingerprint tables (no media decode, no corpus scan)."""
    src = str(tmp_path / "docs_rep")
    _write_docs(spark, src, [(1, "web", _CUR_A), (2, "web", _CUR_B)])
    state_dir = str(tmp_path / "state_rep")
    out = str(tmp_path / "kept_rep")
    ccfg = tmp_path / "curation_rep.json"
    ccfg.write_text(json.dumps({
        "min_quality_score": 0.0, "drop_repetitive": False,
    }))
    assert run(parse_config([
        "--curate-data",
        "--src-parquet-dir", src,
        "--dst-parquet-dir", out,
        "--curation-config", str(ccfg),
        "--curation-state", state_dir,
        "--curation-epoch", "0",
    ]), spark) == 0
    capsys.readouterr()
    assert run(parse_config([
        "--curation-report",
        "--curation-state", state_dir,
    ]), spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["verb"] == "curation-report"
    assert rep["growth"]["fingerprints"]["rows"] == 2
    rates = {r["modality"]: r for r in rep["media_dup_rates"]}
    assert rates["text"]["n_docs"] == 2
    assert rates["text"]["n_dup_docs"] == 0
    with pytest.raises(ValueError, match="curation-state"):
        run(parse_config(["--curation-report"]), spark)


@pytest.mark.slow
def test_cli_curate_data_incremental_split_lands_in_state(
    spark, tmp_path, capsys
):
    """split_fractions + --curation-state: the increment verb lands
    the assignments in the state's splits table (reported as
    split_rows, counted per split) and a second daily batch extends it
    without touching batch-1 rows — the round-13 incremental
    leakage-safe split through the CLI path."""
    from clickhouse_mysql_data_reader_spark.curation import CurationState

    ccfg = tmp_path / "curation_inc_split.json"
    ccfg.write_text(json.dumps({
        "min_quality_score": 0.0,
        "drop_repetitive": False,
        "split_fractions": [["train", 0.8], ["val", 0.1], ["test", 0.1]],
    }))
    state_dir = str(tmp_path / "state_split")
    outs = []
    for i, rows in enumerate(
        [[(1, "web", _CUR_A), (2, "web", _CUR_B)],
         [(3, "web", _CUR_A + " near duplicate tail"),
          (4, "web", _CUR_B.replace("corpus", "other") + " fresh words here")]]
    ):
        src = str(tmp_path / f"docs_inc_split_{i}")
        _write_docs(spark, src, rows)
        out = str(tmp_path / f"kept_inc_split_{i}")
        outs.append(out)
        assert run(parse_config([
            "--curate-data",
            "--src-parquet-dir", src,
            "--dst-parquet-dir", out,
            "--curation-config", str(ccfg),
            "--curation-state", state_dir,
            "--curation-epoch", str(i),
        ]), spark) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        landed = CurationState(state_dir).split_assignments(spark)
        assert rep["split_rows"] == {
            r["split"]: r["count"] for r in landed.groupBy("split").count().collect()
        }
        assert sum(rep["split_rows"].values()) == landed.count() > 0
    kept_all = set()
    for out in outs:
        kept_all |= {r["doc_id"] for r in spark.read.parquet(out).collect()}
    state = CurationState(state_dir)
    assigned = {
        r["doc_id"]: r["split"]
        for r in state.split_assignments(spark).collect()
    }
    assert set(assigned) == kept_all
    assert set(assigned.values()) <= {"train", "val", "test"}
