"""Per-dialect DDL generation (plans/dialects.py) — the Spark-first
analogue of the reference's 8-dialect export DDL surface
(export_config.py: createTargetTable 1164-1235,
convertColumnTypeForTargetTable 609-760, updateTargetTable 766-1060) —
plus the live Derby round-trip: CDCJdbcExporter(dialect="derby") creates
the target from generated DDL (with the merge-key PRIMARY KEY) and then
EVOLVES it as the source gains a column and declares a rename."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbimport_spark.plans import dialects as D
from dbimport_spark.session import local_frame

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.StringType(), True),  # flattened JSON
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("flag", T.BooleanType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("amt", T.DecimalType(10, 2), True),
        T.StructField("big", T.LongType(), True),
    ]
)


def test_type_map_per_dialect():
    cases = {
        # (dialect, spark type) -> SQL type; the reference's conversion
        # table re-expressed over Spark types (export_config.py:696-760)
        ("oracle", T.LongType()): "NUMBER(19)",
        ("oracle", T.DoubleType()): "BINARY_DOUBLE",
        ("oracle", T.BooleanType()): "NUMBER(1)",
        ("oracle", T.IntegerType()): "NUMBER(10)",
        ("oracle", T.DecimalType(12, 3)): "NUMBER(12,3)",
        ("oracle", T.StringType()): "CLOB",
        ("mssql", T.StringType()): "VARCHAR(MAX)",
        ("mssql", T.BooleanType()): "TINYINT",
        ("mssql", T.DoubleType()): "FLOAT",
        ("mssql", T.TimestampType()): "DATETIME2(6)",
        ("mysql", T.StringType()): "LONGTEXT",
        ("mysql", T.BooleanType()): "TINYINT(1)",
        ("mysql", T.TimestampType()): "DATETIME(6)",
        ("postgresql", T.StringType()): "TEXT",
        ("postgresql", T.BinaryType()): "BYTEA",
        ("db2", T.BooleanType()): "SMALLINT",
        ("db2", T.StringType()): "CLOB",
        ("snowflake", T.TimestampType()): "TIMESTAMP_NTZ",
        ("derby", T.StringType()): "CLOB",
        ("derby", T.DoubleType()): "DOUBLE PRECISION",
        ("ansi", T.FloatType()): "REAL",
    }
    for (dialect, dtype), want in cases.items():
        assert D.column_type(dialect, dtype) == want, (dialect, dtype)


def test_key_columns_get_bounded_varchar_not_lob():
    assert D.column_type("derby", T.StringType(), key=True) == "VARCHAR(255)"
    assert (
        D.column_type("oracle", T.StringType(), key=True, key_varchar_len=64)
        == "VARCHAR2(64)"
    )


def test_complex_types_refused():
    with pytest.raises(TypeError, match="flatten"):
        D.column_type("ansi", T.ArrayType(T.IntegerType()))


def test_unknown_dialect_lists_known():
    with pytest.raises(ValueError, match="derby"):
        D.get_dialect("sybase")


def test_identifier_fold_and_quote():
    # oracle/db2 fold UP then quote; postgres folds DOWN; mysql backticks;
    # derby/snowflake preserve (export_config.py:1173-1189)
    assert D.quote_ident("oracle", "Doc_Id") == '"DOC_ID"'
    assert D.quote_ident("postgresql", "Doc_Id") == '"doc_id"'
    assert D.quote_ident("mysql", "doc_id") == "`doc_id`"
    assert D.quote_ident("derby", "Doc_Id") == '"Doc_Id"'
    # embedded quote chars are doubled, never truncated
    assert D.quote_ident("derby", 'we"ird') == '"we""ird"'


def test_create_table_pk_and_not_null():
    (ddl,) = D.create_table_sql(
        "derby", "tgt", SCHEMA, keys=["doc_id"], quote_table=False
    )
    assert '"doc_id" VARCHAR(255) NOT NULL' in ddl
    assert 'PRIMARY KEY ("doc_id")' in ddl
    # composite keys
    (ddl2,) = D.create_table_sql(
        "derby",
        "tgt",
        SCHEMA,
        keys=["doc_id", "source"],
        quote_table=False,
    )
    assert 'PRIMARY KEY ("doc_id", "source")' in ddl2
    assert '"source" VARCHAR(255) NOT NULL' in ddl2


def test_comments_inline_vs_comment_on_vs_dropped():
    comments = {"score": "model score", "doc_id": "the key"}
    # mysql/snowflake: inline clause
    (mysql_ddl,) = D.create_table_sql(
        "mysql", "t", SCHEMA, comments=comments, quote_table=False
    )
    assert "COMMENT 'model score'" in mysql_ddl
    # postgres/oracle: trailing COMMENT ON statements
    stmts = D.create_table_sql(
        "postgresql", "t", SCHEMA, comments=comments, quote_table=False
    )
    assert len(stmts) == 3  # create + 2 comment-ons
    assert any("COMMENT ON COLUMN" in s and "model score" in s for s in stmts)
    # derby has no comment syntax: silently dropped, single statement
    assert (
        len(
            D.create_table_sql(
                "derby", "t", SCHEMA, comments=comments, quote_table=False
            )
        )
        == 1
    )
    # comment literals escape quotes
    (s,) = D.create_table_sql(
        "mysql", "t", SCHEMA, comments={"score": "it's"}, quote_table=False
    )
    assert "COMMENT 'it''s'" in s


def test_rename_syntax_per_dialect():
    assert (
        D.rename_column_sql("derby", "tgt", "source", "origin", quote_table=False)
        == 'RENAME COLUMN tgt."source" TO "origin"'
    )
    assert (
        D.rename_column_sql("oracle", "tgt", "source", "origin", quote_table=False)
        == 'ALTER TABLE TGT RENAME COLUMN "SOURCE" TO "ORIGIN"'
    )
    # mysql CHANGE COLUMN restates the type — and refuses without one
    assert (
        D.rename_column_sql(
            "mysql", "tgt", "source", "origin", T.StringType(), quote_table=False
        )
        == "ALTER TABLE tgt CHANGE COLUMN `source` `origin` LONGTEXT"
    )
    with pytest.raises(ValueError, match="type"):
        D.rename_column_sql("mysql", "tgt", "a", "b", quote_table=False)
    # mssql: sp_rename with raw names (export_config.py:881)
    assert (
        D.rename_column_sql("mssql", "tgt", "source", "origin", quote_table=False)
        == "EXEC sp_rename 'tgt.source', 'origin', 'COLUMN'"
    )


def test_evolution_plan_adds_renames_never_drops():
    desired = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("origin", T.StringType(), True),  # renamed
            T.StructField("quality", T.DoubleType(), True),  # added
        ]
    )
    stmts = D.plan_target_evolution(
        "derby",
        "tgt",
        ["doc_id", "source", "legacy_col"],  # legacy_col not in desired
        desired,
        renames=[{"from": "source", "to": "origin"}],
        quote_table=False,
    )
    assert stmts == [
        'RENAME COLUMN tgt."source" TO "origin"',
        'ALTER TABLE tgt ADD COLUMN "quality" DOUBLE PRECISION',
    ]
    # no DROP for legacy_col — the lake never drops, neither does the export
    assert not any("DROP" in s.upper() for s in stmts)
    # idempotent: re-planning against the evolved target is empty
    assert (
        D.plan_target_evolution(
            "derby",
            "tgt",
            ["doc_id", "origin", "legacy_col", "quality"],
            desired,
            renames=[{"from": "source", "to": "origin"}],
            quote_table=False,
        )
        == []
    )
    # JDBC metadata may case-fold: compare is case-insensitive
    assert (
        D.plan_target_evolution(
            "derby",
            "tgt",
            ["DOC_ID", "ORIGIN", "QUALITY"],
            desired,
            quote_table=False,
        )
        == []
    )


def test_live_derby_dialect_export_with_evolution(spark, tmp_path):
    """CDCJdbcExporter(dialect='derby'): target created from generated DDL
    (PK on the merge key), then follows the source through an additive
    column AND a declared rename; data converges at every step."""
    from dbimport_spark.plans.cdc_export import (
        CDCJdbcExporter,
        verify_cdc_export,
    )
    from dbimport_spark.plans.engine import CDCEngine
    from dbimport_spark.schema import CHANGE_SCHEMA

    TS = dt.datetime(2024, 1, 1)
    url = f"jdbc:derby:{os.path.join(str(tmp_path), 'ddldb')};create=true"

    def log(rows):
        return local_frame(spark, rows, CHANGE_SCHEMA)

    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        log(
            [
                (1, "I", "k1", [1] * 4, 4, "a", TS),
                (2, "I", "k2", [2] * 6, 6, "a", TS),
                (3, "I", "k3", [3] * 8, 8, "b", TS),
            ]
        ),
        0,
        3,
    )
    exp = CDCJdbcExporter(
        table,
        url,
        "tgt",
        state_dir=str(tmp_path / "state"),
        dialect="derby",
    )
    out = exp.sync(spark)
    assert not out["skipped"] and out["rows"] == 3
    assert verify_cdc_export(spark, table, url, "tgt")["converged"]

    # the generated DDL carried the PRIMARY KEY: a duplicate key insert is
    # refused by the database itself
    with pytest.raises(Exception, match="(?i)duplicate|constraint"):
        exp._execute_driver_sql(
            spark,
            [
                "INSERT INTO tgt (\"doc_id\", \"n_tok\") "
                "VALUES ('k1', 99)"
            ],
            transactional=True,
        )

    # source evolves: new column arrives in the log (additive), then a
    # declared rename — the export target must follow both
    evolved = log(
        [
            (4, "U", "k1", [9] * 5, 5, "b", TS),
            (5, "I", "k4", [4] * 2, 2, "c", TS),
        ]
    ).withColumn("quality_score", F.lit(0.5))
    eng.apply_batch(evolved, 3, 5)
    table.rename_column("source", "origin")

    out = exp.sync(spark)
    assert not out["skipped"]
    cols = spark.read.jdbc(url, "tgt").columns
    assert "quality_score" in cols
    assert "origin" in cols and "source" not in cols
    assert verify_cdc_export(spark, table, url, "tgt")["converged"]

    # steady state: nothing to evolve, committed window skips
    assert exp.sync(spark)["skipped"]


def test_cli_ddl_dry_run(spark, tmp_path):
    """`cli ddl --dialect oracle` prints the generated CREATE TABLE for
    the lake table's flattened export payload without a Spark session or
    any side effect — the dry-run twin of cdc-export --dialect."""
    import json
    import subprocess
    import sys

    from dbimport_spark.plans.engine import CDCEngine
    from dbimport_spark.sources.loggen import generate_changes

    root = str(tmp_path / "t")
    table = CDCEngine.create_table(root, num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(generate_changes(spark, 200, n_keys=20, seed=7), num_batches=1)
    v = table.current().version

    out = subprocess.run(
        [
            sys.executable, "-m", "dbimport_spark.cli",
            "ddl", root, "tgt", "--dialect", "oracle",
        ],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert out.returncode == 0, out.stderr
    ddl = out.stdout
    # table + key folded UP for oracle; tokens array flattened to CLOB;
    # PK over the bucket key; audit columns excluded
    assert "CREATE TABLE TGT (" in ddl
    assert '"DOC_ID" VARCHAR2(255) NOT NULL' in ddl
    assert '"TOKENS" CLOB' in ddl
    assert 'PRIMARY KEY ("DOC_ID")' in ddl
    assert "DL_IUD" not in ddl and "dl_iud" not in ddl
    assert table.current().version == v  # pure dry run


def test_key_rename_restates_key_type_not_lob():
    """A renamed MERGE-KEY column must keep its bounded VARCHAR + NOT
    NULL on type-restating dialects (MySQL CHANGE COLUMN) — LONGTEXT is
    illegal inside a PRIMARY KEY and CHANGE resets nullability."""
    sql = D.rename_column_sql(
        "mysql", "tgt", "doc_id", "doc_key", T.StringType(),
        key=True, key_varchar_len=64, quote_table=False,
    )
    assert sql == (
        "ALTER TABLE tgt CHANGE COLUMN `doc_id` `doc_key` "
        "VARCHAR(64) NOT NULL"
    )
    # non-restating dialects are unaffected by the key flag
    assert (
        D.rename_column_sql(
            "derby", "tgt", "doc_id", "doc_key", key=True, quote_table=False
        )
        == 'RENAME COLUMN tgt."doc_id" TO "doc_key"'
    )


def test_evolution_key_rename_chain_keeps_key_type():
    """a->b then b->c with key=c: BOTH hops are key renames (the
    intermediate name is a transitive pre-image of the key)."""
    desired = T.StructType(
        [
            T.StructField("doc_key", T.StringType(), False),
            T.StructField("tokens", T.StringType(), True),
        ]
    )
    stmts = D.plan_target_evolution(
        "mysql",
        "tgt",
        ["doc_id", "tokens"],
        desired,
        renames=[
            {"from": "doc_id", "to": "doc_tmp"},
            {"from": "doc_tmp", "to": "doc_key"},
        ],
        keys=["doc_key"],
        key_varchar_len=255,
        quote_table=False,
    )
    assert stmts == [
        "ALTER TABLE tgt CHANGE COLUMN `doc_id` `doc_tmp` "
        "VARCHAR(255) NOT NULL",
        "ALTER TABLE tgt CHANGE COLUMN `doc_tmp` `doc_key` "
        "VARCHAR(255) NOT NULL",
    ]


def test_merge_sql_folds_target_side_only():
    """The staging merge's two statements against a fold dialect: stage
    columns keep the Spark writer's case-preserved quoting, target
    columns take the dialect's fold — and the DELETE correlates through
    the target's exposed name (MySQL/MSSQL reject a DELETE alias)."""
    from dbimport_spark.plans.cdc_export import CDCJdbcExporter

    exp = CDCJdbcExporter.__new__(CDCJdbcExporter)
    exp.target_table = "tgt"
    exp.stage_table = "tgt_stage"
    exp.keys = ["doc_id"]
    exp.dialect = "oracle"
    delete_sql, insert_sql = exp._merge_sqls(["doc_id", "tokens"])
    assert delete_sql == (
        "DELETE FROM tgt WHERE EXISTS "
        '(SELECT 1 FROM tgt_stage s WHERE s."doc_id" = tgt."DOC_ID")'
    )
    assert insert_sql == (
        'INSERT INTO tgt ("DOC_ID", "TOKENS") '
        'SELECT "doc_id", "tokens" FROM tgt_stage '
        'WHERE "_change_type" <> \'delete\''
    )
    # no dialect: both sides case-preserved (the writer created both)
    exp.dialect = None
    delete_sql, insert_sql = exp._merge_sqls(["doc_id", "tokens"])
    assert '"doc_id" = tgt."doc_id"' in delete_sql
    assert 'INSERT INTO tgt ("doc_id", "tokens")' in insert_sql
    # mysql: the stage side MUST use backticks — double quotes are string
    # LITERALS under default sql_mode, turning the EXISTS predicate into
    # a constant comparison and the INSERT's SELECT into literal strings
    exp.dialect = "mysql"
    delete_sql, insert_sql = exp._merge_sqls(["doc_id", "tokens"])
    assert delete_sql == (
        "DELETE FROM tgt WHERE EXISTS "
        "(SELECT 1 FROM tgt_stage s WHERE s.`doc_id` = tgt.`doc_id`)"
    )
    assert insert_sql == (
        "INSERT INTO tgt (`doc_id`, `tokens`) "
        "SELECT `doc_id`, `tokens` FROM tgt_stage "
        "WHERE `_change_type` <> 'delete'"
    )
