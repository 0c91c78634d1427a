"""CDC export: lake -> RDBMS driven by the change feed, deletes included.

The watermarked row export (``plans/export.py JdbcExporter``) ships rows
whose ``dl_update_ts`` advanced — which can never propagate a hard
delete (the row simply vanishes from the table it scans), and its
append-only sink needs target-side dedupe on crash retry. This module is
the JDBC twin of the lake mirror (``plans/mirror.py``): the source's
snapshot-diff change feed (``lake/cdf.py``) is applied to an RDBMS
target through a STAGING TABLE, the pattern the reference itself
prescribes for exactly-once export landing (reference
export_operations.py staging/dedupe guidance):

1. the window's net feed — payload + ``_change_type`` — is written to
   ``<target>_stage`` with Spark's distributed JDBC writer (overwrite:
   re-staging the same window is idempotent);
2. the driver executes TWO portable SQL-92 statements in ONE
   transaction: ``DELETE FROM target WHERE EXISTS (stage row with the
   same key)`` then ``INSERT INTO target SELECT payload FROM stage
   WHERE _change_type <> 'delete'``;
3. only after the transaction commits is the source VERSION promoted in
   the export state (statestore seam).

Scale shape: ALL data movement is distributed (the stage write is the
ordinary parallel JDBC writer; the feed read is the file-pruned CDF
scan). The driver runs exactly two metadata-sized SQL strings per
window — never a per-row loop; the database joins stage->target with
its own indexes. Delete+insert per key is the dialect-portable MERGE:
no UPSERT syntax needed, works on every JDBC target (live-tested
against embedded Derby).

Exactly-once: a net feed has at most one row per key, delete+insert is
idempotent per key, and the stage overwrite resets any partial previous
attempt — so a crash anywhere between staging and the state commit
re-runs the same window into the same final target state. The
``last_version`` watermark makes a re-sync of a committed window a
no-op, the mirror's exactly-once argument verbatim.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbimport_spark.lake.cdf import (
    CHANGE_TYPE_COL,
    incremental_window,
    reconcile_feed,
    table_changes,
)
from dbimport_spark.lake.table import LakeTable, advance_pin
from dbimport_spark.schema import AUDIT_COLUMNS, AUDIT_DELETE


def _q(name: str) -> str:
    """Quote an SQL identifier (Spark's JDBC writer creates columns with
    quoted, case-preserved names — our driver-side SQL must match)."""
    return '"' + name.replace('"', '""') + '"'


class CDCJdbcExporter:
    """Keep an RDBMS table convergent with a lake table via the change
    feed. ``sync`` is idempotent and resumable; deletes propagate."""

    def __init__(
        self,
        source: LakeTable,
        url: str,
        target_table: str,
        state_dir: str,
        properties: dict | None = None,
        stage_table: str | None = None,
        state_store=None,
        key_varchar_len: int = 255,
        pin_name: str | None = None,
        dialect: str | None = None,
    ):
        from dbimport_spark.lake.statestore import DEFAULT_STORE

        self.source = source
        self.url = url
        self.target_table = target_table
        self.stage_table = stage_table or f"{target_table}_stage"
        self.state_dir = state_dir
        self.properties = dict(properties or {})
        self.state_store = state_store or DEFAULT_STORE
        # string KEY columns land as VARCHAR(key_varchar_len), not the
        # dialect's default large type — e.g. Derby maps StringType to
        # CLOB, which it refuses to compare/join/index, breaking the
        # staging merge's key match. Non-key strings (token JSON) keep
        # the dialect default, which may exceed any VARCHAR cap.
        self.key_varchar_len = key_varchar_len
        # retention pin advanced on the source after each committed window
        # (LakeTable.set_pin): keeps this export's delta base from being
        # expired, like the mirror's pin
        self.pin_name = pin_name
        # dialect=None keeps the writer-created target (Spark's JDBC
        # defaults + the key VARCHAR hint). Naming a dialect switches
        # target DDL to plans/dialects.py: explicit CREATE TABLE with a
        # PRIMARY KEY over the merge keys, plus ALTER ADD / RENAME
        # statements that follow the source's additive evolution and
        # declared renames (reference createTargetTable /
        # updateTargetTable, export_config.py:1164-1235 / 766-1060).
        self.dialect = dialect
        bc = source.current().bucket_column
        self.keys = list(bc) if isinstance(bc, list) else [bc]

    # -- state (source-version watermark, two-phase) ---------------------
    @property
    def _state_path(self) -> str:
        return os.path.join(self.state_dir, "_cdc_export_state.json")

    def _state(self) -> dict:
        text = self.state_store.read_text(self._state_path)
        if text is not None:
            return json.loads(text)
        return {"last_version": 0, "runs": 0}

    def _save_state(self, state: dict) -> None:
        self.state_store.write_text(self._state_path, json.dumps(state))

    # -- driver-side SQL (metadata-sized; one transaction) ---------------
    def _qt(self, name: str) -> str:
        """Quote a TARGET-side column. The stage table is always created
        by Spark's JDBC writer (quoted, case-preserved -> ``_q``), but a
        dialect-created target has FOLDED quoted columns (oracle/db2
        upper, postgres lower — plans/dialects.quote_ident), so the two
        sides of the merge need different spellings of the same column."""
        if self.dialect is None:
            return _q(name)
        from dbimport_spark.plans import dialects as D

        return D.quote_ident(self.dialect, name)

    def _qs(self, name: str) -> str:
        """Quote a STAGE-side column. Spark's JDBC writer creates the
        stage case-PRESERVED but with the connector's identifier quote
        char — double quotes everywhere except MySQL's backticks (double
        quotes there are string literals under default sql_mode, which
        would turn the merge's WHERE into a constant-true comparison).
        So: the dialect's quote char, no case folding."""
        if self.dialect is None:
            return _q(name)
        from dbimport_spark.plans import dialects as D

        q = D.get_dialect(self.dialect).quote
        return q + name.replace(q, q * 2) + q

    def _merge_sqls(self, payload_cols: list[str]) -> list[str]:
        # table names UNQUOTED (verbatim) — Spark's JDBC writer interpolates
        # the dbtable string unquoted into CREATE TABLE, so the database
        # applied its own case folding; quoting here would miss it.
        tgt, stg = self.target_table, self.stage_table
        # correlate the inner EXISTS through the target's EXPOSED name
        # (its unqualified table name), not an alias: MySQL and MSSQL
        # reject an alias on single-table DELETE, the exposed-name form
        # is accepted everywhere
        texp = tgt.split(".")[-1]
        on = " AND ".join(
            f"s.{self._qs(k)} = {texp}.{self._qt(k)}" for k in self.keys
        )
        stg_cols = ", ".join(self._qs(c) for c in payload_cols)
        tgt_cols = ", ".join(self._qt(c) for c in payload_cols)
        delete_sql = (
            f"DELETE FROM {tgt} WHERE EXISTS "
            f"(SELECT 1 FROM {stg} s WHERE {on})"
        )
        insert_sql = (
            f"INSERT INTO {tgt} ({tgt_cols}) SELECT {stg_cols} FROM {stg} "
            f"WHERE {self._qs(CHANGE_TYPE_COL)} <> 'delete'"
        )
        return [delete_sql, insert_sql]

    def _execute_merge(self, spark: SparkSession, payload_cols: list[str]) -> None:
        self._execute_driver_sql(
            spark, self._merge_sqls(payload_cols), transactional=True
        )

    def _execute_driver_sql(
        self, spark: SparkSession, statements: list, transactional: bool
    ) -> None:
        """Run metadata-sized SQL strings on the driver's own JDBC
        connection — one transaction when asked (the merge), autocommit
        otherwise (DDL, which many dialects implicitly commit anyway)."""
        jvm = spark._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, str(v))
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            conn.setAutoCommit(not transactional)
            st = conn.createStatement()
            try:
                for sql in statements:
                    st.executeUpdate(sql)
                if transactional:
                    conn.commit()
            except Exception:
                if transactional:
                    conn.rollback()
                raise
            finally:
                st.close()
        finally:
            conn.close()

    def _flatten(self, df: DataFrame) -> DataFrame:
        from dbimport_spark.plans.export import JdbcExporter

        return JdbcExporter._flatten_for_rdbms(df)

    def _payload_cols(self, feed: DataFrame) -> list[str]:
        # authoritative set = the SOURCE schema's payload columns, not a
        # name-shape heuristic: a legitimate payload column starting with
        # an underscore must reach the target, and the CDF's bookkeeping
        # columns (_change_type/_commit_version/_pre_*) are excluded by
        # simply not being source columns
        payload = {
            f.name
            for f in self.source.current().schema.fields
            if f.name not in AUDIT_COLUMNS
        }
        return [c for c in feed.columns if c in payload]

    def _ddl_types(self, df: DataFrame, with_change_type: bool) -> str | None:
        from pyspark.sql import types as T

        dtypes = {f.name: f.dataType for f in df.schema.fields}
        specs = [
            f"{k} VARCHAR({self.key_varchar_len})"
            for k in self.keys
            if isinstance(dtypes.get(k), T.StringType)
        ]
        if with_change_type:
            specs.append(f"{CHANGE_TYPE_COL} VARCHAR(16)")
        return ", ".join(specs) or None

    def _ensure_target(self, spark: SparkSession, template: DataFrame) -> None:
        """Create the target table if absent. Without a dialect: empty
        append, Spark's writer picks the types (a no-op on an existing
        table). With a dialect: explicit generated DDL (PRIMARY KEY over
        the merge keys, source column comments where the target supports
        them), and an existing target is EVOLVED — declared renames +
        ALTER ADD for new source columns — before the merge touches it."""
        flat = self._flatten(template).limit(0)
        if self.dialect is None:
            w = flat.write.mode("append")
            ddl = self._ddl_types(flat, with_change_type=False)
            if ddl:
                w = w.option("createTableColumnTypes", ddl)
            w.jdbc(self.url, self.target_table, properties=self.properties)
            return

        from dbimport_spark.plans import dialects as D

        cur = self.source.current()
        comments = {
            f.name: f.metadata.get("comment")
            for f in cur.schema.fields
            if f.metadata and f.metadata.get("comment")
        }
        live = self._target_columns(spark)
        if live is None:
            stmts = D.create_table_sql(
                self.dialect,
                self.target_table,
                flat.schema,
                keys=self.keys,
                comments=comments,
                key_varchar_len=self.key_varchar_len,
                # unquoted-verbatim table name: the database applies its
                # own fold, agreeing with the unquoted merge SQL and
                # Spark's writer dbtable (see _execute_merge)
                quote_table=False,
            )
        else:
            epoch = int(self._state().get("rename_epoch", 0))
            stmts = D.plan_target_evolution(
                self.dialect,
                self.target_table,
                live,
                flat.schema,
                renames=cur.renames[epoch:],
                keys=self.keys,
                key_varchar_len=self.key_varchar_len,
                comments=comments,
                quote_table=False,
            )
        if stmts:
            # autocommit: idempotent by construction (create only when
            # absent; rename only while old-present/new-absent; add only
            # while missing), so a crash mid-list resumes cleanly
            self._execute_driver_sql(spark, stmts, transactional=False)

    def _target_exists(self, spark: SparkSession) -> bool:
        """Authoritative existence probe via the JDBC catalog metadata
        (``DatabaseMetaData.getTables``) — absence must be proven, never
        inferred from a failed read: a transient SELECT failure (grants,
        timeout, network) that masquerades as 'absent' silently degrades
        a full reconcile to upserts-only and drops its anti-join deletes.
        Probes the exact, upper- and lower-folded spellings because each
        catalog stores unquoted identifiers in its own fold."""
        jvm = spark._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, str(v))
        parts = self.target_table.split(".")
        name = parts[-1]
        schema = parts[-2] if len(parts) > 1 else None
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            md = conn.getMetaData()
            schemas = (
                [schema, schema.upper(), schema.lower()] if schema
                else [None]
            )
            for s in dict.fromkeys(schemas):
                for cand in dict.fromkeys([name, name.upper(), name.lower()]):
                    rs = md.getTables(None, s, cand, None)
                    try:
                        if rs.next():
                            return True
                    finally:
                        rs.close()
            return False
        finally:
            conn.close()

    def _target_columns(self, spark: SparkSession) -> list | None:
        """Live target column names via JDBC metadata, None if absent.
        A read failure against a table that DOES exist re-raises — it
        must not be mistaken for absence (see ``_target_exists``)."""
        try:
            return spark.read.jdbc(
                self.url, self.target_table, properties=self.properties
            ).columns
        except Exception:
            if self._target_exists(spark):
                raise
            return None

    def sync(self, spark: SparkSession, on_gap: str = "error") -> dict:
        """Advance the RDBMS target to the source's current version."""
        state = self._state()
        from_v = int(state["last_version"])
        to_v = self.source.current().version
        if to_v <= from_v:
            advance_pin(self.source, self.pin_name, min(from_v, to_v))
            return {**state, "skipped": True}

        if incremental_window(
            self.source, from_v, to_v, on_gap,
            "a one-time full reconcile (live rows as upserts + target-side "
            "anti-join deletes)",
        ):
            feed = table_changes(spark, self.source, from_v, to_v)
        else:
            feed = self._full_reconcile_feed(spark, to_v)
        return self.apply_feed(spark, feed, to_v)

    def apply_feed(self, spark: SparkSession, feed: DataFrame, to_v: int) -> dict:
        """Stage + merge one window's NET feed (payload +
        ``_change_type``, at most one row per key) into the target and
        promote the version watermark to ``to_v`` — the single apply
        primitive behind both the batch ``sync`` and the streaming
        follower (``streaming/cdf_source.follow_export_stream``)."""
        state = self._state()
        from pyspark.sql import Observation

        payload = self._payload_cols(feed)
        stage_df = self._flatten(feed.select(*payload, CHANGE_TYPE_COL))
        # counts ride the stage write itself (Observation) — no second
        # scan of the window's feed
        obs = Observation()
        stage_df = stage_df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.when(F.col(CHANGE_TYPE_COL) == "delete", 1).otherwise(0)
            ).alias("deletes"),
        )
        # distributed stage write; overwrite makes a crash-retry re-stage
        # the same window cleanly
        w = stage_df.write.mode("overwrite")
        ddl = self._ddl_types(stage_df, with_change_type=True)
        if ddl:
            w = w.option("createTableColumnTypes", ddl)
        w.jdbc(self.url, self.stage_table, properties=self.properties)
        self._ensure_target(spark, feed.select(*payload))
        self._execute_merge(spark, payload)

        got = obs.get
        state = {
            "last_version": to_v,
            "runs": state["runs"] + 1,
            "rows": got["rows"],
            "deletes": int(got["deletes"] or 0),
            # rename-log position already applied to the target: the next
            # sync's evolution plan replays only renames declared after
            # this window (idempotent anyway — see _ensure_target)
            "rename_epoch": len(self.source.current().renames),
            "skipped": False,
        }
        self._save_state(state)
        advance_pin(self.source, self.pin_name, to_v)
        return state

    def _full_reconcile_feed(self, spark: SparkSession, to_v: int) -> DataFrame:
        """Expired delta base: ``cdf.reconcile_feed`` against the TARGET'S
        KEY COLUMNS (distributed JDBC read); the source scan is logged
        first, per the no-silent-caps rule."""
        import logging

        snap = self.source.snapshot(to_v)
        logging.getLogger(__name__).warning(
            "cdc_export on_gap='full': delta base expired — full reconcile "
            "will scan the source (%d rows, %d bytes) and the target's "
            "key columns",
            sum(f.rows for f in snap.files),
            sum(f.bytes for f in snap.files),
        )
        try:
            tgt_keys = spark.read.jdbc(
                self.url, self.target_table, properties=self.properties
            ).select(*self.keys)
        except Exception:
            if self._target_exists(spark):
                # real read failure, not absence: swallowing it would
                # drop every anti-join delete from this reconcile
                raise
            tgt_keys = None  # target absent: bootstrap is inserts-only
        return reconcile_feed(spark, self.source, to_v, tgt_keys)


def verify_cdc_export(
    spark: SparkSession,
    source: LakeTable,
    url: str,
    target_table: str,
    properties: dict | None = None,
) -> dict:
    """Reconcile the RDBMS target against the source's live rows (count +
    per-column checksum on the flattened payload — the export analogue of
    ``mirror.verify_mirror``)."""
    from dbimport_spark.plans.export import JdbcExporter
    from dbimport_spark.plans.validate import reconcile

    src = source.read(spark)
    if AUDIT_DELETE in src.columns:
        src = src.filter(F.col(AUDIT_DELETE).isNull())
    payload = [c for c in src.columns if c not in AUDIT_COLUMNS]
    expected = JdbcExporter._flatten_for_rdbms(src.select(*payload))
    actual = spark.read.jdbc(
        url, target_table, properties=dict(properties or {})
    ).select(*payload)
    return reconcile(actual, expected, payload)
