"""Incremental export (reference reverse path, SURVEY.md §3.2)."""

import datetime as dt

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.export import ParquetExporter
from dbimport_spark.schema import CHANGE_SCHEMA
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes


def test_incremental_export(spark, tmp_path):
    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    log = generate_changes(spark, 1000, n_keys=80, seed=5)
    eng.replay(log.filter("lsn <= 600"), num_batches=1)

    ex = ParquetExporter(table, str(tmp_path / "out"))
    s1 = ex.export(spark, mode="incr")
    n_after_first = table.read(spark).count()
    assert s1["last_run_rows"] == n_after_first  # first incr = everything
    out1 = spark.read.parquet(s1["last_run_dir"])
    assert "dl_iud" not in out1.columns  # audit stripped by default

    # nothing changed → empty incremental
    s2 = ex.export(spark, mode="incr")
    assert s2["last_run_rows"] == 0

    # apply more changes → only touched rows exported
    eng.replay(log, num_batches=1)  # applies lsn 601..1000
    s3 = ex.export(spark, mode="incr")
    assert 0 < s3["last_run_rows"] <= table.read(spark).count()
    # every exported row was actually updated in the second window
    exported_keys = {
        r["doc_id"] for r in spark.read.parquet(s3["last_run_dir"]).collect()
    }
    touched_keys = {
        r["doc_id"]
        for r in log.filter("lsn > 600").select("doc_id").distinct().collect()
    }
    assert exported_keys <= touched_keys

    # full mode re-exports the whole table
    s4 = ex.export(spark, mode="full")
    assert s4["last_run_rows"] == table.read(spark).count()


def test_incremental_export_sees_soft_delete_tombstones(spark, tmp_path):
    """A soft delete must bump dl_update_ts so incremental export ships the
    tombstone (otherwise downstream never learns about the deletion)."""
    table = CDCEngine.create_table(
        str(tmp_path / "ts"), num_buckets=4, soft_delete=True
    )
    eng = CDCEngine(spark, table, delete_mode="soft")
    rows = [(1, "I", "k1", [1], 1, "web", dt.datetime(2024, 1, 1))]
    eng.apply_batch(local_frame(spark, rows, CHANGE_SCHEMA), 0, 1)
    ex = ParquetExporter(table, str(tmp_path / "out2"), include_audit=True)
    ex.export(spark, mode="incr")
    # soft-delete k1 in a later batch
    rows2 = [(2, "D", "k1", None, None, None, dt.datetime(2024, 2, 1))]
    eng.apply_batch(local_frame(spark, rows2, CHANGE_SCHEMA), 1, 2)
    s = ex.export(spark, mode="incr")
    assert s["last_run_rows"] == 1
    out = spark.read.parquet(s["last_run_dir"]).collect()
    assert out[0]["doc_id"] == "k1" and out[0]["dl_iud"] == "D"


def test_parquet_export_schema_sidecar(spark, tmp_path):
    """VERDICT r3 #8 (reference export_operations.py:1067-1073): every
    parquet export run leaves a schema JSON sidecar next to the output,
    written atomically before the watermark commit and matching the
    exported files' schema exactly — including evolution between runs."""
    import json
    import os

    from pyspark.sql import types as T

    root = str(tmp_path / "t")
    table = CDCEngine.create_table(root, num_buckets=4)
    eng = CDCEngine(spark, table)
    eng.replay(generate_changes(spark, 300, n_keys=30, seed=5), num_batches=1)

    out = str(tmp_path / "out")
    exp = ParquetExporter(table, out)
    s1 = exp.export(spark, mode="incr")
    sidecar = os.path.join(out, "_export_schema.json")
    assert s1["schema_file"] == sidecar
    with open(sidecar) as fh:
        sidecar_schema = T.StructType.fromJson(json.load(fh))
    exported = spark.read.parquet(s1["last_run_dir"])
    assert sidecar_schema == exported.schema

    # schema evolution between runs refreshes the sidecar
    evolved = generate_changes(
        spark, 300, n_keys=30, seed=6, first_lsn=301, evolve_at_lsn=300
    )
    eng.replay(evolved, num_batches=1)
    s2 = exp.export(spark, mode="incr")
    with open(sidecar) as fh:
        sidecar_schema2 = T.StructType.fromJson(json.load(fh))
    assert "quality_score" in sidecar_schema2.fieldNames()
    assert sidecar_schema2 == spark.read.parquet(s2["last_run_dir"]).schema


def test_snapshot_export_at_tag(spark, tmp_path):
    """AS-OF export ships a tagged freeze without touching the incremental
    watermark chain: the next incr export still sees everything as new."""
    from dbimport_spark.plans.export import export_snapshot

    table = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    eng = CDCEngine(spark, table)
    log = generate_changes(spark, 1000, n_keys=80, seed=7)
    eng.replay(log.filter("lsn <= 500"), num_batches=1)
    frozen_rows = table.read(spark).count()
    table.set_tag("freeze")
    eng.replay(log, num_batches=1)  # table advances past the freeze

    out = export_snapshot(spark, table, str(tmp_path / "ship"), "freeze")
    assert out["rows"] == frozen_rows
    shipped = spark.read.parquet(out["out"])
    assert shipped.count() == frozen_rows
    assert "dl_iud" not in shipped.columns  # audit stripped by default
    # the frozen content, not the current content
    frozen_ids = {r["doc_id"] for r in table.read(
        spark, version=table.resolve_ref("freeze")).select("doc_id").collect()}
    assert {r["doc_id"] for r in shipped.select("doc_id").collect()} == frozen_ids

    # re-run is idempotent (overwrite-by-version)
    out2 = export_snapshot(spark, table, str(tmp_path / "ship"), "freeze")
    assert out2["out"] == out["out"] and out2["rows"] == frozen_rows

    # the incremental chain was NOT advanced by the freeze shipment
    ex = ParquetExporter(table, str(tmp_path / "incr_out"))
    s = ex.export(spark, mode="incr")
    assert s["last_run_rows"] == table.read(spark).count()


def test_snapshot_export_excludes_tombstones(spark, tmp_path):
    """A freeze shipment from a SOFT-delete table ships the snapshot's
    LIVE rows: tombstoned records (deleted before the freeze) must not
    land in the corpus — by default they'd be indistinguishable from
    live rows once the audit columns are stripped. --include-deleted
    keeps them, forcing the audit marker along."""
    import datetime as _dt

    from dbimport_spark.plans.export import export_snapshot
    from dbimport_spark.schema import AUDIT_DELETE

    ts = _dt.datetime(2024, 1, 1)
    table = CDCEngine.create_table(
        str(tmp_path / "t"), num_buckets=2, soft_delete=True
    )
    eng = CDCEngine(spark, table)
    eng.apply_batch(
        local_frame(
            spark,
            [(1, "I", "k1", [1] * 3, 3, "a", ts),
             (2, "I", "k2", [2] * 4, 4, "b", ts),
             (3, "D", "k1", None, None, None, ts)],
            CHANGE_SCHEMA,
        ), 0, 3,
    )
    table.set_tag("freeze")

    out = export_snapshot(spark, table, str(tmp_path / "ship"), "freeze")
    shipped = spark.read.parquet(out["out"])
    assert out["rows"] == 1
    assert {r["doc_id"] for r in shipped.select("doc_id").collect()} == {"k2"}
    assert AUDIT_DELETE not in shipped.columns

    # audit shipment: tombstones kept, marker column forced along
    out2 = export_snapshot(
        spark, table, str(tmp_path / "ship-audit"), "freeze",
        include_deleted=True,
    )
    shipped2 = spark.read.parquet(out2["out"])
    assert out2["rows"] == 2
    assert AUDIT_DELETE in shipped2.columns
    dead = {r["doc_id"] for r in shipped2.filter(
        f"{AUDIT_DELETE} is not null").select("doc_id").collect()}
    assert dead == {"k1"}
