"""Pluggable commit arbitration (lake/catalog.py): the one piece of the
format that changes between POSIX (O_EXCL exclusive create) and an object
store (catalog compare-and-swap — the reference leans on the Hive/Iceberg
catalog for this, import_operations.py:1117-1146). A lost race must always
surface as CommitConflict with ZERO metadata from the loser visible."""

import json
import os

import pytest
from pyspark.sql import types as T

from dbimport_spark.lake.catalog import CASCatalog, FileCatalog, SqliteCatalog
from dbimport_spark.lake.table import CommitConflict, DataFile, LakeTable

SCHEMA = T.StructType(
    [T.StructField("doc_id", T.StringType()), T.StructField("v", T.IntegerType())]
)


def _snapshot_files(root):
    meta = os.path.join(root, "metadata")
    return sorted(n for n in os.listdir(meta) if n.endswith(".json"))


@pytest.mark.parametrize("catalog_cls", [FileCatalog, CASCatalog, SqliteCatalog])
def test_lost_race_is_conflict_with_no_partial_state(tmp_path, catalog_cls):
    """Two writers race the same version: exactly one wins, the loser gets
    CommitConflict, and the committed metadata is exactly the winner's."""
    root = str(tmp_path / "t")
    cat = catalog_cls()
    table = LakeTable.create(root, SCHEMA, num_buckets=4, catalog=cat)

    # both writers plan against v0; writer A commits first
    a = LakeTable(root, catalog=cat)
    b = LakeTable(root, catalog=cat)
    va = a.current().version
    vb = b.current().version
    assert va == vb == 0
    a.commit([], set(), properties={"writer": "A"}, expected_version=va)

    before = _snapshot_files(root)
    with pytest.raises(CommitConflict):
        b.commit([], set(), properties={"writer": "B"}, expected_version=vb)
    # no partial state: same metadata files as before the losing attempt,
    # and v1 is fully the winner's
    assert _snapshot_files(root) == before
    assert table.current().properties["writer"] == "A"
    with open(os.path.join(root, "metadata", "v1.json")) as fh:
        assert json.load(fh)["properties"]["writer"] == "A"
    # no stray tmp files left behind by the loser
    assert not [n for n in os.listdir(os.path.join(root, "metadata")) if ".tmp" in n]


@pytest.mark.parametrize("catalog_cls", [FileCatalog, CASCatalog, SqliteCatalog])
def test_race_detected_at_commit_even_without_expected_version(tmp_path, catalog_cls):
    """Even when the caller skips optimistic expected_version, the catalog
    itself must refuse the duplicate version number."""
    root = str(tmp_path / "t2")
    cat = catalog_cls()
    LakeTable.create(root, SCHEMA, num_buckets=4, catalog=cat)
    a = LakeTable(root, catalog=cat)
    b = LakeTable(root, catalog=cat)
    sa, sb = a.current(), b.current()  # both see v0 → both build v1
    assert sa.version == sb.version == 0
    a.commit([], set(), properties={"writer": "A"})
    # b's commit() re-reads current() and would build v2 — drive the
    # low-level path instead: a stale writer publishing v1 directly
    import uuid

    from dbimport_spark.lake.table import Snapshot

    stale = Snapshot(
        version=1,
        snapshot_id=uuid.uuid4().hex,
        parent_snapshot_id=sb.snapshot_id,
        schema=sb.schema,
        num_buckets=sb.num_buckets,
        bucket_column=sb.bucket_column,
        files=[],
        properties={"writer": "B"},
        lineage=[],
    )
    with pytest.raises(CommitConflict):
        b._write_snapshot(stale)
    assert a.current().properties["writer"] == "A"


def test_cas_catalog_initializes_pointer_from_disk(tmp_path):
    """A CAS catalog attached to a pre-existing table (e.g. process restart)
    picks up the on-disk version, so the next commit succeeds and a stale
    one conflicts."""
    root = str(tmp_path / "t3")
    t = LakeTable.create(root, SCHEMA, num_buckets=4)  # file catalog
    t.commit([], set(), properties={"n": "1"})

    fresh = LakeTable(root, catalog=CASCatalog())
    fresh.commit([], set(), properties={"n": "2"})
    assert fresh.current().version == 2
    with pytest.raises(CommitConflict):
        fresh.catalog.commit_version(
            os.path.join(root, "metadata"), 2, {"stale": True}
        )


def test_engine_replay_through_cas_catalog(spark, tmp_path):
    """The full CDC engine runs unchanged over a CAS-arbitrated table —
    replay, idempotent re-apply, convergence."""
    from dbimport_spark.plans.engine import CDCEngine
    from dbimport_spark.plans.validate import fold_expected, reconcile
    from dbimport_spark.schema import PAYLOAD_COLUMNS
    from dbimport_spark.sources.loggen import generate_changes

    cat = CASCatalog()
    root = str(tmp_path / "cas-tbl")
    CDCEngine.create_table(root, num_buckets=4)
    table = LakeTable.load(root, catalog=cat)
    eng = CDCEngine(spark, table, checkpoint_dir=str(tmp_path / "cas-ckpt"))
    log = generate_changes(spark, 2000, n_keys=100, seed=11)
    stats = eng.replay(log, num_batches=2)
    assert stats.batches_applied == 2
    # idempotent re-apply under the same catalog
    again = eng.replay(log, num_batches=2)
    assert again.batches_applied == 0
    rec = reconcile(table.read(spark), fold_expected(log), PAYLOAD_COLUMNS)
    assert rec["converged"]


def test_file_and_cas_agree_on_layout(tmp_path):
    """Both catalogs produce byte-compatible metadata: a table committed
    through CAS reads fine through a plain (file-catalog) handle."""
    root = str(tmp_path / "t4")
    cat = CASCatalog()
    t = LakeTable.create(root, SCHEMA, num_buckets=4, catalog=cat)
    t.commit(
        [DataFile("data/x/f.parquet", 0, 10, 100)], set(), properties={"k": "v"}
    )
    plain = LakeTable.load(root)  # default FileCatalog
    snap = plain.current()
    assert snap.version == 1
    assert snap.properties["k"] == "v"
    assert snap.files[0].rows == 10


def test_sqlite_catalog_pointer_survives_process_death(tmp_path):
    """VERDICT r3 #2: the CAS pointer must be durable — a commit made by a
    process that then dies is still known to the catalog (the sqlite row,
    not just the disk scan), so the next process CASes against it."""
    import sqlite3
    import subprocess
    import sys

    root = str(tmp_path / "t5")
    LakeTable.create(root, SCHEMA, num_buckets=4, catalog=SqliteCatalog())
    script = tmp_path / "commit_once.py"
    script.write_text(
        "import sys\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from dbimport_spark.lake.catalog import SqliteCatalog\n"
        "from dbimport_spark.lake.table import LakeTable\n"
        f"t = LakeTable.load({root!r}, catalog=SqliteCatalog())\n"
        "t.commit([], set(), properties={'writer': 'child'})\n"
        "print('COMMITTED', t.current().version)\n"
    )
    out = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=60
    )
    assert "COMMITTED 1" in out.stdout, out.stderr

    # the pointer row itself survived the process (not merely the v1.json)
    db = os.path.join(root, "metadata", "catalog.db")
    row = sqlite3.connect(db).execute(
        "SELECT version FROM table_pointer"
    ).fetchone()
    assert row == (1,)

    # a new process-equivalent (fresh catalog instance) continues the chain
    t = LakeTable.load(root, catalog=SqliteCatalog())
    t.commit([], set(), properties={"writer": "parent"})
    assert t.current().version == 2
    with pytest.raises(CommitConflict):
        t.catalog.commit_version(os.path.join(root, "metadata"), 2, {"stale": 1})


def test_sqlite_catalog_two_process_race_and_loser_gc(tmp_path):
    """VERDICT r3 #2 (the full bar): two OS processes race the same commit
    version through the durable catalog — exactly one wins, the loser
    raises CommitConflict with zero partial metadata, and the loser's
    orphaned data files are swept by remove_orphan_files while the
    winner's stay live."""
    import subprocess
    import sys

    from dbimport_spark.lake.maintenance import remove_orphan_files

    root = str(tmp_path / "t6")
    LakeTable.create(root, SCHEMA, num_buckets=4, catalog=SqliteCatalog())

    # each writer's (pre-written) data file — the state a real committer has
    # on disk before entering commit arbitration
    for w in ("A", "B"):
        d = os.path.join(root, "data", f"race{w}")
        os.makedirs(d)
        with open(os.path.join(d, "f.parquet"), "wb") as fh:
            fh.write(b"x" * 16)

    go = tmp_path / "go"
    script = tmp_path / "racer.py"
    script.write_text(
        "import os, sys, time\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from dbimport_spark.lake.catalog import CommitConflict, SqliteCatalog\n"
        "from dbimport_spark.lake.table import DataFile, LakeTable\n"
        "w = sys.argv[1]\n"
        f"t = LakeTable.load({root!r}, catalog=SqliteCatalog())\n"
        "v = t.current().version\n"
        f"open(os.path.join({str(tmp_path)!r}, 'ready-' + w), 'w').close()\n"
        f"while not os.path.exists({str(go)!r}):\n"
        "    time.sleep(0.005)\n"
        "try:\n"
        "    t.commit([DataFile(f'data/race{w}/f.parquet', 0, 1, 16)], set(),\n"
        "             properties={'writer': w}, expected_version=v)\n"
        "    print('WIN', w)\n"
        "except CommitConflict:\n"
        "    print('LOSE', w)\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), w],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for w in ("A", "B")
    ]
    from tests.test_skew_and_concurrency import _await_ready

    _await_ready(tmp_path, ("A", "B"), procs)  # both spinning on the barrier
    go.write_text("go")
    outs = [p.communicate(timeout=300) for p in procs]
    stdout = "".join(o[0] for o in outs)
    assert stdout.count("WIN") == 1, outs
    assert stdout.count("LOSE") == 1, outs
    winner = [line.split()[1] for line in stdout.splitlines() if "WIN" in line][0]
    loser = "B" if winner == "A" else "A"

    t = LakeTable.load(root, catalog=SqliteCatalog())
    snap = t.current()
    assert snap.version == 1
    assert snap.properties["writer"] == winner
    assert [f.path for f in snap.files] == [f"data/race{winner}/f.parquet"]
    meta = os.path.join(root, "metadata")
    assert not [n for n in os.listdir(meta) if ".tmp" in n]

    # GC: the loser's orphaned data file goes, the winner's stays
    removed = remove_orphan_files(t, older_than_seconds=0)
    assert removed == 1
    assert os.path.isfile(os.path.join(root, f"data/race{winner}/f.parquet"))
    assert not os.path.exists(os.path.join(root, f"data/race{loser}"))


def test_sqlite_catalog_recovers_from_stale_pointer(tmp_path):
    """code-review r4: a writer dying between the metadata rename and the
    sqlite pointer advance leaves durable vN.json one ahead of the
    pointer. The CAS must base itself on max(pointer, disk) and adopt the
    published version — a stale pointer must never wedge the table."""
    import sqlite3

    root = str(tmp_path / "t7")
    t = LakeTable.create(root, SCHEMA, num_buckets=4, catalog=SqliteCatalog())
    t.commit([], set(), properties={"n": "1"})  # v1, pointer = 1

    # simulate the crash window: v1.json durable, pointer rolled back to 0
    db = os.path.join(root, "metadata", "catalog.db")
    con = sqlite3.connect(db)
    con.execute("UPDATE table_pointer SET version = 0")
    con.commit()
    con.close()

    # a new committer resolves current()=v1 from disk and commits v2 —
    # the catalog must adopt the on-disk v1, not refuse forever
    fresh = LakeTable.load(root, catalog=SqliteCatalog())
    fresh.commit([], set(), properties={"n": "2"})
    assert fresh.current().version == 2
    row = sqlite3.connect(db).execute(
        "SELECT version FROM table_pointer"
    ).fetchone()
    assert row == (2,)
    # and a genuinely stale commit still conflicts
    with pytest.raises(CommitConflict):
        fresh.catalog.commit_version(os.path.join(root, "metadata"), 2, {})


def test_cas_catalog_stale_pointer_cannot_clobber_published_version(tmp_path):
    """code-review r4: after a failed pointer advance leaves durable
    metadata one ahead of the in-process pointer, a second writer whose
    CAS the stale pointer would satisfy must NOT overwrite the published
    snapshot — it conflicts and adopts."""
    root = str(tmp_path / "t8")
    cat = CASCatalog()
    t = LakeTable.create(root, SCHEMA, num_buckets=4, catalog=cat)
    t.commit([], set(), properties={"writer": "A"})  # v1, pointer = 1

    # simulate the crash window: v2.json durably published, pointer stuck
    meta = os.path.join(root, "metadata")
    cat.commit_version(meta, 2, {"writer": "dead", "version": 2,
                                 "snapshot_id": "x", "schema": {"type": "struct", "fields": []},
                                 "num_buckets": 4, "bucket_column": "doc_id",
                                 "files": [], "properties": {}, "lineage": []})
    cat._versions[os.path.abspath(meta)] = 1  # pointer rollback

    with pytest.raises(CommitConflict):
        cat.commit_version(meta, 2, {"writer": "B"})
    with open(os.path.join(meta, "v2.json")) as fh:
        assert json.load(fh)["writer"] == "dead"  # published snapshot intact
    # the chain continues by adoption
    cat.commit_version(meta, 3, {"writer": "B"})
