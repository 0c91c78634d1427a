"""Multi-table registry (VERDICT r3 #5; reference import_tables config
rows, configSchema.py:686-766): one sweep drives many tables with
independent watermarks, and one table's failure never blocks the rest."""

import json

import pytest

from dbimport_spark.plans.engine import CDCEngine
from dbimport_spark.plans.registry import TableEntry, TableRegistry, replay_all
from dbimport_spark.plans.validate import fold_expected, reconcile
from dbimport_spark.schema import PAYLOAD_COLUMNS
from dbimport_spark.session import local_frame
from dbimport_spark.sources.loggen import generate_changes, write_changes


def test_registry_add_list_remove(tmp_path):
    reg = TableRegistry(str(tmp_path / "reg.json"))
    assert reg.load() == {}
    reg.add(TableEntry(name="a", table_root="/r/a", log_path="/l/a"))
    reg.add(
        TableEntry(
            name="b", table_root="/r/b", log_path="/l/b",
            renames={"old": "new"}, batches=3, schedule="hourly",
        )
    )
    with pytest.raises(ValueError, match="already registered"):
        reg.add(TableEntry(name="a", table_root="/x", log_path="/y"))
    loaded = reg.load()
    assert set(loaded) == {"a", "b"}
    assert loaded["b"].renames == {"old": "new"}
    assert loaded["b"].batches == 3
    # the registry document round-trips as plain JSON (a user can edit it)
    raw = json.loads(open(str(tmp_path / "reg.json")).read())
    assert raw["b"]["schedule"] == "hourly"
    reg.remove("a")
    assert set(reg.load()) == {"b"}
    with pytest.raises(KeyError):
        reg.remove("a")


def test_replay_all_independent_tables_and_failure_isolation(spark, tmp_path):
    """Two healthy tables replay to convergence with independent
    watermarks; a third with a broken log path fails in isolation. A
    second sweep after new events advances only the table that grew."""
    logs, tables = {}, {}
    for name, (n, keys, seed) in {
        "alpha": (1500, 80, 31),
        "beta": (800, 40, 37),
    }.items():
        log = generate_changes(spark, n, n_keys=keys, seed=seed)
        path = str(tmp_path / f"log-{name}")
        write_changes(log, path, 4)
        CDCEngine.create_table(str(tmp_path / f"t-{name}"), num_buckets=4)
        logs[name] = log
        tables[name] = str(tmp_path / f"t-{name}")

    reg = TableRegistry(str(tmp_path / "reg.json"))
    for name in ("alpha", "beta"):
        reg.add(
            TableEntry(
                name=name,
                table_root=tables[name],
                log_path=str(tmp_path / f"log-{name}"),
                checkpoint=str(tmp_path / f"ck-{name}"),
                batches=2,
            )
        )
    reg.add(
        TableEntry(
            name="broken",
            table_root=str(tmp_path / "does-not-exist"),
            log_path=str(tmp_path / "no-log"),
        )
    )

    results = replay_all(spark, reg)
    assert results["alpha"]["ok"] and results["alpha"]["last_lsn"] == 1500
    assert results["beta"]["ok"] and results["beta"]["last_lsn"] == 800
    assert not results["broken"]["ok"]
    assert "error" in results["broken"]

    from dbimport_spark.lake.table import LakeTable

    for name in ("alpha", "beta"):
        rec = reconcile(
            LakeTable.load(tables[name]).read(spark),
            fold_expected(logs[name]),
            PAYLOAD_COLUMNS,
        )
        assert rec["converged"], (name, rec)

    # grow only beta; the next sweep applies beta, skips alpha
    extra = generate_changes(spark, 200, n_keys=40, seed=38, first_lsn=801)
    write_changes(
        spark.read.parquet(str(tmp_path / "log-beta")).unionByName(extra),
        str(tmp_path / "log-beta2"),
        4,
    )
    entries = reg.load()
    entries["beta"].log_path = str(tmp_path / "log-beta2")
    entries["broken"].enabled = False
    reg.save(entries)
    results2 = replay_all(spark, reg)
    assert results2["alpha"]["ok"] and results2["alpha"]["events_applied"] == 0
    assert results2["beta"]["ok"] and results2["beta"]["last_lsn"] == 1000
    assert results2["broken"] == {"ok": True, "skipped": "disabled"}

    # --only restricts the sweep
    results3 = replay_all(spark, reg, only=["alpha"])
    assert set(results3) == {"alpha"}


def test_discover_tables_is_additive(spark, tmp_path):
    """Discovery registers every lake table under a base dir, skips
    non-tables and already-registered names (reference
    discoverAndAddTablesFromSource, import_operations.py:518-648)."""
    import os

    from dbimport_spark.plans.registry import discover_tables

    base = tmp_path / "warehouse"
    logs = tmp_path / "logs"
    os.makedirs(base)
    CDCEngine.create_table(str(base / "orders"), num_buckets=4)
    CDCEngine.create_table(str(base / "events"), num_buckets=4)
    os.makedirs(base / "not-a-table")  # plain dir, must be skipped

    reg = TableRegistry(str(tmp_path / "reg.json"))
    reg.add(
        TableEntry(
            name="orders",
            table_root="/custom/root",  # pre-registered: discovery keeps it
            log_path="/custom/log",
        )
    )
    added = discover_tables(reg, str(base), str(logs), batches=2)
    assert added == ["events"]
    entries = reg.load()
    assert set(entries) == {"orders", "events"}
    assert entries["orders"].table_root == "/custom/root"  # untouched
    assert entries["events"].table_root == str(base / "events")
    assert entries["events"].log_path == os.path.join(str(logs), "events")
    assert entries["events"].batches == 2
    # second discovery adds nothing
    assert discover_tables(reg, str(base), str(logs)) == []


def test_replay_all_only_surfaces_unknown_and_disabled(spark, tmp_path):
    """code-review r4: --only naming an unregistered OR disabled table must
    surface as a failure — an explicitly requested table that replays
    nothing can never be a green sweep."""
    CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    log = generate_changes(spark, 100, n_keys=10, seed=1)
    write_changes(log, str(tmp_path / "log"), 2)
    reg = TableRegistry(str(tmp_path / "reg.json"))
    reg.add(
        TableEntry(
            name="a", table_root=str(tmp_path / "t"),
            log_path=str(tmp_path / "log"),
        )
    )
    entries = reg.load()
    entries["a"].enabled = False
    reg.save(entries)

    res = replay_all(spark, reg, only=["a", "typo"])
    assert res["typo"] == {"ok": False, "error": "not registered"}
    assert res["a"] == {"ok": False, "error": "disabled"}
    # the plain sweep still treats disabled as a benign skip
    res2 = replay_all(spark, reg)
    assert res2["a"] == {"ok": True, "skipped": "disabled"}


def test_replay_all_advances_derived_mirror_and_view(spark, tmp_path):
    """Derived targets (the reference's per-table copy phase,
    copy_operations.py): a registered mirror and matview are delta-synced
    after each successful replay; a broken derived target flips the
    entry's ok without blocking the table replay or other entries."""
    from dbimport_spark.lake.table import LakeTable
    from dbimport_spark.plans.matview import AggSpec, create_view, verify_view
    from dbimport_spark.plans.mirror import verify_mirror

    log = generate_changes(spark, 1200, n_keys=80, seed=11)
    write_changes(log, str(tmp_path / "log"), 4)
    src_t = CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    CDCEngine.create_table(str(tmp_path / "mir"), num_buckets=4)
    spec = AggSpec(
        group_cols=["source"], sum_cols=["n_tok"],
        min_cols=["n_tok"], max_cols=["n_tok"],
    )
    create_view(str(tmp_path / "view"), src_t, spec, num_buckets=2)

    reg = TableRegistry(str(tmp_path / "reg.json"))
    reg.add(
        TableEntry(
            name="t", table_root=str(tmp_path / "t"),
            log_path=str(tmp_path / "log"),
            checkpoint=str(tmp_path / "ckpt"),
            mirror_root=str(tmp_path / "mir"),
            views=[{"root": str(tmp_path / "view"),
                    "group_by": ["source"], "sum": ["n_tok"],
                    "min": ["n_tok"], "max": ["n_tok"]}],
        )
    )
    res = replay_all(spark, reg)
    assert res["t"]["ok"]
    assert res["t"]["mirror"]["ok"] and not res["t"]["mirror"]["skipped"]
    assert res["t"]["views"][0]["ok"]
    assert verify_mirror(
        spark, src_t, LakeTable.load(str(tmp_path / "mir"))
    )["converged"]
    assert verify_view(
        spark, src_t, LakeTable.load(str(tmp_path / "view")), spec
    )["converged"]

    # derived failure isolation: break the view root; the replay itself
    # stays applied (watermark advanced), mirror still syncs, entry ok
    # flips, and the error names the target
    entries = reg.load()
    entries["t"].views = [{"root": str(tmp_path / "missing"),
                           "group_by": ["source"], "sum": ["n_tok"]}]
    reg.save(entries)
    write_changes(
        generate_changes(spark, 1800, n_keys=80, seed=11),
        str(tmp_path / "log"), 4,
    )
    res = replay_all(spark, reg)
    assert not res["t"]["ok"]
    assert res["t"]["batches_applied"] >= 1  # the table replay succeeded
    assert res["t"]["mirror"]["ok"]
    assert not res["t"]["views"][0]["ok"]
    assert "missing" in res["t"]["views"][0]["root"]


def test_discover_sources_registers_logs_and_sweeps(spark, tmp_path):
    """Source-log discovery (VERDICT r4 #4; reference
    discoverAndAddTablesFromSource, import_operations.py:518-648): a
    warehouse of change logs becomes registered, ready-to-replay tables —
    schema inferred from each log's parquet footer, key defaulting to the
    standard merge key — and a replay_all sweep converges both. Additive:
    re-discovery and non-log dirs are no-ops."""
    import os

    from dbimport_spark.lake.table import LakeTable
    from dbimport_spark.plans.registry import discover_sources

    logs = tmp_path / "warehouse-logs"
    for name, (n, keys, seed) in {
        "gamma": (1200, 60, 41),
        "delta": (600, 30, 43),
    }.items():
        write_changes(
            generate_changes(spark, n, n_keys=keys, seed=seed),
            str(logs / name), 2,
        )
    # a non-log directory must be skipped, not crash discovery
    os.makedirs(logs / "not-a-log")
    open(logs / "not-a-log" / "readme.txt", "w").write("nope")

    reg = TableRegistry(str(tmp_path / "reg.json"))
    base = str(tmp_path / "tables")
    added = discover_sources(spark, reg, str(logs), base, num_buckets=4)
    assert added == ["delta", "gamma"]
    entries = reg.load()
    assert set(entries) == {"delta", "gamma"}
    for name in added:
        tbl = LakeTable.load(entries[name].table_root)
        # inferred payload schema: the log minus lsn/op/commit_ts
        assert set(tbl.current().schema.fieldNames()) >= {
            "doc_id", "tokens", "n_tok", "source"
        }
    # idempotent re-discovery
    assert discover_sources(spark, reg, str(logs), base) == []

    results = replay_all(spark, reg)
    assert results["gamma"]["ok"] and results["gamma"]["last_lsn"] == 1200
    assert results["delta"]["ok"] and results["delta"]["last_lsn"] == 600

    # converged content pins the inferred table end-to-end
    for name, seed, n, keys in (("gamma", 41, 1200, 60), ("delta", 43, 600, 30)):
        log = generate_changes(spark, n, n_keys=keys, seed=seed)
        expected = fold_expected(log)
        actual = LakeTable.load(reg.load()[name].table_root).read(spark)
        assert reconcile(actual, expected, PAYLOAD_COLUMNS)["converged"]


def test_registry_maintenance_after_successful_sweep(spark, tmp_path):
    """Per-entry storage upkeep (reference runs Iceberg maintenance right
    after each import, import_operations.py:1513-1535): the growth policy
    rebuckets past the byte target and snapshots are expired — but only
    when replay AND derived syncs succeeded, so expiry can never destroy
    a delta base a failing mirror still needs."""
    from dbimport_spark.lake.table import LakeTable

    log = generate_changes(spark, 1200, n_keys=80, seed=61)
    write_changes(log, str(tmp_path / "log"), 4)
    CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    reg = TableRegistry(str(tmp_path / "reg.json"))
    reg.add(
        TableEntry(
            name="m", table_root=str(tmp_path / "t"),
            log_path=str(tmp_path / "log"), batches=2,
            maintenance={
                "target_bytes_per_bucket": 1,  # force the growth path
                "max_buckets": 8,
                "expire_keep_last": 1,
            },
        )
    )
    results = replay_all(spark, reg)
    assert results["m"]["ok"], results["m"]
    mrec = results["m"]["maintenance"]
    assert mrec["ok"] and mrec["rebucket"]["rebucketed"]
    table = LakeTable.load(str(tmp_path / "t"))
    assert table.current().num_buckets == 8
    assert len(table.snapshots()) == 1  # expire_keep_last=1 applied
    # content survived the full upkeep chain
    assert reconcile(table.read(spark), fold_expected(log), PAYLOAD_COLUMNS)[
        "converged"
    ]
    # maintenance config round-trips through the JSON document
    assert reg.load()["m"].maintenance["max_buckets"] == 8

    # gated on success: a broken derived target blocks upkeep entirely
    CDCEngine.create_table(str(tmp_path / "t2"), num_buckets=4)
    reg.add(
        TableEntry(
            name="x", table_root=str(tmp_path / "t2"),
            log_path=str(tmp_path / "log"),
            mirror_root=str(tmp_path / "no-such-mirror"),
            maintenance={"expire_keep_last": 1},
        )
    )
    results = replay_all(spark, reg, only=["x"])
    assert not results["x"]["ok"]
    assert "maintenance" not in results["x"]
    assert len(LakeTable.load(str(tmp_path / "t2")).snapshots()) > 1


def test_registry_write_mode_and_delete_guard(spark, tmp_path):
    """Entries carry write_mode='mor' and max_delete_fraction: the sweep
    applies through merge-on-read deltas, and a truncated-upstream log is
    refused in isolation (the other table still advances)."""
    from dbimport_spark.lake.table import LakeTable

    # healthy table, mor mode
    log = generate_changes(spark, 1200, n_keys=80, seed=51)
    write_changes(log, str(tmp_path / "log-m"), 4)
    CDCEngine.create_table(str(tmp_path / "t-m"), num_buckets=4)

    # guarded table whose log ends in a mass delete
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
            T.StructField("n_tok", T.IntegerType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    keys = [f"g{i}" for i in range(10)]
    inserts = [(i + 1, "I", k, [1], 1, "s") for i, k in enumerate(keys)]
    local_frame(spark, inserts, schema).write.parquet(str(tmp_path / "log-g"))
    CDCEngine.create_table(str(tmp_path / "t-g"), num_buckets=4)

    reg = TableRegistry(str(tmp_path / "reg.json"))
    reg.add(
        TableEntry(
            name="m", table_root=str(tmp_path / "t-m"),
            log_path=str(tmp_path / "log-m"), write_mode="mor", batches=3,
        )
    )
    reg.add(
        TableEntry(
            name="g", table_root=str(tmp_path / "t-g"),
            log_path=str(tmp_path / "log-g"), max_delete_fraction=0.5,
            batches=1,
        )
    )
    res = replay_all(spark, reg)
    assert res["m"]["ok"] and res["g"]["ok"], res
    tm = LakeTable.load(str(tmp_path / "t-m"))
    assert any(f.kind == "delta" for f in tm.current().files)
    rec = reconcile(tm.read(spark), fold_expected(log), PAYLOAD_COLUMNS)
    assert rec["converged"], rec

    # upstream truncation arrives as a new log segment: 9/10 keys deleted
    deletes = [
        (50 + i, "D", k, None, None, None) for i, k in enumerate(keys[:9])
    ]
    local_frame(spark, deletes, schema).write.mode("append").parquet(
        str(tmp_path / "log-g")
    )
    res2 = replay_all(spark, reg)
    assert res2["m"]["ok"]  # the healthy table is unaffected
    assert not res2["g"]["ok"]
    assert "refusing to publish" in res2["g"]["error"]
    tg = LakeTable.load(str(tmp_path / "t-g"))
    assert tg.read(spark).count() == 10  # inserts intact, deletes refused
    assert tg.last_lsn() == 10  # watermark never moved past the insert load


def test_cli_tables_add_new_entry_fields(tmp_path, capsys):
    """The registry CLI exposes every TableEntry knob the sweep honors —
    anonymization, write mode, the delete-fraction guard, and the
    maintenance chain — without hand-editing JSON."""
    import json

    from dbimport_spark.cli import main

    reg_path = str(tmp_path / "r.json")
    rc = main(
        [
            "tables", reg_path, "add", "t1", "/x/t", "/x/log",
            "--anonymize", "source=first4",
            "--anonymize-salt", "s1",
            "--write-mode", "auto",
            "--max-delete-fraction", "0.5",
            "--maintenance", '{"expire_keep_last": 2}',
        ]
    )
    assert rc in (0, None)
    assert json.loads(capsys.readouterr().out.strip()) == {"added": "t1"}
    e = TableRegistry(reg_path).load()["t1"]
    assert e.anonymize == {"source": "first4"}
    assert e.anonymize_salt == "s1"
    assert e.write_mode == "auto"
    assert e.max_delete_fraction == 0.5
    assert e.maintenance == {"expire_keep_last": 2}


def test_cli_tables_add_rejects_bad_anonymize(tmp_path):
    import pytest as _pytest

    from dbimport_spark.cli import main

    with _pytest.raises(SystemExit):
        main(["tables", str(tmp_path / "r.json"), "add", "t", "/x", "/y",
              "--anonymize", "source=rot13"])


# -- cross-table sync points (r5) --------------------------------------------


def _mk_fleet(spark, tmp_path, names=("alpha", "beta"), n=400):
    """Two replayed tables behind a registry; returns (reg, logs)."""
    reg = TableRegistry(str(tmp_path / "reg.json"))
    logs = {}
    for i, name in enumerate(names):
        log = generate_changes(spark, n, n_keys=30, seed=50 + i)
        path = str(tmp_path / f"log-{name}")
        write_changes(log, path, 4)
        CDCEngine.create_table(str(tmp_path / f"t-{name}"), num_buckets=4)
        reg.add(TableEntry(
            name=name, table_root=str(tmp_path / f"t-{name}"),
            log_path=path,
        ))
        logs[name] = log
    replay_all(spark, reg)
    return reg, logs


def test_sync_point_freeze_read_expire_drop(spark, tmp_path):
    """A sync point freezes every table at its current version; members
    stay readable AS-OF the freeze through later replays AND snapshot
    expiry; drop removes the tags and the manifest; the name is then
    reusable, but a LIVE name never moves."""
    import pytest as _pytest

    from dbimport_spark.lake.table import LakeTable
    from dbimport_spark.plans.registry import (
        create_sync_point, drop_sync_point, sync_points,
    )

    reg, logs = _mk_fleet(spark, tmp_path)
    m = create_sync_point(reg, "monday")
    assert set(m["tables"]) == {"alpha", "beta"}
    frozen = {}
    for name in ("alpha", "beta"):
        t = LakeTable.load(str(tmp_path / f"t-{name}"))
        info = m["tables"][name]["table"]
        assert info["version"] == t.current().version
        assert info["last_lsn"] == 400
        frozen[name] = t.read(spark).count()

    # a live freeze never moves
    with _pytest.raises(ValueError, match="already exists"):
        create_sync_point(reg, "monday")

    # advance both tables past the freeze, then expire history
    for i, name in enumerate(("alpha", "beta")):
        extra = generate_changes(
            spark, 150, n_keys=30, seed=60 + i, first_lsn=401
        )
        path = str(tmp_path / f"log2-{name}")
        write_changes(logs[name].unionByName(extra), path, 4)
        entries = reg.load()
        entries[name].log_path = path
        reg.save(entries)
    replay_all(spark, reg)
    for name in ("alpha", "beta"):
        t = LakeTable.load(str(tmp_path / f"t-{name}"))
        t.expire_snapshots(keep_last=1)
        v = t.resolve_ref("monday")
        assert t.read(spark, version=v).count() == frozen[name]
        assert t.last_lsn() == 550  # the live table moved on

    assert set(sync_points(reg)) == {"monday"}
    assert drop_sync_point(reg, "monday")
    assert sync_points(reg) == {}
    for name in ("alpha", "beta"):
        assert "monday" not in LakeTable.load(
            str(tmp_path / f"t-{name}")
        ).tags()
    assert not drop_sync_point(reg, "monday")  # second drop: not found
    create_sync_point(reg, "monday")  # name reusable after drop


def test_sync_point_rollback_on_partial_failure(spark, tmp_path):
    """A member that cannot be tagged aborts the freeze and rolls back
    tags already set — a half-tagged sync point must not exist."""
    import pytest as _pytest

    from dbimport_spark.lake.table import LakeTable
    from dbimport_spark.plans.registry import create_sync_point, sync_points

    reg, _ = _mk_fleet(spark, tmp_path, names=("alpha",))
    reg.add(TableEntry(
        name="ghost",
        table_root=str(tmp_path / "missing"),  # no table here
        log_path=str(tmp_path / "no-log"),
    ))
    with _pytest.raises(Exception):
        create_sync_point(reg, "broken")
    assert sync_points(reg) == {}
    assert "broken" not in LakeTable.load(str(tmp_path / "t-alpha")).tags()


def test_sync_point_covers_derived_mirror(spark, tmp_path):
    """Derived targets are frozen too: an entry's mirror is tagged at the
    version the sweep left it, so 'the warehouse as of X' includes the
    mirror a downstream reader actually queries."""
    from dbimport_spark.lake.table import LakeTable
    from dbimport_spark.plans.registry import create_sync_point

    log = generate_changes(spark, 300, n_keys=25, seed=77)
    write_changes(log, str(tmp_path / "log"), 4)
    CDCEngine.create_table(str(tmp_path / "t"), num_buckets=4)
    CDCEngine.create_table(str(tmp_path / "m"), num_buckets=4)
    reg = TableRegistry(str(tmp_path / "reg.json"))
    reg.add(TableEntry(
        name="main", table_root=str(tmp_path / "t"),
        log_path=str(tmp_path / "log"), mirror_root=str(tmp_path / "m"),
    ))
    results = replay_all(spark, reg, sync_point="nightly")
    assert results["main"]["ok"] and results["main"]["mirror"]["ok"]
    assert results["_sync_point"] == {"ok": True, "name": "nightly"}

    mirror = LakeTable.load(str(tmp_path / "m"))
    assert "nightly" in mirror.tags()
    vm = mirror.resolve_ref("nightly")
    main = LakeTable.load(str(tmp_path / "t"))
    assert (
        mirror.read(spark, version=vm).count()
        == main.read(spark, version=main.resolve_ref("nightly")).count()
    )


def test_replay_all_sync_point_skipped_on_failure(spark, tmp_path):
    """A sweep with failures must NOT cut the freeze — a sync point that
    silently excluded a failed member would lie about the warehouse."""
    from dbimport_spark.plans.registry import sync_points

    reg, _ = _mk_fleet(spark, tmp_path, names=("alpha",))
    reg.add(TableEntry(
        name="broken", table_root=str(tmp_path / "nope"),
        log_path=str(tmp_path / "no-log"),
    ))
    results = replay_all(spark, reg, sync_point="bad")
    assert not results["broken"]["ok"]
    assert not results["_sync_point"]["ok"]
    assert sync_points(reg) == {}


def test_cli_sync_point_roundtrip(spark, tmp_path, capsys):
    """CLI surface: --set over the fleet, --list, --show, --remove; the
    frozen ref then feeds the AS-OF export (`export --at NAME`)."""
    import json as _json

    from dbimport_spark.cli import main

    reg, _ = _mk_fleet(spark, tmp_path, names=("alpha",))
    reg_path = str(tmp_path / "reg.json")

    rc = main(["sync-point", reg_path, "--set", "ship-1"])
    assert rc in (0, None)
    m = _json.loads(capsys.readouterr().out)
    assert "alpha" in m["tables"]

    rc = main(["sync-point", reg_path, "--list"])
    assert rc in (0, None)
    listing = _json.loads(capsys.readouterr().out)
    assert listing["ship-1"]["tables"] == ["alpha"]

    rc = main(["sync-point", reg_path, "--show", "ship-1"])
    assert rc in (0, None)
    shown = _json.loads(capsys.readouterr().out)
    assert shown["tables"]["alpha"]["table"]["last_lsn"] == 400

    # the frozen name is a snapshot ref everywhere refs are accepted
    rc = main([
        "export", str(tmp_path / "t-alpha"), str(tmp_path / "ship"),
        "--at", "ship-1",
    ])
    assert rc in (0, None)
    out = _json.loads(capsys.readouterr().out)
    assert out["rows"] == spark.read.parquet(out["out"]).count()

    rc = main(["sync-point", reg_path, "--remove", "ship-1"])
    assert rc in (0, None)
    assert _json.loads(capsys.readouterr().out)["found"]
    rc = main(["sync-point", reg_path, "--remove", "ship-1"])
    assert rc == 1


def test_sync_point_replace_recuts(spark, tmp_path):
    """replace=True re-cuts an existing freeze at the CURRENT versions —
    what a generated DAG's recurring cut_sync_point task needs (without
    it the second scheduled run fails on the already-exists guard
    forever). The emitted Airflow task carries --replace."""
    from dbimport_spark.lake.table import LakeTable
    from dbimport_spark.plans.airflow_gen import generate_dag
    from dbimport_spark.plans.registry import create_sync_point, replay_all

    reg, logs = _mk_fleet(spark, tmp_path)
    m1 = create_sync_point(reg, "nightly")
    v1 = m1["tables"]["alpha"]["table"]["version"]

    # advance alpha, then re-cut under the same name
    extra = generate_changes(spark, 150, n_keys=30, seed=77, first_lsn=401)
    path = str(tmp_path / "log2-alpha")
    write_changes(logs["alpha"].unionByName(extra), path, 4)
    entries = reg.load()
    entries["alpha"].log_path = path
    reg.save(entries)
    replay_all(spark, reg)

    m2 = create_sync_point(reg, "nightly", replace=True)
    v2 = m2["tables"]["alpha"]["table"]["version"]
    assert v2 > v1
    t = LakeTable.load(str(tmp_path / "t-alpha"))
    assert t.resolve_ref("nightly") == v2  # exactly one tag, the new cut

    src = generate_dag(reg, dag_id="d", schedule="@daily",
                       sync_point="nightly")
    assert "--set nightly --replace" in src


def test_sync_point_replace_failure_keeps_old_freeze(spark, tmp_path):
    """A FAILED re-cut must leave the old freeze fully intact — the new
    freeze is cut under a temporary tag first, so a nightly DAG whose
    re-cut dies (here: one member table gone) never loses its last good
    freeze, and no temporary tags survive the rollback."""
    import shutil

    from dbimport_spark.lake.table import LakeTable
    from dbimport_spark.plans.registry import create_sync_point, sync_points

    reg, logs = _mk_fleet(spark, tmp_path)
    m1 = create_sync_point(reg, "nightly")
    v1 = m1["tables"]["alpha"]["table"]["version"]

    shutil.rmtree(str(tmp_path / "t-beta"))  # re-cut will fail on beta
    with pytest.raises(Exception):
        create_sync_point(reg, "nightly", replace=True)

    pts = sync_points(reg)
    assert pts["nightly"]["tables"]["alpha"]["table"]["version"] == v1
    t = LakeTable.load(str(tmp_path / "t-alpha"))
    assert t.resolve_ref("nightly") == v1  # old tag untouched
    assert "nightly.replacing" not in t.tags()  # temp rolled back
